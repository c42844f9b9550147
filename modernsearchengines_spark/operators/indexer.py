"""Distributed inverted-index build (SURVEY.md §3.1 rebuild lifecycle).

Pipeline (all Catalyst-planned; Python crosses the JVM boundary only inside
the Arrow-vectorized UDFs marked *; ONE map-side job builds local postings):

    docs ──filter(lang)──dedup(*simhash)
         ──doc_id = xxhash64(url)──length-cap gate (Q2/Q3)
         ──*doc_postings (url-words Q4 + tokenize + per-doc term agg +
            varbyte position encode — the ONE Arrow crossing of the whole
            build, NO token shuffle)──enriched parquet segment
    then (pure JVM) two pieces, each defined once in this module and
    shared by build_index, the checkpointed build (checkpoint.py), the
    corpus append (sources/corpus_io.py) and the streaming ingest
    (:func:`score_and_layout` composes them over enriched segments):
      * layout   — :func:`layout_postings`: enriched → the one postings
        layout, unpruned deferred (term_bucket, term, doc_id, tf, dl,
        positions_vb) rows under ``postings/term_bucket=b/``;
      * finalize — :func:`finalize_stats` (N, avg_doc_len, doc_id
        collision guard) and :func:`terms_table` over
        :func:`term_doc_frequency` (salted df agg [two-level, head-term
        skew R5] → df>5 prune → IDF → term_bucket).

Reference semantics replicated: length cap counts toward N and avg_doc_len
(Q2/Q3, reference indexing.py:182,193-200), token-count doc length over
char-count average length (Q1, indexing.py:166-167,197), URL words prepended
(Q4, indexing.py:195), char-offset positions (Q5), IDF/BM25 formulas with
k1=1.5, b=0.75 (indexing.py:162-171,217).  The df>5 prune (Q6,
indexing.py:236-237) is a rule of the TERMS table: postings keep every
(term, doc) row, and the query-time terms join
(query.query_terms_df inner semantics) drops df≤5 terms, so results equal
a pruned layout while an append can lift a term over the threshold without
rewriting a posting file.

Storage note: the target table layout is Iceberg
``CREATE TABLE postings ... USING iceberg PARTITIONED BY (bucket(K, term))``;
the Iceberg runtime jar is not available in this sandbox, so writes use plain
Parquet with an explicit ``term_bucket = pmod(xxhash64(term), TERM_BUCKETS)``
partition column (:func:`term_bucket`) — the same physical layout and the
same partition-pruning behavior at query time.
"""

from __future__ import annotations

import shutil
import tempfile

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions.tokenizer import tokenize, url_to_words
from . import dedup
from .codec import varbyte_encode_batch

K1 = 1.5
B = 0.75


def bm25_expr(idf, tf, dl, avgdl):
    """BM25 term-doc score as a pure-JVM column expression:

        idf · (tf·(k1+1)) / (tf + k1·(1 − b + b·dl/avgdl))

    DEFERRED SCORING: the persisted postings layout stores the
    corpus-global-free pair (tf, dl) instead of a baked bm25 — at 100 TB a
    materialized bm25 freezes idf/avgdl (corpus-global stats) into every
    posting row, so ANY corpus append would invalidate and rewrite the
    whole index.  Storing (tf, dl) makes appends touch only the new
    segment's postings plus the small terms/corpus_stats tables,
    and makes the layout independent of every corpus-global stat
    (:func:`layout_postings`).  Consumers materialize bm25 with this
    expression right after their (broadcast) query-terms join — per-query
    cost is a fused multiply over already-matched rows inside whole-stage
    codegen.

    Operand order matches the former build-time materialization
    (idf·num/den, left-to-right) so scores are bit-identical to the
    round-2 layout.
    """
    idf, tf, dl, avgdl = (
        F.col(c) if isinstance(c, str) else c for c in (idf, tf, dl, avgdl)
    )
    return idf * (tf * (K1 + 1)) / (tf + K1 * (1 - B + B * (dl / avgdl)))


def idf_expr(n_docs, df):
    """Reference IDF ``ln((N − df + 0.5)/(df + 0.5) + 1)`` as a column
    expression; ``n_docs`` is a Python int (the corpus N), ``df`` a column
    or column name."""
    df = F.col(df) if isinstance(df, str) else df
    return F.log((F.lit(n_docs) - df + 0.5) / (df + 0.5) + 1.0)


MAX_DOC_CHARS = 800_000
DF_PRUNE = 5
# Postings directories per index.  A property of the written index: the
# writer, the appender and query_terms_df's driver-side bucket must agree,
# or a query bucket-prunes to the wrong directories.
TERM_BUCKETS = 64
# media-URL suffixes the reference excludes from the corpus (O-18,
# WebCrawler_basis.py:213-214 and the retroactive topic.py:156-174 cleanup)
MEDIA_URL_SUFFIXES = (".jpg", ".png", ".pdf")
DF_SALT = 16  # salt fan-out for the head-term df aggregation

# --------------------------------------------------------------------------
# Arrow UDFs (vectorized; the only Python in the plan)
# --------------------------------------------------------------------------
@F.pandas_udf(StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    """html(binary) → text with stripped_strings semantics (O-58).

    The build reads the corpus's ``text`` column as given; this UDF is the
    engine side of the byte-identical extraction invariant (html_extract
    module doc), which tests/test_index_parity.py checks per url."""
    from ..functions.html_extract import extract_text

    return html.map(lambda b: extract_text(bytes(b)) if b is not None else None)


DOC_POSTINGS_TYPE = StructType(
    [
        StructField("aug_len", LongType()),
        StructField("doc_len", LongType()),
        StructField(
            "postings",
            ArrayType(
                StructType(
                    [
                        StructField("term", StringType()),
                        StructField("tf", IntegerType()),
                        StructField("positions_vb", BinaryType()),
                    ]
                )
            ),
        ),
    ]
)


@F.pandas_udf(DOC_POSTINGS_TYPE)
def doc_postings_udf(url: pd.Series, text: pd.Series) -> pd.DataFrame:
    """Map-side posting construction: URL-word augmentation (Q4), tokenize,
    per-doc (term → tf, positions) aggregation, AND delta+varbyte position
    encoding, all INSIDE one Arrow batch.

    The tokens of a document are colocated by definition, so grouping them
    needs no shuffle — the naive tokenize→explode→groupBy(term, doc_id) plan
    shuffles every token row (~2× posting count) for an aggregation that is
    free map-side.  This is the classic per-partition local-index build; the
    only remaining shuffles in the whole pipeline are the (small) term-df
    aggregation.  Folding url_to_words AND the varbyte encoder in here keeps
    the whole index build at ONE Arrow crossing: a downstream encode UDF
    (the round-1 design) shipped all ~36M exploded posting rows to Python
    and back a second time, costing ~10s of a 22s scoring phase at 32 cores
    — while this stage's tokenizer already holds every position in Python
    for free.  Downstream (flatten → df agg → BM25 → write) is now pure JVM.

    Outputs per doc: aug_len = char length of url words + " " + text
    (Q1/Q2 avg_doc_len numerator), doc_len = token count (Q1), postings in
    appearance order with ``positions_vb`` = varbyte(sorted char offsets)
    (Q5; sorted is the persisted-index contract, test_index_parity).
    """

    def one(u: str, t: str | None):
        if t is None:  # length-capped doc: counted in N, not indexed (Q2/Q3)
            return (None, 0, {})
        aug = url_to_words(u) + " " + t
        toks = tokenize(aug)
        agg: dict[str, list[int]] = {}
        for term, pos in toks:
            agg.setdefault(term, []).append(pos)
        return (len(aug), len(toks), agg)

    rows = [one(u, t) for u, t in zip(url, text)]
    # One vectorized encode over every position list in the batch (offsets
    # are near-sorted already — Timsort makes the chunk-boundary resets
    # cheap; sorting precedes encoding per the persisted-index contract).
    all_lists: list[list[int]] = []
    for _, _, agg in rows:
        for ps in agg.values():
            ps.sort()
            all_lists.append(ps)
    blobs = iter(varbyte_encode_batch(all_lists))
    out = [
        (
            aug_len,
            doc_len,
            [
                {"term": term, "tf": len(ps), "positions_vb": next(blobs)}
                for term, ps in agg.items()
            ],
        )
        for aug_len, doc_len, agg in rows
    ]
    return pd.DataFrame(out, columns=["aug_len", "doc_len", "postings"])


# --------------------------------------------------------------------------
# Cleaning (O-12/O-17/O-28): English filter + exact simhash dedup
# --------------------------------------------------------------------------
def media_url_filter(docs: DataFrame) -> DataFrame:
    """O-18: drop media URLs (.jpg/.png/.pdf) the reference excludes
    (WebCrawler_basis.py:213-214; retroactively topic.py:156-174).  Exact
    lowercase suffix match, mirroring the reference's ``str.endswith``."""
    keep = ~F.col("url").endswith(MEDIA_URL_SUFFIXES[0])
    for sfx in MEDIA_URL_SUFFIXES[1:]:
        keep &= ~F.col("url").endswith(sfx)
    return docs.filter(keep)


def domain_histogram(docs: DataFrame) -> DataFrame:
    """O-43: per-domain page counts (reference WebCrawler_basis.py:387-401
    crawl diagnostic) — ``groupBy(host).count()``, a map-side-combined
    aggregation on the (small) distinct-host key space."""
    return (
        docs.groupBy(F.parse_url("url", F.lit("HOST")).alias("domain"))
        .agg(F.count(F.lit(1)).alias("n_pages"))
    )


def clean_docs(docs: DataFrame) -> DataFrame:
    """English-only, media-URL-filtered, simhash-deduped corpus (reference
    establish_workingDB, WebCrawler_basis.py:311-362; Q12: threshold 0.99 ⟺
    exact hash match; O-18 media exclusion).  The dedup is
    :func:`dedup.simhash_dedup`, the operator the ``simhash_dedup`` contract
    entry hash-checks.

    Keep-first policy within a duplicate group: min (warc_ts, url) —
    deterministic stand-in for the reference's crawl-insertion order.
    """
    docs = media_url_filter(docs)
    # No pre-UDF repartition: Spark sizes file splits as
    # max(openCost, bytes/defaultParallelism) capped at maxPartitionBytes,
    # so the scan stage that runs the simhash UDF already gets ≈ one split
    # per core on compact inputs and thousands of splits at 100 TB.  An
    # explicit repartition here re-shuffled the full corpus (text + html)
    # purely for parallelism the scan already had — measured 3.4s of the
    # 32-core 400k-doc build, and its cost grows linearly with corpus size.
    english = docs.filter(F.col("lang").startswith("en"))
    return dedup.simhash_dedup(english, "text", ["warc_ts", "url"])


# --------------------------------------------------------------------------
# Content-hash doc_id over url (replaces SQLite rowid, SURVEY O-1)
# --------------------------------------------------------------------------
def assign_doc_ids(docs: DataFrame) -> DataFrame:
    """``doc_id = xxhash64(url)`` (replaces SQLite rowid, SURVEY O-1) — a
    pure column expression, zero coordination, the only formulation that
    scales to 10^12 docs without a global ordering pass.  The oracle
    computes the identical ids via the vendored pure-Python xxHash64
    (functions/hashing.py), so engine↔oracle doc ids agree bit-for-bit.
    Collision risk documented there.
    """
    return docs.withColumn("doc_id", F.xxhash64("url"))


# --------------------------------------------------------------------------
# Index build
# --------------------------------------------------------------------------
def write_enriched(docs_with_ids: DataFrame, path: str) -> None:
    """The build's ONE Arrow crossing: per doc, (aug_len, doc_len) and the
    local postings array, written as the enriched parquet segment that the
    layout and finalize steps below read.

    Length-capped docs (Q2/Q3) ride along with NULL text into the UDF,
    which emits (aug_len=NULL, doc_len=0, postings=[]) for them: they stay
    in N but out of the char sum and the index, exactly the reference
    semantics.  Parquet (not .persist()): Spark's in-memory columnar cache
    falls back to slow row-based access for nested array<struct> columns,
    while parquet keeps nested reads vectorized.
    """
    (
        docs_with_ids.withColumn(
            "dp",
            doc_postings_udf(
                "url",
                F.when(F.length("text") <= MAX_DOC_CHARS, F.col("text")),
            ),
        )
        .select(
            "doc_id", "url", "warc_ts",
            F.col("dp.aug_len").alias("aug_len"),
            F.col("dp.doc_len").alias("doc_len"),
            F.col("dp.postings").alias("postings"),
        )
        .write.mode("overwrite")
        .parquet(path)
    )


def term_bucket(term: Column) -> Column:
    """The index's bucket of a term column: ``pmod(xxhash64(term),
    TERM_BUCKETS)``, the ``term_bucket`` partition of postings and terms."""
    return F.pmod(F.xxhash64(term), F.lit(TERM_BUCKETS)).cast("int")


def layout_postings(enriched: DataFrame) -> DataFrame:
    """Enriched segment(s) → the persisted postings rows
    (term_bucket, term, doc_id, tf, dl, positions_vb).

    DEFERRED SCORING (see bm25_expr): rows carry (tf, dl) and no bm25, and
    no df prune — both need corpus-global stats, and keeping them out makes
    the layout a pure per-segment projection, so an append lays out only
    its own segment.  df/idf live in the terms table; the df>5 rule is
    applied by the query-time terms join.  Positions arrive already
    varbyte-encoded from doc_postings_udf.
    """
    return enriched.select(
        "doc_id",
        F.col("doc_len").cast("int").alias("dl"),
        F.explode("postings").alias("p"),
    ).select(
        term_bucket(F.col("p.term")).alias("term_bucket"),
        F.col("p.term").alias("term"),
        "doc_id",
        F.col("p.tf").alias("tf"),
        "dl",
        F.col("p.positions_vb").alias("positions_vb"),
    )


def finalize_stats(doc_stats: DataFrame) -> tuple[int, float, DataFrame]:
    """(N, avg_doc_len, corpus_stats frame) from ONE aggregation over doc
    stats rows (doc_id, url, aug_len).  N counts ALL cleaned docs even
    length-capped ones (Q2/Q3); the char sum skips them (NULL aug_len,
    Q1/Q2).

    The same pass checks the doc_id collision invariant: doc_id =
    xxhash64(url) merges two documents iff distinct urls exceed distinct
    ids (birthday bound ≈ n²/2^65 expected colliding pairs — ~27k at
    10^12 docs; see functions/hashing.py).  Failing here beats silently
    merging postings.  The remedy is a wider two-column key, which is not
    implemented.
    """
    row = doc_stats.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("aug_len").alias("chars"),
        F.countDistinct("url").alias("n_urls"),
        F.countDistinct("doc_id").alias("n_ids"),
    ).collect()[0]
    if row.n_ids != row.n_urls:
        raise ValueError(
            f"doc_id hash collision: {row.n_urls} distinct urls map to "
            f"{row.n_ids} distinct xxhash64 ids; the remedy, a wider "
            "two-column key, is not implemented"
        )
    n_total = row.n
    avg_doc_len = float((row.chars or 0) / n_total) if n_total else 0.0
    corpus_stats = doc_stats.sparkSession.createDataFrame(
        [(n_total, avg_doc_len)], "n_docs long, avg_doc_len double"
    )
    return n_total, avg_doc_len, corpus_stats


def term_doc_frequency(rows: DataFrame) -> DataFrame:
    """(term, df) from (term, doc_id) rows, one per (term, doc) pair.

    Two-level salted aggregation for head-term skew (R5: "tuebingen" is in
    nearly every doc by design): pre-aggregate per (term, salt-of-doc_id),
    then merge the ≤ DF_SALT partials per term.  Exact counts.
    """
    salted = (
        rows.select("term", "doc_id")
        .withColumn("_salt", F.pmod(F.xxhash64("doc_id"), F.lit(DF_SALT)))
        .groupBy("term", "_salt")
        .agg(F.count(F.lit(1)).alias("_partial_df"))
    )
    return salted.groupBy("term").agg(F.sum("_partial_df").alias("df"))


def terms_table(
    term_df: DataFrame, n_total: int, df_prune: int = DF_PRUNE
) -> DataFrame:
    """(term, df) → the terms table (term, df, idf, term_bucket): the df>5
    prune (Q6) and the reference IDF.  Per-term attributes live here, NOT
    on every posting row: repeating 8-byte per-term constants on the fat
    postings inflated the layout shuffle + parquet by ~30% (measured at
    400k docs) for values any consumer re-joins from a table 100× smaller.
    """
    return (
        term_df.filter(F.col("df") > df_prune)
        .withColumn("idf", idf_expr(n_total, "df"))
        .withColumn("term_bucket", term_bucket(F.col("term")))
    )


def score_and_layout(
    enriched: DataFrame, df_prune: int = DF_PRUNE
) -> dict[str, DataFrame]:
    """Enriched segment(s) → the index tables (postings, terms, doc_stats,
    corpus_stats): the finalize step every build entry point
    shares (build_index, checkpoint.merge_segments, the streaming ingest's
    segments).  One eager job (:func:`finalize_stats`); everything else is
    lazy until :func:`write_index`.

    Postings carry (tf, dl) and NO bm25 — consumers materialize it via
    :func:`bm25_expr` after their terms join (idf/avgdl ride the broadcast
    query-terms frame, see query.query_terms_df) — and keep every
    (term, doc) row; the df>5 prune is a rule of the terms table.
    """
    n_total, _, corpus_stats = finalize_stats(enriched)
    # df from a NARROW nested scan: extracting the term subfield BEFORE
    # the explode lets Parquet nested-schema pruning skip the fat
    # positions_vb blobs, so this pass streams a few MB of dictionary-
    # encoded strings instead of the whole segment.  Keeping it a separate
    # scan (instead of forking the one fat flatten) matters under AQE:
    # forked branches of a shared exchange materialize as two full
    # shuffles of the wide posting rows (measured: two ~4-5s × 32-task
    # stages at 400k docs), while this narrow re-scan costs less than
    # either.
    term_rows = enriched.select(
        "doc_id", F.explode(F.col("postings.term")).alias("term")
    )
    terms = terms_table(term_doc_frequency(term_rows), n_total, df_prune)
    return {
        "postings": layout_postings(enriched),
        "terms": terms,
        "doc_stats": enriched.select(
            "doc_id", "url", "warc_ts", "aug_len", "doc_len"
        ),
        "corpus_stats": corpus_stats,
    }


def build_index(
    spark: SparkSession,
    clean: DataFrame,
    work_dir: str | None = None,
) -> dict[str, DataFrame]:
    """Build postings/terms/doc_stats/corpus_stats from a cleaned
    corpus: one enriched segment (:func:`write_enriched`) under
    ``work_dir``, then :func:`score_and_layout`.

    Evaluation discipline: the WHOLE cleaning + tokenize pipeline is ONE
    job ending in a parquet write — the simhash, doc-id assignment and
    tokenize UDF each run exactly once, and every downstream branch reads
    the written segment.  At cluster scale the segment is split and made
    resumable by checkpoint.build_index_checkpointed, which shares the
    same finalize.

    Returns lazy DataFrames over the segment; persist them via
    :func:`write_index`, then call :func:`unpersist_index`.  With
    ``work_dir=None`` the segment goes to a fresh temporary directory that
    unpersist_index deletes; a caller's ``work_dir`` is left in place.
    """
    owned = work_dir is None
    if owned:
        work_dir = tempfile.mkdtemp(prefix="msengines_idx_")
    try:
        write_enriched(assign_doc_ids(clean), f"{work_dir}/enriched")
        index = score_and_layout(spark.read.parquet(f"{work_dir}/enriched"))
    except BaseException:
        if owned:
            shutil.rmtree(work_dir, ignore_errors=True)
        raise
    if owned:
        index["_work_dir"] = work_dir
    return index


def write_index(index: dict[str, DataFrame], out_dir: str) -> None:
    """Persist the index tables (Iceberg-equivalent Parquet layout).

    postings are partitioned by ``term_bucket`` = bucket(K, term) so the
    query-time broadcast term join prunes to the buckets containing the query
    terms (SURVEY O-24 partition pruning).  Repartition on the bucket column
    first so each bucket gets one coherent file instead of
    (#tasks × #buckets) shards.
    """
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    # The side tables are independent of the big postings job — submit them
    # from worker threads so the Spark scheduler interleaves their (small)
    # stages into slots the memory-bound postings exchange leaves idle,
    # instead of paying their job latencies serially afterwards.  Each
    # target is wrapped here, in the calling thread, so its jobs carry the
    # caller's local properties (job group, description, tags); a plain
    # worker thread would submit them with none.
    def _write_postings() -> None:
        index["postings"].repartition("term_bucket").write.mode(
            "overwrite"
        ).partitionBy("term_bucket").parquet(f"{out_dir}/postings")

    def _write_side_tables() -> None:
        # Same bucket layout as postings (a global single-file write would
        # bottleneck at billion-term vocabularies).
        index["terms"].repartition("term_bucket").write.mode(
            "overwrite"
        ).partitionBy("term_bucket").parquet(f"{out_dir}/terms")
        index["doc_stats"].write.mode("overwrite").parquet(
            f"{out_dir}/doc_stats"
        )
        index["corpus_stats"].write.mode("overwrite").parquet(
            f"{out_dir}/corpus_stats"
        )

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_post = pool.submit(inheritable_thread_target(_write_postings))
        f_side = pool.submit(inheritable_thread_target(_write_side_tables))
        f_post.result()
        f_side.result()


def unpersist_index(index: dict[str, DataFrame]) -> None:
    """Release the persists taken on the index frames, and delete the
    temporary enriched segment when build_index created it (a caller's
    ``work_dir`` is left alone).  The frames build_index returned read
    that segment, so call this once they are written or no longer used."""
    work_dir = index.pop("_work_dir", None)
    for df in index.values():
        if isinstance(df, DataFrame):
            df.unpersist()
    if work_dir is not None:
        shutil.rmtree(work_dir, ignore_errors=True)


def read_index(
    spark: SparkSession, out_dir: str, serve: bool = False
) -> dict[str, DataFrame]:
    """Open a written index.  With ``serve=True`` the postings relation is
    returned CACHED AND MATERIALIZED as ``3·defaultParallelism`` doc_id
    shards, each sorted by (term_bucket, term):

    * the cache's hash partitioning on doc_id satisfies every
      ``groupBy("qnum", "doc_id")`` over it, so the per-document score
      aggregate runs inside the scan stage — no aggregate exchange;
    * ~3 shards per session core keep every cached-scan stage as wide as
      the session (on a cluster, per executor core via
      ``defaultParallelism``);
    * the term sort keeps each cached batch's term min/max tight, so the
      literal ``term IN (...)`` filters of ``query.pruned_postings`` still
      skip batches.

    Opening pays one repartition of the postings.  The on-disk layout is
    unchanged (term-bucketed); only the in-memory copy is doc-sharded.
    """
    postings = spark.read.parquet(f"{out_dir}/postings")
    if serve:
        postings = (
            postings.repartition(
                max(1, 3 * spark.sparkContext.defaultParallelism), "doc_id"
            )
            .sortWithinPartitions("term_bucket", "term")
            .cache()
        )
        postings.count()

    return {
        "postings": postings,
        # no block-max table: the key is kept (always None) for callers of
        # the (postings, blocks, terms, …) wand call shape
        "blocks": None,
        "doc_stats": spark.read.parquet(f"{out_dir}/doc_stats"),
        "corpus_stats": spark.read.parquet(f"{out_dir}/corpus_stats"),
        "terms": spark.read.parquet(f"{out_dir}/terms"),
    }
