"""BM25 top-k query engine (SURVEY.md §3.2 rebuild lifecycle).

One Spark job ranks the whole query batch (not one job per query): compiled
query terms become a small DataFrame that is BROADCAST against the bucketed
postings table (O-24 — the core retrieval join; with Iceberg this is
bucket-pruned on term, with the Parquet stand-in the ``term_bucket`` filter
prunes partitions), then per-(qnum, doc) hash aggregation applies the
reference weight ladder (Q13), +100 Tübingen boost, ``s·log1p(m)``,
query-scoped min-max normalizations (Q8/Q11 — per-query window aggregates),
the min-span proximity UDF (O-53), the α=0.8 blend, and a per-query window
top-k with deterministic (−score, doc_id) tie order (Q16 decision).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import wand
from .expansion import TUEBINGEN_TERMS, CompiledQuery, compile_query
from .indexer import TERM_BUCKETS, local_frame
from .proximity import min_span_score_vb_udf

ALPHA = 0.8
TOP_K = 100
SEARCH_TOP_K = 10  # hits per interactive search (reference top-10)
BOOST = 100.0
# Largest Spark size estimate of an index's terms (term, idf) that
# query_terms_df loads whole onto the driver (cost model: _idf_lut).
IDF_LUT_MAX_BYTES = 1 << 20

# Q13 weight ladder (reference retrieval.py:233-251).
#   original ∧ tueb     → 0.5·bm25, match +0.2
#   original ∧ ¬tueb    → 6.0·bm25, match +1.0
#   ¬original ∧ tueb    → 0.5·bm25, match +0.0
#   ¬original ∧ ¬tueb   → 4.0·bm25, match +0.5


def lookup(df: DataFrame, ids: list[int], col: str) -> dict:
    """doc_id → ``col`` for ``ids``: one collect of a literal doc_id IN (…)
    filter (SURVEY O-7's key lookup; cost model: ``snippets`` docstring)."""
    rows = df.filter(F.col("doc_id").isin(ids)).select("doc_id", col)
    return dict(rows.collect())


def query_terms_df(
    spark: SparkSession,
    queries: list[CompiledQuery],
    index: dict[str, DataFrame],
) -> DataFrame:
    """Flatten compiled queries into (qnum, term, is_original, is_tueb,
    term_bucket, idf, avgdl) rows — the broadcast side of the retrieval
    join, and the one query-terms frame every scorer reads.

    Everything driver-computable IS computed driver-side, and a batch
    whose terms the index dict has already looked up runs no Spark job
    here at all (with a small terms table, every batch after the first;
    see :func:`_idf_lut`).  The frame is a :func:`local_frame`, so it
    plans as a ``LocalTableScan`` (the broadcast that ships it into the
    join still runs one small job, one task per row up to
    ``defaultParallelism``):

    * ``term_bucket`` via the vendored :func:`xxhash64_str` (JVM-parity
      locked by tests/test_hashing.py) modulo the index's
      ``TERM_BUCKETS`` — indexer.term_bucket's rule — instead of a
      ``withColumn`` the executors evaluate;
    * idf (from :func:`_idf_lut`) and the dict's ``_avgdl`` (set where
      the index is built or opened) are fused INTO the created rows.  INNER
      semantics: a query term absent from the terms table (df-pruned,
      O-19) is dropped here, so its postings — which the unpruned layout
      keeps on disk — never enter the retrieval join.  This is the df>5
      prune rule; results equal a pruned store (same matched rows,
      match_count, scores);
    * the distinct (term_bucket, term) pairs ride along as
      ``df._pruning_pairs`` so :func:`pruned_postings` never needs a
      ``distinct().collect()`` job to recover what the driver already
      knew.
    """
    from ..functions.hashing import xxhash64_str

    tueb = set(TUEBINGEN_TERMS)
    rows = []
    for q in queries:
        originals = set(q.original_terms)
        for term in q.terms:
            rows.append(
                (
                    q.qnum,
                    term,
                    term in originals,
                    term in tueb,
                    xxhash64_str(term) % TERM_BUCKETS,
                )
            )
    idf = _idf_lut(index, {r[1] for r in rows})
    avgdl = index["_avgdl"]
    rows = [r + (idf[r[1]], avgdl) for r in rows if idf.get(r[1]) is not None]
    df = local_frame(
        spark,
        rows,
        "qnum int, term string, is_original boolean, is_tueb boolean, "
        "term_bucket int, idf double, avgdl double",
    )
    df._pruning_pairs = sorted({(r[4], r[1]) for r in rows})
    return df


def _idf_lut(
    index: dict[str, DataFrame], terms: set[str]
) -> dict[str, float | None]:
    """term → idf covering every term of ``terms`` (absent or None:
    df-pruned), cached on the index dict, so a batch whose terms this
    dict has already looked up runs no Spark job.

    The mode is chosen once per dict, with no job, from Spark's size
    estimate of the terms frame's (term, idf): for a read index, the
    file size of the unpruned ``term_df`` it is derived from (15.8 KB,
    one file, for the 2,573 terms of ``generate_docs(1000, seed=1)``),
    for a built one a plan estimate:

    * at most ``IDF_LUT_MAX_BYTES``: the whole table is collected on first
      use (SURVEY §0: the reference keeps its idf in memory), and every
      later batch runs no job.  A 1 MiB estimate is about 100k terms and
      about 11 MB of driver dict (measured: 200k random 5–12-letter
      terms take 2.0 MB as ``term_df``, and their 183k df>5 terms 23 MB
      as a dict);
    * larger: one literal ``term IN …`` scan per batch that has terms
      this dict has not seen, caching each as term → idf or term → None,
      so driver memory stays O(distinct queried terms).  ``term_df`` is
      written sorted by term, so parquet min/max stats skip the row
      groups whose term range holds no queried term.

    The cache is a snapshot: reopen the index after ``append_to_index``
    (a dict read before the append keeps the idf it first looked up)."""
    table = index["terms"]
    if "_idf_lut" not in index:
        plan = table.select("term", "idf")._jdf.queryExecution().optimizedPlan()
        whole = int(plan.stats().sizeInBytes()) <= IDF_LUT_MAX_BYTES
        index["_idf_lut"] = (whole, _collect_idf(table) if whole else {})
    whole, lut = index["_idf_lut"]
    unseen = [] if whole else sorted(t for t in terms if t not in lut)
    if unseen:
        found = dict.fromkeys(unseen)
        found.update(_collect_idf(table.filter(F.col("term").isin(unseen))))
        lut.update(found)
    return lut


def _collect_idf(terms: DataFrame) -> dict[str, float]:
    return {r.term: float(r.idf) for r in terms.select("term", "idf").collect()}


def pruned_postings(postings: DataFrame, terms: DataFrame) -> DataFrame:
    """Static pushdown for the retrieval scan: the compiled query terms are
    driver-side and tiny, so emit literal ``term_bucket IN (...)`` and
    ``term IN (...)`` filters.  The bucket predicate prunes partition
    directories (the Iceberg bucket-pruning equivalent); the term predicate
    hits parquet row-group min/max stats.  Relying on runtime DPP for this
    is fragile — the literal filters make the pruning unconditional.

    ``terms`` is a :func:`query_terms_df` frame: its (term_bucket, term)
    pairs ride along as ``terms._pruning_pairs`` (zero jobs)."""
    pairs = terms._pruning_pairs
    buckets = sorted({b for b, _ in pairs})
    term_list = sorted({t for _, t in pairs})
    return postings.filter(
        F.col("term_bucket").isin(buckets) & F.col("term").isin(term_list)
    )


def ensure_bm25(matched: DataFrame) -> DataFrame:
    """Materialize bm25 on a postings⨝query-terms frame
    (indexer.bm25_expr over the postings' (tf, dl) and the terms side's
    (idf, avgdl), see query_terms_df), dropping
    those four scratch columns."""
    from .indexer import bm25_expr

    return matched.withColumn(
        "bm25", bm25_expr("idf", "tf", "dl", "avgdl")
    ).drop("tf", "dl", "idf", "avgdl")


def _qnum_literal_cols(df: DataFrame, aggs: dict[str, object]) -> DataFrame:
    """Attach per-query aggregate values as LITERAL map lookups instead of
    a broadcast join: one collect of the (O(#queries)-row) stats frame,
    then ``map(qnum -> value)[qnum]`` literal expressions.

    Used by rank() where ``df`` is already cached: the collect is a fast
    scan, and it replaces a broadcast-exchange build job + hash join per
    stats site — on the bench box each such build cost 0.5-1 s of
    per-batch fixed latency (warm-latency item, VERDICT r4 item 4).  A
    ``groupBy(qnum)`` aggregate (not a ``Window.partitionBy(qnum)``, which
    funnels every row of a query into one partition) gets map-side
    partial min/max.
    """
    rows = df.groupBy("qnum").agg(
        *[expr.alias(name) for name, expr in aggs.items()]
    ).collect()
    out = df
    for name in aggs:
        entries = []
        for r in rows:
            val = r[name]
            entries += [
                F.lit(int(r["qnum"])),
                F.lit(float(val)) if val is not None
                else F.lit(None).cast("double"),
            ]
        col = (
            F.create_map(*entries)[F.col("qnum")]
            if entries
            else F.lit(None).cast("double")
        )
        out = out.withColumn(name, col)
    return out


def rank(
    postings: DataFrame,
    terms: DataFrame,
    doc_stats: DataFrame,
    top_k: int = TOP_K,
) -> DataFrame:
    """Rank the query batch → (qnum, rank, doc_id, url, score, bm25_sum,
    match_count), blending at α = ``ALPHA``.

    Two frames are persisted and materialized eagerly: the matched
    (qnum, doc_id, bm25, ...) rows and the per-doc aggregate.  Measured
    rationale (r5): without them the min-max stats passes re-evaluate the
    scan+join+bm25 and agg+prox-UDF subtrees, and a LAZY materialization
    (the r4 localCheckpoint shape) lets the stats build and the main pass
    race as concurrent jobs that EACH compute the subtree — two ~4 s twin
    jobs per stats site per warm batch, the bulk of the 13 s warm parity
    latency.  Eager persist()+materialize runs each subtree exactly once;
    every later branch scans the cached blocks.  The plan-shape tests read
    the retrieval scan and join under the cached frame's
    ``InMemoryRelation``.

    CACHE LIFECYCLE: the two persisted frames ride on the result as
    ``result._cached_frames``; :func:`release` unpersists them once the
    result is consumed (:func:`search` does; a caller that skips it pins
    them until the session ends).  persist() (not localCheckpoint) keeps
    lineage, so an executor loss on a real cluster recomputes instead of
    failing the job.
    """
    # O-24: broadcast-hash equi join, bucket-pruned on term_bucket via the
    # static literal filters of pruned_postings.  The fat positions column
    # is NOT read here — only original-query terms need positions (Q13 tail
    # note), so a second narrow join below reads them for that small term
    # subset only (columnar IO win).
    postings = pruned_postings(postings, terms)
    matched = ensure_bm25(
        postings.select("term_bucket", "term", "doc_id", "tf", "dl").join(
            F.broadcast(terms), ["term_bucket", "term"], "inner"
        )
    )

    # Q8 needs per-query min/max BEFORE the weight ladder, and the stats
    # aggregate plus the main pass would otherwise each evaluate the
    # scan+join+bm25 subtree (Spark shares no work across branches of one
    # DAG).  Materialize the narrow matched frame once, EAGERLY (docstring
    # rationale — a lazy checkpoint lets the stats build and the main pass
    # race to compute the subtree twice).  Only the columns the ladder
    # reads are stored: term/term_bucket are join keys, dead after the
    # join — keeping the term strings roughly doubled the cached bytes,
    # which both stats passes then re-read (DRAM-bound on this box).
    matched = matched.select(
        "qnum", "doc_id", "bm25", "is_original", "is_tueb"
    ).persist()
    cached_frames = [matched]

    # Q8: min-max normalize ALL fetched bm25 values per query; silently
    # skipped when max == min (reference retrieval.py:58-67).  The
    # per-query extrema become literal map lookups (one collect over the
    # cached frame) instead of a broadcast join — fewer fixed-latency jobs
    # per batch (_qnum_literal_cols docstring).  This collect doubles as
    # the eager cache materialization: the aggregate scan over the
    # just-persisted frame caches every partition it reads, so no
    # separate count() job is needed.
    matched = _qnum_literal_cols(
        matched, {"_blo": F.min("bm25"), "_bhi": F.max("bm25")}
    )
    matched = matched.withColumn(
        "nbm25",
        F.when(
            F.col("_bhi") > F.col("_blo"),
            (F.col("bm25") - F.col("_blo")) / (F.col("_bhi") - F.col("_blo")),
        ).otherwise(F.col("bm25")),
    )

    w_col = (
        F.when(F.col("is_tueb"), 0.5)
        .when(F.col("is_original"), 6.0)
        .otherwise(4.0)
    )
    mw_col = (
        F.when(F.col("is_original") & F.col("is_tueb"), 0.2)
        .when(F.col("is_original"), 1.0)
        .when(F.col("is_tueb"), 0.0)
        .otherwise(0.5)
    )

    per_doc = (
        matched.withColumn("w_bm25", w_col * F.col("nbm25"))
        .withColumn("mw", mw_col)
        .groupBy("qnum", "doc_id")
        .agg(
            F.sum("w_bm25").alias("s_raw"),
            F.sum("mw").alias("match_count"),
            F.max(F.col("is_tueb").cast("int")).alias("has_tueb"),
        )
        .withColumn(
            "bm25_sum",
            F.col("s_raw") + F.when(F.col("has_tueb") == 1, BOOST).otherwise(0.0),
        )
        .withColumn("combined", F.col("bm25_sum") * F.log1p("match_count"))
    )

    # Positions for original-query terms only (narrow term subset); the
    # stored form is the varbyte blob — collected as-is and decoded inside
    # the scoring UDF (single Arrow crossing, blobs stay compressed through
    # the shuffle).
    orig_terms = terms.filter(F.col("is_original")).select(
        "term_bucket", "term", "qnum"
    )
    prox_src = postings.select(
        "term_bucket", "term", "doc_id", "positions_vb"
    ).join(F.broadcast(orig_terms), ["term_bucket", "term"])
    prox_df = prox_src.groupBy("qnum", "doc_id").agg(
        F.collect_list("positions_vb").alias("prox_lists")
    )
    per_doc = per_doc.join(prox_df, ["qnum", "doc_id"], "left")

    # Q11: per-query min-max for BOTH normalization sites (combined and
    # prox) in ONE stats pass: prox is computed first, then a single
    # groupBy(qnum) aggregate produces all four extrema and broadcasts
    # back.  (Three separate min-max rounds each re-walked the per-doc
    # lineage; fusing them halves the post-aggregation passes — the bm25
    # min-max above cannot fuse, Q8 requires it before the weight ladder.)
    per_doc = per_doc.withColumn(
        "prox", min_span_score_vb_udf("prox_lists")
    ).drop("prox_lists")
    # Same double-evaluation hazard as the matched frame above, but worse:
    # without a materialization the stats pass below re-runs BOTH
    # aggregations AND the min-span decode UDF over every per-doc row a
    # second time.  Materialize after dropping the blob lists so the
    # stored frame is a dozen scalar columns; eager for the same reason as
    # the matched site (the stats and topk broadcast builds otherwise race
    # to compute this subtree twice).
    per_doc = per_doc.persist()
    cached_frames.append(per_doc)
    per_doc = _qnum_literal_cols(
        per_doc,
        {
            "_clo": F.min("combined"),
            "_chi": F.max("combined"),
            "_plo": F.min("prox"),
            "_phi": F.max("prox"),
        },
    )
    per_doc = per_doc.withColumn(
        "norm_combined",
        F.when(F.col("_chi") == F.col("_clo"), 0.0).otherwise(
            (F.col("combined") - F.col("_clo"))
            / (F.col("_chi") - F.col("_clo"))
        ),
    ).withColumn(
        "norm_prox",
        F.when(F.col("_phi") == F.col("_plo"), 0.0).otherwise(
            (F.col("prox") - F.col("_plo")) / (F.col("_phi") - F.col("_plo"))
        ),
    ).withColumn(
        "score", ALPHA * F.col("norm_combined") + (1 - ALPHA) * F.col("norm_prox")
    )

    # O-47/O-49: per-query top-k, total order (−score, doc_id) (Q16).
    topk = wand._topk_per_qnum(
        per_doc, top_k, keep=("bm25_sum", "match_count")
    )

    # O-27: hydration join — top-k side is tiny, broadcast it.
    out = (
        doc_stats.select("doc_id", "url")
        .join(F.broadcast(topk), "doc_id")
        .select("qnum", "rank", "doc_id", "url", "score", "bm25_sum", "match_count")
        .orderBy("qnum", "rank")
    )
    out._cached_frames = cached_frames
    return out


def release(results: DataFrame) -> None:
    """Free the intermediate frames a :func:`rank`, a pruned ``wand``
    top-k or a contract entry pinned (``results._cached_frames``) — call
    after consuming the result in a loop (:func:`search`, benchmark
    repeats, the contract check) so stored blocks do not accumulate
    across batches.  No-op for frames without the attribute."""
    for df in getattr(results, "_cached_frames", []):
        release_frame(df)


def release_frame(df: DataFrame) -> None:
    """Free the storage one frame pins, persisted or checkpointed.

    ``DataFrame.unpersist`` drops the frame's cache entry, but never
    reaches a checkpoint: a ``localCheckpoint`` frame is a ``LogicalRDD``
    (under any column projections) over an RDD persisted in executor
    storage, so that RDD is unpersisted directly (a no-op for reliable
    checkpoints, whose data lives in the checkpoint files)."""
    df.unpersist()
    plan = df._jdf.queryExecution().analyzed()
    while plan.nodeName() == "Project":
        plan = plan.child()
    if plan.nodeName() == "LogicalRDD":
        plan.rdd().unpersist(False)


def run_query_batch(
    spark: SparkSession,
    index: dict[str, DataFrame],
    queries: list[tuple[int, str]],
    top_k: int = TOP_K,
) -> DataFrame:
    compiled = [compile_query(qnum, text) for qnum, text in queries]
    terms = query_terms_df(spark, compiled, index=index)
    return rank(index["postings"], terms, index["doc_stats"], top_k=top_k)


def search(
    spark: SparkSession,
    index: dict[str, DataFrame],
    docs: DataFrame,
    text: str,
    need_spellcheck: bool = True,
    expansion: dict[str, list[str]] | None = None,
    parity: bool = True,
    spellchecker=None,
) -> DataFrame:
    """Interactive search path (reference main_retrival, retrieval.py:406-422
    / SURVEY §3.3): spellcheck → compile → rank top-``SEARCH_TOP_K`` →
    snippet per hit.

    ``docs`` must carry (doc_id, text) for snippet hydration.  Returns a
    local frame of (rank, doc_id, url, score, snippet) ordered by rank,
    having freed the caches the ranking pinned (:func:`release`).

    ``parity=True`` (default) reproduces the reference scoring quirks
    exactly (weight ladder, +100 boost, global min-max couplings Q8/Q11 —
    necessarily exhaustive, the normalizations read every matched score).
    ``parity=False`` routes through wand.bm25_topk_auto with light scoring:
    plain BM25 top-k by the exhaustive pass.  This is the non-reference
    deployment surface; scores are pure BM25, not the reference ladder.
    """
    from .expansion import preprocess_query, spellcheck
    from .snippets import snippet_pairs

    # ``spellchecker``: a VocabSpellchecker built from the corpus
    # (expansion.VocabSpellchecker.from_docs) — the real Norvig corrector;
    # None keeps the deterministic fixture table (the parity spec).
    corrected = (
        spellcheck(text, checker=spellchecker) if need_spellcheck else text
    )
    compiled = [compile_query(1, corrected, expansion)]
    terms = query_terms_df(spark, compiled, index=index)
    if parity:
        topk = rank(index["postings"], terms, index["doc_stats"], SEARCH_TOP_K)
        hits = topk.collect()
        urls = {h["doc_id"]: h["url"] for h in hits}
    else:
        topk = wand.bm25_topk_auto(index["postings"], None, terms, SEARCH_TOP_K)
        hits = sorted(topk.collect(), key=lambda h: h["rank"])
        urls = lookup(index["doc_stats"], [h["doc_id"] for h in hits], "url")
    release(topk)
    # Reference snippet query: the processed query sans the injected
    # "tuebingen" (retrieval.py:416-418).
    snippet_query = " ".join(
        w for w in preprocess_query(corrected).split() if w != "tuebingen"
    ) or "tuebingen"
    rows = [
        (h["rank"], h["doc_id"], urls[h["doc_id"]], h["score"], snippet)
        for h, snippet in snippet_pairs(hits, docs, {1: snippet_query})
    ]
    schema = "rank int, doc_id long, url string, score double, snippet string"
    return local_frame(spark, rows, schema)
