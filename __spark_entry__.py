"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship BM25 top-k pipeline on sf0.001.
``queries()`` exposes one entry per implemented operator family from
SURVEY.md §2 plus the training-data pipeline operators (dedup, ANN
similarity, text analysis); ``oracle_sql()`` gives a DuckDB twin for EVERY
entry — the UDF-bound operators (simhash, min-span/PLM proximity, subword
regex, media features) are value-hash-checked via exact SQL replays
(md5 simhash, min-window-per-position spans, Gaussian-kernel ladder,
run-count derivations) rather than left rows-only.

Column-name and rounding discipline: every computed column is aliased
identically on both sides; float aggregates go through exact DECIMAL sums
(order-independent) before a single cast to DOUBLE + ROUND, so Spark's
partial-aggregation order cannot produce value-hash mismatches.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from contextlib import contextmanager
from functools import lru_cache

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from modernsearchengines_spark.functions import text_analysis as ta
from modernsearchengines_spark.operators import dedup, indexer, similarity

# ---------------------------------------------------------------------------
# shared helpers
# ---------------------------------------------------------------------------

BM25_QUERY_TERMS = ["spark", "join", "merge", "window"]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


@lru_cache(maxsize=None)
def _row_groups(spark: SparkSession, path: str) -> int:
    """Parquet row groups under ``path`` — the unit of scan parallelism (a
    task reads whole row groups, so a single-row-group file is read by ONE
    task no matter how many byte-range splits are planned).  Lists
    recursively, so partitioned ``key=value/`` layouts count, and stops
    counting at the session's parallelism, all the spread below asks.
    Driver-side footer reads through sources/fsio, so the probe works on
    hdfs://, s3a:// and file: alike; unknown layouts report 'plenty' so
    the spread stays a no-op."""
    from modernsearchengines_spark.sources import fsio

    cap = spark.sparkContext.defaultParallelism
    n = 0
    try:
        for f in fsio.walk_files(spark, path):
            if f.endswith(".parquet"):
                n += fsio.parquet_row_groups(spark, f)
                if n >= cap:
                    break
    except Exception:
        return cap
    return n


def _spread(spark: SparkSession, df: DataFrame, path: str, key: str) -> DataFrame:
    """Input-skew fix (optimization guide §2.5): when the source parquet
    offers fewer row groups than the cluster's parallelism, every narrow
    operator before the first exchange — explode/regex tokenization,
    JSON parsing, Python UDF batches — runs inside the single scan task,
    serializing the query on one core.  One deterministic hash
    repartition on ``key`` restores parallelism.  At real scale the input
    has orders of magnitude more row groups than cores and this is a
    provable no-op (no extra shuffle at 100 TB); hashing a near-unique
    key keeps the redistribution deterministic under task retry
    (guide §2.5 on rand-derived keys)."""
    par = spark.sparkContext.defaultParallelism
    if _row_groups(spark, path) < par:
        return df.repartition(par, F.col(key))
    return df


def _ts(
    spark: SparkSession, sf_dir: str, name: str, key: str = "doc_id"
) -> DataFrame:
    """_t + _spread for the compute-heavy readers."""
    path = f"{sf_dir}/{name}.parquet"
    return _spread(spark, spark.read.parquet(path), path, key)


def _doc_tokens(docs: DataFrame) -> DataFrame:
    """(doc_id, token, pos) whitespace token stream — JVM split/posexplode."""
    return docs.select(
        "doc_id", F.posexplode(ta.tokens(F.col("text"))).alias("pos", "token")
    )


def _enumerate_rank(top: DataFrame, *order) -> DataFrame:
    """Attach ``rank`` = row_number over an already-k-bounded frame (the
    ≤ top-k rows surviving an orderBy+limit → TakeOrderedAndProject).

    The partition key is a MATERIALIZED spark_partition_id column after
    coalesce(1) — constant 0 in value, but non-foldable: a
    ``partitionBy(lit(0))`` is constant-folded to an EMPTY partition spec,
    so WindowExec logs its single-partition warning on every run, noising
    the bench tail and masking real global-window regressions.  The
    exchange still moves only the ≤ k surviving rows."""
    w = Window.partitionBy("_p").orderBy(*order)
    return (
        top.coalesce(1)
        .withColumn("_p", F.spark_partition_id())
        .withColumn("rank", F.row_number().over(w))
        .drop("_p")
    )


# ---------------------------------------------------------------------------
# Spark-side queries
# ---------------------------------------------------------------------------

def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: disjunctive BM25 top-20 over `documents` (O-24/O-26/O-30/
    O-31/O-33/O-35/O-36/O-47/O-49 composed).

    r6 shape: with |q| literal query terms, tf per (doc, term) is an
    ARRAY expression (size of the token array filtered to the term) — no
    explode, no (doc_id, token) aggregation exchange at all.  One
    aggregate pass computes avgdl + per-term df into a single-row
    broadcast; the scoring pass evaluates the full BM25 sum per document
    row-locally and TakeOrderedAndProject bounds it to k.  The only data
    movement in the whole query is the 1-row stats broadcast and the
    ≤ k-row top-k merge (guide §2.4: remove shuffles outright).  tf / df /
    dl / avgdl and each per-term bm25 double are bit-identical to the r5
    explode+agg formulation; the disjunctive sum adds them in fixed term
    order where r5's aggregation order was partition-arrival — both agree
    with the DuckDB oracle under the round-6 score contract
    (hash-verified at sf 0.001/0.01/0.1/1.0)."""
    raw = _t(spark, sf_dir, "documents")
    n_docs = raw.count()  # metadata-only count on the unspread scan
    docs = _spread(
        spark, raw, f"{sf_dir}/documents.parquet", "doc_id"
    )
    toks = ta.tokens(F.col("text"))

    def tf_of(term: str):
        # single-parameter lambda: a 2-arg lambda would be read by Spark
        # as the (element, index) form
        return F.size(F.filter(toks, lambda x: x == F.lit(term)))

    # Per-doc term frequencies + doc length in one projection; codegen
    # subexpression elimination computes the split once per row.  The
    # NARROW feature frame (6 int columns, no text) is persisted and
    # counted, so it is computed exactly once in parallel, and its
    # InMemoryRelation is an optimizer barrier: without one the scoring
    # side's n_terms>0 filter is pushed below the spread exchange,
    # re-evaluating every tf inside the single scan task and splitting the
    # stats/scoring subtrees into two full passes.  persist (not
    # localCheckpoint) keeps lineage, so a lost executor recomputes its
    # blocks; the frame rides on the result for query.release.
    wt = docs.select(
        "doc_id",
        F.size(toks).alias("dl"),
        *[tf_of(t).alias(f"_tf{i}") for i, t in enumerate(BM25_QUERY_TERMS)],
    ).persist(StorageLevel.MEMORY_AND_DISK)
    wt.count()
    # Corpus stats pass: avgdl over ALL docs (r5 doc_len semantics), df
    # per term over docs with a non-null id (r5 tf-subtree semantics).
    stats = wt.agg(
        (F.sum("dl") / F.lit(n_docs)).alias("avgdl"),
        *[
            F.sum(
                ((F.col(f"_tf{i}") > 0) & F.col("doc_id").isNotNull())
                .cast("long")
            ).alias(f"_df{i}")
            for i in range(len(BM25_QUERY_TERMS))
        ],
    )

    def bm25(i: int):
        idf = indexer.idf_expr(n_docs, f"_df{i}")
        return indexer.bm25_expr(idf, f"_tf{i}", "dl", "avgdl")

    matched = [F.col(f"_tf{i}") > 0 for i in range(len(BM25_QUERY_TERMS))]
    score_terms = [
        F.when(m, bm25(i)).otherwise(F.lit(0.0))
        for i, m in enumerate(matched)
    ]
    raw_score = score_terms[0]
    for s in score_terms[1:]:
        raw_score = raw_score + s
    n_terms = matched[0].cast("int")
    for m in matched[1:]:
        n_terms = n_terms + m.cast("int")
    per_doc = (
        wt.crossJoin(F.broadcast(stats))
        .filter(
            F.col("doc_id").isNotNull()
            & (sum(F.col(f"_tf{i}") for i in range(len(BM25_QUERY_TERMS))) > 0)
        )
        .select(
            "doc_id",
            raw_score.alias("raw_score"),
            n_terms.cast("long").alias("n_terms"),
        )
    )
    # Global top-k via orderBy+limit → TakeOrderedAndProject (per-partition
    # partial top-k, tiny driver merge) — NOT a global row_number window,
    # which would funnel every matched doc into one partition.  Rank is
    # enumerated afterwards over the already-k-bounded 20 rows
    # (_enumerate_rank).
    top = per_doc.orderBy(F.desc("raw_score"), F.asc("doc_id")).limit(20)
    out = _enumerate_rank(top, F.desc("raw_score"), F.asc("doc_id")).select(
        "rank",
        "doc_id",
        F.round("raw_score", 6).alias("score"),
        F.col("n_terms").cast("long").alias("n_terms"),
    )
    out._cached_frames = [wt]
    return out


@contextmanager
def _payload_index(spark: SparkSession, sf_dir: str):
    """Yields (postings, query terms) over `documents` for the
    pruned and payload contract entries (q_wand_pruned_topk, q_payload_topk,
    q_plm_topk), laid out and scored by the engine's own code: an enriched
    frame built from the JVM whitespace tokens goes through
    indexer.score_and_layout, and the query-terms side is
    query.query_terms_df over that index for BM25_QUERY_TERMS (one query,
    every term original).

    Per doc the frame carries doc_id, url = doc_id as a string, a NULL
    warc_ts, aug_len = doc_len = token count, and postings for the four
    query terms only (positions = token indices), so the varbyte UDF
    encodes only those lists.  df_prune=0: the oracle prunes no term.

    The enriched frame is persisted for the duration of the ``with``
    block and released on exit: every index table and the idf lookup
    read it, and recomputing its Python UDF per reader made the entries
    1.5-2.2× slower (sf0.1, local[4]).  Collect results inside the block
    (:func:`_collected`)."""
    from modernsearchengines_spark.operators import query
    from modernsearchengines_spark.operators.codec import varbyte_encode_udf
    from modernsearchengines_spark.operators.expansion import CompiledQuery

    # Unspread: the per-doc work is four array scans and four short
    # encodes, computed once into the cache — one scan task beats a text
    # shuffle here (measured 5-12% faster at sf0.1).
    toks = _t(spark, sf_dir, "documents").select(
        "doc_id", ta.tokens(F.col("text")).alias("_t")
    )

    def posting(term: str):
        pos = F.filter(
            F.transform("_t", lambda t, i: F.when(t == term, i)),
            lambda p: p.isNotNull(),
        )
        return F.struct(
            F.lit(term).alias("term"),
            F.size(pos).alias("tf"),
            varbyte_encode_udf(pos).alias("positions_vb"),
        )

    enriched = toks.select(
        "doc_id",
        F.col("doc_id").cast("string").alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.size("_t").cast("long").alias("aug_len"),
        F.size("_t").cast("long").alias("doc_len"),
        F.filter(
            F.array(*[posting(t) for t in BM25_QUERY_TERMS]),
            lambda p: p["tf"] > 0,
        ).alias("postings"),
    ).persist()
    try:
        index = indexer.score_and_layout(enriched, df_prune=0)
        terms = tuple(BM25_QUERY_TERMS)
        qterms = query.query_terms_df(
            spark, [CompiledQuery(1, " ".join(terms), terms, terms)], index
        )
        yield index["postings"], qterms
    finally:
        enriched.unpersist()


def _collected(df: DataFrame, ranked: DataFrame) -> DataFrame:
    """``df``'s rows as a local frame (via pandas, a local relation), so it
    outlives the caches it read; then frees the frames the wand result
    ``ranked`` (which ``df`` selects from) persisted."""
    from modernsearchengines_spark.operators import query

    out = df.sparkSession.createDataFrame(df.toPandas(), df.schema)
    query.release(ranked)
    return out


def q_payload_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Payload-refined pruned top-k (wand.bm25_prox_topk_wand) driven over
    a postings layout derived from `documents`: score = Σ bm25 +
    α·min-span over varbyte-decoded positions, rank-safe cascade-bound
    candidate pruning (exact light score + payload cap as the upper
    bound), rank-identical to the exhaustive twin (tests/test_wand.py).
    Hash-checked: with the 4 query terms fixed, the min-span heap scan is
    replayable in SQL via the classic min-window-ending-at-each-position
    formulation (running per-term last-occurrence maxima), so DuckDB
    verifies the full pruned payload pipeline's VALUES, not just rows."""
    from modernsearchengines_spark.operators import wand

    with _payload_index(spark, sf_dir) as (postings, qterms):
        out = wand.bm25_prox_topk_wand(postings, None, qterms, k=20)
        return _collected(
            out.select("rank", "doc_id", F.round("score", 6).alias("score")),
            out,
        )


def q_plm_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-reranking pruned top-k: score = Σ bm25 + α·PLM, where PLM is
    the multi-scale positional-language-model proximity of Lv & Zhai
    (SIGIR 2009) over varbyte-decoded positions
    (proximity.plm_score_vb_udf) — the measured P/S ≫ crossover regime
    where cascade pruning beats exhaustive scoring 4-7× on the 400k bench
    index (bench.py's ``plm_exhaustive``/``plm_wand`` keys; rank-identical
    twin pair in tests/test_wand.py).  Hash-checked: with the 4 query terms fixed, the
    Gaussian-kernel ladder is replayable in SQL (exp over position pairs,
    per-term clip, per-point max, σ-average; worst observed divergence vs
    numpy is 1 ulp on the fixture)."""
    from modernsearchengines_spark.operators import wand
    from modernsearchengines_spark.operators.proximity import plm_score_vb_udf

    with _payload_index(spark, sf_dir) as (postings, qterms):
        out = wand.bm25_prox_topk_wand(
            postings, None, qterms, k=20, scorer=plm_score_vb_udf
        )
        return _collected(
            out.select("rank", "doc_id", F.round("score", 6).alias("score")),
            out,
        )


def q_wand_pruned_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Light (pure Σ bm25, no payload UDF) top-k as the engine serves it:
    wand.bm25_topk_exhaustive — one narrow scan, one per-doc sum, one
    windowed top-k — hash-checked against the DuckDB BM25 oracle.  The
    name is kept from the deleted block-max pruned plan, which computed
    the same exact sum in the same scan and then did more work on top."""
    from modernsearchengines_spark.operators import wand

    with _payload_index(spark, sf_dir) as (postings, qterms):
        out = wand.bm25_topk_exhaustive(postings, qterms, k=20)
        return _collected(
            out.select(
                "qnum", "rank", "doc_id", F.round("score", 6).alias("score")
            ),
            out,
        )


def q_doc_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-31: token-count doc lengths — size of the non-empty token array
    per row (r6: the explode+groupBy recomputed the token stream and
    shuffled ~170 rows per doc for a count that is free row-locally;
    doc_len values identical).  Docs yielding zero tokens still produce a
    row (size([]) = 0), exactly like the old groupBy over posexplode of an
    empty array... which produced none — hence the explicit guard below
    keeping ONLY docs with ≥1 token, the r5 row set."""
    docs = _ts(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", ta.token_count(F.col("text")).alias("doc_len"))
        .filter(F.col("doc_len") > 0)
    )


def _distinct_doc_terms(docs: DataFrame) -> DataFrame:
    """(doc_id, term): each doc's distinct whitespace tokens, deduped
    in-array (array_distinct) during the scan stage rather than by a global
    .distinct() aggregation."""
    return docs.select(
        "doc_id",
        F.explode(F.array_distinct(ta.tokens(F.col("text")))).alias("term"),
    )


def q_term_df_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-33 + O-19: document frequency with the df>5 persistence prune (Q6)
    over English docs, by the index build's own operators: the two-level
    salted df aggregation (indexer.term_doc_frequency, head-term skew R5)
    and the indexer.DF_PRUNE rule."""
    docs = _ts(spark, sf_dir, "documents").filter(F.col("lang") == "en")
    return (
        indexer.term_doc_frequency(_distinct_doc_terms(docs))
        .filter(F.col("df") > indexer.DF_PRUNE)
        .select(F.col("term").alias("token"), "df")
    )


def q_postings_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-30: (term, doc, tf) posting construction for the query vocabulary.
    r6: with a literal term list, tf is a per-row array expression — the
    4-element (token, tf) struct array is built and filtered to tf>0 in
    the scan stage, so the former explode → broadcast join → groupBy
    shuffle disappears entirely (identical rows)."""
    docs = _ts(spark, sf_dir, "documents")
    toks = ta.tokens(F.col("text"))

    def tf_struct(term: str):
        return F.struct(
            F.lit(term).alias("token"),
            F.size(F.filter(toks, lambda x: x == F.lit(term))).alias("tf"),
        )

    entries = F.filter(
        F.array(*[tf_struct(t) for t in BM25_QUERY_TERMS]),
        lambda s: s["tf"] > 0,
    )
    return (
        docs.select("doc_id", F.explode(entries).alias("_e"))
        .select(F.col("_e.token").alias("token"), "doc_id", F.col("_e.tf").alias("tf"))
    )


def q_idf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-35: BM25+ IDF per term over the full corpus (N counts all docs),
    by the index build's terms rule (indexer.terms_table: df > DF_PRUNE,
    then the reference IDF).  The df itself is a one-level count, not
    indexer.term_doc_frequency's salted two-level one: on this shape the
    salted aggregation measured about 25% slower at sf0.1."""
    raw = _t(spark, sf_dir, "documents")
    n_docs = raw.count()
    docs = _spread(spark, raw, f"{sf_dir}/documents.parquet", "doc_id")
    df = (
        _distinct_doc_terms(docs)
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    return indexer.terms_table(df, n_docs).select(
        F.col("term").alias("token"), "df", F.round("idf", 6).alias("idf")
    )


def q_length_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-16/O-17: length cap + language predicate, pushed to the scan."""
    docs = _t(spark, sf_dir, "documents")
    return docs.filter(
        (F.col("lang") == "en") & (F.col("n_chars") <= 300)
    ).select("doc_id", "lang", "n_chars")


def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-32/O-34: corpus cardinality + average doc length."""
    docs = _t(spark, sf_dir, "documents")
    return docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.sum("n_chars") / F.count(F.lit(1)), 6).alias("avg_chars"),
    )


def q_minmax_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-40: per-group min-max normalization with the all-equal → 0.0 branch
    (Q11), as a window aggregate per lang."""
    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang")
    lo, hi = F.min("n_chars").over(w), F.max("n_chars").over(w)
    return docs.select(
        "doc_id",
        "lang",
        F.round(
            F.when(hi == lo, 0.0).otherwise((F.col("n_chars") - lo) / (hi - lo)),
            6,
        ).alias("norm_chars"),
    )


def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-47/O-49: per-group top-k via row_number with deterministic ties."""
    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        docs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("lang", "rank", "doc_id", "n_chars")
    )


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-28/O-54 exact dedup: keep-first doc per identical text (Q12's
    hash-equality semantics without the O(n²) pairwise loop)."""
    # No _spread here (measured 0.84 s → 1.29 s with it): the window key is
    # the text payload, so a spread adds a SECOND full-text shuffle on top
    # of the window exchange for only a cheap partial-WGL gain (guide §2.3:
    # shuffle fewer bytes beats more parallelism here).
    docs = _t(spark, sf_dir, "documents")
    kept = dedup.exact_dedup(docs, ["text"], ["doc_id"])
    return kept.select("doc_id", "n_chars")


def q_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-71: bit_count(xor) hamming distance on integer columns."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.bit_count(
            F.col("doc_id").bitwiseXOR(F.col("n_chars").cast("long"))
        ).cast("int").alias("ham"),
    )


def q_minhash_lsh_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates verified by exact Jaccard: shingle →
    12 affine-permutation minima → 4 bands × 3 rows → bucket self-join →
    token-set Jaccard (portable arithmetic, bit-replayable in SQL)."""
    docs = _ts(spark, sf_dir, "documents").filter(F.col("lang") == "en")
    toks = dedup.tokens_df(docs, "doc_id", "text")
    # dense ids ONLY here so DuckDB can replay the arithmetic; the engine
    # default is hash ids with no global window (dedup.token_ids).
    sigs = dedup.minhash_signatures(toks, "doc_id", id_mode="dense_oracle_replay")
    pairs = dedup.lsh_candidate_pairs(sigs, "doc_id")
    jac = dedup.jaccard_pairs(toks, pairs, "doc_id")
    return jac.select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 per query vector (similarity-search
    baseline; LSH variant is covered rows-only + pytest recall check)."""
    raw = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    emb = _spread(spark, raw, f"{sf_dir}/embeddings.parquet", "vec_id")
    queries = (
        raw.filter(F.col("vec_id") < 3)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
    )
    topk = similarity.brute_force_topk(emb, queries, k=10)
    return topk.select(
        "query_id", "rank", "vec_id", F.round("cos", 6).alias("cos")
    )


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs (≥0.5) via the inverted
    shingle index — the n-gram member of the dedup ladder (exact recall,
    no LSH; see dedup.ngram_jaccard_pairs for the web-scale df-cap)."""
    docs = _ts(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.5)
    return pairs.select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


def q_cosine_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding-cosine near-dup pairs (cos ≥ 0.4) — declared
    brute-force baseline; the LSH-bucketed scale path
    (similarity.cosine_near_dup_pairs) is pytest-verified against it."""
    emb = _ts(spark, sf_dir, "embeddings", key="vec_id").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    pairs = similarity.cosine_pairs_exact(emb, threshold=0.4)
    return pairs.select("id_a", "id_b", F.round("cos", 6).alias("cos"))


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic (marker-word hits, argmax with deterministic
    tie order) — JVM column expressions only."""
    docs = _ts(spark, sf_dir, "documents")
    return docs.select("doc_id", ta.lang_id(F.col("text")).alias("lang_guess"))


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length adequacy + word-length plausibility +
    lexical diversity."""
    docs = _ts(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", ta.quality_score(F.col("text")).alias("quality")
    )


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counting (JVM split)."""
    docs = _ts(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", ta.token_count(F.col("text")).alias("n_tokens")
    )


def q_subword_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish subword counting.  The Java-regex lookaround split itself is
    not expressible in DuckDB's RE2, but the piece COUNT is: per
    whitespace word it equals #alnum-runs (+1 when the word has a trailing
    symbol run; 1 for all-symbol words) — hash-checked via that derived
    form."""
    docs = _ts(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", ta.bpe_ish_token_count(F.col("text")).alias("n_subwords")
    )


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprint (order-sensitive, exact integer
    arithmetic, SQL-replayable)."""
    docs = _ts(spark, sf_dir, "documents")
    return docs.select("doc_id", ta.fingerprint(F.col("text")).alias("fp"))


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over a deterministic chain graph (the cluster
    step of the dedup ladder, dedup.connected_components: hash-min label
    propagation + pointer jumping, Rastogi et al. ICDE'13).  Edges chain
    consecutive doc_ids within buckets of 5 — multi-hop paths force real
    iterative propagation — and the DuckDB twin computes the same
    components via a recursive-CTE transitive closure.  The row_number
    edge GENERATOR is contract-only scaffolding (500 rows); the operator
    under test is the distributed CC loop."""
    from modernsearchengines_spark.operators.dedup import (
        connected_components,
    )
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    ranked = docs.select(
        "doc_id",
        (F.row_number().over(Window.orderBy("doc_id")) - 1).alias("rn"),
    )
    a = ranked.alias("a")
    b = ranked.select(
        F.col("doc_id").alias("doc_b"), F.col("rn").alias("rn_b")
    ).alias("b")
    edges = a.join(
        b,
        (F.col("rn_b") == F.col("rn") + 1)
        & (F.floor(F.col("rn") / 5) == F.floor(F.col("rn_b") / 5)),
    ).select(F.col("doc_id").alias("id_a"), F.col("doc_b").alias("id_b"))
    comp = connected_components(edges)
    out = (
        docs.select("doc_id")
        .join(comp.withColumnRenamed("id", "doc_id"), "doc_id", "left")
        .select(
            "doc_id", F.coalesce("component", "doc_id").alias("component")
        )
    )
    # the labels are a checkpointed frame: query.release frees its RDD
    out._cached_frames = [comp]
    return out


def q_synonym_votes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus query-expansion candidates (O-80/O-42 analog): top-5
    co-occurring words per head word, ranked by document co-occurrence
    count (the vote analog of the reference's fill-mask vote count,
    retrieval.py:96-116) with (votes desc, syn asc) tie order.  Runs the
    ENGINE's shared co-occurrence core (expansion.cooccurrence_counts:
    df agg → head broadcast → per-doc cap → in-doc pair enumeration)
    over a JVM-tokenized documents table; integer-exact, so the DuckDB
    twin hash-matches.  The production builder adds PMI ranking on the
    same core (build_synonym_table, pytest-verified)."""
    from modernsearchengines_spark.operators.expansion import (
        cooccurrence_counts,
    )
    from pyspark.sql import Window

    docs = _ts(spark, sf_dir, "documents")
    # Per-doc dedup inside the token array (array_distinct) instead of a
    # global .distinct() over the exploded stream: the same (doc_id, term)
    # set, but deduped in-place during the scan stage with no 1M+-row
    # aggregation pass; distinct_pairs=True then lets the co-occurrence
    # core count df with a plain map-side-combined count.  (Measured and
    # rejected: localCheckpoint-ing the tokenized arrays to share them
    # between the df pass and the pair pass — materializing string arrays
    # costs 2-3× more than re-running the split from the reused spread
    # exchange.)
    words = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.filter(
                    F.split(F.lower(F.col("text")), "[^a-zäöüß]+"),
                    lambda t: F.length(t) > 1,
                )
            )
        ).alias("term"),
    )
    sym = cooccurrence_counts(
        words, vocab_top=100, per_doc_cap=32, min_pair=3,
        distinct_pairs=True,
    )
    w = Window.partitionBy("term").orderBy(F.desc("n_ab"), F.asc("syn"))
    return (
        sym.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select(
            "term", "syn", F.col("n_ab").alias("votes"),
            F.col("rk").cast("int").alias("rk"),
        )
    )


def q_simhash_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-70: the 64-bit simhash itself, hash-checked — the md5-based vendored
    simhash (functions/simhash.py) is bit-for-bit replayable in DuckDB
    (md5 + shingle lists + per-bit vote), so the UDF's VALUES are verified,
    which transitively grounds the dedup/near-dup entries built on it."""
    docs = _ts(spark, sf_dir, "documents")
    return docs.select("doc_id", dedup.simhash_udf("text").alias("simhash"))


def q_simhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-70/O-28: simhash dedup (vendored 64-bit simhash UDF; Q12 exact-match
    threshold).  Hash-checked via the DuckDB md5 simhash replay."""
    docs = _ts(spark, sf_dir, "documents")
    kept = dedup.simhash_dedup(docs, "text", ["doc_id"])
    return kept.select("doc_id", "n_chars")


def q_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate pairs (hamming ≤ 3) via 4×16-bit pigeonhole
    banding + bit_count verification — hash-checked via the DuckDB md5
    simhash replay (banding + xor + bit_count are plain SQL)."""
    docs = _ts(spark, sf_dir, "documents")
    pairs = dedup.simhash_near_dup_pairs(docs, "text", "doc_id", max_hamming=3)
    return pairs.select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


def q_simhash_near_dup_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100-TB-scale banding variant (Manku-style combination scheme,
    n_blocks=6 → C(6,3)=20 tables × ~32-bit packed keys): exact-recall by
    pigeonhole, so its VERIFIED pairs equal the 4×16 scheme's and the same
    DuckDB md5-simhash replay hash-checks it (dedup.simhash_candidate_pairs
    docstring has the candidate-volume math)."""
    docs = _ts(spark, sf_dir, "documents")
    pairs = dedup.simhash_near_dup_pairs(
        docs, "text", "doc_id", max_hamming=3, n_blocks=6
    )
    return pairs.select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
    )


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: treat each document's text bytes as an opaque
    binary payload → mapInPandas feature extraction (deterministic fake
    decoder).  Hash-checked: the fake decoder (rolling every-32nd-byte
    checksum mod 997, float32) is replayed in DuckDB — the fixture text is
    ASCII so byte positions equal char positions in the SQL twin."""
    from modernsearchengines_spark.operators import multimodal

    docs = _ts(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "utf-8").alias("payload"),
    )
    feats = multimodal.extract_features(docs)
    return feats.select(
        "media_id", "n_bytes",
        # upcast the float32 feature to double BEFORE rounding (round on a
        # FloatType returns float32, where .016048 is unrepresentable)
        F.round(F.element_at("features", 1).cast("double"), 6).alias("f0"),
    )


def _docs_with_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attach a deterministic synthetic url per doc (the driver's documents
    table has no url column); the identical expression is replayed in SQL so
    the url-based operators are hash-checkable."""
    docs = _ts(spark, sf_dir, "documents")
    suffix = (
        F.when(F.col("doc_id") % 23 == 0, ".jpg")
        .when(F.col("doc_id") % 29 == 0, ".png")
        .when(F.col("doc_id") % 31 == 0, ".pdf")
        .otherwise(".html")
    )
    return docs.withColumn(
        "url",
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example/docs/d"),
            F.col("doc_id").cast("string"), suffix,
        ),
    )


def q_media_url_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-18: drop .jpg/.png/.pdf URLs (reference WebCrawler_basis.py:213-214)
    via the engine's clean-corpus media filter."""
    from modernsearchengines_spark.operators import indexer

    docs = _docs_with_urls(spark, sf_dir)
    return indexer.media_url_filter(docs).select("doc_id", "url")


def q_domain_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-43: per-domain page histogram (reference WebCrawler_basis.py:387-401)
    via parse_url(HOST) + count."""
    from modernsearchengines_spark.operators import indexer

    docs = _docs_with_urls(spark, sf_dir)
    return indexer.domain_histogram(docs).select("domain", "n_pages")


def q_proximity_2term(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-53 (2-term case): minimal window covering one occurrence of each of
    two terms, scored 1/(span/2) like the reference min-span heap scan —
    expressible relationally for two lists as the min over position pairs."""
    docs = _ts(spark, sf_dir, "documents")
    toks = _doc_tokens(docs)
    a = toks.filter(F.col("token") == "spark").select(
        "doc_id", F.col("pos").alias("pa")
    )
    b = toks.filter(F.col("token") == "join").select(
        "doc_id", F.col("pos").alias("pb")
    )
    return (
        a.join(b, "doc_id")
        .groupBy("doc_id")
        .agg(
            (F.min(F.abs(F.col("pa") - F.col("pb")) + 1)).alias("min_span")
        )
        .select(
            "doc_id",
            "min_span",
            F.round(2.0 / F.col("min_span"), 6).alias("prox_score"),
        )
    )


def _minspan_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lists): per doc, the sorted token-index lists of each of
    spark/join/merge it contains — the min-span UDF's input."""
    toks = _doc_tokens(_ts(spark, sf_dir, "documents"))
    return (
        toks.filter(F.col("token").isin("spark", "join", "merge"))
        .groupBy("doc_id", "token")
        .agg(F.sort_array(F.collect_list("pos")).alias("positions"))
        .groupBy("doc_id")
        .agg(F.collect_list("positions").alias("lists"))
    )


def q_minspan_proximity_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-53 general k-list min-span via the engine's heap-scan pandas UDF.
    Hash-checked: for this entry's fixed 3-term list the heap scan equals
    the min-window-ending-at-each-position SQL over the doc's MATCHED
    subset (1/2/3 lists — the per-term running maxima handle the variable
    cardinality), so DuckDB verifies the UDF over every matched-set shape."""
    from modernsearchengines_spark.operators.proximity import min_span_score_udf

    return _minspan_lists(spark, sf_dir).select(
        "doc_id", F.round(min_span_score_udf("lists"), 6).alias("prox")
    )


def q_minspan_proximity_3term(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-53, 3-term bounded case, ENGINE UDF hash-checked (VERDICT r02
    next-step 6): docs containing all of spark/join/merge scored by the
    k-way heap-scan pandas UDF; the DuckDB twin is the relational
    formulation (min over joined position triples of greatest−least+1 —
    the heap scan computes exactly the minimal covering window, so the two
    agree bit-for-bit under the same 1/(span/3) operand order)."""
    from modernsearchengines_spark.operators.proximity import min_span_score_udf

    return (
        _minspan_lists(spark, sf_dir)
        .filter(F.size("lists") == 3)
        .select(
            "doc_id", F.round(min_span_score_udf("lists"), 6).alias("prox")
        )
    )


def q_token_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-55/O-56 set union/difference over token arrays (JVM array fns)."""
    docs = _ts(spark, sf_dir, "documents")
    toks = F.array_distinct(ta.tokens(F.col("text")))
    extra = F.array(F.lit("spark"), F.lit("flink"), F.lit("trino"))
    stop = F.array(F.lit("the"), F.lit("a"))
    return docs.select(
        "doc_id",
        F.size(F.array_union(toks, extra)).alias("n_union"),
        F.size(F.array_except(toks, stop)).alias("n_except"),
        F.size(F.array_intersect(toks, extra)).alias("n_intersect"),
    )


def q_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows (1h window, 30m slide) — the batch twin of
    the Structured Streaming windowed aggregation."""
    events = _t(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("w_start"), "event_type", "n_events"
        )
    )


def q_tpch_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style aggregation; DECIMAL-exact sums (order-independent)
    cast to DOUBLE only at the end."""
    # No _spread (measured flat 2.04 s → 2.02 s): the 6-row-group scan's
    # 6-way map-side decimal aggregation costs about what the extra 6M-row
    # exchange saves; keeping the partial-agg-before-shuffle shape wins at
    # scale (guide §2.3 "aggregate before you shuffle").
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    # Exact integer-cents arithmetic: the 2-dp decimals become longs scaled
    # by 100, so each row's disc_price/charge is an exact long product
    # (charge-cents·10⁴ ≤ ~1.2e11 per TPC-H row, < 9.2e18 up to ~9e11 per
    # price).  The per-group SUMS are decimal(38,0): a long sum would
    # overflow past ~7.6e7 rows per group (≈ TPC-H sf 75) — an
    # ARITHMETIC_OVERFLOW under ANSI mode, a silent wrap without it.  Each
    # sum is decoded by ONE exact decimal divide by its 10^k scale, and
    # the decimal → double cast is the only rounding, as in the oracle's
    # CAST(SUM(decimal) AS DOUBLE).
    c100 = lambda c: (F.col(c).cast("decimal(18,2)") * 100).cast("long")
    qty_c, price_c = c100("l_quantity"), c100("l_extendedprice")
    disc_c, tax_c = c100("l_discount"), c100("l_tax")
    dsum = lambda e: F.sum(e.cast("decimal(38,0)"))
    agg = li.groupBy("l_returnflag", "l_linestatus").agg(
        dsum(qty_c).alias("_sq_c"),
        dsum(price_c).alias("_sbp_c"),
        dsum(price_c * (100 - disc_c)).alias("_sdp_c"),
        dsum(price_c * (100 - disc_c) * (100 + tax_c)).alias("_sc_c"),
        F.count(F.lit(1)).alias("count_order"),
    )
    dec = lambda c, k: (F.col(c) / F.lit(10**k)).cast("double")
    return agg.select(
        "l_returnflag",
        "l_linestatus",
        F.round(dec("_sq_c", 2), 2).alias("sum_qty"),
        F.round(dec("_sbp_c", 2), 2).alias("sum_base_price"),
        F.round(dec("_sdp_c", 4), 2).alias("sum_disc_price"),
        F.round(dec("_sc_c", 6), 2).alias("sum_charge"),
        F.round(dec("_sq_c", 2) / F.col("count_order"), 6).alias("avg_qty"),
        F.round(dec("_sbp_c", 2) / F.col("count_order"), 6).alias("avg_price"),
        "count_order",
    )


def q_join_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-24/O-27 equi-join chain with broadcast dims: orders ⨝ customer ⨝
    nation → revenue per nation, top-5."""
    # No _spread on orders (measured: 1.38 s without vs 1.5-2.0 s with):
    # the fact side feeds two broadcast-hash probes + a 25-group partial
    # aggregation — cheap enough per row that a 1.5M-row redistribution
    # exchange costs more than the extra scan parallelism returns.
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    rev = (
        # No forced broadcast on customer (VERDICT r5 item 5): it is a
        # row-count-scaling dimension — let AQE pick the strategy from the
        # measured size; the hint stays on the constant-size nation dim.
        orders.join(
            customer.select("c_custkey", "c_nationkey"),
            orders.o_custkey == customer.c_custkey,
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("_rev"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )
    # Same top-k discipline as q_bm25_topk: orderBy+limit, then enumerate
    # rank over the 5 surviving rows (no global unpartitioned window).
    top = rev.orderBy(F.desc("_rev"), F.asc("n_name")).limit(5)
    return (
        _enumerate_rank(top, F.desc("_rev"), F.asc("n_name"))
        .select(
            "rank",
            "n_name",
            F.round(F.col("_rev").cast("double"), 2).alias("revenue"),
            "n_orders",
        )
    )


def q_supplier_balance_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """region ⨝ nation ⨝ supplier rollup."""
    region = _t(spark, sf_dir, "region")
    nation = _t(spark, sf_dir, "nation")
    supplier = _t(spark, sf_dir, "supplier")
    return (
        supplier.join(
            F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey
        )
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.round(
                F.sum(F.col("s_acctbal").cast("decimal(18,2)")).cast("double"),
                2,
            ).alias("total_bal"),
            F.count(F.lit(1)).alias("n_suppliers"),
        )
        .select("r_name", "total_bal", "n_suppliers")
    )


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style shipping priority: segment-filtered customer ⨝ orders
    ⨝ lineitem, unshipped-revenue per order, top-10.  Broadcast the
    segment-filtered customer keys (selective dim); orders⨝lineitem stays a
    shuffle join on the order key (fact-fact); top-k via orderBy+limit."""
    cutoff = F.lit("1998-06-01").cast("timestamp")
    cust = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    dec = lambda c: F.col(c).cast("decimal(18,2)")
    rev = (
        li.join(
            orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
            .select("o_orderkey", "o_orderdate", "o_orderpriority"),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.sum(
                dec("l_extendedprice")
                * (F.lit(1).cast("decimal(18,2)") - dec("l_discount"))
            ).alias("_rev")
        )
    )
    top = rev.orderBy(
        F.desc("_rev"), F.asc("o_orderdate"), F.asc("o_orderkey")
    ).limit(10)
    return _enumerate_rank(
        top, F.desc("_rev"), F.asc("o_orderdate"), F.asc("o_orderkey")
    ).select(
        "rank",
        "o_orderkey",
        F.round(F.col("_rev").cast("double"), 2).alias("revenue"),
        "o_orderdate",
        "o_orderpriority",
    )


def q_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-style returned-item reporting: revenue lost to returns
    ('R' lineitems) per customer over one quarter, top-20 with nation."""
    lo = F.lit("1997-01-01").cast("timestamp")
    hi = F.lit("1997-04-01").cast("timestamp")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    dec = lambda c: F.col(c).cast("decimal(18,2)")
    rev = (
        li.join(
            orders.select("o_orderkey", "o_custkey"),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy("o_custkey")
        .agg(
            F.sum(
                dec("l_extendedprice")
                * (F.lit(1).cast("decimal(18,2)") - dec("l_discount"))
            ).alias("_rev")
        )
        .join(
            F.broadcast(
                customer.select("c_custkey", "c_name", "c_nationkey")
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
    )
    top = rev.orderBy(F.desc("_rev"), F.asc("c_custkey")).limit(20)
    return _enumerate_rank(top, F.desc("_rev"), F.asc("c_custkey")).select(
        "rank",
        "c_custkey",
        "c_name",
        "n_name",
        F.round(F.col("_rev").cast("double"), 2).alias("revenue"),
    )


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window event aggregation (batch twin of the Structured
    Streaming ingest in streaming/ingest.py)."""
    # No _spread (measured 1.0 s → 1.8 s with it): date_trunc + decimal
    # cast are too cheap to pay a 1M-row pre-shuffle for; the map-side
    # partial aggregation already collapses the single-task scan's output
    # to ~3k group rows before the only exchange.
    events = _t(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.date_trunc("hour", "ts").alias("ts_hour"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2
            ).alias("sum_value"),
        )
        .select("ts_hour", "event_type", "n_events", "sum_value")
    )


def q_orders_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup aggregation (multi-level totals) with exact decimal sums."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast(
                    "double"
                ),
                2,
            ).alias("total"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n",
            "total",
        )
    )


def q_window_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead window functions: per-customer order-value delta."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.round(
            F.col("o_totalprice")
            - F.coalesce(F.lag("o_totalprice").over(w), F.lit(0.0)),
            2,
        ).alias("delta_prev"),
        F.coalesce(F.lead("o_orderkey").over(w), F.lit(-1)).alias("next_key"),
    )


def q_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: per-user sessions split on >30-minute gaps (lag +
    cumulative sum — the batch formulation of session windows)."""
    events = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.when(
        F.unix_micros(F.col("ts").cast("timestamp"))
        - F.lag(F.unix_micros(F.col("ts").cast("timestamp"))).over(w)
        > 1800 * 1_000_000,
        1,
    ).otherwise(0)
    with_sess = events.withColumn("_new", gap).withColumn(
        "session_id",
        F.sum("_new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        with_sess.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("event_id").alias("first_event"),
        )
        .select("user_id", "session_id", "n_events", "first_event")
    )


def q_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction + aggregation over the events props column."""
    events = _ts(spark, sf_dir, "events", key="event_id")
    return (
        events.withColumn(
            "k", F.get_json_object("props", "$.k").cast("int")
        )
        .groupBy("event_type")
        .agg(F.sum("k").alias("sum_k"), F.count(F.lit(1)).alias("n"))
        .select("event_type", "sum_k", "n")
    )


# ---------------------------------------------------------------------------
# driver API
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_bm25_topk(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "bm25_topk": q_bm25_topk,
        "payload_topk": q_payload_topk,
        "plm_topk": q_plm_topk,
        "wand_pruned_topk": q_wand_pruned_topk,
        "doc_lengths": q_doc_lengths,
        "term_df_pruned": q_term_df_pruned,
        "postings_tf": q_postings_tf,
        "idf": q_idf,
        "length_filter": q_length_filter,
        "corpus_stats": q_corpus_stats,
        "minmax_norm": q_minmax_norm,
        "topk_per_group": q_topk_per_group,
        "exact_dedup": q_exact_dedup,
        "hamming": q_hamming,
        "minhash_lsh_jaccard": q_minhash_lsh_jaccard,
        "ann_cosine_topk": q_ann_cosine_topk,
        "ngram_jaccard": q_ngram_jaccard,
        "cosine_near_dup": q_cosine_near_dup,
        "lang_id": q_lang_id,
        "quality_score": q_quality_score,
        "token_counts": q_token_counts,
        "subword_counts": q_subword_counts,
        "fingerprint": q_fingerprint,
        "synonym_votes": q_synonym_votes,
        "dedup_components": q_dedup_components,
        "simhash_values": q_simhash_values,
        "simhash_dedup": q_simhash_dedup,
        "simhash_near_dup": q_simhash_near_dup,
        "simhash_near_dup_wide": q_simhash_near_dup_wide,
        "media_features": q_media_features,
        "media_url_filter": q_media_url_filter,
        "domain_histogram": q_domain_histogram,
        "proximity_2term": q_proximity_2term,
        "minspan_proximity_udf": q_minspan_proximity_udf,
        "minspan_proximity_3term": q_minspan_proximity_3term,
        "token_set_ops": q_token_set_ops,
        "events_sliding": q_events_sliding,
        "tpch_pricing_summary": q_tpch_pricing_summary,
        "join_revenue_by_nation": q_join_revenue_by_nation,
        "supplier_balance_by_region": q_supplier_balance_by_region,
        "shipping_priority": q_shipping_priority,
        "returned_items": q_returned_items,
        "events_hourly": q_events_hourly,
        "events_json": q_events_json,
        "orders_rollup": q_orders_rollup,
        "window_lag": q_window_lag,
        "events_sessions": q_events_sessions,
    }


_TERMS_SQL = "(VALUES ('spark'), ('join'), ('merge'), ('window')) terms(token)"

_TOKS_CTE = """
toks AS (
    SELECT doc_id, tok AS token, pos
    FROM (
        SELECT doc_id,
               unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok,
               unnest(range(0, len(list_filter(string_split(text, ' '), x -> x <> '')))) AS pos
        FROM documents
    )
)
"""


# DuckDB replay of the vendored md5 simhash (functions/simhash.py): token
# shingles of width 4 over `[\p{L}\p{N}_]+` word tokens (RE2 spelling of the
# Python `[\wÀ-ɏ]+`), feature hash = first 8 bytes of md5 (big-endian),
# per-bit majority vote; `uns` is the unsigned 64-bit value, `simhash` its
# two's-complement BIGINT twin (the Spark UDF's representation).
_SIMHASH_CTE = r"""
sh_toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[\p{L}\p{N}_]+') AS ts
  FROM documents
),
sh_shingles AS (
  SELECT doc_id,
    CASE WHEN len(ts) = 0 THEN []
         WHEN len(ts) < 4 THEN [list_aggregate(ts, 'string_agg', '')]
         ELSE list_transform(range(1, len(ts) - 2),
                             i -> ts[i] || ts[i+1] || ts[i+2] || ts[i+3])
    END AS shingles
  FROM sh_toks
),
sh_hashes AS (
  SELECT doc_id, ('0x' || substr(md5(s), 1, 16))::UBIGINT AS hv
  FROM sh_shingles, unnest(shingles) AS u(s)
),
sh_votes AS (
  SELECT doc_id, b.bit,
         SUM(CASE WHEN (hv >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM sh_hashes, (SELECT unnest(range(0, 64)) AS bit) b
  GROUP BY doc_id, b.bit
),
sh_vals AS (
  SELECT doc_id,
         SUM(CASE WHEN v > 0 THEN (1::HUGEINT << bit) ELSE 0::HUGEINT END) AS uns
  FROM sh_votes GROUP BY doc_id
),
simhash AS (
  SELECT d.doc_id,
         COALESCE(sv.uns, 0::HUGEINT) AS uns,
         CAST(CASE WHEN COALESCE(sv.uns, 0::HUGEINT) >= (1::HUGEINT << 63)
                   THEN COALESCE(sv.uns, 0::HUGEINT) - (1::HUGEINT << 64)
                   ELSE COALESCE(sv.uns, 0::HUGEINT) END AS BIGINT) AS simhash
  FROM documents d LEFT JOIN sh_vals sv USING (doc_id)
)
"""


def oracle_sql() -> dict[str, str]:
    return {
        "bm25_topk": f"""
WITH {_TOKS_CTE},
dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
stats AS (SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
                 CAST(SUM(dl) AS DOUBLE) / (SELECT COUNT(*) FROM documents) AS avgdl
          FROM dl),
tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks
       WHERE token IN ('spark','join','merge','window') GROUP BY doc_id, token),
df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
scored AS (
    SELECT tf.doc_id, tf.token,
           ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
             * (tf.tf * 2.5) / (tf.tf + 1.5 * (1 - 0.75 + 0.75 * (dl.dl / stats.avgdl))) AS bm25
    FROM tf JOIN df USING (token) JOIN dl USING (doc_id), stats
),
per_doc AS (SELECT doc_id, SUM(bm25 ORDER BY token) AS raw_score, COUNT(*) AS n_terms
            FROM scored GROUP BY doc_id),
ranked AS (SELECT *, ROW_NUMBER() OVER (ORDER BY raw_score DESC, doc_id ASC) AS rank
           FROM per_doc)
SELECT CAST(rank AS INT) AS rank, doc_id, ROUND(raw_score, 6) AS score,
       CAST(n_terms AS BIGINT) AS n_terms
FROM ranked WHERE rank <= 20
""",
        "wand_pruned_topk": f"""
WITH {_TOKS_CTE},
dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
stats AS (SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
                 CAST(SUM(dl) AS DOUBLE) / (SELECT COUNT(*) FROM documents) AS avgdl
          FROM dl),
tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks
       WHERE token IN ('spark','join','merge','window') GROUP BY doc_id, token),
df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
scored AS (
    SELECT tf.doc_id, tf.token,
           ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
             * (tf.tf * 2.5) / (tf.tf + 1.5 * (1 - 0.75 + 0.75 * (dl.dl / stats.avgdl))) AS bm25
    FROM tf JOIN df USING (token) JOIN dl USING (doc_id), stats
),
per_doc AS (SELECT doc_id, SUM(bm25 ORDER BY token) AS score FROM scored GROUP BY doc_id),
ranked AS (SELECT *, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rank
           FROM per_doc)
SELECT CAST(1 AS INT) AS qnum, CAST(rank AS INT) AS rank, doc_id,
       ROUND(score, 6) AS score
FROM ranked WHERE rank <= 20
""",
        "minspan_proximity_udf": f"""
WITH {_TOKS_CTE},
qpos AS (SELECT doc_id, token, pos FROM toks
         WHERE token IN ('spark','join','merge')),
m AS (SELECT doc_id,
             MAX(CASE WHEN token='spark' THEN 1 ELSE 0 END) AS has_s,
             MAX(CASE WHEN token='join'  THEN 1 ELSE 0 END) AS has_j,
             MAX(CASE WHEN token='merge' THEN 1 ELSE 0 END) AS has_m
      FROM qpos GROUP BY doc_id),
runs AS (
  SELECT doc_id, pos,
         MAX(CASE WHEN token='spark' THEN pos END) OVER w AS ls,
         MAX(CASE WHEN token='join'  THEN pos END) OVER w AS lj,
         MAX(CASE WHEN token='merge' THEN pos END) OVER w AS lm
  FROM qpos
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
spans AS (
  SELECT r.doc_id,
         MIN(r.pos - LEAST(
              CASE WHEN m.has_s=1 THEN r.ls ELSE r.pos END,
              CASE WHEN m.has_j=1 THEN r.lj ELSE r.pos END,
              CASE WHEN m.has_m=1 THEN r.lm ELSE r.pos END) + 1) AS min_span,
         MAX(m.has_s + m.has_j + m.has_m) AS nk
  FROM runs r JOIN m USING (doc_id)
  WHERE (m.has_s=0 OR r.ls IS NOT NULL) AND (m.has_j=0 OR r.lj IS NOT NULL)
    AND (m.has_m=0 OR r.lm IS NOT NULL)
  GROUP BY r.doc_id
)
SELECT doc_id,
       ROUND(CASE WHEN nk >= 2
                  THEN 1.0 / (CAST(min_span AS DOUBLE) / nk) ELSE 0.0 END,
             6) AS prox
FROM spans
""",
        "minspan_proximity_3term": f"""
WITH {_TOKS_CTE},
a AS (SELECT doc_id, pos AS pa FROM toks WHERE token = 'spark'),
b AS (SELECT doc_id, pos AS pb FROM toks WHERE token = 'join'),
c AS (SELECT doc_id, pos AS pc FROM toks WHERE token = 'merge'),
spans AS (
    SELECT a.doc_id,
           MIN(greatest(a.pa, b.pb, c.pc) - least(a.pa, b.pb, c.pc) + 1) AS min_span
    FROM a JOIN b ON a.doc_id = b.doc_id JOIN c ON a.doc_id = c.doc_id
    GROUP BY a.doc_id
)
SELECT doc_id,
       ROUND(1.0 / (CAST(min_span AS DOUBLE) / 3.0), 6) AS prox
FROM spans
""",
        "doc_lengths": f"""
WITH {_TOKS_CTE}
SELECT doc_id, COUNT(*) AS doc_len FROM toks GROUP BY doc_id
""",
        "term_df_pruned": f"""
WITH {_TOKS_CTE},
en AS (SELECT DISTINCT t.doc_id, t.token FROM toks t
       JOIN documents d USING (doc_id) WHERE d.lang = 'en')
SELECT token, COUNT(*) AS df FROM en GROUP BY token HAVING COUNT(*) > 5
""",
        "postings_tf": f"""
WITH {_TOKS_CTE}
SELECT token, doc_id, COUNT(*) AS tf FROM toks
WHERE token IN ('spark','join','merge','window')
GROUP BY token, doc_id
""",
        "idf": f"""
WITH {_TOKS_CTE},
d AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY token
      HAVING COUNT(DISTINCT doc_id) > 5)
SELECT token, df,
       ROUND(ln(((SELECT COUNT(*) FROM documents) - df + 0.5) / (df + 0.5) + 1.0), 6) AS idf
FROM d
""",
        "length_filter": """
SELECT doc_id, lang, n_chars FROM documents
WHERE lang = 'en' AND n_chars <= 300
""",
        "corpus_stats": """
SELECT COUNT(*) AS n_docs,
       ROUND(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*), 6) AS avg_chars
FROM documents
""",
        "minmax_norm": """
SELECT doc_id, lang,
       ROUND(CASE WHEN MAX(n_chars) OVER (PARTITION BY lang) = MIN(n_chars) OVER (PARTITION BY lang)
                  THEN 0.0
                  ELSE CAST(n_chars - MIN(n_chars) OVER (PARTITION BY lang) AS DOUBLE)
                       / (MAX(n_chars) OVER (PARTITION BY lang) - MIN(n_chars) OVER (PARTITION BY lang))
             END, 6) AS norm_chars
FROM documents
""",
        "topk_per_group": """
SELECT lang, CAST(rank AS INT) AS rank, doc_id, n_chars FROM (
    SELECT lang, doc_id, n_chars,
           ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id ASC) AS rank
    FROM documents
) WHERE rank <= 5
""",
        "exact_dedup": """
SELECT doc_id, n_chars FROM (
    SELECT doc_id, n_chars,
           ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
    FROM documents
) WHERE rn = 1
""",
        "hamming": """
SELECT doc_id, CAST(bit_count(xor(doc_id, CAST(n_chars AS BIGINT))) AS INT) AS ham
FROM documents
""",
        "payload_topk": f"""
WITH {_TOKS_CTE},
dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
stats AS (SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
                 CAST(SUM(dl) AS DOUBLE) / (SELECT COUNT(*) FROM documents) AS avgdl
          FROM dl),
tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks
       WHERE token IN ('spark','join','merge','window') GROUP BY doc_id, token),
df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
scored AS (
    SELECT tf.doc_id, tf.token,
           ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
             * (tf.tf * 2.5) / (tf.tf + 1.5 * (1 - 0.75 + 0.75 * (dl.dl / stats.avgdl))) AS bm25
    FROM tf JOIN df USING (token) JOIN dl USING (doc_id), stats
),
per_doc AS (SELECT doc_id, SUM(bm25 ORDER BY token) AS bm25_sum FROM scored GROUP BY doc_id),
qpos AS (SELECT doc_id, token, pos FROM toks
         WHERE token IN ('spark','join','merge','window')),
m AS (SELECT doc_id,
             MAX(CASE WHEN token='spark'  THEN 1 ELSE 0 END) AS has_s,
             MAX(CASE WHEN token='join'   THEN 1 ELSE 0 END) AS has_j,
             MAX(CASE WHEN token='merge'  THEN 1 ELSE 0 END) AS has_m,
             MAX(CASE WHEN token='window' THEN 1 ELSE 0 END) AS has_w
      FROM qpos GROUP BY doc_id),
runs AS (
  SELECT doc_id, pos,
         MAX(CASE WHEN token='spark'  THEN pos END) OVER w AS ls,
         MAX(CASE WHEN token='join'   THEN pos END) OVER w AS lj,
         MAX(CASE WHEN token='merge'  THEN pos END) OVER w AS lm,
         MAX(CASE WHEN token='window' THEN pos END) OVER w AS lw
  FROM qpos
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
spans AS (
  SELECT r.doc_id,
         MIN(r.pos - LEAST(
              CASE WHEN m.has_s=1 THEN r.ls ELSE r.pos END,
              CASE WHEN m.has_j=1 THEN r.lj ELSE r.pos END,
              CASE WHEN m.has_m=1 THEN r.lm ELSE r.pos END,
              CASE WHEN m.has_w=1 THEN r.lw ELSE r.pos END) + 1) AS min_span,
         MAX(m.has_s + m.has_j + m.has_m + m.has_w) AS nk
  FROM runs r JOIN m USING (doc_id)
  WHERE (m.has_s=0 OR r.ls IS NOT NULL) AND (m.has_j=0 OR r.lj IS NOT NULL)
    AND (m.has_m=0 OR r.lm IS NOT NULL) AND (m.has_w=0 OR r.lw IS NOT NULL)
  GROUP BY r.doc_id
),
final AS (
  SELECT p.doc_id,
         p.bm25_sum + 1.0 * (CASE WHEN s.nk >= 2
             THEN 1.0 / (CAST(s.min_span AS DOUBLE) / s.nk) ELSE 0.0 END) AS score
  FROM per_doc p JOIN spans s USING (doc_id)
),
ranked AS (SELECT *, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rank
           FROM final)
SELECT CAST(rank AS INT) AS rank, doc_id, ROUND(score, 6) AS score
FROM ranked WHERE rank <= 20
""",
        "plm_topk": f"""
WITH {_TOKS_CTE},
dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
stats AS (SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
                 CAST(SUM(dl) AS DOUBLE) / (SELECT COUNT(*) FROM documents) AS avgdl
          FROM dl),
tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks
       WHERE token IN ('spark','join','merge','window') GROUP BY doc_id, token),
df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
scored AS (
    SELECT tf.doc_id, tf.token,
           ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
             * (tf.tf * 2.5) / (tf.tf + 1.5 * (1 - 0.75 + 0.75 * (dl.dl / stats.avgdl))) AS bm25
    FROM tf JOIN df USING (token) JOIN dl USING (doc_id), stats
),
per_doc AS (SELECT doc_id, SUM(bm25 ORDER BY token) AS bm25_sum FROM scored GROUP BY doc_id),
qpos AS (SELECT doc_id, token, pos FROM toks
         WHERE token IN ('spark','join','merge','window')),
nl AS (SELECT doc_id, COUNT(DISTINCT token) AS n_lists FROM qpos GROUP BY doc_id),
k AS (
  SELECT c.doc_id, c.pos AS c, s.sigma, p.token,
         LEAST(SUM(exp((-0.5/(s.sigma*s.sigma))
               * ((CAST(c.pos AS DOUBLE) - p.pos)*(CAST(c.pos AS DOUBLE) - p.pos)))), 1.0) AS kt
  FROM qpos c
  JOIN qpos p ON p.doc_id = c.doc_id
  CROSS JOIN (SELECT unnest([25.0,50.0,100.0,200.0,400.0]) AS sigma) s
  GROUP BY c.doc_id, c.pos, s.sigma, p.token
),
pt AS (SELECT doc_id, c, sigma, SUM(kt) AS acc FROM k GROUP BY doc_id, c, sigma),
best AS (SELECT doc_id, sigma, MAX(acc) AS best_acc FROM pt GROUP BY doc_id, sigma),
plm AS (SELECT b.doc_id, AVG(best_acc / nl.n_lists) AS plm
        FROM best b JOIN nl USING (doc_id) GROUP BY b.doc_id),
final AS (
  SELECT p.doc_id,
         p.bm25_sum + 1.0 * (CASE WHEN n.n_lists >= 2 THEN pl.plm ELSE 0.0 END) AS score
  FROM per_doc p JOIN nl n USING (doc_id) LEFT JOIN plm pl USING (doc_id)
),
ranked AS (SELECT *, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rank
           FROM final)
SELECT CAST(rank AS INT) AS rank, doc_id, ROUND(score, 6) AS score
FROM ranked WHERE rank <= 20
""",
        "media_features": """
WITH f AS (
  SELECT doc_id AS media_id, CAST(length(text) AS BIGINT) AS n_bytes,
         COALESCE((SELECT SUM(ascii(substr(text, CAST(i AS INT), 1)))
                   FROM unnest(range(1, length(text)+1, 32)) AS u(i)), 0) AS s
  FROM documents
)
SELECT media_id, n_bytes,
       ROUND(CAST(CAST((s % 997) / 997.0 AS REAL) AS DOUBLE), 6) AS f0
FROM f
""",
        "subword_counts": r"""
WITH words AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
                            w -> w <> '')) AS w
  FROM documents
),
per AS (
  SELECT doc_id,
         CASE WHEN len(regexp_extract_all(w, '[a-z0-9]+')) = 0 THEN 1
              ELSE len(regexp_extract_all(w, '[a-z0-9]+'))
                   + CASE WHEN regexp_matches(w, '[a-z0-9]$') THEN 0 ELSE 1 END
         END AS c
  FROM words
)
SELECT d.doc_id, CAST(COALESCE(SUM(per.c), 0) AS INT) AS n_subwords
FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
GROUP BY d.doc_id
""",
        "simhash_values": f"""
WITH {_SIMHASH_CTE}
SELECT doc_id, simhash FROM simhash
""",
        "simhash_dedup": f"""
WITH {_SIMHASH_CTE}
SELECT doc_id, n_chars FROM (
    SELECT s.doc_id, d.n_chars,
           ROW_NUMBER() OVER (PARTITION BY s.simhash ORDER BY s.doc_id) AS rn
    FROM simhash s JOIN documents d USING (doc_id)
) WHERE rn = 1
""",
        "simhash_near_dup": f"""
WITH {_SIMHASH_CTE},
bands AS (
    SELECT doc_id, uns, b.band, (uns >> (b.band * 16)) & 65535 AS key
    FROM simhash, (SELECT unnest(range(0, 4)) AS band) b
),
pairs AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.uns, b.uns)) AS INT) AS hamming
    FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
    WHERE a.doc_id < b.doc_id
      AND bit_count(xor(a.uns, b.uns)) <= 3
)
SELECT id_a, id_b, hamming FROM pairs
""",
        # the wide (n_blocks=6) banding returns the SAME verified pairs by
        # construction (exact recall) — replayed by the identical SQL
        "simhash_near_dup_wide": f"""
WITH {_SIMHASH_CTE},
bands AS (
    SELECT doc_id, uns, b.band, (uns >> (b.band * 16)) & 65535 AS key
    FROM simhash, (SELECT unnest(range(0, 4)) AS band) b
),
pairs AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.uns, b.uns)) AS INT) AS hamming
    FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
    WHERE a.doc_id < b.doc_id
      AND bit_count(xor(a.uns, b.uns)) <= 3
)
SELECT id_a, id_b, hamming FROM pairs
""",
        "minhash_lsh_jaccard": """
WITH toks AS (
    SELECT DISTINCT doc_id, tok AS token FROM (
        SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
        FROM documents WHERE lang = 'en'
    )
),
vocab AS (
    SELECT token, CAST(dense_rank() OVER (ORDER BY token) AS BIGINT) AS token_id
    FROM (SELECT DISTINCT token FROM toks)
),
tok_ids AS (SELECT t.doc_id, v.token_id FROM toks t JOIN vocab v USING (token)),
hashes AS (
    SELECT doc_id, h.hash_idx,
           MIN(((2 * h.hash_idx + 1) * token_id + 1000003 * h.hash_idx) % 2147483647) AS minval
    FROM tok_ids, (SELECT unnest(range(0, 12)) AS hash_idx) h
    GROUP BY doc_id, h.hash_idx
),
bands AS (
    SELECT doc_id, hash_idx // 3 AS band,
           string_agg(CAST(minval AS VARCHAR), '-' ORDER BY hash_idx) AS band_key
    FROM hashes GROUP BY doc_id, hash_idx // 3
),
pairs AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
                             AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM toks GROUP BY doc_id),
inter AS (
    SELECT p.id_a, p.id_b, COUNT(*) AS inter
    FROM pairs p
    JOIN toks ta ON ta.doc_id = p.id_a
    JOIN toks tb ON tb.doc_id = p.id_b AND tb.token = ta.token
    GROUP BY p.id_a, p.id_b
)
SELECT i.id_a, i.id_b,
       ROUND(CAST(i.inter AS DOUBLE) / (sa.sz + sb.sz - i.inter), 6) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.id_a
JOIN sizes sb ON sb.doc_id = i.id_b
""",
        "ann_cosine_topk": """
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < 3),
v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
sims AS (
    SELECT q.query_id, v.vec_id,
           list_dot_product(v.ev, q.qv)
             / (sqrt(list_dot_product(v.ev, v.ev)) * sqrt(list_dot_product(q.qv, q.qv))) AS cos
    FROM v, q
),
ranked AS (
    SELECT query_id, vec_id, cos,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
    FROM sims
)
SELECT query_id, CAST(rank AS INT) AS rank, vec_id, ROUND(cos, 6) AS cos
FROM ranked WHERE rank <= 10
""",
        "ngram_jaccard": r"""
WITH toks AS (
    SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ts
    FROM documents
),
sh AS (
    SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id, unnest(
            CASE WHEN len(ts) = 0 THEN CAST([] AS VARCHAR[])
                 WHEN len(ts) < 3 THEN [array_to_string(ts, ' ')]
                 ELSE list_transform(range(1, len(ts) - 1),
                                     i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])
            END) AS shingle
        FROM toks)
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT id_a, id_b,
       ROUND(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.5
""",
        "cosine_near_dup": """
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_dot_product(a.ev, b.ev)
         / (sqrt(list_dot_product(a.ev, a.ev)) * sqrt(list_dot_product(b.ev, b.ev))), 6) AS cos
FROM v a JOIN v b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.ev, b.ev)
        / (sqrt(list_dot_product(a.ev, a.ev)) * sqrt(list_dot_product(b.ev, b.ev))) >= 0.4
""",
        "lang_id": """
WITH hits AS (
    SELECT doc_id,
        len(list_filter(string_split(lower(text), ' '),
            t -> t IN ('der','die','das','und','ist','nicht','mit','ein','zu','für'))) AS de,
        len(list_filter(string_split(lower(text), ' '),
            t -> t IN ('the','and','of','to','in','is','that','with','for','on'))) AS en,
        len(list_filter(string_split(lower(text), ' '),
            t -> t IN ('el','la','los','y','es','no','con','una','para','por'))) AS es,
        len(list_filter(string_split(lower(text), ' '),
            t -> t IN ('le','la','les','et','est','pas','avec','une','pour','dans'))) AS fr
    FROM documents
)
SELECT doc_id,
       CASE WHEN greatest(de, en, es, fr) = 0 THEN 'und'
            WHEN de = greatest(de, en, es, fr) THEN 'de'
            WHEN en = greatest(de, en, es, fr) THEN 'en'
            WHEN es = greatest(de, en, es, fr) THEN 'es'
            ELSE 'fr' END AS lang_guess
FROM hits
""",
        "quality_score": """
SELECT doc_id, ROUND(
    0.4 * least(len(list_filter(string_split(text, ' '), x -> x <> '')) / 100.0, 1.0)
  + 0.3 * (CASE WHEN len(text) / len(list_filter(string_split(text, ' '), x -> x <> '')) >= 3.0
                 AND len(text) / len(list_filter(string_split(text, ' '), x -> x <> '')) <= 10.0
                THEN 1.0 ELSE 0.5 END)
  + 0.3 * (CAST(len(list_distinct(list_filter(string_split(text, ' '), x -> x <> ''))) AS DOUBLE)
           / len(list_filter(string_split(text, ' '), x -> x <> ''))), 6) AS quality
FROM documents
""",
        "token_counts": """
SELECT doc_id, len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens
FROM documents
""",
        "fingerprint": """
WITH powers(k, v) AS (
    VALUES (0, CAST(1 AS BIGINT)), (1, 31), (2, 961), (3, 29791), (4, 923521),
           (5, 28629151), (6, 887503681), (7, 27512614111), (8, 852891037441),
           (9, 26439622160671)
),
toks AS (
    SELECT doc_id,
           substr(unnest(list_filter(string_split(text, ' '), x -> x <> '')), 1, 10) AS tok,
           unnest(range(1, len(list_filter(string_split(text, ' '), x -> x <> '')) + 1)) AS pos
    FROM documents
),
chars AS (
    SELECT doc_id, pos, tok, len(tok) AS L,
           unnest(range(1, len(tok) + 1)) AS cpos
    FROM toks
),
tok_hash AS (
    SELECT doc_id, pos,
           CAST(SUM(ord(substr(tok, CAST(cpos AS INT), 1)) * p.v) % 2147483647 AS BIGINT) AS th
    FROM chars JOIN powers p ON p.k = chars.L - chars.cpos
    GROUP BY doc_id, pos
),
fp AS (
    SELECT doc_id, CAST(SUM(pos * th) % 2147483647 AS BIGINT) AS fp
    FROM tok_hash GROUP BY doc_id
)
SELECT d.doc_id, COALESCE(fp.fp, 0) AS fp
FROM documents d LEFT JOIN fp ON fp.doc_id = d.doc_id
""",
        "dedup_components": """
WITH RECURSIVE ranked AS (
    SELECT doc_id, ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS rn
    FROM documents
),
edges AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b
    FROM ranked a JOIN ranked b
      ON b.rn = a.rn + 1 AND a.rn // 5 = b.rn // 5
),
sym AS (
    SELECT id_a AS s, id_b AS d FROM edges
    UNION
    SELECT id_b AS s, id_a AS d FROM edges
),
reach(id, r) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT reach.id, sym.d FROM reach JOIN sym ON reach.r = sym.s
)
SELECT id AS doc_id, MIN(r) AS component FROM reach GROUP BY id
""",
        "synonym_votes": """
WITH words AS (
    SELECT DISTINCT doc_id, w AS term FROM (
        SELECT doc_id,
               unnest(regexp_split_to_array(lower(text), '[^a-zäöüß]+')) AS w
        FROM documents) t
    WHERE len(w) > 1
),
df AS (
    SELECT term, COUNT(*) AS n_t FROM words GROUP BY term
),
head AS (
    SELECT term, n_t FROM df ORDER BY n_t DESC, term ASC LIMIT 100
),
capped AS (
    SELECT term, doc_id FROM (
        SELECT w.term, w.doc_id,
               ROW_NUMBER() OVER (PARTITION BY w.doc_id
                                  ORDER BY h.n_t DESC, w.term ASC) AS r
        FROM words w JOIN head h USING (term)) c
    WHERE r <= 32
),
pairs AS (
    SELECT a.term AS t1, b.term AS t2, COUNT(*) AS votes
    FROM capped a JOIN capped b
      ON a.doc_id = b.doc_id AND a.term < b.term
    GROUP BY 1, 2 HAVING COUNT(*) >= 3
),
sym AS (
    SELECT t1 AS term, t2 AS syn, votes FROM pairs
    UNION ALL
    SELECT t2 AS term, t1 AS syn, votes FROM pairs
)
SELECT term, syn, votes, CAST(rk AS INT) AS rk FROM (
    SELECT term, syn, votes,
           ROW_NUMBER() OVER (PARTITION BY term
                              ORDER BY votes DESC, syn ASC) AS rk
    FROM sym) ranked
WHERE rk <= 5
""",
        "media_url_filter": """
WITH u AS (
    SELECT doc_id,
           'https://' || source || '.example/docs/d' || CAST(doc_id AS VARCHAR)
           || CASE WHEN doc_id % 23 = 0 THEN '.jpg'
                   WHEN doc_id % 29 = 0 THEN '.png'
                   WHEN doc_id % 31 = 0 THEN '.pdf'
                   ELSE '.html' END AS url
    FROM documents
)
SELECT doc_id, url FROM u
WHERE NOT (url LIKE '%.jpg' OR url LIKE '%.png' OR url LIKE '%.pdf')
""",
        "domain_histogram": """
WITH u AS (
    SELECT doc_id,
           'https://' || source || '.example/docs/d' || CAST(doc_id AS VARCHAR)
           || CASE WHEN doc_id % 23 = 0 THEN '.jpg'
                   WHEN doc_id % 29 = 0 THEN '.png'
                   WHEN doc_id % 31 = 0 THEN '.pdf'
                   ELSE '.html' END AS url
    FROM documents
)
SELECT regexp_extract(url, '^https?://([^/]+)', 1) AS domain,
       COUNT(*) AS n_pages
FROM u GROUP BY 1
""",
        "proximity_2term": f"""
WITH {_TOKS_CTE},
a AS (SELECT doc_id, pos AS pa FROM toks WHERE token = 'spark'),
b AS (SELECT doc_id, pos AS pb FROM toks WHERE token = 'join'),
spans AS (
    SELECT a.doc_id, MIN(abs(a.pa - b.pb) + 1) AS min_span
    FROM a JOIN b ON a.doc_id = b.doc_id
    GROUP BY a.doc_id
)
SELECT doc_id, CAST(min_span AS BIGINT) AS min_span,
       ROUND(2.0 / min_span, 6) AS prox_score
FROM spans
""",
        "token_set_ops": """
SELECT doc_id,
       len(list_distinct(list_cat(list_distinct(list_filter(string_split(text, ' '), x -> x <> '')),
                                  ['spark','flink','trino']))) AS n_union,
       len(list_filter(list_distinct(list_filter(string_split(text, ' '), x -> x <> '')),
                       x -> x NOT IN ('the','a'))) AS n_except,
       len(list_filter(list_distinct(list_filter(string_split(text, ' '), x -> x <> '')),
                       x -> x IN ('spark','flink','trino'))) AS n_intersect
FROM documents
""",
        "events_sliding": """
WITH starts AS (
    SELECT time_bucket(INTERVAL 30 minutes, ts) AS w_start, event_type FROM events
    UNION ALL
    SELECT time_bucket(INTERVAL 30 minutes, ts) - INTERVAL 30 minutes AS w_start,
           event_type FROM events
)
SELECT w_start, event_type, COUNT(*) AS n_events
FROM starts GROUP BY w_start, event_type
""",
        "tpch_pricing_summary": """
SELECT l_returnflag, l_linestatus,
       ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_base_price,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                       * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 2) AS sum_disc_price,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                       * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                       * (CAST(1 AS DECIMAL(18,2)) + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE), 2) AS sum_charge,
       ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_price,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
        "join_revenue_by_nation": """
SELECT CAST(rank AS INT) AS rank, n_name, revenue, n_orders FROM (
    SELECT n.n_name,
           ROUND(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS revenue,
           COUNT(*) AS n_orders,
           ROW_NUMBER() OVER (ORDER BY SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) DESC, n.n_name ASC) AS rank
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
) WHERE rank <= 5
""",
        "supplier_balance_by_region": """
SELECT r.r_name,
       ROUND(CAST(SUM(CAST(s.s_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_bal,
       COUNT(*) AS n_suppliers
FROM supplier s
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name
""",
        "shipping_priority": """
SELECT CAST(rank AS INT) AS rank, o_orderkey, revenue, o_orderdate, o_orderpriority FROM (
    SELECT o.o_orderkey, o.o_orderdate, o.o_orderpriority,
           ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE), 2) AS revenue,
           ROW_NUMBER() OVER (
               ORDER BY SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l.l_discount AS DECIMAL(18,2)))) DESC,
                        o.o_orderdate ASC, o.o_orderkey ASC) AS rank
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
    GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
) WHERE rank <= 10
""",
        "returned_items": """
SELECT CAST(rank AS INT) AS rank, c_custkey, c_name, n_name, revenue FROM (
    SELECT c.c_custkey, c.c_name, n.n_name,
           ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE), 2) AS revenue,
           ROW_NUMBER() OVER (
               ORDER BY SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l.l_discount AS DECIMAL(18,2)))) DESC,
                        c.c_custkey ASC) AS rank
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
    GROUP BY c.c_custkey, c.c_name, n.n_name
) WHERE rank <= 20
""",
        "events_hourly": """
SELECT date_trunc('hour', ts) AS ts_hour, event_type,
       COUNT(*) AS n_events,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value
FROM events
GROUP BY date_trunc('hour', ts), event_type
""",
        "events_json": """
SELECT event_type,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
       COUNT(*) AS n
FROM events
GROUP BY event_type
""",
        "orders_rollup": """
SELECT COALESCE(o_orderstatus, 'ALL') AS status,
       COALESCE(o_orderpriority, 'ALL') AS priority,
       COUNT(*) AS n,
       ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
""",
        "window_lag": """
SELECT o_orderkey, o_custkey,
       ROUND(o_totalprice - COALESCE(lag(o_totalprice) OVER w, 0.0), 2) AS delta_prev,
       COALESCE(lead(o_orderkey) OVER w, -1) AS next_key
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
""",
        "events_sessions": """
WITH flagged AS (
    SELECT user_id, event_id, ts,
           CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800 * 1000000 THEN 1 ELSE 0 END AS new_sess
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
    SELECT user_id, event_id,
           SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_id
    FROM flagged
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       COUNT(*) AS n_events, MIN(event_id) AS first_event
FROM sess GROUP BY user_id, session_id
""",
        # Every queries() entry now has a DuckDB oracle: the former
        # rows-only set (simhash family, media_features, payload_topk,
        # plm_topk, subword_counts, minspan_proximity_udf) is hash-checked
        # via the SQL replays above.
    }


# ---------------------------------------------------------------------------
# bench-lite: a ~20 s perf smoke the driver can run even when the full
# bench.py protocol would blow its budget (VERDICT r4 item 5).  Emits the
# SAME compact JSON schema as bench.py's headline line, flagged "lite".
# ---------------------------------------------------------------------------


def bench_lite() -> dict:
    """Time only bench.py's HEADLINE_QUERIES at ``$SPARK_GRAFT_SF_DIR`` on
    ``$SPARK_GRAFT_CPUS`` cores and return the bench-compatible result dict
    (also printed as ONE JSON line by the ``python __spark_entry__.py
    --bench-lite`` entrypoint)."""
    import os
    import time

    from bench import HEADLINE_QUERIES, _warm_jvm, _warm_page_cache
    from modernsearchengines_spark.operators import query
    from modernsearchengines_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("bench-lite", cores=cpus, shuffle_partitions=2 * cpus)
    qmap = queries()
    t_suite = time.time()
    # untimed warm-up: session setup + whole-stage-codegen JIT (flagship
    # on the toy tables) + OS page cache over the timed tables
    spark.range(1).count()
    _warm_jvm(spark, qmap)
    _warm_page_cache(sf_dir)
    qtimes: dict[str, float] = {}
    for name in HEADLINE_QUERIES:
        t0 = time.time()
        df = qmap[name](spark, sf_dir)
        df.collect()
        qtimes[name] = round(time.time() - t0, 3)
        query.release(df)
    spark.stop()
    return {
        "metric": "bench_suite_wall",
        "value": round(time.time() - t_suite, 3),
        "unit": "sec",
        "queries": qtimes,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "lite": True,
    }


if __name__ == "__main__":
    import json
    import sys

    if "--bench-lite" in sys.argv:
        print(json.dumps(bench_lite()), flush=True)
