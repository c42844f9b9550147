"""BM25 top-k: the exhaustive pass and cascade-pruned payload scoring.

Standard disjunctive BM25 top-k (``score(d) = Σ_t bm25(t, d)``) runs as
:func:`bm25_topk_exhaustive`: one narrow scan of the bucket-pruned
postings (term, doc_id, tf, dl — Parquet column pruning keeps the
positions blobs unread), one per-(qnum, doc_id) sum and one windowed
top-k.  In columnar Spark that single scan-and-aggregate already yields
every doc's exact score, so a separate upper-bound pass (the block-max
WAND of a pointer-walk engine) would add work and prune none of it.

Pruning pays where per-doc scoring is expensive: payload scoring
(Σ bm25 + α·proximity over varbyte-decoded positions).  There
:func:`bm25_prox_topk_wand` runs the rank-safe cascade (the distributed
form of WAND's "skip docs whose bound cannot reach θ"):

  Phase A  one narrow scan + aggregate gives each doc its exact Σ bm25
           and the cascade bound ub(d) = Σ bm25 + α·PROX_MAX for
           multi-term docs (:func:`_cascade_agg`).
  Phase B  θ = the k-th Σ bm25 among the top-k-by-Σ bm25 seeds — a sound
           threshold, since Σ bm25 ≤ payload score pointwise.
  Phase C  decode and payload-score only the candidates with ub ≥ θ;
           window top-k.

:func:`bm25_topk_auto` serves pure BM25 with the exhaustive pass and
payload scoring with the cascade (measurements there).  Exactness (pruned
≡ exhaustive for both payload scorers) is asserted by tests/test_wand.py
over the whole query batch.

Postings carry (tf, dl); every scan here scores them with
``indexer.bm25_expr`` against the (idf, avgdl) of the query-terms frame,
which comes from ``query.query_terms_df``.

The reference-parity ranking mode (operators/query.py) stays exhaustive BY
DESIGN: its query-global min-max normalizations (Q8/Q11) couple every
document's final score to the min/max over ALL matched docs, so any pruning
would change survivors' scores.  This module is the scale path a 100 TB
corpus would serve standard queries with when quirk-parity is not
required (``query.search(parity=False)``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _matched(postings: DataFrame, terms: DataFrame, *extra: str) -> DataFrame:
    """(term_bucket, term, doc_id, *extra, qnum, bm25) rows of the
    bucket-pruned postings ⨝ broadcast query-terms join; only the
    ``extra`` posting columns beyond the scoring pair are read."""
    from .query import ensure_bm25, pruned_postings

    qside = F.broadcast(
        terms.select("term_bucket", "term", "qnum", "idf", "avgdl")
    )
    return ensure_bm25(
        pruned_postings(postings, terms)
        .select("term_bucket", "term", "doc_id", *extra, "tf", "dl")
        .join(qside, ["term_bucket", "term"])
    )


def _topk_per_qnum(
    scores: DataFrame, k: int, value_col: str = "score",
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Per-query exact top-k in total order (−value, doc_id): ONE
    ``row_number()`` over ``partitionBy("qnum")`` filtered to ``rank ≤ k``.

    Spark plans the rank filter as a ``WindowGroupLimit`` pair: a Partial
    limit BEFORE the qnum exchange keeps at most k rows per query from
    each map task, and the Final one after it ranks ≤ k·tasks survivors —
    so a query's matched set never funnels through one reducer.  Spark
    applies it for k ≤ ``spark.sql.optimizer.windowGroupLimitThreshold``
    (1000); above that the plan is still exact, just unlimited before the
    exchange.

    ``keep``: extra columns carried through to the output unchanged.
    """
    w = Window.partitionBy("qnum").orderBy(F.desc(value_col), F.asc("doc_id"))
    return (
        scores.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qnum", "rank", "doc_id", value_col, *keep)
    )


def bm25_topk_exhaustive(
    postings: DataFrame, terms: DataFrame, k: int = 100
) -> DataFrame:
    """Baseline: score every matched doc, one windowed top-k per query.

    Over a ``read_index(serve=True)`` cache the postings arrive
    hash-partitioned by doc_id, so the per-(qnum, doc_id) sum runs inside
    the scan stage; the only exchange is the qnum one of the top-k, fed
    ≤ k rows per query per task (:func:`_topk_per_qnum`)."""
    scores = (
        _matched(postings, terms)
        .groupBy("qnum", "doc_id")
        .agg(F.sum("bm25").alias("score"))
    )
    return _topk_per_qnum(scores, k)


PROX_ALPHA = 1.0
# Sound upper bound on the payload scorers: positions are distinct char
# offsets, so min-span's window covering one position from each of n lists
# spans ≥ n chars ⇒ normalized span ≥ 1 ⇒ score = 1/norm ≤ 1.0
# (proximity.min_span_score); the PLM scorer clips per-term kernel mass and
# averages, so it is ≤ 1.0 by construction (proximity.plm_score).
#
# α calibration (this matters for prunability, measured on the 400k bench
# index): the payload candidate filter keeps docs with
# bm25_sum + α·PROX_MAX ≥ θ, so its selectivity collapses once α exceeds
# the query's within-top BM25 spread — at α=10 (the round-2 default) EVERY
# matched doc survived (ratio 1.05×), because prox then DOMINATES the
# ranking instead of refining it; at α=1 the cascade-bound filter kept
# 2.6% of matched docs (38×; k=100 over the 8-query bench set, 400k
# index) — measured under an earlier θ (the seeds' k-th exact payload
# score), tighter than the served :func:`_theta_cut`, so it is not the
# served plan's ratio.  The served cut, measured: 2.2% of matched
# (qnum, doc) pairs payload-scored (80 of 3,580; perfbench serve --trace 1
# --seed 1, ``wand.prox_topk.scored_ratio`` 0.022, k=10, 4 queries,
# 1,000-doc index, local[4]).  Not re-measured at 400k docs.
# prox ∈ (0, 1] is a tie-refiner at α≈1.
PROX_MAX = 1.0


def _payload_scorer(scorer):
    if scorer is not None:
        return scorer
    from .proximity import min_span_score_vb_udf

    return min_span_score_vb_udf


def _payload_scores(
    matched_payload: DataFrame, alpha: float, scorer=None
) -> DataFrame:
    """(qnum, doc_id, bm25, positions_vb) rows → payload-refined score:
    Σ bm25 + α · scorer(decoded positions).  The blob decode + position
    scan happen INSIDE one Arrow UDF — this is the expensive per-doc work
    the pruned path avoids for non-candidates.  ``scorer`` is any
    array<binary> → double pandas UDF bounded by PROX_MAX (default: the
    reference-shaped min-span heap scan, proximity.min_span_score_vb_udf;
    the heavy alternative is proximity.plm_score_vb_udf)."""
    scorer = _payload_scorer(scorer)
    return (
        matched_payload.groupBy("qnum", "doc_id")
        .agg(
            F.sum("bm25").alias("bm25_sum"),
            F.collect_list("positions_vb").alias("_lists"),
        )
        .withColumn(
            "score",
            F.col("bm25_sum") + F.lit(alpha) * scorer("_lists"),
        )
        .select("qnum", "doc_id", "score")
    )


def bm25_prox_topk_exhaustive(
    postings: DataFrame, terms: DataFrame, k: int = 100,
    alpha: float = PROX_ALPHA, scorer=None,
) -> DataFrame:
    """Payload-refined top-k, exhaustive: decode positions and run the
    payload scorer for EVERY matched doc.  score = Σ bm25 + α·prox
    (Q13-style proximity accumulation as a first-class scale operator)."""
    scores = _payload_scores(
        _matched(postings, terms, "positions_vb"), alpha, scorer
    )
    return _topk_per_qnum(scores, k)


def _cascade_agg(postings: DataFrame, terms: DataFrame, alpha: float) -> DataFrame:
    """Fused first-stage pass for payload pruning: one NARROW scan (term,
    doc_id, bm25 — blobs unread) and one per-(qnum, doc_id) aggregation
    producing the exact light score and the tightest sound payload upper
    bound available without touching positions:

        bm25_sum = Σ_t bm25(t, d)                      (exact light score)
        ub       = bm25_sum + α·PROX_MAX·[n_lists ≥ 2] ≥ payload score(d)

    (single-list docs score prox = 0, so their bound gains nothing.)

    This bound strictly dominates a block-max bound (Σ of per-block term
    maxima + α): in a pointer-walk WAND the block maxima exist to avoid
    DECODING per-posting scores, but in columnar Spark the exact Σ bm25
    costs the same one scan+agg an upper-bound pass runs — so the cascade
    bound is the correct distributed formulation (measured on the 400k
    index, α=1, k=100, 8-query bench set: candidates 2.6% of matched docs
    vs 41% under the block-max bound, both under an earlier, tighter θ
    than the served :func:`_theta_cut`; see the ``PROX_MAX`` note for the
    served cut's ratio).  This is rank-safe first-stage cascading (cf.
    Wang/Lin/Metzler 2011).
    """
    return (
        _matched(postings, terms)  # narrow: no blobs
        .groupBy("qnum", "doc_id")
        .agg(
            F.sum("bm25").alias("bm25_sum"),
            F.count(F.lit(1)).alias("_n_lists"),
        )
        .withColumn(
            "ub",
            F.col("bm25_sum")
            + F.when(F.col("_n_lists") >= 2, alpha * PROX_MAX).otherwise(0.0),
        )
        .select("qnum", "doc_id", "bm25_sum", "ub")
    )


def _theta_cut(agg: DataFrame, k: int) -> DataFrame:
    """The cascade cut of :func:`bm25_prox_topk_wand`: the rows of the
    :func:`_cascade_agg` frame whose bound reaches θ, the k-th Σ bm25 among
    the top-k-by-Σ bm25 seeds of the query (all matched docs when fewer
    than k match).

    θ is one double per query, COLLECTED eagerly and re-inlined as a local
    frame.  Leaving it lazy makes the final action re-evaluate the whole
    ub+seed subtree a second time (Spark shares no work across branches of
    one DAG without an explicit materialization); collecting the
    per-query minimum splits the computation into two jobs that each
    evaluate every subtree once.  Driver traffic: nq rows; the local frame
    broadcasts without a job.
    """
    from .query import local_frame

    rows = (
        _topk_per_qnum(agg, k, value_col="bm25_sum")
        .groupBy("qnum")
        .agg(F.min("bm25_sum").alias("theta"))
        .collect()
    )
    theta = local_frame(
        agg.sparkSession,
        [(r.qnum, float(r.theta)) for r in rows],
        "qnum int, theta double",
    )
    # 1-ulp relative guard: ub ≥ score holds mathematically, but float
    # reduction order can land one ulp under θ (BM25 ≥ 0, so a relative
    # shrink of θ is a sound slack).
    return agg.join(F.broadcast(theta), "qnum").filter(
        F.col("ub") >= F.col("theta") * (1 - 1e-9)
    )


def bm25_prox_topk_wand(
    postings: DataFrame, _blocks: None, terms: DataFrame, k: int = 100,
    alpha: float = PROX_ALPHA, scorer=None,
) -> DataFrame:
    """Payload-refined top-k with rank-safe candidate pruning — identical
    output to :func:`bm25_prox_topk_exhaustive` (tests/test_wand.py).

    This is where distributed pruning actually pays: the per-doc work is
    not an 8-byte sum but a varbyte decode + position scan in Python, so
    cutting the scored set (38× under an earlier, tighter θ at α=1, k=100
    on the 400k bench index; see the ``PROX_MAX`` note for the served
    cut's ratio) cuts the expensive stage's input rows, Arrow transfer,
    and collect_list shuffle by the same factor.  Measured wins
    (tools/measure_wand.py, 32 cores, warm best-of-3): min-span payload
    9.0 s pruned vs 17.6 s exhaustive (2.0×); PLM reranking payload
    13.8 s vs 102.1 s (7.4×).

    Upper bound: the cascade bound of :func:`_cascade_agg` —
    ub(d) = Σ bm25 + α·PROX_MAX for multi-term docs, the exact light score
    plus the payload cap.  The narrow pass also yields each doc's exact Σ bm25,
    and θ = the k-th Σ bm25 among the top-k-by-Σbm25 seeds — sound
    (Σ bm25 ≤ payload score pointwise, so the true k-th best payload score
    dominates the seeds' k-th best lower bound) and free of extra scans,
    though looser by up to α·PROX_MAX than the seeds' k-th exact payload
    score.  The exact-payload θ was measured slower for both built-in
    scorers (min-span 13.8 s vs 9.0 s; PLM 17.1 s vs 13.8 s): its
    seed-scoring job costs more than the extra candidates it cuts at α=1.

    Phase C scans blobs ONLY (no bm25 column — Σ bm25 rides in from the
    narrow pass), semi-joined to candidates, so the expensive stage's rows
    shrink by the pruning ratio.

    The narrow pass is persisted and rides on the result as
    ``_cached_frames``: ``query.release`` the result once it is consumed.

    ``_blocks`` is ignored (pass None); it only holds the second slot of
    the ``(postings, blocks, terms, …)`` call shape perfbench/ still uses.
    """
    agg = _cascade_agg(postings, terms, alpha).persist()
    candidates = _theta_cut(agg, k).select("qnum", "doc_id", "bm25_sum")

    # Phase C: blobs-only scan for surviving candidates; Σ bm25 joins back
    # from the narrow pass (AQE broadcasts the candidate side when small).
    from .query import pruned_postings

    blobs = pruned_postings(postings, terms).join(
        F.broadcast(terms.select("term_bucket", "term", "qnum")),
        ["term_bucket", "term"],
    ).select("qnum", "doc_id", "positions_vb")
    prox = (
        blobs.join(
            candidates.select("qnum", "doc_id"), ["qnum", "doc_id"],
            "left_semi",
        )
        .groupBy("qnum", "doc_id")
        .agg(F.collect_list("positions_vb").alias("_lists"))
        .withColumn("prox", _payload_scorer(scorer)("_lists"))
        .select("qnum", "doc_id", "prox")
    )
    scores = candidates.join(prox, ["qnum", "doc_id"]).select(
        "qnum",
        "doc_id",
        (F.col("bm25_sum") + F.lit(alpha) * F.col("prox")).alias("score"),
    )
    out = _topk_per_qnum(scores, k)
    out._cached_frames = [agg]
    return out


def bm25_topk_auto(
    postings: DataFrame,
    _blocks: None,
    terms: DataFrame,
    k: int = 100,
    payload: bool = False,
    alpha: float = PROX_ALPHA,
    scorer=None,
) -> DataFrame:
    """Top-k with the measured-faster plan per scoring mode: payload
    scoring → cascade-pruned :func:`bm25_prox_topk_wand`; pure BM25 → the
    single :func:`bm25_topk_exhaustive` pass.

    Measurements (tools/measure_wand.py, 400k-doc index, 32 cores, warm):
    min-span payload 9.0 s pruned vs 17.6 s exhaustive (2.0×); the PLM
    reranker 13.8 s vs 102.1 s (7.4×); light scoring 3.8 s exhaustive vs
    7.3 s under the since-deleted block-max pruned plan.  The saving is
    PROCESSING — the pruned path payload-scores (varbyte decode + position
    scan + collect_list shuffle) only the docs that pass the cascade cut
    (``PROX_MAX`` note: 38× fewer under an earlier θ at α=1; the served
    cut's ratio is quoted there) — not storage bytes: the candidate
    semi-join runs after the scan and the narrow ub pass ADDS reads.

    ``_blocks`` is ignored (pass None); it only holds the second slot of
    the ``(postings, blocks, terms, …)`` call shape perfbench/ still uses.
    """
    if payload:
        return bm25_prox_topk_wand(postings, None, terms, k, alpha, scorer)
    return bm25_topk_exhaustive(postings, terms, k)


def pruning_stats(
    postings: DataFrame,
    _blocks: None,
    terms: DataFrame,
    k: int = 100,
    alpha: float = PROX_ALPHA,
) -> dict:
    """Diagnostic for :func:`bm25_prox_topk_wand`: ``matched_docs``, the
    (qnum, doc) pairs the narrow pass aggregates, and ``scored_docs``, the
    pairs surviving its θ cut (:func:`_theta_cut`) — the docs the served
    plan payload-scores.

    ``_blocks`` is ignored (pass None); it only holds the second slot of
    the ``(postings, blocks, terms, …)`` call shape perfbench/ still uses.
    """
    agg = _cascade_agg(postings, terms, alpha).persist()
    n_matched = agg.count()
    n_candidates = _theta_cut(agg, k).count()
    agg.unpersist()
    return {"matched_docs": n_matched, "scored_docs": n_candidates}
