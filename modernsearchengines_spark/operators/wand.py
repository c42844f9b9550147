"""Block-max WAND-style pruned BM25 top-k (BASELINE.json north_star/rule).

Standard disjunctive BM25 top-k (``score(d) = Σ_t bm25(t, d)``) with the
distributed analogue of block-max WAND (Ding & Suel 2011, "Faster top-k
document retrieval using block-max indexes"):

  Phase A  read ONLY the light columns (term, doc_id, block_id,
           block_max_bm25) of the bucket-pruned postings join and compute a
           per-doc upper bound ``ub(d) = Σ_t block_max(t, block_t(d))`` —
           Parquet column pruning keeps positions/positions_vb unread.
  Phase B  exact-score the top-k docs BY UPPER BOUND (the seed set) and take
           θ = the k-th exact seed score — a sound threshold, since every
           true top-k doc has exact ≤ ub.
  Phase C  exact-score only candidates with ub ≥ θ; window top-k.

In a single-node WAND the win is skipping posting blocks during a pointer
walk; in columnar Spark the analogue is PROCESSING pruning: the cheap
upper-bound pass (narrow columns, map-side-combined sum) cuts the set of
docs that reach the expensive scoring stage (payload decode + heap scan +
collect_list shuffle) by the pruning ratio (~3× on the bench fixture).  It
is NOT a storage-bytes win — the candidate semi-join runs after the scan —
so it pays only when per-doc scoring is expensive: :func:`bm25_topk_auto`
serves payload scoring with the cascade-pruned plan and pure BM25 with
the single exhaustive pass (measurements there).  Exactness (pruned ≡
exhaustive, both scoring modes) is asserted by tests/test_wand.py over the
whole query batch.

Postings carry (tf, dl); every scan here scores them with
``indexer.bm25_expr`` against the (idf, avgdl) of the query-terms frame,
which must come from ``query.query_terms_df(..., index=)`` or
``query.attach_scoring_stats``.

The reference-parity ranking mode (operators/query.py) stays exhaustive BY
DESIGN: its query-global min-max normalizations (Q8/Q11) couple every
document's final score to the min/max over ALL matched docs, so any pruning
would change survivors' scores.  This module is the scale path a 100 TB
corpus would serve standard queries with; ``rank(prefilter=...)`` accepts
this module's candidates when quirk-parity is not required.
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


def _ub_and_exact(
    postings: DataFrame, blocks: DataFrame, terms: DataFrame
) -> DataFrame:
    """The fused phase-A/B pass: ONE narrow scan of the light posting
    columns (term, doc_id, block_id, tf, dl — positions blobs stay unread
    via Parquet column pruning) joined with the compact blocks table, then
    ONE per-(qnum, doc_id) aggregation producing BOTH

      ``ub``       = Σ_t block_max(t, block_t(d))   (upper bound)
      ``bm25_sum`` = Σ_t bm25(t, d)                 (exact light score)

    Carrying the 8-byte bm25 column through the ub pass costs ~nothing and
    collapses the round-2 design's separate exact-scoring scan: the seed
    threshold θ and (for pure-BM25 scoring) the final scores come from this
    same frame, so the light pruned path runs ONE scan total and the payload
    pruned path saves its phase-B fat scan."""
    b = blocks.join(
        F.broadcast(terms.select("term_bucket", "term").distinct()),
        ["term_bucket", "term"],
    )
    return (
        _matched(postings, terms, "block_id")
        .join(F.broadcast(b), ["term_bucket", "term", "block_id"])
        .groupBy("qnum", "doc_id")
        .agg(
            F.sum("block_max_bm25").alias("ub"),
            F.sum("bm25").alias("bm25_sum"),
        )
    )


TOPK_SALT = 16


def _topk_per_qnum(
    scores: DataFrame, k: int, value_col: str = "score",
    salt: int = TOPK_SALT, keep: tuple[str, ...] = (),
) -> DataFrame:
    """Per-query exact top-k WITHOUT a one-reducer-per-query window.

    ``Window.partitionBy("qnum")`` funnels each query's full matched set
    (hundreds of thousands of rows) into a single sorted partition — 2
    queries ⇒ 2 busy cores of 32.  Two-level instead: per-(qnum, salt)
    partial top-k in parallel (the global top-k is a subset of the union of
    per-salt top-ks), then the exact window over the ≤ k·salt survivors.

    ``keep``: extra columns carried through to the output unchanged.
    """
    vc, w_cols = F.col(value_col), [F.desc(value_col), F.asc("doc_id")]
    w1 = Window.partitionBy("qnum", "_s").orderBy(*w_cols)
    w2 = Window.partitionBy("qnum").orderBy(*w_cols)
    return (
        scores.withColumn("_s", F.pmod(F.xxhash64("doc_id"), F.lit(salt)))
        .withColumn("_r", F.row_number().over(w1))
        .filter(F.col("_r") <= k)
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("qnum", "rank", "doc_id", vc.alias(value_col), *keep)
    )


def _theta_literal(scores_for_seeds: DataFrame, k: int) -> DataFrame:
    """θ per qnum, COLLECTED eagerly and re-inlined as a literal frame.

    θ is one double per query.  Leaving it lazy makes the final action
    re-evaluate the whole ub+seed subtree a second time (Spark shares no
    work across branches of one DAG without an explicit materialization);
    collecting the per-query minimum splits the computation into two jobs
    that each evaluate every subtree once.  Driver traffic: nq rows.
    """
    spark = scores_for_seeds.sparkSession
    rows = (
        _topk_per_qnum(scores_for_seeds, k)
        .groupBy("qnum")
        .agg(F.min("score").alias("theta"))
        .collect()
    )
    return spark.createDataFrame(
        [(r.qnum, float(r.theta)) for r in rows] or [(None, None)],
        "qnum int, theta double",
    )


def bm25_topk_exhaustive(
    postings: DataFrame, terms: DataFrame, k: int = 100
) -> DataFrame:
    """Baseline: score every matched doc, salted two-level top-k per query."""
    scores = (
        _matched(postings, terms)
        .groupBy("qnum", "doc_id")
        .agg(F.sum("bm25").alias("score"))
    )
    return _topk_per_qnum(scores, k)


def bm25_topk_wand(
    postings: DataFrame, blocks: DataFrame, terms: DataFrame, k: int = 100
) -> DataFrame:
    """Block-max-pruned top-k; identical output to the exhaustive path.

    One scan total (fused phase A/B, :func:`_ub_and_exact`): the
    aggregation producing each doc's upper bound carries its exact Σ bm25
    alongside, so θ = min exact score of the top-k-by-ub seeds needs no
    second scan, and phase C is a filter over the already-computed exact
    scores.  The aggregated frame is materialized once (localCheckpoint —
    on a cluster this pins the 4-column frame to executor storage;
    recompute-on-failure is lost, the right trade for a cheap frame) and θ
    is collected eagerly (see _theta_literal), so the whole path runs two
    jobs over one scan.
    """
    agg = _ub_and_exact(postings, blocks, terms).localCheckpoint(eager=False)

    # Seeds: top-k docs BY UPPER BOUND; their exact scores ride along, so
    # θ (the k-th best exact seed score) is one tiny aggregation away.
    seeds = _topk_per_qnum(agg, k, value_col="ub", keep=("bm25_sum",))
    theta = _theta_literal(
        seeds.select("qnum", "doc_id", F.col("bm25_sum").alias("score")), k
    )

    # Phase C — keep candidates whose upper bound clears θ; their exact
    # scores are already in hand.  1-ulp guard: when a doc sits alone in
    # its blocks, ub(d) ≡ exact(d) mathematically but the two sums reduce
    # in different orders, so ub can land one ulp BELOW θ at the boundary
    # (observed; BM25 ≥ 0 so a relative shrink of θ is a sound slack).
    scores = (
        agg.join(F.broadcast(theta), "qnum")
        .filter(F.col("ub") >= F.col("theta") * (1 - 1e-9))
        .select("qnum", "doc_id", F.col("bm25_sum").alias("score"))
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
# ranking instead of refining it; at α=1 the cascade-bound filter keeps
# 2.6% of matched docs (38×; k=100 over the 8-query bench set, 400k
# index).  prox ∈ (0, 1] is a tie-refiner at α≈1.
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

    This bound strictly dominates the block-max bound Σ block_max + α used
    in round 2: in a pointer-walk WAND the block maxima exist to avoid
    DECODING per-posting scores, but in columnar Spark the exact Σ bm25
    costs the same one scan+agg the ub pass already runs — so the cascade
    bound is the correct distributed formulation (measured on the 400k
    index, α=1, k=100, 8-query bench set: candidates 2.6% of matched docs
    vs 41% under the block-max bound Σ block_max + α).
    This is rank-safe first-stage cascading (cf. Wang/Lin/Metzler 2011)
    with the block-max path retained for pure-BM25 scoring.
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


def bm25_prox_topk_wand(
    postings: DataFrame, blocks: DataFrame, terms: DataFrame, k: int = 100,
    alpha: float = PROX_ALPHA, scorer=None,
) -> DataFrame:
    """Payload-refined top-k with rank-safe candidate pruning — identical
    output to :func:`bm25_prox_topk_exhaustive` (tests/test_wand.py).

    This is where distributed pruning actually pays: the per-doc work is
    not an 8-byte sum but a varbyte decode + position scan in Python, so
    cutting the scored set 38× (pruning_stats cascade bound, α=1, k=100,
    400k bench index) cuts the expensive stage's input rows, Arrow
    transfer, and collect_list shuffle by the same factor.  Measured wins
    (tools/measure_wand.py, 32 cores, warm best-of-3): min-span payload
    9.0 s pruned vs 17.6 s exhaustive (2.0×); PLM reranking payload
    13.8 s vs 102.1 s (7.4×).

    Upper bound: the cascade bound of :func:`_cascade_agg` —
    ub(d) = Σ bm25 + α·PROX_MAX for multi-term docs, the exact light score
    plus the payload cap (``blocks`` is accepted for API symmetry with the
    pure-BM25 path but unused: the cascade bound strictly dominates block
    maxima here).  The narrow pass also yields each doc's exact Σ bm25,
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
    """
    agg = _cascade_agg(postings, terms, alpha).localCheckpoint(eager=False)
    seeds = _topk_per_qnum(agg, k, value_col="bm25_sum")
    theta = _theta_literal(
        seeds.select("qnum", "doc_id", F.col("bm25_sum").alias("score")), k
    )

    # Same 1-ulp relative guard as the pure-BM25 path (ub ≥ score holds
    # mathematically; float reduction order can land one ulp under θ).
    candidates = (
        agg.join(F.broadcast(theta), "qnum")
        .filter(F.col("ub") >= F.col("theta") * (1 - 1e-9))
        .select("qnum", "doc_id", "bm25_sum")
    )

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
    return _topk_per_qnum(scores, k)


def bm25_topk_auto(
    postings: DataFrame,
    blocks: DataFrame,
    terms: DataFrame,
    k: int = 100,
    payload: bool = False,
    alpha: float = PROX_ALPHA,
    scorer=None,
) -> DataFrame:
    """Top-k with the measured-faster plan per scoring mode: payload
    scoring → cascade-pruned :func:`bm25_prox_topk_wand`; pure BM25 → the
    single :func:`bm25_topk_exhaustive` pass (``blocks`` unused there).

    Measurements (tools/measure_wand.py, 400k-doc index, 32 cores, warm):
    min-span payload 9.0 s pruned vs 17.6 s exhaustive (2.0×); the PLM
    reranker 13.8 s vs 102.1 s (7.4×); light scoring 3.8 s exhaustive vs
    7.3 s pruned.  The saving is PROCESSING — the pruned path
    payload-scores (varbyte decode + position scan + collect_list shuffle)
    the cascade pruning ratio fewer docs (38× at α=1) — not storage bytes:
    the candidate semi-join runs after the scan and the narrow ub pass
    ADDS reads (strategy-bytes table in BENCH/BASELINE.md).
    """
    if payload:
        return bm25_prox_topk_wand(postings, blocks, terms, k, alpha, scorer)
    return bm25_topk_exhaustive(postings, terms, k)


def pruning_stats(
    postings: DataFrame,
    blocks: DataFrame,
    terms: DataFrame,
    k: int = 100,
    alpha: float | None = None,
    scorer=None,
) -> dict:
    """Diagnostic: matched docs vs docs surviving the θ cut.

    ``alpha=None`` reports the light (pure-BM25) path's ratio (block-max
    ub, exact-Σbm25 θ of the seeds — mirroring :func:`bm25_topk_wand`).
    Passing an alpha reports the payload path's under the cascade bound of
    :func:`bm25_prox_topk_wand` (Σbm25 + α·PROX_MAX·[multi-term]) with θ
    the k-th exact payload score of the top-k-by-ub seeds (the pruned path
    itself skips that seed-scoring job and cuts at the Σbm25 θ).
    """
    if alpha is None:
        agg = _ub_and_exact(postings, blocks, terms)
    else:
        agg = _cascade_agg(postings, terms, alpha)
    agg = agg.localCheckpoint(eager=False)
    n_matched = agg.count()
    seeds = _topk_per_qnum(agg, k, value_col="ub", keep=("bm25_sum",))
    if alpha is None:
        theta = _theta_literal(
            seeds.select("qnum", "doc_id", F.col("bm25_sum").alias("score")),
            k,
        )
    else:
        theta = _theta_literal(
            _payload_scores(
                _matched(postings, terms, "positions_vb").join(
                    F.broadcast(seeds.select("qnum", "doc_id")),
                    ["qnum", "doc_id"],
                    "left_semi",
                ),
                alpha,
                scorer,
            ),
            k,
        )
    n_candidates = (
        agg.join(F.broadcast(theta), "qnum")
        .filter(F.col("ub") >= F.col("theta") * (1 - 1e-9))
        .count()
    )
    return {"matched_docs": n_matched, "scored_docs": n_candidates}
