"""Similarity search over embedding columns (training-data pipeline op).

Brute-force cosine top-k per query, exact all-pairs cosine as the
correctness baseline, and one bucketed scale path: sign-LSH
(random-hyperplane, Charikar 2002) near-duplicate pairs, where only
vectors sharing a bucket are compared (recall measured against the exact
pairs in tests/test_dedup_similarity.py).

Scoring arithmetic stays JVM-side: dot products via
``aggregate(zip_with(...))`` higher-order functions, no Python crossing.

Vector tables carry ``(vec_id, embedding)``; query tables carry
``(query_id, query_vec)``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

HYPERPLANE_SEED = 7  # first LSH table's hyperplane seed


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def brute_force_topk(
    vectors: DataFrame, queries: DataFrame, k: int = 10
) -> DataFrame:
    """Exact cosine top-k per query: broadcast the (small) query side against
    the vector table; window top-k with (−cos, id) tie order."""
    joined = vectors.crossJoin(F.broadcast(queries)).withColumn(
        "cos", cosine(F.col("embedding"), F.col("query_vec"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "cos")
    )


def _sign_bits(vec_col: Column, hyperplanes: list[list[float]]) -> Column:
    """Bucket signature: sign bit of the dot product with each hyperplane."""
    bits = [
        F.when(_dot(vec_col, F.array(*[F.lit(x) for x in h])) >= 0, F.lit("1"))
        .otherwise(F.lit("0"))
        for h in hyperplanes
    ]
    return F.concat(*bits)


def make_hyperplanes(
    dim: int, n_planes: int = 8, seed: int = HYPERPLANE_SEED
) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (seeded LCG, no numpy RNG
    state dependence)."""
    state = seed
    planes = []
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (1103515245 * state + 12345) % (1 << 31)
            row.append(state / float(1 << 31) - 0.5)
        planes.append(row)
    return planes


def cosine_pairs_exact(vectors: DataFrame, threshold: float) -> DataFrame:
    """EXACT embedding-cosine pairs ≥ threshold → (id_a, id_b, cos).

    The declared brute-force baseline (all-pairs self-join): correct at any
    threshold, quadratic in corpus size — the correctness oracle for
    :func:`cosine_near_dup_pairs`, which is the bucketed scale path.  Use
    this for ≤10^5 vectors or verification samples; use the LSH variant at
    100 TB.
    """
    a = vectors.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = vectors.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cos", cosine(F.col("va"), F.col("vb")))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def cosine_near_dup_pairs(
    vectors: DataFrame,
    threshold: float,
    dim: int,
    n_planes: int = 6,
    n_tables: int = 1,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via LSH-bucketed self-join.

    Multi-table sign-LSH: each of ``n_tables`` tables hashes with its own
    ``n_planes`` hyperplanes; candidates are pairs colliding in ANY table.
    A pair at angle θ collides per table with p = (1 − θ/π)^n_planes, so
    recall = 1 − (1 − p)^n_tables — planes-per-table controls bucket size
    (each plane halves expected occupancy: candidates ~ n²/2^n_planes per
    table, the quadratic-blowup knob), tables control recall.  The 100 TB
    setting is MORE planes (16-24, so buckets stay person-sized) and
    enough tables to hold recall (8-16); the default 6×1 is sized for the
    fixture corpus.  Shuffle volume grows linearly with n_tables (explode),
    in-bucket comparisons shrink exponentially with n_planes.
    """
    v = vectors
    for t in range(n_tables):
        planes = make_hyperplanes(dim, n_planes, seed=HYPERPLANE_SEED + 101 * t)
        v = v.withColumn(f"_b{t}", _sign_bits(F.col("embedding"), planes))
    banded = v.select(
        "vec_id",
        "embedding",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("tbl"), F.col(f"_b{t}").alias("bucket")
                    )
                    for t in range(n_tables)
                ]
            )
        ).alias("tb"),
    ).select(
        "vec_id", "embedding",
        F.col("tb.tbl").alias("tbl"), F.col("tb.bucket").alias("bucket"),
    )
    a = banded.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"), "tbl", "bucket"
    )
    b = banded.select(F.col("vec_id").alias("id_b"), "tbl", "bucket")
    # Multi-table collisions are deduped on the PAIR KEY with only one
    # vector side aboard (va rides — it is functionally dependent on id_a,
    # so dropDuplicates keeps a consistent row); the b-side vector joins
    # back AFTER the dedup.  Carrying both vectors through the dedup
    # exchange doubled its bytes for no information (the r4 .distinct()
    # shape) — at n_tables=8+ that exchange dominates the candidate stage.
    pairs = (
        a.join(b, ["tbl", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "va")
        .dropDuplicates(["id_a", "id_b"])
    )
    vb_side = vectors.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb")
    )
    return (
        pairs.join(vb_side, "id_b")
        .withColumn("cos", cosine(F.col("va"), F.col("vb")))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )
