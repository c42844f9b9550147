"""Deduplication family for large-scale corpus curation.

The reference ships exact dedup only (simhash with threshold 0.99 ⟺ hamming
distance 0 ⟺ exact hash equality, Q12 — /root/reference/
WebCrawler_basis.py:279-303, O(n²) pairwise).  At 100 TB dedup is a
first-class pipeline stage, so this module provides the standard ladder:

  * exact_dedup            group-by-key keep-first (hash/window, no O(n²))
  * simhash_dedup          reference Q12 semantics, distributed
  * minhash_signatures /   MinHash + LSH banding: shingle → K permutation-min
    lsh_candidate_pairs    hashes → band buckets → bucket equi-self-join;
                           candidate pairs verified by exact Jaccard
  * jaccard_pairs          exact token-set Jaccard over candidate pairs
  * embedding near-dup     see similarity.py (cosine threshold join)

Token-id note: the MinHash permutations are affine maps over an integer
token id.  The DEFAULT id is ``pmod(xxhash64(token), P)`` — a pure column
expression that scales to any vocabulary size.  A ``dense_oracle_replay``
mode (dense_rank over the sorted vocabulary) exists ONLY so the DuckDB
oracle in __spark_entry__.py can replay the exact numbers in ANSI SQL; its
global window single-partitions the vocabulary and must never be the
default at scale.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from ..functions.simhash import simhash64
from ..functions.text_analysis import tokens

# Affine MinHash parameters: h_i(x) = (A_i·x + B_i) mod P, P prime.
MINHASH_P = 2_147_483_647  # 2^31 − 1 (Mersenne prime)
NUM_HASHES = 12
BAND_ROWS = 3  # 4 bands × 3 rows


def exact_dedup(df: DataFrame, key_cols: list[str], order_cols: list[str]) -> DataFrame:
    """Keep-first row per key (reference remove_duplicates keep-first policy,
    WebCrawler_basis.py:295-303, made deterministic via order_cols).

    The window partitions on ``xxhash64(key_cols)`` FIRST, then the raw key
    columns: when the key is a full document text, leading with the 8-byte
    hash keeps the partitioner and almost every sort comparison on a fixed-
    width long (raw keys are only compared within hash-equal groups), while
    the trailing raw columns keep the result EXACT under hash collisions.
    """
    w = Window.partitionBy(F.xxhash64(*key_cols), *key_cols).orderBy(*order_cols)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


@F.pandas_udf(LongType())
def simhash_udf(text: pd.Series) -> pd.Series:
    """64-bit simhash, two's-complement into a Spark long (O-70)."""

    def _h(t: str | None) -> int:
        if t is None:
            return 0
        v = simhash64(t)
        return v - (1 << 64) if v >= (1 << 63) else v

    return text.map(_h)


def simhash_dedup(df: DataFrame, text_col: str, order_cols: list[str]) -> DataFrame:
    """Q12 dedup: similarity > 0.99 over 64 bits ⟺ equal simhash; the O(n²)
    pairwise loop becomes a hash group-by — the scalable formulation."""
    hashed = df.withColumn("_simhash", simhash_udf(text_col))
    return exact_dedup(hashed, ["_simhash"], order_cols).drop("_simhash")


def _simhash_block_tables(
    n_blocks: int, max_hamming: int
) -> tuple[list[int], list[int], list[tuple[int, ...]]]:
    """(widths, lsb_starts, tables) for the combination banding scheme.

    The 64 bits split into ``n_blocks`` near-equal blocks; one table per
    combination of ``n_blocks − max_hamming`` blocks.  Pigeonhole: a pair
    within hamming ≤ max_hamming differs in ≤ max_hamming blocks, so SOME
    (n_blocks − max_hamming)-subset of blocks is bit-identical — that
    subset's table catches the pair.  Exact recall by construction.
    """
    import itertools

    if n_blocks <= max_hamming:
        raise ValueError(
            f"n_blocks ({n_blocks}) must exceed max_hamming ({max_hamming})"
        )
    base, extra = divmod(64, n_blocks)
    widths = [base + (1 if i < extra else 0) for i in range(n_blocks)]
    starts = [sum(widths[:i]) for i in range(n_blocks)]
    tables = list(
        itertools.combinations(range(n_blocks), n_blocks - max_hamming)
    )
    return widths, starts, tables


def simhash_candidate_pairs(
    hashed: DataFrame,
    id_col: str,
    max_hamming: int = 3,
    n_blocks: int = 4,
) -> DataFrame:
    """LSH candidate generation for :func:`simhash_near_dup_pairs`:
    (id_a, id_b, sh_a, sh_b) pairs colliding in ≥1 banding table, BEFORE
    hamming verification.  Exposed so tests/capacity planning can measure
    candidate volume per scheme.  ``hashed`` carries (id_col, _sh).

    Scale math (Manku/Jain/Sarma, WWW'07 formulation): each table keys on
    ``n_blocks − max_hamming`` blocks ≈ 64·(1 − max_hamming/n_blocks) bits,
    so expected random collisions per table ≈ n²/2^keybits.

      * n_blocks=4, k=3 (reference-scale default): 4 tables × 16-bit keys —
        fine to ~10^7 docs, quadratic inside buckets past that.
      * n_blocks=6, k=3 (100 TB path): C(6,3)=20 tables × ~32-bit keys —
        expected candidates ~n²/2^32 per table (~2·10^5 at n=10^9).
      * n_blocks=8, k=3: 56 tables × 40-bit keys for the 10^10+ regime.

    More tables cost a wider explode (rows × n_tables) but the join stays
    an equi-join on (table, key) — shuffle volume scales linearly with
    table count while in-bucket comparisons shrink exponentially with key
    width.
    """
    widths, starts, tables = _simhash_block_tables(n_blocks, max_hamming)

    def block_val(i: int):
        return F.shiftrightunsigned(F.col("_sh"), starts[i]).bitwiseAND(
            F.lit((1 << widths[i]) - 1)
        )

    def table_key(combo: tuple[int, ...]):
        # pack the chosen block values into one long (Σ widths ≤ 64 bits)
        key = None
        for i in combo:
            v = block_val(i)
            key = v if key is None else F.shiftleft(key, widths[i]).bitwiseOR(v)
        return key

    bands = hashed.select(
        id_col,
        "_sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("band"), table_key(combo).alias("key")
                    )
                    for t, combo in enumerate(tables)
                ]
            )
        ).alias("bk"),
    ).select(
        id_col, "_sh", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    a = bands.select(
        F.col(id_col).alias("id_a"), F.col("_sh").alias("sh_a"), "band", "key"
    )
    b = bands.select(
        F.col(id_col).alias("id_b"), F.col("_sh").alias("sh_b"), "band", "key"
    )
    return (
        a.join(b, ["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
    )


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    n_blocks: int = 4,
) -> DataFrame:
    """SimHash NEAR-duplicate pairs (hamming ≤ max_hamming) without O(n²).

    Combination banding (see :func:`simhash_candidate_pairs` for the
    table/key construction and the per-corpus-size parameter ladder):
    every pair within the hamming budget collides in at least one table —
    exact recall — and candidates are verified with ``bit_count(xor)``
    (O-71).  All JVM-side except the simhash UDF itself.  ``n_blocks=4``
    keeps the original 4×16-bit behavior (up to ~10^7 docs); raise to 6 or
    8 for web-scale corpora.  (The reference's >0.99 threshold is hamming
    0 — Q12 exact dedup — this operator generalizes it to true near-dup at
    scale; reference analogue WebCrawler_basis.py:279-293.)
    """
    hashed = df.select(F.col(id_col), simhash_udf(text_col).alias("_sh"))
    return (
        simhash_candidate_pairs(hashed, id_col, max_hamming, n_blocks)
        .withColumn(
            "hamming",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )


def tokens_df(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, token) distinct pairs of the whitespace tokens — JVM-side."""
    return (
        df.select(id_col, F.explode(tokens(F.col(text_col))).alias("token"))
        .distinct()
    )


def token_ids(tokens: DataFrame, mode: str = "hash") -> DataFrame:
    """Token → integer id for the MinHash permutations.

    ``mode="hash"`` (default): ``token_id = pmod(xxhash64(token), P)`` — a
    pure column expression with no global window, the only formulation that
    scales (a dense_rank over the whole vocabulary single-partitions
    billions of distinct tokens at 100 TB).  Ids land in [0, P), the
    permutation field.

    ``mode="dense_oracle_replay"``: dense 1-based rank over the sorted
    vocabulary — arithmetic a DuckDB oracle can replay bit-for-bit
    (dense_rank is ANSI SQL; xxhash64 is Spark-specific).  ONLY for the
    contract query / cross-engine verification; the global unpartitioned
    window is a deliberate, documented scale sacrifice there.
    """
    vocab = tokens.select("token").distinct()
    if mode == "hash":
        return vocab.withColumn(
            "token_id", F.pmod(F.xxhash64("token"), F.lit(MINHASH_P))
        )
    w = Window.orderBy("token")
    return vocab.withColumn("token_id", F.dense_rank().over(w).cast("long"))


def minhash_signatures(
    tokens: DataFrame, id_col: str, id_mode: str = "hash"
) -> DataFrame:
    """→ (id, hash_idx, minval): NUM_HASHES affine-permutation minima per doc.

    A_i = 2i+1 (odd, coprime with P), B_i = 1000003·i — fixed, deterministic,
    replayable in SQL.  ``id_mode`` selects the token-id scheme (see
    :func:`token_ids`) — hash ids by default; dense ids only for oracle
    replay.
    """
    ids = F.broadcast(token_ids(tokens, mode=id_mode))
    with_ids = tokens.join(ids, "token")
    hashes = with_ids.select(
        id_col,
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(NUM_HASHES - 1)),
                lambda i: F.struct(
                    i.alias("hash_idx"),
                    (
                        ((2 * i + 1) * F.col("token_id") + 1000003 * i)
                        % MINHASH_P
                    ).alias("hval"),
                ),
            )
        ).alias("h"),
    ).select(id_col, F.col("h.hash_idx").alias("hash_idx"), F.col("h.hval").alias("hval"))
    return hashes.groupBy(id_col, "hash_idx").agg(F.min("hval").alias("minval"))


def lsh_candidate_pairs(signatures: DataFrame, id_col: str) -> DataFrame:
    """Band the signatures (BAND_ROWS hashes per band) and self-join on
    (band, band_key) → candidate pairs (a < b).  The join is an equi join
    on the band bucket — shuffle on the bucket key, no all-pairs
    comparison."""
    banded = signatures.withColumn(
        "band", (F.col("hash_idx") / F.lit(BAND_ROWS)).cast("int")
    )
    band_keys = banded.groupBy(id_col, "band").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("hash_idx", "minval"))),
                lambda s: s["minval"].cast("string"),
            ),
            "-",
        ).alias("band_key")
    )
    a = band_keys.select(
        F.col(id_col).alias("id_a"), "band", "band_key"
    )
    b = band_keys.select(
        F.col(id_col).alias("id_b"), "band", "band_key"
    )
    return (
        a.join(b, ["band", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def shingles_df(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(id, shingle) distinct word n-gram pairs — JVM-side only.

    Shingle convention matches the simhash featureizer
    (functions/simhash.py): empty text → no shingles; fewer than ``n``
    tokens → one shingle of all tokens joined; otherwise the L−n+1
    sliding windows joined with single spaces.
    """
    toks = tokens(F.col(text_col))
    shingle_arr = (
        F.when(F.size(toks) == 0, F.array().cast("array<string>"))
        .when(F.size(toks) < n, F.array(F.array_join(toks, " ")))
        .otherwise(
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (n - 1)),
                lambda i: F.array_join(F.slice(toks, i, n), " "),
            )
        )
    )
    return (
        df.select(F.col(id_col), F.explode(shingle_arr).alias("token"))
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
    shingle_df_cap: int | None = None,
) -> DataFrame:
    """EXACT word n-gram Jaccard near-duplicate pairs → (id_a, id_b, jaccard).

    The scalable-exact formulation: an inverted shingle index replaces the
    all-pairs cross join — only pairs sharing ≥1 shingle are ever compared
    (pairs with zero shared shingles have Jaccard 0 < threshold, so recall
    is exact by construction).  All shuffles are equi-joins on the shingle
    string / the (id_a, id_b) pair key; no window over the corpus.

    ``shingle_df_cap`` optionally drops shingles appearing in more than
    that many documents before the self-join — the standard web-scale
    guard (a boilerplate shingle shared by 10^6 docs contributes 10^12
    candidate pairs but almost no Jaccard mass).  At 100 TB run with a cap
    (e.g. 1000); leave None for exact semantics, as the contract entry
    does at fixture scale.  Complements :func:`minhash_signatures` /
    :func:`lsh_candidate_pairs`, which trade exactness for a fixed-width
    signature when even the inverted index is too hot.
    """
    sh = shingles_df(df, id_col, text_col, n)
    if shingle_df_cap is not None:
        rare = (
            sh.groupBy("token")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= shingle_df_cap)
            .select("token")
        )
        sh = sh.join(rare, "token")
    a = sh.select(F.col(id_col).alias("id_a"), "token")
    b = sh.select(F.col(id_col).alias("id_b"), "token")
    # one pass: the inverted-index join itself yields the intersection
    # counts (vs. candidate-pairs → re-join, which reads the shingle
    # table three times)
    inter = (
        a.join(b, "token")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    # sizes is doc-cardinality (NOT broadcastable at 100 TB) — plain
    # equi-joins; AQE may still broadcast at small scale
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    return (
        inter.join(
            sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a")),
            "id_a",
        )
        .join(
            sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b")),
            "id_b",
        )
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def jaccard_pairs(
    tokens: DataFrame, pairs: DataFrame, id_col: str
) -> DataFrame:
    """Exact token-set Jaccard for candidate pairs → (id_a, id_b, jaccard)."""
    sizes = tokens.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    ta = tokens.select(F.col(id_col).alias("id_a"), "token")
    tb = tokens.select(F.col(id_col).alias("id_b"), "token")
    inter = (
        pairs.join(ta, "id_a")
        .join(tb, ["id_b", "token"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed(id_col, "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed(id_col, "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .select("id_a", "id_b", "jaccard")
    )


def connected_components(
    pairs: DataFrame, max_iter: int = 20, reliable: bool = False
) -> DataFrame:
    """Near-dup pair graph → (id, component): component = min id reachable.

    The missing last step of the dedup ladder: every pair generator in
    this module (simhash banding, MinHash-LSH + Jaccard verify, n-gram
    Jaccard, cosine sign-LSH) emits PAIRS, but training-data curation
    needs CLUSTERS — a chain a~b~c is one duplicate group even when
    (a, c) itself was never emitted.

    Algorithm: iterative min-label propagation with pointer jumping
    (hash-min + path compression, after Rastogi et al.'s "Finding
    Connected Components in Map-Reduce", ICDE'13).  Each round every
    node adopts the minimum label in its closed neighborhood, then jumps
    one level through the label table (component := label(component)) —
    the jump doubles propagation distance per round, so convergence is
    O(log diameter) instead of O(diameter); a 1M-node path graph
    converges within ~20 rounds.  Near-dup clusters are short-diameter
    by construction, so the typical round count is 2-3.  Each round is
    two key-partitioned shuffles (edges ⨝ labels min-agg; label
    self-join) plus an O(1)-row convergence count; labels are
    localCheckpointed per round so the iterative plan's lineage stays
    flat instead of growing geometrically.  Early-stops when no label
    changed.

    Input rows are undirected ``(id_a, id_b)`` pairs, the columns every
    pair generator here emits (symmetrized internally, self-loops
    ignored).  Singletons never appear in ``pairs`` and therefore not in
    the output.

    ``reliable=True`` (VERDICT r5 item 6) uses ``DataFrame.checkpoint()``
    against ``spark.sparkContext.setCheckpointDir`` instead of
    ``localCheckpoint()``: local checkpoint blocks live in executor
    storage and are LOST on executor failure — fine in local mode, a
    rerun-from-zero mid-loop on a real cluster.  The caller must set a
    checkpoint dir first (any Hadoop scheme) and owns its lifecycle
    (Spark does not clean reliable checkpoint files by default).

    The returned labels are the last round's checkpoint: free them with
    ``query.release_frame`` once consumed.
    """

    from .query import release_frame

    def _ckpt(df: DataFrame) -> DataFrame:
        return df.checkpoint() if reliable else df.localCheckpoint()

    edges = _ckpt(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    labels = _ckpt(
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
    )
    # Handle to the previous round's checkpointed labels: each round
    # materializes a NEW full label table, so without freeing the old one
    # the loop accumulates up to max_iter copies in executor storage.  The
    # new checkpoint is eager, so dropping the old blocks after it
    # materializes is safe.
    prev = labels
    converged = False
    for _ in range(max_iter):
        nbr_min = (
            edges.join(
                labels.select(
                    F.col("id").alias("src"),
                    F.col("component").alias("src_comp"),
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("src_comp").alias("nbr_comp"))
        )
        stepped = labels.join(nbr_min, "id", "left").select(
            "id",
            F.col("component").alias("_old"),
            F.least(
                F.col("component"),
                F.coalesce(F.col("nbr_comp"), F.col("component")),
            ).alias("_c1"),
        )
        # pointer jump: component := label(component) — doubles the
        # propagation distance each round (labels only ever decrease,
        # so the jump is always toward the component minimum)
        parent = stepped.select(
            F.col("id").alias("_pid"), F.col("_c1").alias("_pcomp")
        )
        updated = (
            stepped.join(parent, stepped["_c1"] == parent["_pid"], "left")
            .select(
                stepped["id"],
                F.coalesce("_pcomp", "_c1").alias("component"),
                (F.coalesce("_pcomp", "_c1") != F.col("_old")).alias(
                    "_chg"
                ),
            )
        )
        updated = _ckpt(updated)
        changed = updated.filter(F.col("_chg")).limit(1).count()
        release_frame(prev)
        prev = updated
        labels = updated.drop("_chg")
        if changed == 0:
            converged = True
            break
    release_frame(edges)  # the returned labels no longer read the edge table
    if not converged:
        import warnings

        warnings.warn(
            f"connected_components exhausted max_iter={max_iter} before "
            "convergence; returned labels may split true components — "
            "raise max_iter (pointer jumping needs ~log2(diameter) rounds)",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels
