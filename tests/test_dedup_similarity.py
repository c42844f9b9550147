"""Dedup family + ANN similarity + streaming ingest tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from modernsearchengines_spark.operators import dedup, indexer, similarity


@pytest.fixture(scope="module")
def docs(spark, docs_df):
    return docs_df


def test_simhash_dedup_removes_exact_dupes(spark, docs, corpus_rows):
    # Fixture appends 5 exact-duplicate pages under mirror urls.
    en = docs.filter(F.col("lang").startswith("en"))
    kept = dedup.simhash_dedup(en, "text", ["warc_ts", "url"])
    assert kept.count() < en.count()
    # Keep-first policy: no mirror copy survives when its source is present.
    kept_urls = {r.url for r in kept.select("url").collect()}
    mirrors = [u for u in kept_urls if u.startswith("https://mirror.example/")]
    assert mirrors == []


def test_exact_dedup_keeps_first(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b")], "id long, text string"
    )
    kept = dedup.exact_dedup(df, ["text"], ["id"])
    assert sorted(r.id for r in kept.collect()) == [1, 3]


def test_minhash_lsh_finds_near_duplicates(spark):
    base = "the castle by the river hosts a long summer festival with music"
    near = base + " tonight"
    other = "completely unrelated words about trains planes and markets"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, other)], "doc_id long, text string"
    )
    toks = dedup.tokens_df(df, "doc_id", "text")
    sigs = dedup.minhash_signatures(toks, "doc_id")
    pairs = dedup.lsh_candidate_pairs(sigs, "doc_id")
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 2) in got
    jac = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.jaccard_pairs(toks, pairs, "doc_id").collect()
    }
    assert jac[(1, 2)] > 0.8


def test_ann_lsh_recall_vs_brute_force(spark):
    import random

    rng = random.Random(3)
    dim = 16
    rows = [
        (i, [rng.gauss(0, 1) for _ in range(dim)]) for i in range(300)
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = (
        vecs.filter(F.col("vec_id") < 5)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
    )
    exact = similarity.brute_force_topk(vecs, queries, k=5)
    approx = similarity.lsh_topk(vecs, queries, dim=dim, k=5, n_planes=4)
    exact_ids = {(r.query_id, r.vec_id) for r in exact.collect()}
    approx_ids = {(r.query_id, r.vec_id) for r in approx.collect()}
    # The query vector itself always shares its own bucket (cos=1 rank 1).
    for q in range(5):
        assert (q, q) in approx_ids
    recall = len(exact_ids & approx_ids) / len(exact_ids)
    assert recall >= 0.3  # approximate, bucketed — sanity floor


def test_simhash_near_dup_block_schemes_agree(spark, docs):
    """The n_blocks=6 (Manku-style, C(6,3)=20 tables × 32-bit keys) scheme
    must return EXACTLY the pairs of the n_blocks=4 original — both are
    exact-recall constructions; only candidate volume differs."""
    docs = docs.withColumn("doc_id", F.xxhash64("url"))
    base = dedup.simhash_near_dup_pairs(
        docs, "text", "doc_id", max_hamming=3, n_blocks=4
    )
    wide = dedup.simhash_near_dup_pairs(
        docs, "text", "doc_id", max_hamming=3, n_blocks=6
    )
    a = {(r.id_a, r.id_b, r.hamming) for r in base.collect()}
    b = {(r.id_a, r.id_b, r.hamming) for r in wide.collect()}
    assert a == b


def test_simhash_candidate_volume_shrinks_with_wider_keys(spark, docs):
    """The 100 TB claim: wider table keys (n_blocks 4→6: 16→~32 bits) cut
    FALSE candidates while keeping every true pair.  On the fixture the
    distinct candidate set must not grow, and both candidate sets must
    cover the verified pairs."""
    docs = docs.withColumn("doc_id", F.xxhash64("url"))
    hashed = docs.select(
        F.col("doc_id"), dedup.simhash_udf("text").alias("_sh")
    )
    cand4 = (
        dedup.simhash_candidate_pairs(hashed, "doc_id", 3, n_blocks=4)
        .select("id_a", "id_b").distinct()
    )
    cand6 = (
        dedup.simhash_candidate_pairs(hashed, "doc_id", 3, n_blocks=6)
        .select("id_a", "id_b").distinct()
    )
    s4 = {(r.id_a, r.id_b) for r in cand4.collect()}
    s6 = {(r.id_a, r.id_b) for r in cand6.collect()}
    true_pairs = {
        (r.id_a, r.id_b)
        for r in dedup.simhash_near_dup_pairs(
            docs, "text", "doc_id", max_hamming=3, n_blocks=4
        ).collect()
    }
    assert true_pairs <= s4 and true_pairs <= s6
    assert len(s6) <= len(s4)


def test_simhash_blocks_reject_bad_params():
    with pytest.raises(ValueError):
        dedup._simhash_block_tables(3, 3)


def test_cosine_near_dup_multi_table_recall(spark):
    """Multi-table sign-LSH: recall grows with table count and reaches
    ~1 − (1−p)^t on planted near-dup pairs, with p = (1−θ/π)^n_planes."""
    import math
    import random

    rng = random.Random(5)
    dim = 16
    rows = []
    for i in range(60):
        v = [rng.gauss(0, 1) for _ in range(dim)]
        rows.append((2 * i, v))
        rows.append((2 * i + 1, [x + rng.gauss(0, 0.02) for x in v]))
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def _cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return dot / (na * nb)

    truth = {
        (ra[0], rb[0])
        for ia, ra in enumerate(rows)
        for rb in rows[ia + 1 :]
        if ra[0] < rb[0] and _cos(ra[1], rb[1]) >= 0.99
    }
    assert truth  # planted pairs survive at the 0.99 threshold

    def recall(n_tables: int) -> float:
        got = {
            (r.id_a, r.id_b)
            for r in similarity.cosine_near_dup_pairs(
                vecs, 0.99, dim=dim, n_planes=8, n_tables=n_tables
            ).collect()
        }
        assert got <= truth  # exact cos >= threshold verification
        return len(got & truth) / len(truth)

    r1, r6 = recall(1), recall(6)
    assert r6 >= r1
    assert r6 >= 0.95


def test_cosine_near_dup_pairs(spark):
    vecs = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.999, 0.001, 0.0, 0.0]),
            (3, [0.0, 1.0, 0.0, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    pairs = similarity.cosine_near_dup_pairs(vecs, 0.99, dim=4, n_planes=3)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 2) in got and (1, 3) not in got


def test_ngram_jaccard_exact_pairs(spark):
    """Inverted-index n-gram Jaccard: hand-checkable shingle sets."""
    # doc 1: shingles {a b c, b c d}; doc 2 identical; doc 3 disjoint;
    # doc 4: fewer than n tokens -> single joined shingle
    df = spark.createDataFrame(
        [
            (1, "a b c d"),
            (2, "a b c d"),
            (3, "x y z w"),
            (4, "a b"),
        ],
        "doc_id long, text string",
    )
    pairs = dedup.ngram_jaccard_pairs(df, "text", "doc_id", n=3, threshold=0.0)
    got = {(r.id_a, r.id_b): r.jaccard for r in pairs.collect()}
    assert got[(1, 2)] == 1.0
    assert (1, 3) not in got  # zero shared shingles never surface
    assert (1, 4) not in got  # "a b" shingle ∉ doc 1's 3-gram set
    # threshold filters
    kept = dedup.ngram_jaccard_pairs(df, "text", "doc_id", n=3, threshold=0.5)
    assert {(r.id_a, r.id_b) for r in kept.collect()} == {(1, 2)}


def test_ngram_jaccard_df_cap_drops_hot_shingles(spark):
    """The web-scale guard: a boilerplate shingle shared by every doc is
    pruned by shingle_df_cap, removing pairs whose only link it was."""
    boiler = "all rights reserved"
    df = spark.createDataFrame(
        [(i, f"unique{i} words{i} here{i} " + boiler) for i in range(5)],
        "doc_id long, text string",
    )
    full = dedup.ngram_jaccard_pairs(df, "text", "doc_id", n=3, threshold=0.0)
    capped = dedup.ngram_jaccard_pairs(
        df, "text", "doc_id", n=3, threshold=0.0, shingle_df_cap=3
    )
    assert full.count() == 10  # every pair shares the boilerplate shingle
    assert capped.count() == 0  # hot shingle pruned -> no candidates


def test_cosine_pairs_exact_is_lsh_superset(spark):
    """cosine_pairs_exact is the declared oracle for the LSH scale path:
    LSH results ⊆ exact, and multi-table recall approaches 1 on planted
    near-dups."""
    import random

    rng = random.Random(11)
    dim = 16
    rows = []
    for i in range(40):
        v = [rng.gauss(0, 1) for _ in range(dim)]
        rows.append((2 * i, v))
        rows.append((2 * i + 1, [x + rng.gauss(0, 0.02) for x in v]))
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = {
        (r.id_a, r.id_b)
        for r in similarity.cosine_pairs_exact(vecs, 0.99).collect()
    }
    lsh = {
        (r.id_a, r.id_b)
        for r in similarity.cosine_near_dup_pairs(
            vecs, 0.99, dim=dim, n_planes=8, n_tables=6
        ).collect()
    }
    assert lsh <= exact
    assert exact and len(lsh & exact) / len(exact) >= 0.9


def test_ivf_topk_recall_vs_brute_force(spark):
    """IVF coarse-quantizer ANN: self-hit always survives (its own cell is
    its top probe), recall grows with nprobe, and nprobe=k degenerates to
    exhaustive (every cell probed ⇒ identical to brute force)."""
    import random

    rng = random.Random(17)
    dim = 16
    rows = [(i, [rng.gauss(0, 1) for _ in range(dim)]) for i in range(400)]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = (
        vecs.filter(F.col("vec_id") < 5)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
    )
    n_cells = 8
    cents = similarity.train_ivf_centroids(vecs, k=n_cells)
    exact = {
        (r.query_id, r.vec_id)
        for r in similarity.brute_force_topk(vecs, queries, k=5).collect()
    }
    got2 = {
        (r.query_id, r.vec_id)
        for r in similarity.ivf_topk(
            vecs, queries, cents, k=5, nprobe=2
        ).collect()
    }
    got_all = {
        (r.query_id, r.vec_id)
        for r in similarity.ivf_topk(
            vecs, queries, cents, k=5, nprobe=n_cells
        ).collect()
    }
    for q in range(5):
        assert (q, q) in got2  # self-hit: own cell is the top probe
    assert got_all == exact  # all cells probed ⇒ exhaustive
    assert len(got2 & exact) / len(exact) >= 0.3


def test_streaming_ingest_foreachbatch(spark, docs_parquet, tmp_path):
    """Streamed micro-batches land as enriched segments that, through the
    shared indexer.score_and_layout, index exactly like build_index on the
    same docs."""
    import shutil

    from modernsearchengines_spark.operators import indexer
    from modernsearchengines_spark.streaming.ingest import start_ingest

    schema = spark.read.parquet(docs_parquet).schema
    in_dir = tmp_path / "stream_in"
    in_dir.mkdir()
    shutil.copy(docs_parquet, in_dir / "part-0.parquet")
    stream = spark.readStream.schema(schema).parquet(str(in_dir))
    q = start_ingest(
        stream, str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    streamed = indexer.score_and_layout(
        spark.read.parquet(str(tmp_path / "out" / "enriched"))
    )
    built = indexer.build_index(
        spark, indexer.clean_docs(spark.read.parquet(docs_parquet))
    )

    def postings(idx):
        rows = idx["postings"].select("term", "doc_id", "tf", "dl").collect()
        return sorted(tuple(r) for r in rows)

    def terms(idx):
        return {r.term: (r.df, r.idf) for r in idx["terms"].collect()}

    assert postings(streamed)
    assert postings(streamed) == postings(built)
    assert terms(streamed) == terms(built)
    indexer.unpersist_index(built)
