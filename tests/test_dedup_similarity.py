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


def test_streaming_ingest_foreachbatch(spark, docs_df, tmp_path, monkeypatch):
    """Two streamed micro-batches append, through append_to_index, onto an
    index built from the first 3/5 of a cleaned corpus, and the result
    equals build_index over the union (postings, term_df, terms,
    corpus_stats, reference-query rankings); replaying the stream under a
    fresh checkpoint appends nothing."""
    import glob
    import shutil

    from modernsearchengines_spark.operators import query
    from modernsearchengines_spark.sources import corpus_io
    from modernsearchengines_spark.sources.docs import REFERENCE_QUERIES
    from modernsearchengines_spark.streaming.ingest import start_ingest

    # Split AFTER full-corpus cleaning, as test_corpus_io does, so
    # cross-batch near-dups cannot diverge the two paths.
    clean = indexer.clean_docs(docs_df).localCheckpoint()
    part = F.pmod(F.xxhash64("url"), F.lit(5))
    out = str(tmp_path / "idx")
    idx = indexer.build_index(spark, clean.filter(part < 3))
    indexer.write_index(idx, out)
    indexer.unpersist_index(idx)

    # One parquet file per micro-batch (maxFilesPerTrigger=1).
    in_dir = tmp_path / "stream_in"
    in_dir.mkdir()
    sizes = []
    for p in (3, 4):
        batch = clean.filter(part == p).select(*docs_df.columns)
        sizes.append(batch.count())
        batch.coalesce(1).write.parquet(str(tmp_path / f"b{p}"))
        (part_file,) = glob.glob(str(tmp_path / f"b{p}" / "part-*.parquet"))
        shutil.move(part_file, in_dir / f"batch-{p}.parquet")

    appended = []
    append = corpus_io.append_to_index

    def counted(*args):
        appended.append(append(*args))
        return appended[-1]

    monkeypatch.setattr(corpus_io, "append_to_index", counted)

    def stream(ckpt):
        q = start_ingest(
            spark.readStream.schema(docs_df.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(in_dir)),
            out,
            str(tmp_path / ckpt),
        )
        q.awaitTermination(120)
        assert q.exception() is None

    stream("ckpt")
    assert len(appended) == 2 and all(appended)
    assert sorted(appended) == sorted(sizes)
    stream("ckpt_replay")
    assert appended[2:] == [0, 0]

    streamed = indexer.read_index(spark, out)
    built = indexer.build_index(spark, clean)

    def postings(idx):
        rows = idx["postings"].select("term", "doc_id", "tf", "dl").collect()
        return sorted(tuple(r) for r in rows)

    def table(idx, name, *cols):
        return {r[0]: tuple(r[1:]) for r in idx[name].select(*cols).collect()}

    assert postings(streamed) == postings(built)
    assert table(streamed, "term_df", "term", "df") == table(
        built, "term_df", "term", "df"
    )
    t_streamed = table(streamed, "terms", "term", "df", "idf", "term_bucket")
    t_built = table(built, "terms", "term", "df", "idf", "term_bucket")
    assert t_streamed.keys() == t_built.keys()
    for term, (df, idf, bucket) in t_streamed.items():
        assert (df, bucket) == (t_built[term][0], t_built[term][2])
        assert idf == pytest.approx(t_built[term][1], rel=1e-12)
    s_streamed = streamed["corpus_stats"].collect()[0]
    s_built = built["corpus_stats"].collect()[0]
    assert s_streamed.n_docs == s_built.n_docs
    assert s_streamed.avg_doc_len == pytest.approx(s_built.avg_doc_len, rel=1e-12)

    def ranked(idx):
        rows = query.run_query_batch(spark, idx, REFERENCE_QUERIES, top_k=20)
        return sorted(
            (r.qnum, r.rank, r.doc_id, r.url, r.score) for r in rows.collect()
        )

    r_streamed, r_built = ranked(streamed), ranked(built)
    assert [r[:4] for r in r_streamed] == [r[:4] for r in r_built]
    for a, b in zip(r_streamed, r_built):
        assert a[4] == pytest.approx(b[4], rel=1e-9)
    indexer.unpersist_index(built)
