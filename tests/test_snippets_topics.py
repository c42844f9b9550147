"""Optional modules: snippets (O-46/O-72) and LDA topics (O-44/O-45)."""

from __future__ import annotations

from pyspark.sql import functions as F

from modernsearchengines_spark.operators.snippets import (
    add_snippets,
    best_sentence,
    split_sentences,
)


def test_split_sentences():
    assert split_sentences("One. Two! Three?") == ["One.", "Two!", "Three?"]
    assert split_sentences("no terminal punctuation") == [
        "no terminal punctuation"
    ]
    assert split_sentences("") == []


def test_best_sentence_picks_query_overlap():
    text = (
        "The weather is mild today. The castle above the river hosts tours. "
        "Bakeries open early."
    )
    assert (
        best_sentence("castle river tours", text)
        == "The castle above the river hosts tours."
    )
    # single-sentence doc returned directly (reference branch)
    assert best_sentence("anything", "Only one sentence here") == (
        "Only one sentence here"
    )


def test_add_snippets_pipeline(spark):
    # doc 12 has no text row and qnum 2 no query text: both hits drop.
    topk = spark.createDataFrame(
        [(1, 1, 10), (1, 2, 11), (1, 3, 12), (2, 1, 10)],
        "qnum int, rank int, doc_id long",
    )
    docs = spark.createDataFrame(
        [
            (10, "Rainy day. Castle tours run daily. Shops close."),
            (11, "Bread is fresh. The market sells cheese and wine."),
        ],
        "doc_id long, text string",
    )
    queries = spark.createDataFrame(
        [(1, "castle tours")], "qnum int, text string"
    )
    result = add_snippets(topk, docs, queries)
    assert result.columns == topk.columns + ["snippet"]
    status = spark.sparkContext._jsc.sc().statusStore()
    jobs = status.jobsList(None).size()
    rows = result.collect()
    assert status.jobsList(None).size() == jobs  # a local frame
    assert sorted((r.qnum, r.doc_id) for r in rows) == [(1, 10), (1, 11)]
    texts = dict(docs.collect())
    for r in rows:
        assert r.snippet == best_sentence("castle tours", texts[r.doc_id])
    out = {r.doc_id: r.snippet for r in rows}
    assert out[10] == "Castle tours run daily."
    assert out[11] in (
        "Bread is fresh.",
        "The market sells cheese and wine.",
    )


def test_lda_topics_structure(spark, docs_df):
    from modernsearchengines_spark.operators import indexer, topics

    docs = (
        indexer.clean_docs(docs_df)
        .withColumn("doc_id", F.xxhash64("url"))
        .select("doc_id", "text")
        .limit(120)
    )
    bundle, assignments = topics.fit_topics(docs, k=5)
    rows = assignments.collect()
    assert len(rows) == docs.count()
    for r in rows[:10]:
        assert len(r.topics) == 3
        assert all(0 <= t < 5 for t in r.topics)
        assert abs(sum(r.weights) - 1.0) < 1e-6
    terms = topics.topic_terms(bundle, 4)
    assert len(terms) == 5 and all(len(t) <= 4 for t in terms)


def test_topics_model_save_load_roundtrip(spark, docs_df, tmp_path):
    """O-15: persisted CV/IDF/LDA reload to the identical topic model."""
    from modernsearchengines_spark.operators import indexer, topics

    docs = (
        indexer.clean_docs(docs_df)
        .withColumn("doc_id", F.xxhash64("url"))
        .select("doc_id", "text")
        .limit(80)
    )
    bundle, _ = topics.fit_topics(docs, k=4)
    path = str(tmp_path / "topic_models")
    topics.save_topics(bundle, path)
    reloaded = topics.load_topics(spark, path)
    assert reloaded["cv"].vocabulary == bundle["cv"].vocabulary
    assert topics.topic_terms(reloaded, 5) == topics.topic_terms(bundle, 5)
