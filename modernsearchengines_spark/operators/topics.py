"""Topic modeling (SURVEY O-44/O-45): TF-IDF + LDA with top-3 topic labels.

The reference (/root/reference/topic.py) fits sklearn
``TfidfVectorizer(max_df=0.6, min_df=3, max_features=1000)`` and
``LatentDirichletAllocation(n_components=11, random_state=42)``, then
assigns each page its top-3 topic descriptors.  The Spark-native mapping is
``pyspark.ml``: CountVectorizer(maxDF, minDF, vocabSize) → IDF → LDA(k=11,
seed=42) → per-doc ``topicDistribution`` → top-3 indices.

LDA training is not bit-reproducible across implementations, so tests assert
structural properties (11 topics, valid distribution, 3 labels per doc), not
fixed assignments — mirroring SURVEY's treatment of model-dependent stages
(R3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

K_TOPICS = 11
SEED = 42
VOCAB_SIZE = 1000
MAX_DF = 0.6
MIN_DF = 3.0


def fit_topics(docs: DataFrame, k: int = K_TOPICS):
    """Fit CountVectorizer→IDF→LDA over ``docs``' (doc_id, text); returns
    (model_bundle, assignments).

    assignments: (doc_id, topics array<int> — top-3 topic indices, weights
    array<double>).
    """
    from pyspark.ml.clustering import LDA
    from pyspark.ml.feature import IDF, CountVectorizer, Tokenizer

    tok = Tokenizer(inputCol="text", outputCol="_words")
    words = tok.transform(docs)
    cv = CountVectorizer(
        inputCol="_words",
        outputCol="_tf",
        vocabSize=VOCAB_SIZE,
        maxDF=MAX_DF,
        minDF=MIN_DF,
    ).fit(words)
    tf = cv.transform(words)
    idf = IDF(inputCol="_tf", outputCol="_tfidf").fit(tf)
    tfidf = idf.transform(tf)
    lda = LDA(k=k, seed=SEED, featuresCol="_tfidf").fit(tfidf)
    dist = lda.transform(tfidf)

    # top-3 topics per doc: argsort of the topicDistribution vector (O-50).
    from pyspark.ml.functions import vector_to_array

    assignments = (
        dist.withColumn("_d", vector_to_array("topicDistribution"))
        .withColumn(
            "_idx",
            F.expr(
                "slice(transform(array_sort(arrays_zip(transform(_d, x -> -x),"
                " sequence(0, size(_d) - 1))), s -> s['1']), 1, 3)"
            ),
        )
        .select(
            "doc_id",
            F.col("_idx").cast("array<int>").alias("topics"),
            F.col("_d").alias("weights"),
        )
    )
    return {"cv": cv, "idf": idf, "lda": lda}, assignments


def save_topics(bundle, path: str) -> None:
    """O-15 model artifact IO: persist the fitted CV/IDF/LDA models via the
    pyspark.ml native writers (the reference pickles its sklearn models,
    topic.py:36-47; ML writer directories are the Spark-native equivalent —
    they serialize to distributed parquet, not a driver-memory pickle)."""
    bundle["cv"].write().overwrite().save(f"{path}/cv")
    bundle["idf"].write().overwrite().save(f"{path}/idf")
    bundle["lda"].write().overwrite().save(f"{path}/lda")


def load_topics(spark, path: str) -> dict:
    """Inverse of :func:`save_topics`; returns the same bundle shape."""
    from pyspark.ml.clustering import DistributedLDAModel, LocalLDAModel
    from pyspark.ml.feature import CountVectorizerModel, IDFModel

    try:
        lda = LocalLDAModel.load(f"{path}/lda")
    except Exception:  # EM optimizer persists a distributed model
        lda = DistributedLDAModel.load(f"{path}/lda")
    return {
        "cv": CountVectorizerModel.load(f"{path}/cv"),
        "idf": IDFModel.load(f"{path}/idf"),
        "lda": lda,
    }


def topic_terms(bundle, n_terms: int = 5) -> list[list[str]]:
    """Human-readable descriptors: top terms per topic (reference
    print_topics analogue, topic.py:87-106)."""
    vocab = bundle["cv"].vocabulary
    rows = bundle["lda"].describeTopics(n_terms).collect()
    return [
        [vocab[i] for i in row.termIndices if i < len(vocab)] for row in rows
    ]
