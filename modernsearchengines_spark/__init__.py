"""modernsearchengines_spark — a PySpark-native distributed inverted-index
build + BM25 top-k query engine with the query/data-processing capabilities of
the reference single-node engine (SelinaUecker/ModernSearchEngines).

Layout
------
functions/   pure-Python text core (tokenizer, Porter stemmer, HTML extractor,
             simhash) shared verbatim between the Spark Arrow UDFs and the
             in-repo oracle, plus JVM-side column-expression helpers.
operators/   indexer (tokenize → explode → salted agg → BM25), posting codec
             (delta+varbyte), query engine (broadcast term join → weight
             ladder → proximity → top-k), cascade-pruned top-k, dedup family,
             ANN similarity, checkpoint/resume.
sources/     deterministic fixture corpus generator (Common-Crawl-style docs
             table per BASELINE.json input_hint) and query TSV reader.
streaming/   incremental ingest demo (foreachBatch append to postings).

All relational logic is DataFrame/Catalyst; Python crosses the JVM boundary
only inside vectorized Arrow/pandas UDFs (tokenize, proximity, codec, WAND),
per BASELINE.json input_hint ("no per-row Python").
"""

__version__ = "0.1.0"
