"""Snippet extraction (SURVEY O-46/O-72): most-relevant sentence per
(query, doc).

The reference (/root/reference/retrieval.py:376-404) sentence-splits the
document with NLTK, fits a per-document TF-IDF over sentences + query, and
returns the argmax-cosine sentence.  Neither NLTK nor sklearn is in this
environment, so this module implements the same observable contract with a
regex sentence splitter and an explicit per-document TF-IDF cosine.

Dataflow: collected top-k hits → their texts by :func:`query.lookup`'s
``doc_id IN (…)`` filter → :func:`best_sentence` on the driver.  O(k) rows
leave the executors per search; on a real corpus the filter skips files
only if the docs table is clustered or sorted by doc_id.
"""

from __future__ import annotations

import math
import re
from collections import Counter

from pyspark.sql import DataFrame, Row

from .query import local_frame, lookup

_SENT_RE = re.compile(r"(?<=[.!?])\s+")
_WORD_RE = re.compile(r"[a-z0-9]+")


def split_sentences(text: str) -> list[str]:
    """Regex sentence splitter standing in for nltk.sent_tokenize."""
    parts = [s.strip() for s in _SENT_RE.split(text) if s.strip()]
    return parts or ([text.strip()] if text.strip() else [])


def best_sentence(query: str, text: str) -> str:
    """Argmax TF-IDF-cosine sentence (reference get_relevant_snippet
    semantics: single-sentence docs returned directly; ties → first)."""
    sentences = split_sentences(text)
    if not sentences:
        return ""
    if len(sentences) == 1:
        return sentences[0]
    docs = [_WORD_RE.findall(s.lower()) for s in sentences]
    q_tokens = _WORD_RE.findall(query.lower())
    n = len(sentences) + 1  # sentences + query, as the reference fits
    df: Counter[str] = Counter()
    for toks in docs + [q_tokens]:
        df.update(set(toks))

    def tfidf(toks: list[str]) -> dict[str, float]:
        tf = Counter(toks)
        return {
            t: c * (math.log((1 + n) / (1 + df[t])) + 1.0)
            for t, c in tf.items()
        }

    qv = tfidf(q_tokens)
    qn = math.sqrt(sum(v * v for v in qv.values())) or 1.0
    best_i, best_score = 0, -1.0
    for i, toks in enumerate(docs):
        sv = tfidf(toks)
        dot = sum(v * qv.get(t, 0.0) for t, v in sv.items())
        norm = math.sqrt(sum(v * v for v in sv.values())) or 1.0
        score = dot / (norm * qn)
        if score > best_score:
            best_i, best_score = i, score
    return sentences[best_i]


def snippet_pairs(
    hits: list[Row], docs: DataFrame, query_texts: dict[int, str]
) -> list[tuple[Row, str]]:
    """(hit, snippet) per hit, in order; a hit whose qnum has no query
    text or whose doc_id no row in ``docs`` (doc_id, text) is dropped."""
    texts = lookup(docs, [h["doc_id"] for h in hits], "text")
    return [
        (h, best_sentence(query_texts[h["qnum"]] or "", texts[h["doc_id"]] or ""))
        for h in hits
        if h["qnum"] in query_texts and h["doc_id"] in texts
    ]


def add_snippets(
    topk: DataFrame, docs: DataFrame, query_texts: DataFrame
) -> DataFrame:
    """Hydrate top-k results with snippets: collects ``topk`` (qnum, rank,
    doc_id, ...) and ``query_texts`` (qnum, text), reads ``docs`` (doc_id,
    text) by :func:`snippet_pairs`, and returns a local frame of ``topk``'s
    columns plus ``snippet``, whose collect runs no Spark job."""
    qtexts = dict(query_texts.select("qnum", "text").collect())
    rows = [(*h, s) for h, s in snippet_pairs(topk.collect(), docs, qtexts)]
    return local_frame(
        topk.sparkSession, rows, f"{topk.schema.toDDL()}, snippet string"
    )
