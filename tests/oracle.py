"""In-repo oracle: pure-Python reference-semantics index + query pipeline.

Implements the *intended* semantics of the reference engine
(/root/reference/indexing.py + retrieval.py) over a list of fixture docs,
sharing the vendored tokenizer/stemmer/extractor with the Spark engine so
rank-identity is exact by construction (SURVEY.md §5.2).

Replicated quirks (SURVEY.md §2.11): Q1 (token-count doc length ÷ char-count
avg length), Q2/Q3 (avg and N include length-capped docs), Q4 (URL words
prepended), Q5 (positions = char offsets), Q6 (df>5 persisted index), Q8
(query-scoped min-max of fetched BM25), Q11 (all-equal normalization → 0.0),
Q13 (weight ladder + boost constants), Q14 (tuebingen expansion), Q15
(unique-first query tokens), Q16 resolved as (−score, doc_id) total order.
Q7/Q9 (broken SQLite position join) intentionally NOT reproduced — the
oracle keys positions correctly (documented decision, SURVEY.md Q7).
"""

from __future__ import annotations

import math
from collections import defaultdict
from dataclasses import dataclass, field

from modernsearchengines_spark.functions.simhash import simhash64
from modernsearchengines_spark.functions.tokenizer import tokenize, url_to_words
from modernsearchengines_spark.operators.expansion import (
    TUEBINGEN_TERMS,
    compile_query as _compile_query,
    preprocess_query,  # noqa: F401  (re-exported for tests)
    spellcheck,  # noqa: F401
)

K1 = 1.5
B = 0.75
ALPHA = 0.8
MAX_DOC_CHARS = 800_000
DF_PRUNE = 5
TOP_K = 100


def clean_corpus(rows: list[dict]) -> list[dict]:
    """Media-URL filter + English filter + exact simhash dedup
    (O-18/O-12/O-17/O-28, Q12; media exclusion per reference
    WebCrawler_basis.py:213-214, exact lowercase ``endswith``).

    Keep-first policy: first by (warc_ts, url) within each simhash group.
    """
    kept = [
        r for r in rows
        if not r["url"].endswith((".jpg", ".png", ".pdf"))
    ]
    english = [r for r in kept if (r["lang"] or "en").startswith("en")]
    best: dict[int, dict] = {}
    for r in english:
        h = simhash64(r["text"])
        cur = best.get(h)
        if cur is None or (r["warc_ts"], r["url"]) < (cur["warc_ts"], cur["url"]):
            best[h] = r
    return sorted(best.values(), key=lambda r: r["url"])


@dataclass
class OracleIndex:
    n_docs: int = 0
    avg_doc_len: float = 0.0  # CHAR average over full corpus count (Q1/Q2)
    doc_lengths: dict[int, int] = field(default_factory=dict)  # token counts
    # term -> doc_id -> (bm25, positions)
    postings: dict[str, dict[int, tuple[float, list[int]]]] = field(
        default_factory=dict
    )
    doc_urls: dict[int, str] = field(default_factory=dict)


def build_index(clean_rows: list[dict]) -> OracleIndex:
    """Index the cleaned corpus; doc_id = xxhash64(url) — identical to the
    engine's ids (functions/hashing.py)."""
    from modernsearchengines_spark.functions.hashing import xxhash64_str

    idx = OracleIndex()
    rows = sorted(clean_rows, key=lambda r: r["url"])
    idx.n_docs = len(rows)
    raw: dict[str, dict[int, list[int]]] = defaultdict(dict)
    char_sum = 0
    for row in rows:
        doc_id = xxhash64_str(row["url"])
        idx.doc_urls[doc_id] = row["url"]
        if len(row["text"]) > MAX_DOC_CHARS:  # Q2/Q3: still counted in N/avg
            continue
        aug = url_to_words(row["url"]) + " " + row["text"]
        char_sum += len(aug)
        tokens = tokenize(aug)
        idx.doc_lengths[doc_id] = len(tokens)
        for term, pos in tokens:
            raw[term].setdefault(doc_id, []).append(pos)
    idx.avg_doc_len = char_sum / idx.n_docs if idx.n_docs else 0.0

    for term, docs in raw.items():
        if len(docs) <= DF_PRUNE:  # Q6: queryable index is the pruned one
            continue
        df = len(docs)
        idf = math.log((idx.n_docs - df + 0.5) / (df + 0.5) + 1)
        entry: dict[int, tuple[float, list[int]]] = {}
        for doc_id, positions in docs.items():
            tf = len(positions)
            norm_len = idx.doc_lengths[doc_id] / idx.avg_doc_len  # Q1
            bm25 = idf * (tf * (K1 + 1)) / (tf + K1 * (1 - B + B * norm_len))
            entry[doc_id] = (bm25, positions)
        idx.postings[term] = entry
    return idx


def compile_query(text: str) -> tuple[list[str], list[str]]:
    """→ (query_terms ordered unique stems, original_query stems).

    Query compilation is deliberately the SAME code path as the engine
    (modernsearchengines_spark.operators.expansion — SURVEY O-78 'identical
    code path as oracle'); the oracle's independent reimplementation covers
    the index build and ranking math below.
    """
    cq = _compile_query(0, text)
    return list(cq.terms), list(cq.original_terms)


def min_span_proximity(lists: list[list[int]]) -> float:
    """Minimal-window proximity (reference retrieval.py:177-209 semantics):
    k-way heap scan; span/n_lists; 1/normalized_span; 0.0 for ≤1 list."""
    import heapq

    if len(lists) <= 1:
        return 0.0
    heap = [(positions[0], i, 0) for i, positions in enumerate(lists) if positions]
    if not heap:
        return 0.0
    heapq.heapify(heap)
    current_max = max(p[0] for p in heap)
    min_span = float("inf")
    while heap:
        cur_min, li, pi = heapq.heappop(heap)
        min_span = min(min_span, current_max - cur_min + 1)
        if pi + 1 < len(lists[li]):
            nxt = lists[li][pi + 1]
            heapq.heappush(heap, (nxt, li, pi + 1))
            current_max = max(current_max, nxt)
        else:
            break
    norm = min_span / len(lists)
    return 1.0 / norm if norm > 0 else 0.0


def _normalize(scores: dict[int, float]) -> dict[int, float]:
    if not scores:
        return {}
    lo, hi = min(scores.values()), max(scores.values())
    if hi == lo:  # Q11
        return {d: 0.0 for d in scores}
    return {d: (v - lo) / (hi - lo) for d, v in scores.items()}


@dataclass
class RankedDoc:
    doc_id: int
    url: str
    score: float
    bm25_sum: float
    match_count: float


def run_query(idx: OracleIndex, text: str, top_k: int = TOP_K) -> list[RankedDoc]:
    terms, original = compile_query(text)
    original_set = set(original)
    tueb_set = set(TUEBINGEN_TERMS)

    # Fetch + Q8 query-scoped min-max over all fetched bm25 values.
    fetched: list[tuple[str, int, float, list[int]]] = []
    values: list[float] = []
    for term in terms:
        for doc_id, (bm25, positions) in idx.postings.get(term, {}).items():
            fetched.append((term, doc_id, bm25, positions))
            values.append(bm25)
    if values:
        lo, hi = min(values), max(values)
        if hi > lo:
            fetched = [
                (t, d, (b - lo) / (hi - lo), p) for t, d, b, p in fetched
            ]

    # Q13 weight ladder.
    s: dict[int, float] = defaultdict(float)
    m: dict[int, float] = defaultdict(float)
    prox: dict[int, list[list[int]]] = defaultdict(list)
    tueb_docs: set[int] = set()
    for term, doc_id, bm25, positions in fetched:
        is_tueb = term in tueb_set
        is_orig = term in original_set
        if is_tueb:
            tueb_docs.add(doc_id)
        if is_orig:
            prox[doc_id].append(positions)
            if is_tueb:
                s[doc_id] += 0.5 * bm25
                m[doc_id] += 0.2
            else:
                s[doc_id] += 6.0 * bm25
                m[doc_id] += 1.0
        else:
            if is_tueb:
                s[doc_id] += 0.5 * bm25
            else:
                s[doc_id] += 4.0 * bm25
                m[doc_id] += 0.5
    for doc_id in tueb_docs:
        s[doc_id] += 100.0

    combined = {d: s[d] * math.log1p(m[d]) for d in s}
    n_comb = _normalize(combined)
    proximity = {d: min_span_proximity(prox.get(d, [])) for d in s}
    n_prox = _normalize(proximity)
    final = {d: ALPHA * n_comb[d] + (1 - ALPHA) * n_prox[d] for d in s}

    ranked = sorted(final.items(), key=lambda kv: (-kv[1], kv[0]))[:top_k]  # Q16
    return [
        RankedDoc(d, idx.doc_urls[d], score, s[d], m[d]) for d, score in ranked
    ]
