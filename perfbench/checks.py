"""Expected results for every timed op, from the in-repo oracle
(``tests/oracle.py``, an independent pure-Python index and ranker).

Each ``check_*`` returns None when the engine's output is right and a short
reason when it is not.  Top-k lists are compared tie-tolerantly: the doc at
each rank must carry the expected score of that rank (within ``TOL``
relative), so two docs whose scores differ by float summation order only
may swap places, but no doc can be missing, extra or mis-scored.
"""

from __future__ import annotations

import heapq
import importlib.util
import os
import sys

from modernsearchengines_spark.operators import snippets
from modernsearchengines_spark.operators.expansion import CompiledQuery

TOL = 1e-9


def load_oracle(root: str):
    path = os.path.join(root, "tests", "oracle.py")
    spec = importlib.util.spec_from_file_location("perfbench_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = mod  # dataclasses resolve their module by name
    spec.loader.exec_module(mod)
    return mod


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= TOL * max(1.0, abs(a), abs(b))


def compare_topk(got: list[tuple[int, float]], expected: dict[int, float],
                 k: int) -> str | None:
    """``got``: engine (doc_id, score) in rank order; ``expected``: exact
    scores of at least every doc that can reach the top k."""
    want = sorted(expected.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    if len(got) != len(want):
        return f"{len(got)} hits, expected {len(want)}"
    if len({d for d, _ in got}) != len(got):
        return "duplicate doc ids"
    for i, ((doc, score), (_, want_score)) in enumerate(zip(got, want)):
        if doc not in expected:
            return f"rank {i + 1}: doc {doc} does not match the query"
        if not _close(expected[doc], want_score):
            return f"rank {i + 1}: doc {doc} scores {expected[doc]!r}, rank needs {want_score!r}"
        if not _close(score, expected[doc]):
            return f"rank {i + 1}: doc {doc} score {score!r} != {expected[doc]!r}"
    return None


def light_scores(oidx, cq: CompiledQuery) -> dict[int, float]:
    """Plain BM25: Σ over the query's indexed terms."""
    out: dict[int, float] = {}
    for term in cq.terms:
        for doc, (bm25, _) in oidx.postings.get(term, {}).items():
            out[doc] = out.get(doc, 0.0) + bm25
    return out


def payload_scores(oidx, cq: CompiledQuery, k: int, alpha: float,
                   scorer) -> dict[int, float]:
    """Exact Σ bm25 + α·scorer(positions) for every doc that can reach the
    top k.  ``scorer`` is bounded by 1, so a doc whose Σ bm25 + α (α only
    when it matches two or more terms) is below the k-th exact score found
    so far cannot enter the top k and is not scored."""
    bsum: dict[int, float] = {}
    lists: dict[int, list[list[int]]] = {}
    for term in cq.terms:
        for doc, (bm25, pos) in oidx.postings.get(term, {}).items():
            bsum[doc] = bsum.get(doc, 0.0) + bm25
            lists.setdefault(doc, []).append(pos)

    def ub(doc):
        return bsum[doc] + (alpha if len(lists[doc]) >= 2 else 0.0)

    exact: dict[int, float] = {}
    best: list[float] = []  # min-heap of the k best exact scores
    for doc in sorted(bsum, key=lambda d: (-ub(d), d)):
        if len(best) == k and ub(doc) < best[0] * (1 - TOL):
            break
        exact[doc] = score = bsum[doc] + alpha * scorer(lists[doc])
        if len(best) < k:
            heapq.heappush(best, score)
        else:
            heapq.heappushpop(best, score)
    return exact


def parity_scores(oracle, oidx, text: str) -> dict[int, float]:
    return {r.doc_id: r.score for r in oracle.run_query(oidx, text, top_k=1 << 30)}


def check_urls(rows, oidx) -> str | None:
    for r in rows:
        if oidx.doc_urls.get(r["doc_id"]) != r["url"]:
            return f"doc {r['doc_id']} hydrated with url {r['url']!r}"
    return None


def check_snippets(rows, query: str, texts: dict[int, str]) -> str | None:
    for r in rows:
        want = snippets.best_sentence(query, texts[r["doc_id"]])
        if r["snippet"] != want:
            return f"doc {r['doc_id']}: snippet differs"
    return None


def check_well_formed(got: list[tuple[int, float]], k: int,
                      doc_ids: set[int]) -> str | None:
    """For results with no oracle twin: at most k distinct known docs,
    scores non-increasing."""
    if len(got) > k:
        return f"{len(got)} hits for k={k}"
    if len({d for d, _ in got}) != len(got):
        return "duplicate doc ids"
    if any(d not in doc_ids for d, _ in got):
        return "unknown doc id"
    if any(a[1] < b[1] for a, b in zip(got, got[1:])):
        return "scores not in rank order"
    return None


def df_drift(engine_df: dict[str, int], oidx) -> int:
    """Terms whose queryable df differs from a from-scratch build."""
    truth = {t: len(p) for t, p in oidx.postings.items()}
    return sum(engine_df.get(t) != truth.get(t) for t in engine_df.keys() | truth.keys())
