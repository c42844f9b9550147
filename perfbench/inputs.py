"""Seeded benchmark inputs: the corpus, the append batches and the op stream.

Everything here is pure Python and depends only on the seed, so the same
seed always yields the same documents and the same sequence of operations.
The engine sees only the generated documents and query texts.
"""

from __future__ import annotations

import random
import re
from collections import Counter
from dataclasses import dataclass

from modernsearchengines_spark.sources.docs import REFERENCE_QUERIES, generate_docs

_WORD = re.compile(r"[a-zäöüß]{3,}")

BATCH_QUERIES = 16  # queries per `batch` op (the bench.py batch shape)
BATCH_TERMS = 3
HEAD_TERMS = 400  # "head" = the most frequent surface words
PAYLOAD_QUERIES = 4  # queries per prox/plm op
SERVE_OPS = 400  # longer than any serve loop gets through


@dataclass(frozen=True)
class Op:
    kind: str  # search | batch | prox_batch | plm_batch | parity
    queries: tuple[tuple[int, str], ...]


def vocabulary(rows: list[dict]) -> list[str]:
    """Surface words of the corpus, most frequent (by doc count) first."""
    df: Counter[str] = Counter()
    for r in rows:
        df.update(set(_WORD.findall(r["text"].lower())))
    return [w for w, _ in sorted(df.items(), key=lambda kv: (-kv[1], kv[0]))]


def _zipf_tail_word(rng: random.Random, vocab: list[str]) -> str:
    """Zipf draw (rank ∝ 1/r) that skips the most frequent words, so
    searches are mostly mid/tail."""
    lo = min(len(vocab) - 1, HEAD_TERMS // 8)
    span = len(vocab) - lo
    r = int(span ** rng.random()) - 1  # log-uniform rank within the tail
    return vocab[lo + min(r, span - 1)]


def search_query(rng: random.Random, vocab: list[str]) -> str:
    return " ".join(_zipf_tail_word(rng, vocab) for _ in range(rng.randint(1, 4)))


def head_batch(rng: random.Random, vocab: list[str], n: int) -> tuple:
    """``n`` queries of BATCH_TERMS distinct head words each."""
    head = vocab[:HEAD_TERMS]
    return tuple((i + 1, " ".join(rng.sample(head, BATCH_TERMS))) for i in range(n))


def serve_stream(seed: int, vocab: list[str]) -> list[Op]:
    """The timed serve loop: `search` and `batch` ops, alternating."""
    rng = random.Random(seed * 7919 + 1)
    return [
        Op("search", ((1, search_query(rng, vocab)),)) if i % 2 == 0
        else Op("batch", head_batch(rng, vocab, BATCH_QUERIES))
        for i in range(SERVE_OPS)
    ]


def heavy_ops(seed: int, vocab: list[str]) -> list[Op]:
    """One `prox_batch`, one `plm_batch` and the reference `parity` batch."""
    rng = random.Random(seed * 7919 + 2)
    return [
        Op("prox_batch", head_batch(rng, vocab, PAYLOAD_QUERIES)),
        Op("plm_batch", head_batch(rng, vocab, PAYLOAD_QUERIES)),
        Op("parity", tuple(REFERENCE_QUERIES)),
    ]


def refresh_round(seed: int, round_no: int, vocab: list[str],
                  existing_urls: list[str], n_new: int) -> tuple[list[dict], list[Op]]:
    """One refresh round: an append batch of ``n_new`` generated docs, a
    tenth of which reuse urls already in the index, then the eight queries
    that follow it (three light top-10 queries and a head-term batch,
    twice)."""
    rng = random.Random(seed * 104729 + round_no)
    batch = generate_docs(n_new, seed * 1000 + round_no + 1)
    for row in rng.sample(batch[:n_new], max(1, n_new // 10)):
        row["url"] = rng.choice(existing_urls)
    # generate_docs appends fixed-url extras (the oversized page, mirror
    # copies); keep the batch's urls distinct so the expected count is exact
    seen, uniq = set(), []
    for row in batch:
        if row["url"] not in seen:
            seen.add(row["url"])
            uniq.append(row)
    ops = [
        Op("batch", head_batch(rng, vocab, BATCH_QUERIES))
        if i % 4 == 3 else Op("search", ((1, search_query(rng, vocab)),))
        for i in range(8)
    ]
    return uniq, ops
