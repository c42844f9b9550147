"""The two workloads: `serve` (cached, read-only queries) and `refresh`
(appends beside reads on the uncached path).

Both drive the engine through its public functions only, one client in a
closed loop: the next op starts when the previous one has returned.  Every
timed op's output is checked (``checks.py``); a failed check is recorded
against the op and the run goes on.
"""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from modernsearchengines_spark.functions.hashing import xxhash64_str
from modernsearchengines_spark.operators import (
    expansion, indexer, proximity, query, snippets, wand,
)
from modernsearchengines_spark.sources import corpus_io
from modernsearchengines_spark.sources.docs import generate_docs, write_docs_parquet

from . import checks, inputs

TOPK_LIGHT = 10  # search / refresh queries
TOPK_BATCH = 100  # head-term batch and parity
TOPK_PAYLOAD = 10  # prox / plm reranking
SETUP_REPEATS = 3  # opens per set-up; the median is reported
HITS_SCHEMA = "qnum int, rank int, doc_id long, url string, score double"


@dataclass
class OpLog:
    """Timed ops of one run: kind, wall seconds, failure reason or None;
    ``uncovered`` holds each op's wall that no span covers."""
    ops: list[tuple[str, float, str | None]] = field(default_factory=list)
    uncovered: list[float] = field(default_factory=list)
    extra: dict[str, list[float]] = field(default_factory=dict)

    def add(self, kind: str, wall: float, error: str | None, uncovered: float):
        self.ops.append((kind, wall, error))
        self.uncovered.append(uncovered)

    @property
    def uncovered_s(self) -> float:
        return sum(self.uncovered)

    def rows(self) -> list[dict]:
        return [
            {"kind": k, "wall_s": w, "uncovered_s": u, "error": e}
            for (k, w, e), u in zip(self.ops, self.uncovered)
        ]

    def walls(self, kind: str) -> list[float]:
        return [w for k, w, _ in self.ops if k == kind]

    def note(self, key: str, value: float) -> None:
        self.extra.setdefault(key, []).append(value)

    @property
    def failures(self) -> list[tuple[int, str, str]]:
        return [(i, k, e) for i, (k, _, e) in enumerate(self.ops) if e]


class Inputs:
    """Everything a run needs before the engine starts: the seeded corpus
    as parquet, its oracle index and its vocabulary.  Pure Python, so it
    can be prepared while the Spark session starts."""

    def __init__(self, oracle, n_docs: int, seed: int, work: str):
        self.oracle, self.seed, self.work = oracle, seed, work
        self.rows = generate_docs(n_docs, seed)
        self.docs_path = os.path.join(work, "docs.parquet")
        write_docs_parquet(self.rows, self.docs_path)
        self.clean = oracle.clean_corpus(self.rows)
        self.oidx = oracle.build_index(self.clean)
        self.vocab = inputs.vocabulary(self.rows)


class Ctx:
    """Per-run state shared by the workloads."""

    def __init__(self, spark, tracer, inp: Inputs, seconds: float):
        self.spark, self.tracer, self.seconds = spark, tracer, seconds
        self.oracle, self.seed, self.work = inp.oracle, inp.seed, inp.work
        self.rows, self.docs_path = inp.rows, inp.docs_path
        self.clean, self.oidx, self.vocab = inp.clean, inp.oidx, inp.vocab
        self.index_dir = os.path.join(inp.work, "index")
        self.log = OpLog()
        self.layer_extra: dict[str, float] = {}

    # -- helpers ---------------------------------------------------------
    def timed(self, kind: str, fn):
        """Run one op and then check it.  ``fn`` does the engine work and
        returns a ``verify`` callable (untimed) that gives None or the
        failure reason.  The op's wall minus its spans and tracing overhead
        is the part no span covers."""
        tr = self.tracer
        tr.set_op(kind)
        n_rows, ov0 = len(tr.rows), tr.overhead_s
        t0 = time.perf_counter()
        wall = None
        try:
            verify = fn()
            wall = time.perf_counter() - t0
            error = verify()
        except Exception as exc:  # noqa: BLE001 - a failing op must not end the run
            error = f"{type(exc).__name__}: {exc}".splitlines()[0][:200]
        if wall is None:
            wall = time.perf_counter() - t0
        spans = sum(r["wall_s"] for r in tr.rows[n_rows:])
        tr.set_op(None)
        self.log.add(kind, wall, error, wall - spans - (tr.overhead_s - ov0))
        return wall

    def index_files(self) -> int:
        return sum(
            f.endswith(".parquet")
            for _, _, fs in os.walk(self.index_dir) for f in fs
        )

    def index_bytes(self) -> int:
        return sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(self.index_dir) for f in fs
            if not f.startswith((".", "_"))
        )

    def build(self) -> float:
        """Classic build of the corpus (clean → build → write); returns wall."""
        tr = self.tracer
        docs = self.spark.read.parquet(self.docs_path)
        t0 = time.perf_counter()
        with tr.span("indexer.build_index"):
            idx = indexer.build_index(
                self.spark, indexer.clean_docs(docs),
                work_dir=os.path.join(self.work, "build"),
            )
        with tr.span("indexer.write_index"):
            indexer.write_index(idx, self.index_dir)
        wall = time.perf_counter() - t0
        indexer.unpersist_index(idx)
        self.layer_extra["indexer.write_index.files"] = self.index_files()
        return wall

    def light_query(self, index, text: str):
        """spellcheck → compile → query_terms_df → top-10 with urls.
        Returns (compiled query, corrected text, hit rows)."""
        tr = self.tracer
        with tr.span("expansion.compile"):
            corrected = expansion.spellcheck(text)
            cq = expansion.compile_query(1, corrected)
        with tr.span("query.query_terms_df"):
            terms = query.query_terms_df(self.spark, [cq], index=index)
        with tr.span("wand.topk"):
            top = wand.bm25_topk_auto(
                index["postings"], index["blocks"], terms, k=TOPK_LIGHT
            )
            hits = (
                index["doc_stats"].select("doc_id", "url")
                .join(F.broadcast(top), "doc_id")
                .select("qnum", "rank", "doc_id", "url", "score")
                .orderBy("rank")
                .collect()
            )
        return cq, corrected, hits

    def batch_query(self, index, queries, span: str, k: int, **kw):
        tr = self.tracer
        with tr.span("expansion.compile"):
            cqs = [expansion.compile_query(q, t) for q, t in queries]
        with tr.span("query.query_terms_df"):
            terms = query.query_terms_df(self.spark, cqs, index=index)
        with tr.span(span):
            if span == "wand.plm_topk":
                res = wand.bm25_prox_topk_wand(
                    index["postings"], index["blocks"], terms, k=k,
                    scorer=proximity.plm_score_vb_udf,
                )
            else:
                res = wand.bm25_topk_auto(
                    index["postings"], index["blocks"], terms, k=k, **kw
                )
            rows = res.select("qnum", "rank", "doc_id", "score").collect()
        return cqs, terms, rows


def _by_qnum(rows) -> dict[int, list[tuple[int, float]]]:
    out: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r["qnum"], r["rank"])):
        out.setdefault(r["qnum"], []).append((r["doc_id"], r["score"]))
    return out


def _first_error(errors):
    return next((e for e in errors if e), None)


def _median_open(open_fn) -> tuple[float, object]:
    """Open the index SETUP_REPEATS times; (median wall, last open's state)."""
    walls = []
    for i in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        state = open_fn(last=i == SETUP_REPEATS - 1)
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls), state


# ---------------------------------------------------------------------------
# serve
# ---------------------------------------------------------------------------
def serve(ctx: Ctx) -> dict:
    spark, tr, oidx, oracle = ctx.spark, ctx.tracer, ctx.oidx, ctx.oracle
    build_s = ctx.build()
    docs = spark.read.parquet(ctx.docs_path)

    t0 = time.perf_counter()  # doc text for snippets, cached once
    doc_text = indexer.assign_doc_ids(docs).select("doc_id", "text").cache()
    doc_text.count()
    text_s = time.perf_counter() - t0

    def open_index(last: bool):
        with tr.span("indexer.read_index"):
            index = indexer.read_index(spark, ctx.index_dir, serve=True)
        if not last:
            index["postings"].unpersist()
        return index

    open_s, index = _median_open(open_index)
    ctx.layer_extra["indexer.read_index.cache_mb"] = sum(
        r.memSize() for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    ) / (1 << 20)
    texts = {xxhash64_str(r["url"]): r["text"] for r in ctx.rows}
    pruning = [0, 0]

    def search(text):
        def run():
            t0 = time.perf_counter()
            cq, corrected, hits = ctx.light_query(index, text)
            ctx.log.note("query_s", time.perf_counter() - t0)
            sq = " ".join(
                w for w in expansion.preprocess_query(corrected).split()
                if w != "tuebingen"
            ) or "tuebingen"
            with tr.span("snippets.add_snippets"):
                qdf = spark.createDataFrame([(1, sq)], "qnum int, text string")
                hdf = spark.createDataFrame(hits, HITS_SCHEMA)
                snips = (
                    snippets.add_snippets(hdf, doc_text, qdf)
                    .select("rank", "doc_id", "snippet").orderBy("rank").collect()
                )
            got = [(h["doc_id"], h["score"]) for h in hits]
            return lambda: _first_error([
                checks.compare_topk(got, checks.light_scores(oidx, cq), TOPK_LIGHT),
                checks.check_urls(hits, oidx),
                None if len(snips) == len(hits) else "snippet rows lost",
                checks.check_snippets(snips, sq, texts),
            ])
        return run

    def batch(op, span, k, expected_fn, **kw):
        def run():
            cqs, terms, rows = ctx.batch_query(index, op.queries, span, k, **kw)

            def verify():
                if span == "wand.prox_topk" and tr.enabled:
                    st = wand.pruning_stats(
                        index["postings"], index["blocks"], terms, k=k,
                        alpha=wand.PROX_ALPHA,
                    )
                    pruning[0] += st["scored_docs"]
                    pruning[1] += st["matched_docs"]
                got = _by_qnum(rows)
                return _first_error(
                    checks.compare_topk(got.get(cq.qnum, []), expected_fn(cq), k)
                    for cq in cqs
                )
            return verify
        return run

    def parity(op):
        def run():
            with tr.span("query.run_query_batch"):
                res = query.run_query_batch(spark, index, list(op.queries))
                rows = res.collect()
                query.release(res)
            got = _by_qnum(rows)
            return lambda: _first_error(
                checks.compare_topk(
                    got.get(q, []), checks.parity_scores(oracle, oidx, t),
                    TOPK_BATCH,
                )
                for q, t in op.queries
            )
        return run

    def make(op):
        if op.kind == "search":
            return search(op.queries[0][1])
        if op.kind == "batch":
            return batch(op, "wand.topk", TOPK_BATCH,
                         lambda cq: checks.light_scores(oidx, cq))
        if op.kind == "prox_batch":
            return batch(op, "wand.prox_topk", TOPK_PAYLOAD,
                         lambda cq: checks.payload_scores(
                             oidx, cq, TOPK_PAYLOAD, wand.PROX_ALPHA,
                             oracle.min_span_proximity),
                         payload=True)
        if op.kind == "plm_batch":
            return batch(op, "wand.plm_topk", TOPK_PAYLOAD,
                         lambda cq: checks.payload_scores(
                             oidx, cq, TOPK_PAYLOAD, wand.PROX_ALPHA,
                             proximity.plm_score))
        return parity(op)

    stream = inputs.serve_stream(ctx.seed, ctx.vocab)
    t_start, i = time.perf_counter(), 0
    # at least one op of each kind, however short the run
    while i < 2 or time.perf_counter() - t_start < ctx.seconds:
        ctx.timed(stream[i].kind, make(stream[i]))
        i += 1
    if tr.enabled:  # the payload and parity layers, once each
        for op in inputs.heavy_ops(ctx.seed, ctx.vocab):
            ctx.timed(op.kind, make(op))
    if pruning[1]:
        ctx.layer_extra["wand.prox_topk.scored_ratio"] = pruning[0] / pruning[1]

    n_docs = index["corpus_stats"].collect()[0]["n_docs"]
    return {
        "setup_s": build_s + text_s + open_s,
        "build_s": build_s,
        "op_kind": "search",
        "n_docs": n_docs,
        "index_bytes": ctx.index_bytes(),
    }


# ---------------------------------------------------------------------------
# refresh
# ---------------------------------------------------------------------------
APPEND_SHARE = 20  # each append batch is 1/20 of the corpus


def refresh(ctx: Ctx) -> dict:
    spark, tr, oracle = ctx.spark, ctx.tracer, ctx.oracle
    build_s = ctx.build()

    def open_index(last: bool):
        with tr.span("indexer.read_index"):
            index = indexer.read_index(spark, ctx.index_dir)
        return index, index["corpus_stats"].collect()[0]["n_docs"]

    open_s, (index, n_docs) = _median_open(open_index)
    current = {r["url"]: r for r in ctx.clean}  # the index's doc set
    n_new = max(1, len(ctx.rows) // APPEND_SHARE)
    state = {"files": 0, "last_batch": None, "doc_ids": set()}

    def append_round(round_no: int) -> list:
        """Append a fresh batch, re-append it (round 0), reopen the index;
        returns the query ops that follow."""
        nonlocal index, n_docs
        batch_rows, ops = inputs.refresh_round(
            ctx.seed, round_no, ctx.vocab, sorted(current), n_new
        )
        path = os.path.join(ctx.work, f"append-{round_no}.parquet")
        write_docs_parquet(batch_rows, path)
        survivors = [
            r for r in oracle.clean_corpus(batch_rows) if r["url"] not in current
        ]
        batch_df = spark.read.parquet(path)
        added = []

        def append():
            with tr.span("corpus_io.append_to_index"):
                added.append(corpus_io.append_to_index(spark, ctx.index_dir, batch_df))
            return lambda: None if added[0] == len(survivors) else (
                f"appended {added[0]} docs, expected {len(survivors)} new urls"
            )

        def reappend():
            with tr.span("corpus_io.append_to_index"):
                n = corpus_io.append_to_index(spark, ctx.index_dir, batch_df)
            return lambda: None if n == 0 else f"re-append added {n} docs"

        def reopen():
            nonlocal index, n_docs
            index, n = open_index(last=True)
            grew, n_docs = n - n_docs, n
            return lambda: None if grew == len(survivors) else (
                f"n_docs grew by {grew}, expected {len(survivors)}"
            )

        f0 = ctx.index_files()
        wall = ctx.timed("append", append)
        state["files"] += ctx.index_files() - f0
        if added:
            ctx.log.note("appended", added[0])
            ctx.log.note("append_s", wall)
        if round_no == 0:  # idempotence: the same batch again adds nothing
            ctx.timed("reappend", reappend)
        ctx.timed("reopen", reopen)
        for r in survivors:
            current[r["url"]] = r
        state["doc_ids"] = {xxhash64_str(u) for u in current}
        return ops

    def query_op(op):
        doc_ids = state["doc_ids"]
        if op.kind == "search":
            def run():
                t0 = time.perf_counter()
                _, _, hits = ctx.light_query(index, op.queries[0][1])
                ctx.log.note("query_s", time.perf_counter() - t0)
                return lambda: checks.check_well_formed(
                    [(h["doc_id"], h["score"]) for h in hits], TOPK_LIGHT, doc_ids
                )
            return run

        def run():
            cqs, _, rows = ctx.batch_query(index, op.queries, "wand.topk", TOPK_BATCH)
            got = _by_qnum(rows)
            state["last_batch"] = (cqs, got)
            return lambda: _first_error(
                checks.check_well_formed(got.get(cq.qnum, []), TOPK_BATCH, doc_ids)
                for cq in cqs
            )
        return run

    # A round is an append (and, in round 0, a re-append), a reopen and a
    # fixed set of queries; another round starts only if it is expected to
    # end within --seconds.
    t_start, round_no, round_wall = time.perf_counter(), 0, 0.0
    while round_no == 0 or (
        time.perf_counter() - t_start + round_wall <= ctx.seconds
    ):
        t_round = time.perf_counter()
        for op in append_round(round_no):
            ctx.timed(op.kind, query_op(op))
        round_wall = time.perf_counter() - t_round
        round_no += 1

    # Untimed: rebuild the index's current doc set from scratch and count
    # what the appends onto a df-pruned build got wrong.
    rebuilt = oracle.build_index(list(current.values()))
    engine_df = {
        r["term"]: r["df"] for r in index["terms"].select("term", "df").collect()
    }
    ctx.layer_extra["corpus_io.df_drift_terms"] = checks.df_drift(engine_df, rebuilt)
    mismatches = 0
    if state["last_batch"] is not None:
        cqs, got = state["last_batch"]
        mismatches = sum(
            checks.compare_topk(
                got.get(cq.qnum, []), checks.light_scores(rebuilt, cq), TOPK_BATCH
            ) is not None
            for cq in cqs
        )
    ctx.layer_extra["corpus_io.rank_mismatches"] = mismatches
    ctx.layer_extra["corpus_io.append_to_index.files"] = state["files"]
    return {
        "setup_s": build_s + open_s,
        "build_s": build_s,
        "op_kind": "append",
        "n_docs": n_docs,
        "index_bytes": ctx.index_bytes(),
    }


WORKLOADS = {"serve": serve, "refresh": refresh}
