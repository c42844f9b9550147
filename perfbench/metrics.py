"""The metric catalogue (names, units, direction) and how each is computed
from one run.  ``BENCHMARK.json`` declares the same names; the smoke test
keeps the two in step."""

from __future__ import annotations

import statistics

from .spans import DRIVER_ONLY, KINDS, SPANS
from .inputs import BATCH_QUERIES, PAYLOAD_QUERIES

# name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "op_p50_ms": ("ms", "lower"),
    "query_p50_ms": ("ms", "lower"),
    "batch_qps": ("queries/s", "higher"),
    "index_bytes_per_doc": ("bytes", "lower"),
}

_KIND_UNITS = {
    "wall_s": ("s", "lower"),
    "calls": ("count", "higher"),
    "jobs": ("count", "lower"),
    "tasks": ("count", "lower"),
    "exec_cpu_s": ("s", "lower"),
    "shuffle_mb": ("MB", "lower"),
    "spill_mb": ("MB", "lower"),
    "input_rows": ("rows", "lower"),
}
LAYER_EXTRA = {
    "indexer.read_index.cache_mb": ("MB", "lower"),
    "indexer.write_index.files": ("count", "lower"),
    "corpus_io.append_to_index.files": ("count", "lower"),
    "wand.prox_topk.scored_ratio": ("ratio", "lower"),
    "corpus_io.df_drift_terms": ("count", "lower"),
    "corpus_io.rank_mismatches": ("count", "lower"),
    "trace.op_p50_ms": ("ms", "lower"),
    "trace.overhead_s": ("s", "lower"),
    "trace.uncovered_s": ("s", "lower"),
}
PER_LAYER = {
    f"{span}.{kind}": _KIND_UNITS[kind]
    for span in SPANS
    for kind in KINDS
    if span not in DRIVER_ONLY or kind in ("wall_s", "calls")
}
PER_LAYER.update(LAYER_EXTRA)


def _qps(walls: list[float], per_op: int) -> float | None:
    """Queries per second at the median op wall."""
    return per_op / statistics.median(walls) if walls else None


def _median(xs) -> float | None:
    return statistics.median(xs) if xs else None


def end_to_end(res: dict, log) -> dict[str, float | None]:
    """The bounded metrics, identical in name on every workload."""
    return {
        "setup_s": res["setup_s"],
        "op_p50_ms": 1e3 * _median(log.walls(res["op_kind"])),
        "query_p50_ms": 1e3 * _median(log.extra.get("query_s", [])),
        "batch_qps": _qps(log.walls("batch"), BATCH_QUERIES),
        "index_bytes_per_doc": res["index_bytes"] / res["n_docs"],
    }


def workload_extras(res: dict, log, n_clean: int) -> dict[str, tuple]:
    """Workload-specific figures printed beside the end-to-end metrics
    (unbounded: they exist on one workload only).  name -> (value, unit)."""
    out = {
        "build_docs_per_s": (n_clean / res["build_s"], "docs/s"),
        "error_rate": (
            len(log.failures) / max(1, len(log.ops)), "failed/attempted"
        ),
    }
    optional = {
        "prox_batch_qps": (_qps(log.walls("prox_batch"), PAYLOAD_QUERIES), "queries/s"),
        "plm_batch_qps": (_qps(log.walls("plm_batch"), PAYLOAD_QUERIES), "queries/s"),
        "parity_batch_s": (_median(log.walls("parity")), "s"),
        "append_docs_per_s": (
            sum(log.extra["appended"]) / sum(log.extra["append_s"])
            if log.extra.get("append_s") else None,
            "docs/s",
        ),
    }
    out.update({k: v for k, v in optional.items() if v[0] is not None})
    return out


def per_layer(tracer, log, res: dict, layer_extra: dict) -> dict[str, float]:
    out: dict[str, float] = {}
    totals = tracer.layer_totals()
    for name in PER_LAYER:
        span, _, kind = name.rpartition(".")
        out[name] = totals.get(span, {}).get(kind, 0)
    out.update(layer_extra)
    out["trace.op_p50_ms"] = 1e3 * _median(log.walls(res["op_kind"]))
    out["trace.overhead_s"] = tracer.overhead_s
    out["trace.uncovered_s"] = log.uncovered_s
    return out
