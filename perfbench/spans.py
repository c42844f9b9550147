"""Spans around the benchmark's calls into the engine, with Spark-stage
attribution when tracing is on.

A span is flat: the benchmark never nests them, so a span's self time is
its wall time.  With tracing on, each span runs under its own Spark job
group; when it ends, the tracer waits for the listener bus to drain and
sums the span's stages from the status store (``lastStageAttempt``).
Jobs submitted from the engine's own worker threads carry no job group, so
new group-less jobs that appeared during the span are attributed to it too
(the benchmark runs one span at a time).  Time spent on that bookkeeping is
kept apart as tracing overhead.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

SPARK_KINDS = ("jobs", "tasks", "exec_cpu_s", "shuffle_mb", "spill_mb",
               "input_rows")
KINDS = ("wall_s", "calls") + SPARK_KINDS
SPANS = (
    "indexer.build_index",
    "indexer.write_index",
    "indexer.read_index",
    "corpus_io.append_to_index",
    "expansion.compile",
    "query.query_terms_df",
    "wand.topk",
    "wand.prox_topk",
    "wand.plm_topk",
    "snippets.add_snippets",
    "query.run_query_batch",
)
DRIVER_ONLY = {"expansion.compile"}
_MB = 1 << 20


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.rows: list[dict] = []  # one per finished span
        self.overhead_s = 0.0
        self._op = None
        self._counted: set[int] = set()

    def _ungrouped_jobs(self) -> list[int]:
        return list(self.spark.sparkContext.statusTracker().getJobIdsForGroup(None))

    def set_op(self, op: str | None) -> None:
        """Label the spans that follow with the op they belong to."""
        self._op = op

    @contextmanager
    def span(self, name: str):
        assert name in SPANS, name
        sc = self.spark.sparkContext
        if self.enabled:
            t1 = time.perf_counter()
            # jobs run between spans (checks, diagnostics) belong to none
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            self._counted |= set(self._ungrouped_jobs())
            sc.setJobGroup(name, name)
            self.overhead_s += time.perf_counter() - t1
        t0 = time.perf_counter()
        try:
            yield
        finally:
            wall = time.perf_counter() - t0
            row = {"span": name, "op": self._op, "wall_s": wall}
            if self.enabled:
                t1 = time.perf_counter()
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
                row.update(self._stage_totals(name))
                self.overhead_s += time.perf_counter() - t1
            self.rows.append(row)

    def _stage_totals(self, group: str) -> dict:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        # a group's id list keeps the jobs of earlier spans of the same name
        job_ids = (
            set(tracker.getJobIdsForGroup(group)) | set(self._ungrouped_jobs())
        ) - self._counted
        self._counted |= job_ids
        tracker_jobs = [tracker.getJobInfo(j) for j in job_ids]
        stage_ids = {s for j in tracker_jobs if j is not None for s in j.stageIds}
        store = jsc.statusStore()
        out = dict.fromkeys(SPARK_KINDS, 0)
        out["jobs"] = len(job_ids)
        for sid in stage_ids:
            st = store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            out["tasks"] += st.numTasks()
            out["exec_cpu_s"] += st.executorCpuTime() / 1e9
            out["shuffle_mb"] += (st.shuffleReadBytes() + st.shuffleWriteBytes()) / _MB
            out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / _MB
            out["input_rows"] += st.inputRecords()
        return out

    def layer_totals(self) -> dict[str, dict[str, float]]:
        """Per span: summed self time, call count and stage counters."""
        tot: dict[str, dict[str, float]] = {
            s: dict.fromkeys(KINDS, 0) for s in SPANS
        }
        for row in self.rows:
            t = tot[row["span"]]
            t["calls"] += 1
            for k in KINDS:
                if k != "calls" and k in row:
                    t[k] += row[k]
        return tot
