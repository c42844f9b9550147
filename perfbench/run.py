"""Benchmark entry point.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 20 --trace 0

Run from the repository root.  Starts one Spark session at ``local[4]``,
builds a seeded corpus, runs the workload's op stream for ``--seconds``,
checks every timed op, prints each metric on its own line and, last, one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
run is traced and the metrics are the per-layer ones, and a table with one
row per span is printed and written to ``.perfbench_out/``.

Everything the run writes stays under the working directory
(``.perfbench_work/`` is removed at the end).  ``PERFBENCH_DOCS`` overrides
the corpus size (the smoke test uses a tiny one).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time

CORES = 4
DOCS = 1000
DRIVER_MEMORY = "2g"


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def dram_copy_gbps() -> float:
    """Median of five 64 MiB numpy copies: a cheap memory-bandwidth probe
    that tells a slow machine epoch apart from a slow commit."""
    import numpy as np

    src = np.ones(8 << 20)  # 64 MiB of float64
    dst = np.empty_like(src)
    rates = []
    for _ in range(5):
        t0 = time.perf_counter()
        np.copyto(dst, src)
        rates.append(src.nbytes / (time.perf_counter() - t0) / 1e9)
    return statistics.median(rates)


def _session(work: str):
    from modernsearchengines_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        "perfbench",
        cores=CORES,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        },
    )


def _stop(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def _fmt(v) -> str:
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def main(argv=None) -> int:
    args = _parse(argv)
    t_main = time.perf_counter()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "modernsearchengines_spark")):
        print("perfbench: run from the repository root (engine package not found)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    from perfbench import metrics, workloads
    from perfbench.checks import load_oracle
    from perfbench.spans import Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    # Spark's Python workers import the engine from the repository root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    n_docs = int(os.environ.get("PERFBENCH_DOCS", DOCS))
    oracle = load_oracle(root)

    # Inputs are pure Python: prepare them while the JVM starts.
    prepared: dict = {}

    def prepare():
        try:
            prepared["inp"] = workloads.Inputs(oracle, n_docs, args.seed, work)
        except BaseException as exc:  # noqa: BLE001 - re-raised below
            prepared["error"] = exc

    th = threading.Thread(target=prepare)
    th.start()
    spark = None
    try:
        spark = _session(work)
        th.join()
        if "error" in prepared:
            raise prepared["error"]
        import pyspark

        epoch = {
            "nproc": os.cpu_count(),
            "cores": CORES,
            "pyspark": pyspark.__version__,
            "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
            "dram_copy_gbps": round(dram_copy_gbps(), 2),
        }
        tracer = Tracer(spark, enabled=bool(args.trace))
        ctx = workloads.Ctx(spark, tracer, prepared["inp"], args.seconds)
        t_ready = time.perf_counter()
        res = workloads.WORKLOADS[args.workload](ctx)
        t_done = time.perf_counter()
    finally:
        th.join()
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:  # the shared parent too, once no other run uses it
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    t_end = time.perf_counter()

    log = ctx.log
    print(f"workload {args.workload} seed {args.seed} seconds {args.seconds:g} "
          f"trace {args.trace} docs {n_docs} (client: 1, closed loop)")
    print("epoch " + " ".join(f"{k}={v}" for k, v in epoch.items()))
    print(f"wall start={t_ready - t_main:.1f}s workload={t_done - t_ready:.1f}s "
          f"stop={t_end - t_done:.1f}s total={t_end - t_main:.1f}s")
    for kind in sorted({k for k, _, _ in log.ops}):
        w = sorted(log.walls(kind))
        print(f"op {kind} n={len(w)} median={statistics.median(w):.3f}s "
              f"min={w[0]:.3f}s max={w[-1]:.3f}s")
    for i, kind, err in log.failures:
        print(f"FAILED op #{i} {kind}: {err}")

    if args.trace:
        values = metrics.per_layer(tracer, log, res, ctx.layer_extra)
        units = metrics.PER_LAYER
        table = _span_table(tracer, log, values)
        for line in table:
            print(line)
        out_dir = os.path.join(root, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json"), "w") as fh:
            json.dump({"epoch": epoch, "ops": log.rows(), "spans": tracer.rows,
                       "metrics": values}, fh, indent=1)
    else:
        values = metrics.end_to_end(res, log)
        units = metrics.END_TO_END
        for name, (v, unit) in metrics.workload_extras(res, log, len(ctx.clean)).items():
            print(f"extra {name} {_fmt(v)} {unit}")
    for name, v in values.items():
        print(f"metric {name} {_fmt(v)} {units[name][0]}")

    result = {
        "correct": not log.failures,
        "attempted": len(log.ops),
        "failed": len(log.failures),
        "metrics": {n: {"value": v, "unit": units[n][0]} for n, v in values.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


def _span_table(tracer, log, values) -> list[str]:
    """One row per span: calls, self time and Spark-stage counters."""
    from perfbench.spans import KINDS, SPANS

    head = f"{'span':28s}" + "".join(f"{k:>12s}" for k in KINDS)
    rows = [head]
    for span in SPANS:
        rows.append(f"{span:28s}" + "".join(
            f"{_fmt(float(values.get(f'{span}.{k}', 0))):>12s}" for k in KINDS
        ))
    rows.append(f"{'(uncovered by spans)':28s}{_fmt(log.uncovered_s):>12s}")
    rows.append(f"{'(tracing overhead)':28s}{_fmt(tracer.overhead_s):>12s}")
    return rows


if __name__ == "__main__":
    sys.exit(main())
