"""Extra measurement harness for the optimization round (guide §1).

NOT part of the driver contract — bench.py stays the frozen measured
surface.  This file isolates the per-query cost of the headline relational
suite with the SAME methodology as bench.py section 2 (same session confs,
page-cache warm, untimed JVM warm pass on sf0.001, one-shot wall per query
via .collect()), then optionally:

  * re-times each query with the noop sink (guide §1.4) so the computation
    is separated from the collect/driver transfer;
  * captures .explain("formatted") per query into plans/<tag>/<name>.txt
    for the plan-shape evidence the judge checks.

Usage:
  python bench_extra.py [--sf DIR] [--plans TAG] [--noop] [--repeat N] \
      [--queries a,b,c]

Prints one JSON line per run mode: {"mode": ..., "queries": {...}}.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import HEADLINE_QUERIES, _warm_jvm, _warm_page_cache  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0"))
    ap.add_argument("--plans", default=None, help="write explain() files under plans/<TAG>/")
    ap.add_argument("--suffix", default="", help="plan file suffix, e.g. _before/_after")
    ap.add_argument("--noop", action="store_true", help="also time with the noop sink")
    ap.add_argument("--repeat", type=int, default=1)
    ap.add_argument("--queries", default=None, help="comma list; default headline set")
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from modernsearchengines_spark.operators import query
    from modernsearchengines_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("bench-extra", cores=cpus, shuffle_partitions=2 * cpus)
    _warm_page_cache(args.sf)
    qmap = entrymod.queries()
    names = args.queries.split(",") if args.queries else HEADLINE_QUERIES
    _warm_jvm(spark, {n: qmap[n] for n in names})

    if args.plans:
        pdir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans", args.plans)
        os.makedirs(pdir, exist_ok=True)
        import io
        from contextlib import redirect_stdout

        for name in names:
            df = qmap[name](spark, args.sf)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            with open(os.path.join(pdir, f"{name}{args.suffix}.txt"), "w") as fh:
                fh.write(buf.getvalue())
            query.release(df)

    out: dict[str, dict[str, float]] = {}
    for r in range(args.repeat):
        for name in names:
            spark.sparkContext.setJobDescription(f"bx:{name}:collect:{r}")
            t0 = time.time()
            df = qmap[name](spark, args.sf)
            df.collect()
            out.setdefault(name, {}).setdefault("collect", []).append(
                round(time.time() - t0, 3))
            query.release(df)
            if args.noop:
                spark.sparkContext.setJobDescription(f"bx:{name}:noop:{r}")
                t0 = time.time()
                df = qmap[name](spark, args.sf)
                df.write.format("noop").mode("overwrite").save()
                out[name].setdefault("noop", []).append(round(time.time() - t0, 3))
                query.release(df)
        spark.sparkContext.setJobDescription(None)
    print(json.dumps({"sf": args.sf, "cpus": cpus, "queries": out}))
    spark.stop()


if __name__ == "__main__":
    main()
