#!/usr/bin/env python3
"""Round-9 optimization harness (guide §1.4): per-query noop-sink isolation
timings + formatted-plan dumps, SEPARATE from the frozen bench.py.

Usage:
    python3 bench_extra.py --queries q46_ivf_cluster_pairs,q42_... \
        [--sf-dir /root/testdata/sf0.1] [--repeats 2] \
        [--plans plans/r09 --suffix before]

Prints one JSON line {"sf_dir":..., "queries": {name: [samples...]}}.
Timings use the noop sink so the computation is timed, not the sink; each
query is labeled via setJobDescription for UI-readable runs.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import time
from contextlib import redirect_stdout


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", required=True,
                    help="comma-separated query names, or 'bench' for bench.py's list")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--repeats", type=int, default=2)
    ap.add_argument("--plans", default=None, help="directory to write <q>_<suffix>.txt plans")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    args = ap.parse_args()

    from docling_service_spark.queries import QUERIES
    from docling_service_spark.sparkio.session import get_spark

    spark = get_spark(f"local[{args.cpus}]", app_name="dss-bench-extra",
                      shuffle_partitions=args.cpus * 2)
    spark.sparkContext.setLogLevel("ERROR")

    if args.queries == "bench":
        import bench
        names = list(bench.BENCH_QUERIES)
    else:
        names = [q.strip() for q in args.queries.split(",") if q.strip()]

    if args.plans:
        os.makedirs(args.plans, exist_ok=True)

    out: dict[str, list[float]] = {}
    for name in names:
        q = QUERIES[name]
        df = q(spark, args.sf_dir)
        if args.plans:
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain(mode="formatted")
            with open(os.path.join(args.plans, f"{name}_{args.suffix}.txt"), "w") as fh:
                fh.write(buf.getvalue())
        secs = []
        for i in range(args.repeats):
            spark.sparkContext.setJobDescription(f"{name} [{i}]")
            t0 = time.perf_counter()  # query call INSIDE the timer: any work a
            df = q(spark, args.sf_dir)  # query does at build time counts too
            df.write.format("noop").mode("overwrite").save()
            secs.append(round(time.perf_counter() - t0, 3))
            spark.sparkContext.setJobDescription(None)
        out[name] = secs

    print(json.dumps({"sf_dir": args.sf_dir, "cpus": args.cpus, "queries": out}))
    spark.stop()


if __name__ == "__main__":
    main()
