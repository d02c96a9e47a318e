#!/usr/bin/env python3
"""Steady-state job-path benchmark for docling_service_spark.

    python3 perfbench/run.py --workload job_path --seed 1 --seconds 12 --trace 0

Runs one workload (``job_path`` or ``operator_suite``; see
perfbench/README.md) in this driver process on ``local[N]``, N = the
CPUs in the process's affinity.  Protocol per run: start the session, set
the workload up once, warm with the workload's own full-size passes, then
time closed-loop passes for ``--seconds`` (at least the workload's
``MIN_PASSES``), checking every timed pass's output outside its timed
interval.

The last stdout line is one JSON object {correct, attempted, failed,
metrics}.  ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
interleaves untraced and traced passes and reports the per-layer metrics,
the tracing overhead and the layer-vs-wall reconciliation.

Everything the run writes lives under ``perfbench/_work`` in the checkout,
which is deleted when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
WORKLOAD_NAMES = ("job_path", "operator_suite")

END_TO_END_UNITS = {"setup_s": "s", "wall_s": "s", "docs_per_s": "1/s",
                    "worker_rss_mb": "MiB", "ok_ops_share": "share"}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run prints, with its unit.  A layer
    the workload does not exercise reads 0."""
    from probes import SPARK_LAYER_KEYS
    from workloads import CHECKPOINT_TIMINGS, FAMILIES, JOB_OPS, SUITE_QUERIES, TRAINING_OP

    spark_units = {"jobs": "count", "tasks": "count", "executor_run_s": "s",
                   "jvm_gc_s": "s", "shuffle_write_mb": "MiB",
                   "shuffle_fetch_wait_s": "s", "spill_mb": "MiB",
                   "task_max_over_median": "ratio"}
    units = {f"engine.us_per_doc.{f}": "us" for f in FAMILIES}
    units.update({"pipeline.extract_noop_s": "s", "batch.kernel_s": "s",
                  "batch.kernel_share": "share", "python.worker_cpu_s": "s",
                  "checkpoint.run_incremental_s": "s", "checkpoint.run_merge_upsert_s": "s",
                  "checkpoint.merge_default_partitions_s": "s"})
    units.update({f"checkpoint.{k}": "ms" for k in CHECKPOINT_TIMINGS})
    units.update({f"checkpoint.merge.{k}": "ms" for k in CHECKPOINT_TIMINGS})
    units.update({"checkpoint.output_mb": "MiB", "checkpoint.merge.output_mb": "MiB",
                  "merge.docs_changed": "count", "merge.rows_written": "count",
                  "merge.rows_written_per_changed_doc": "ratio"})
    units.update({f"queries.{q}_s": "s" for q in SUITE_QUERIES})
    units["training.build_training_set_s"] = "s"
    units.update({f"spark.{k}": spark_units[k] for k in SPARK_LAYER_KEYS})
    units.update({f"spark.jobs.{op}": "count" for op in JOB_OPS + SUITE_QUERIES + (TRAINING_OP,)})
    units.update({f"setup.{k}": "s" for k in ("session_s", "corpus_s", "base_table_s", "warm_s")})
    units.update({"trace.untraced_wall_s": "s", "trace.traced_wall_s": "s",
                  "trace.overhead_share": "share", "reconcile.layers_over_wall": "ratio"})
    return units


def _log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="input sizes; 'tiny' is for the smoke test only")
    return ap.parse_args(argv)


def _isolate_scratch() -> None:
    """Point every scratch directory the JVM, Spark and Python use into the
    run's work dir, so the run writes nowhere outside its checkout."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # Python workers import the program from the checkout, whatever the cwd.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (CHECKOUT, os.environ.get("PYTHONPATH")) if p)


def _start_session():
    from docling_service_spark.sparkio.session import get_spark

    n_cpus = len(os.sched_getaffinity(0))
    # job.py's session (get_spark's defaults) with two departures: the
    # master is pinned to local[<affinity CPUs>], and shuffle partitions
    # are 2x the slots, as bench.py runs.  job.py leaves them at Spark's
    # default 200, where the merge's post-join extraction runs 200 Python
    # tasks: the 2000-doc merge took 21.5 s there against ~3 s at 8 (4
    # CPUs), too slow for the run budget.  The traced run times one merge
    # at the default (checkpoint.merge_default_partitions_s).
    spark = get_spark(f"local[{n_cpus}]", app_name="perfbench",
                      shuffle_partitions=2 * n_cpus, extra_conf={
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_everything(spark) -> None:
    """Stop Spark, then the JVM, and wait until every child process ended."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
    from probes import descendants

    deadline = time.monotonic() + 30
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while descendants(os.getpid()) and time.monotonic() < deadline + 30:
        time.sleep(0.2)


def _pass_wall(passes) -> float:
    """Each operation's median wall over ``passes``, summed over the pass's
    operations: a hiccup in one call of one pass does not move it."""
    ops = max((p.op_walls for p in passes), key=len)
    return sum(statistics.median(p.op_walls[op] for p in passes if op in p.op_walls)
               for op in ops)


def run(args) -> dict:
    import probes
    from workloads import SCALES, WORKLOADS, Ctx, engine_us_per_doc

    scale = SCALES[args.scale]
    spark = None
    try:
        t0 = time.perf_counter()
        spark = _start_session()
        session_s = time.perf_counter() - t0
        ctx = Ctx(spark, WORK, args.seed, scale, probes.SparkStatus(spark))
        wl = WORKLOADS[args.workload](ctx)

        _log(f"session {session_s:.2f}s")
        setup = wl.setup()  # the run's first Python stages: worker start, imports
        _log(f"set-up {setup}")
        t0 = time.perf_counter()
        for _ in range(wl.WARM_PASSES):  # outputs are checked on timed passes only
            _log(f"warm pass {wl.run_pass(traced=False, checked=False).wall_s:.3f}s")
        warm_s = time.perf_counter() - t0
        setup_s = session_s + setup["corpus_s"] + setup["base_table_s"] + warm_s

        engine = engine_us_per_doc(args.seed) if args.trace else {}
        passes = []
        t_end = time.monotonic() + args.seconds
        # A traced run interleaves untraced (U) and traced (T) passes as
        # U T T U ..., two of each at least: the order cancels a linear
        # warm-up drift out of the tracing overhead.
        min_passes = 4 if args.trace else wl.MIN_PASSES
        while len(passes) < min_passes or time.monotonic() < t_end:
            traced = bool(args.trace) and len(passes) % 4 in (1, 2)
            passes.append((traced, wl.run_pass(traced=traced)))
            walls = " ".join(f"{op}={w:.3f}" for op, w in passes[-1][1].op_walls.items())
            _log(f"{'traced' if traced else 'timed'} pass {passes[-1][1].wall_s:.3f}s: {walls}")
        extra = wl.trace_extras() if args.trace else None
        if extra is not None:
            _log(f"extra pass {extra.layers}")
        rss_mb = probes.worker_rss_mb(probes.python_workers(os.getpid()))
    finally:
        _stop_everything(spark)

    untraced = [p for t, p in passes if not t]
    traced = [p for t, p in passes if t]
    checked = [p for _, p in passes] + ([extra] if extra is not None else [])
    attempted = sum(p.attempted for p in checked)
    failed = sum(len(p.failures) for p in checked)
    for f in [m for p in checked for msgs in p.failures.values() for m in msgs][:20]:
        print(f"check failed: {f}", file=sys.stderr)
    wall_s = _pass_wall(untraced)
    docs_per_s = wl.docs / statistics.median(
        p.op_walls[wl.THROUGHPUT_OP] for p in untraced if wl.THROUGHPUT_OP in p.op_walls)
    ok_share = (attempted - failed) / attempted
    if args.trace:
        units = per_layer_units()
        values = dict.fromkeys(units, 0.0)
        values.update(probes.median_dict([p.layers for p in traced if p.layers]))
        values.update(engine)
        values.update(extra.layers if extra is not None else {})
        traced_wall = _pass_wall(traced)
        values.update({
            "setup.session_s": session_s, "setup.corpus_s": setup["corpus_s"],
            "setup.base_table_s": setup["base_table_s"], "setup.warm_s": warm_s,
            "trace.untraced_wall_s": wall_s, "trace.traced_wall_s": traced_wall,
            "trace.overhead_share": traced_wall / wall_s - 1.0,
        })
    else:
        units = END_TO_END_UNITS
        values = {"setup_s": setup_s, "wall_s": wall_s, "docs_per_s": docs_per_s,
                  "worker_rss_mb": rss_mb, "ok_ops_share": ok_share}
    unknown = set(values) - set(units)
    if unknown:
        raise RuntimeError(f"metrics without a unit: {sorted(unknown)}")
    print(f"{args.workload} seed={args.seed} passes={len(untraced)}+{len(traced)} "
          f"wall_s={wall_s:.4f} s docs_per_s={docs_per_s:.1f} 1/s setup_s={setup_s:.3f} s "
          f"worker_rss_mb={rss_mb:.1f} MiB "
          f"failed_ops_share={failed / attempted:.4f} share ({failed}/{attempted} ops)")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": values[k], "unit": units[k]} for k in units}}


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path.insert(0, CHECKOUT)
    try:
        import docling_service_spark  # noqa: F401  (the program under test)
    except ImportError as exc:
        print(f"perfbench: cannot import the program from {CHECKOUT}: {exc}", file=sys.stderr)
        return 2
    shutil.rmtree(WORK, ignore_errors=True)
    _isolate_scratch()
    try:
        result = run(args)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
