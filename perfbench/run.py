"""Lakehouse benchmark entry point.

    python3 perfbench/run.py --workload incremental --seed 1 --seconds 15 --trace 0

Run from the repository root. Makes the workload's inputs from the seed
(recordings generated under ``.perfbench_work/``, where everything the
run writes stays; the query order over the fixed tables in
``perfbench/data/``), starts a ``local[<cpus>]`` SparkSession, warms the
workload up, measures it for ``--seconds`` seconds in a closed loop,
checks the outputs and prints one ``metric`` line per figure followed,
as the last line, by the JSON result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` they are the per-layer ones, from a run that traces its ops in
ABBA blocks (untraced, traced, traced, untraced), plus the tracing
overhead against the untraced ops of the same run. See ``perfbench/README.md`` for the workloads and the
metric map.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_p50_s": "s",
}


def per_layer_units() -> dict[str, str]:
    from workloads import MIX, MODULES

    units = {
        "session.start_s": "s", "session.warmup_s": "s", "session.peak_rss_mb": "MB",
        "pipeline.bronze.kept_ratio": "ratio", "pipeline.silver.shuffle_bytes": "B",
        "pipeline.silver.shuffle_records": "count", "pipeline.silver.spill_bytes": "B",
        "pipeline.silver.outlier_ratio": "ratio", "pipeline.gold.epoch_s": "s", "pipeline.gold.shuffle_records": "count",
        "functions.signal.bandpass_s": "s", "functions.signal.groups": "count",
        "sources.writers.files_written": "count", "sources.writers.bytes_written": "B",
        "streaming.ingest.trigger_p50_s": "s", "streaming.ingest.trigger_growth": "ratio",
        "streaming.silver.trigger_p50_s": "s", "streaming.silver.trigger_growth": "ratio",
        "sources.txlog.append_p50_s": "s", "sources.txlog.compact_s": "s",
        "sources.txlog.compactions": "count", "sources.txlog.live_files": "count",
        "sources.txlog.version": "count", "sources.txlog.lookup_s": "s",
        "sources.txlog.skip_ratio": "ratio",
    }
    for q in MIX:
        units.update({
            f"query.{q}.plan_s": "s", f"query.{q}.exec_s": "s",
            f"query.{q}.shuffle_records": "count", f"query.{q}.python_stages": "count",
        })
    units.update({f"workload.{m}.p50_s": "s" for m in MODULES})
    units["trace.overhead_ratio"] = "ratio"
    return units


def configure_environment(work: str) -> None:
    """Keep every file Spark, the JVM and Python write under ``work``
    and size the session for a shared host."""
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    # no JVM performance-data file in the system temp directory
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ.pop("SPARK_MASTER", None)


def start_spark(work: str):
    from eeg_data_lake_spark import get_spark

    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": "-Djava.net.preferIPv4Stack=true -XX:-UsePerfData "
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -Dderby.system.home={work}",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - last resort at shutdown
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def peak_rss_mb(spark) -> float:
    """High-water resident memory of this process plus the driver JVM."""
    from pyspark import SparkContext

    pids = [os.getpid()]
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        pids.append(proc.pid)
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024.0


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    t_import = time.perf_counter()
    # fails here, before any result is printed, when the program is absent
    import eeg_data_lake_spark  # noqa: F401
    import pyspark.sql  # noqa: F401

    import_s = time.perf_counter() - t_import
    from spans import Tracer
    from workloads import WORKLOADS, Context, reset_dir

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(WORK, args.workload)
    reset_dir(work)
    configure_environment(work)

    ctx = Context(spark=None, tracer=Tracer(False), work=work, seed=args.seed)
    wl = WORKLOADS[args.workload](ctx)
    wl.generate()

    t0 = time.perf_counter()
    spark = start_spark(work)
    start_s = import_s + time.perf_counter() - t0
    try:
        ctx.spark = ctx.tracer.spark = spark
        t1 = time.perf_counter()
        wl.warmup()
        warmup_s = time.perf_counter() - t1 - wl.untimed_setup_s
        setup_s = start_s + warmup_s
        wl.measure(args.seconds, trace=bool(args.trace))
        wl.check()
        result = report(args, wl, ctx, setup_s, start_s, warmup_s, spark)
    finally:
        stop_spark(spark)
    shutil.rmtree(os.path.join(work, "in"), ignore_errors=True)
    shutil.rmtree(os.path.join(work, "out"), ignore_errors=True)
    print(json.dumps(result))
    return 0


def report(args, wl, ctx, setup_s, start_s, warmup_s, spark) -> dict:
    lines = []
    for p in ctx.problems:
        print(f"problem: {p}", file=sys.stderr)
    if args.trace:
        units = per_layer_units()
        values = {k: 0.0 for k in units}
        values.update(wl.per_layer())
        values.update({
            "session.start_s": start_s,
            "session.warmup_s": warmup_s,
            "session.peak_rss_mb": peak_rss_mb(spark),
            "trace.overhead_ratio": wl.overhead(),
        })
        ctx.tracer.write(os.path.join(WORK, "traces", f"{args.workload}-{args.seed}.jsonl"))
        for k, why in ctx.tracer.unavailable.items():
            lines.append(f"note: counter {k} is null: {why}")
    else:
        units = dict(END_TO_END)
        values = {"setup_s": setup_s, **wl.end_to_end()}
        for name, (v, unit) in wl.report().items():
            lines.append(f"metric {args.workload}.{name} {v} {unit}")
        lines.append(
            f"metric {args.workload}.error_rate {ctx.failed / max(ctx.attempted, 1)} "
            f"ratio ({ctx.failed} of {ctx.attempted})"
        )
    for name, unit in units.items():
        lines.append(f"metric {name} {values[name]} {unit}")
    lines.append(f"check {'PASS' if ctx.failed == 0 else 'FAIL'}: "
                 f"{ctx.failed} failed of {ctx.attempted} attempted; measured {wl.measured_s:.1f} s")
    print("\n".join(lines))
    return {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }


if __name__ == "__main__":
    sys.exit(main())
