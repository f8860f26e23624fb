"""Benchmark entry point. From the root of a checkout:

    python3 perfbench/run.py --workload batch_fanout --seed 1 --seconds 10 --trace 0

Runs one workload (see README.md) against the checkout's ``ctlp_spark`` at
local[nproc], checks every pass, and prints as its last stdout line one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics with ``--trace 0``, the per-layer ones with
``--trace 1``. The line before it records the host, versions and seed.
Everything it writes stays under ``.perfbench_work/`` in the checkout and
is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "rows_per_s": "rows/s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.cold_start_s": "s",
    "rules.load_s": "s",
    "compile.native_build_s": "s",
    "compile.pandas_build_s": "s",
    "io.scan_s": "s",
    "io.scan_partitions": "count",
    "pipeline.tag_scan_s": "s",
    "pipeline.pandas_tag_scan_s": "s",
    "pipeline.write_kept_s": "s",
    "pipeline.write_dropped_s": "s",
    "pipeline.sink_counts_s": "s",
    "pipeline.kept_rows": "count",
    "pipeline.dropped_rows": "count",
    "sink.files": "count",
    "sink.mb": "MB",
    "stream.batches": "count",
    "stream.files_per_batch": "count",
    "stream.add_batch_ms_p50": "ms",
    "stream.trigger_ms_p50": "ms",
    "stream.backlog_max_files": "count",
    "stream.ingest_p50_s": "s",
    "stream.ingest_samples": "count",
    "gen.late_max_s": "s",
    "curate.pass_s": "s",
    "dedup.candidates_s": "s",
    "dedup.verify_s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.verified_pairs": "count",
    "dedup.verify_yield": "frac",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "jvm.gc_s": "s",
    "scale.turns_per_s_1core": "rows/s",
    "scale.eff_4x": "frac",
    "trace.overhead_frac": "frac",
}


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _isolate(work: str, cpus: int) -> None:
    """Keep every file the run and its JVM write inside ``work``, and size
    the driver JVM for this host through the session's own env knobs."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["CTLP_DRIVER_MEM"] = "2g"
    os.environ["CTLP_DRIVER_JAVA_OPTS"] = (
        f"-XX:+UseParallelGC -XX:ParallelGCThreads={cpus} -XX:-UsePerfData "
        f"-Djava.io.tmpdir={tmp}"
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in [os.environ.get("PYTHONPATH")] if p]
    )
    os.environ.pop("SPARK_GRAFT_CPUS", None)


def _host(args) -> dict:
    import duckdb
    import pyarrow
    import pyspark

    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": args.cpus, "nproc": _nproc(),
        "mem_total_mb": mem_kb // 1024, "python": platform.python_version(),
        "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
    }


def _metric(value: float, unit: str) -> dict:
    value = float(value)
    return {"value": value if math.isfinite(value) else 0.0, "unit": unit}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=None,
                    help="local[N] threads (default: nproc)")
    ap.add_argument("--setups", type=int, default=None,
                    help="warm set-ups after the cold one "
                         "(default: workloads.SETUPS)")
    args = ap.parse_args()
    args.cpus = args.cpus or _nproc()

    package = os.path.join(ROOT, "ctlp_spark")
    if not os.path.isfile(os.path.join(package, "__init__.py")):
        print(f"perfbench: no ctlp_spark package in {ROOT}", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"run-{os.getpid()}")
    _isolate(work, args.cpus)
    sys.path.insert(0, ROOT)
    import ctlp_spark
    import workloads

    if os.path.dirname(os.path.abspath(ctlp_spark.__file__)) != package:
        print(f"perfbench: ctlp_spark resolved outside {ROOT}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    setups = workloads.SETUPS if args.setups is None else args.setups
    run = workloads.Run(work, args.seed, args.seconds, bool(args.trace),
                        args.cpus, setups)
    wl = workloads.WORKLOADS[args.workload](run)
    try:
        t0 = time.monotonic()
        wl.prepare()
        t1 = time.monotonic()
        run.set_up(wl.cold_pass)
        wl.measure()
        print(f"perfbench: prepare {t1 - t0:.1f} s, cold set-up "
              f"{[round(x, 2) for x in run.cold_setup_s]} s, warm set-ups "
              f"{[round(x, 2) for x in run.setup_s]} s, passes "
              f"{[round(x, 2) for x in run.pass_s]} s, traced "
              f"{[round(x, 2) for x in run.traced_pass_s]} s", file=sys.stderr)
        if args.trace:
            wl.trace_extras()
            values = workloads.layer_metrics(run, wl)
            metrics = {k: _metric(values.get(k, 0.0), u) for k, u in PER_LAYER.items()}
            run.tracer.write(os.path.join(
                base, f"spans-{args.workload}-seed{args.seed}.json"))
        else:
            values = {
                "setup_s": workloads.stats.median(run.setup_s),
                "rows_per_s": wl.rows_per_s(),
                "peak_rss_mb": workloads.sparkstats.peak_rss_mb(run.jvm_pid),
            }
            metrics = {k: _metric(values[k], u) for k, u in END_TO_END.items()}
    finally:
        run.stop()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"perfbench": _host(args)}))
    print(json.dumps({
        "correct": run.attempted > 0 and run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    t0 = time.monotonic()
    code = main()
    print(f"perfbench: {time.monotonic() - t0:.1f} s", file=sys.stderr)
    sys.exit(code)
