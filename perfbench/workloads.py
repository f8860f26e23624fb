"""The benchmark's workloads and the run loop they share.

A run generates its inputs and golden counts (untimed), sets up once cold
and then ``SETUPS`` times warm (session start, rule load and compile, cold
first pass; the cold set-up launches the JVM, each warm one restarts the
SparkSession in it), then measures passes for ``--seconds``. Every pass checks its output;
a failed check or an exception counts as a failed attempt. A traced run
alternates untraced and traced passes, so the two are compared in one JVM.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
import traceback

import inputs
import oracle
import sparkstats
import stats
from spans import Tracer, median_self

clock = time.monotonic

SETUPS = 5  # warm set-ups; setup_s is their median
MIN_PASSES = 3
HERE = os.path.dirname(os.path.abspath(__file__))

# per-layer metrics read from span self times: metric → (span, root span);
# set-up spans are medians over set-ups, the rest over traced passes
SPAN_METRICS = {
    "session.start_s": ("session.start", "bench.setup"),
    "rules.load_s": ("rules.load", "bench.setup"),
    "compile.native_build_s": ("compile.native_build", "bench.setup"),
    "compile.pandas_build_s": ("compile.pandas_build", "bench.setup"),
    "io.scan_s": ("io.scan", "bench.scan"),
    "pipeline.tag_scan_s": ("pipeline.tag_scan", "bench.pass"),
    "pipeline.pandas_tag_scan_s": ("pipeline.pandas_tag_scan", "bench.pass"),
    "pipeline.write_kept_s": ("pipeline.write_kept", "bench.pass"),
    "pipeline.write_dropped_s": ("pipeline.write_dropped", "bench.pass"),
    "pipeline.sink_counts_s": ("pipeline.sink_counts", "bench.pass"),
    "curate.pass_s": ("curate.pass", "bench.pass"),
    "dedup.candidates_s": ("dedup.candidates", "bench.pass"),
    "dedup.verify_s": ("dedup.verify", "bench.pass"),
}


class Run:
    """One benchmark run: its session, tracer, attempts and timings."""

    def __init__(self, work: str, seed: int, seconds: float, trace: bool,
                 cpus: int, setups: int = SETUPS):
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.cpus = cpus
        self.setups = setups
        self.tracer = Tracer(trace)
        self.spark = None
        self.jvm_pid = None
        self.cold_setup_s: list[float] = []
        self.setup_s: list[float] = []
        self.pass_s: list[float] = []
        self.traced_pass_s: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.groups: list[str] = []  # job groups of traced passes
        self.gc_s: list[float] = []  # GC time of each traced pass

    def span(self, name: str):
        return self.tracer.span(name)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: check failed: {what}", file=sys.stderr)

    def attempt(self, fn, *args) -> None:
        """Call ``fn``; an exception is a failed attempt, not a crash."""
        try:
            fn(*args)
        except Exception:  # noqa: BLE001 - counted toward failed passes
            traceback.print_exc()
            self.check(False, f"{getattr(fn, '__name__', fn)} raised")

    def start_session(self) -> None:
        from ctlp_spark.session import get_spark

        with self.span("session.start"):
            self.spark = get_spark(
                app_name="perfbench",
                cpus=self.cpus,
                extra_conf={
                    "spark.ui.showConsoleProgress": "false",
                    "spark.sql.warehouse.dir": self.path("warehouse"),
                },
            )
        if self.jvm_pid is None:
            self.jvm_pid = sparkstats.jvm_pid(self.spark)

    def set_up(self, cold_pass) -> None:
        """One cold set-up that launches the JVM, then ``setups`` warm ones
        that restart the session in it; ``setup_s`` holds the warm ones."""
        for i in range(1 + self.setups):
            if self.spark is not None:
                self.spark.stop()
            t0 = clock()
            with self.span("bench.setup" if i else "bench.cold_setup"):
                self.start_session()
                self.attempt(cold_pass)
            (self.setup_s if i else self.cold_setup_s).append(clock() - t0)

    def measure(self, one_pass) -> None:
        """``one_pass(traced)`` until ``seconds`` pass and ``MIN_PASSES``
        ran (of each kind, in a traced run)."""
        deadline = clock() + self.seconds
        i = 0
        while i < MIN_PASSES * (1 + self.trace) or clock() < deadline:
            traced = self.trace and i % 2 == 1
            self.tracer.enabled = traced
            gc0 = sparkstats.gc_seconds(self.spark) if traced else 0.0
            t0 = clock()
            if traced:
                with self.span("bench.pass"), sparkstats.job_group(
                    self.spark, self.groups
                ):
                    self.attempt(one_pass, True)
                self.gc_s.append(sparkstats.gc_seconds(self.spark) - gc0)
            else:
                self.attempt(one_pass, False)
            (self.traced_pass_s if traced else self.pass_s).append(clock() - t0)
            i += 1
        self.tracer.enabled = self.trace

    def stop(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is not None and getattr(gateway, "proc", None) is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)


def sink_stats(path: str) -> tuple[int, float]:
    """(parquet files, MB) committed under ``path``."""
    files = 0
    size = 0
    for dirpath, _, names in os.walk(path):
        for name in names:
            if name.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, name))
    return files, size / 1e6


class Workload:
    """Base: a workload prepares inputs, runs a cold pass per set-up and
    measured passes, and reports its own metrics."""

    rows = 0  # input rows of one pass

    def __init__(self, run: Run):
        self.run = run
        self.layer: dict[str, float] = {}

    def prepare(self) -> None:
        """Inputs and golden counts; untimed."""

    def cold_pass(self) -> None:
        """Rule load, compile and the first pass, in a fresh session."""

    def one_pass(self, traced: bool) -> None:
        raise NotImplementedError

    def measure(self) -> None:
        self.run.measure(self.one_pass)

    def trace_extras(self) -> None:
        """Traced-run-only measurements outside the passes."""

    def rows_per_s(self) -> float:
        return self.rows / stats.median(self.run.pass_s)


def _load_rules(run: Run, path: str):
    from ctlp_spark import load_rules

    with run.span("rules.load"):
        return load_rules(path)


def _dims(spark):
    from ctlp_spark import gen

    return (spark.createDataFrame(gen.role_dim_pdf()),
            spark.createDataFrame(gen.tool_dim_pdf()))


def _scan(run: Run, path: str, reps: int = 3) -> int:
    """``io.scan``: read the transcripts and write the rule columns to the
    ``noop`` sink — the scan floor under the rule workloads. Returns the
    scan's partition count."""
    from ctlp_spark.sources.io import read_transcripts

    for _ in range(reps):
        with run.span("bench.scan"), run.span("io.scan"):
            df = read_transcripts(run.spark, path)
            (df.select("role", "tool", "text").write.format("noop")
             .mode("overwrite").save())
    return df.rdd.getNumPartitions()


class BatchFanout(Workload):
    """Flagship CLI path: ``run_pipeline`` with enrich and fan-out sinks."""

    rows = 300_000
    files = 8

    def prepare(self):
        from ctlp_spark import gen

        run = self.run
        self.inp = run.path("in")
        inputs.write_transcripts(self.inp, self.rows, run.seed, self.files)
        obj = inputs.fixture_rules()
        self.rules_path = inputs.write_rules(run.path("rules.json"), obj)
        self.json_columns = gen.JSON_COLUMNS
        self.golden = oracle.golden_counts(self.inp, obj, self.json_columns)
        self.out = run.path("out")

    def cold_pass(self):
        from ctlp_spark.operators.pipeline import tag
        from ctlp_spark.sources.io import read_transcripts

        run = self.run
        self.cfg = _load_rules(run, self.rules_path)
        self.df = read_transcripts(run.spark, self.inp)
        self.role_dim, self.tool_dim = _dims(run.spark)
        with run.span("compile.native_build"):
            tag(self.df, self.cfg, "native", self.json_columns)
        self.one_pass(False)

    def _check(self, res) -> None:
        g = self.golden
        self.run.check(
            (res.kept, res.dropped, res.rule_hits)
            == (g["kept"], g["dropped"], g["rule_hits"]),
            f"batch_fanout counts {res.kept}/{res.dropped}/{res.rule_hits} != {g}",
        )
        self.layer["pipeline.kept_rows"] = res.kept
        self.layer["pipeline.dropped_rows"] = res.dropped

    def one_pass(self, traced):
        from ctlp_spark.operators import pipeline as p

        if not traced:
            self._check(p.run_pipeline(
                self.df, self.cfg, self.out, json_columns=self.json_columns,
                role_dim=self.role_dim, tool_dim=self.tool_dim,
            ))
            return
        # run_pipeline's steps, one span each
        run = self.run
        with run.span("compile.native_build"):
            tagged = p.tag(self.df, self.cfg, "native", self.json_columns)
        with run.span("pipeline.route"):
            kept, dropped = p.route(tagged)
        with run.span("pipeline.enrich"):
            kept = p.enrich(kept, self.role_dim, self.tool_dim)
        with run.span("pipeline.write_kept"):
            kept.write.mode("overwrite").parquet(f"{self.out}/{p.KEPT_DIR}")
        with run.span("pipeline.write_dropped"):
            (dropped.write.mode("overwrite").partitionBy(p.MATCHED_RULE_COL)
             .parquet(f"{self.out}/{p.DROPPED_DIR}"))
        with run.span("pipeline.sink_counts"):
            res = p.sink_counts(run.spark, self.out)
        self._check(res)

    def trace_extras(self):
        self.layer["io.scan_partitions"] = _scan(self.run, self.inp)
        self.layer["sink.files"], self.layer["sink.mb"] = sink_stats(self.out)
        if self.run.cpus > 1:
            one = scale_probe(self.run)
            four = self.rows_per_s()
            self.layer["scale.turns_per_s_1core"] = one
            self.layer["scale.eff_4x"] = four / one / self.run.cpus if one else 0.0


def scale_probe(run: Run) -> float:
    """``batch_fanout`` rows/s at local[1], in a JVM of its own."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"),
           "--workload", "batch_fanout", "--seed", str(run.seed),
           "--seconds", "1", "--trace", "0", "--cpus", "1", "--setups", "0"]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=100)
    result = (json.loads(proc.stdout.strip().splitlines()[-1])
              if proc.returncode == 0 else {"correct": False})
    run.check(result["correct"], "scale probe at local[1]")
    if not result["correct"]:
        print(proc.stderr[-2000:], file=sys.stderr)
        return 0.0
    return result["metrics"]["rows_per_s"]["value"]


class RuleScan(Workload):
    """64-rule dry runs on both rule engines; no sinks."""

    rows = 100_000
    files = 8

    def prepare(self):
        from ctlp_spark import gen

        run = self.run
        self.inp = run.path("in")
        inputs.write_transcripts(self.inp, self.rows, run.seed, self.files)
        obj = inputs.scan_rules(run.seed)
        self.rules_path = inputs.write_rules(run.path("rules.json"), obj)
        self.json_columns = gen.JSON_COLUMNS
        self.golden = oracle.golden_counts(self.inp, obj, self.json_columns)

    def cold_pass(self):
        from ctlp_spark.operators.pipeline import tag
        from ctlp_spark.sources.io import read_transcripts

        run = self.run
        self.cfg = _load_rules(run, self.rules_path)
        self.df = read_transcripts(run.spark, self.inp)
        with run.span("compile.native_build"):
            tag(self.df, self.cfg, "native", self.json_columns)
        with run.span("compile.pandas_build"):
            tag(self.df, self.cfg, "pandas", self.json_columns)
        self.one_pass(False)

    def one_pass(self, traced):
        from ctlp_spark.operators.pipeline import dry_run_df

        run = self.run
        with run.span("pipeline.tag_scan"):
            native = dry_run_df(self.df, self.cfg, "native", self.json_columns)
        with run.span("pipeline.pandas_tag_scan"):
            pandas = dry_run_df(self.df, self.cfg, "pandas", self.json_columns)
        g = self.golden
        run.check(
            native.rule_hits == pandas.rule_hits == g["rule_hits"]
            and native.passed_count == pandas.passed_count == g["kept"],
            f"rule_scan hits native={native.rule_hits} pandas={pandas.rule_hits}"
            f" golden={g['rule_hits']}",
        )
        self.layer["pipeline.kept_rows"] = native.passed_count
        self.layer["pipeline.dropped_rows"] = native.filtered_count

    def trace_extras(self):
        self.layer["io.scan_partitions"] = _scan(self.run, self.inp)
        self.layer.update(probe(self.run, StreamIngest, ("stream.", "gen.")))
        self.layer.update(probe(self.run, CurateDedup, ("curate.", "dedup.")))


def probe(run: Run, cls, prefixes: tuple[str, ...]) -> dict:
    """Run workload ``cls`` inside another workload's traced run, on the
    same session and tracer, so the layers only it calls are measured by a
    benchmark that does not list it. Its attempts count toward the host
    run; its pass times do not. Returns its layer metrics that start with
    one of ``prefixes``."""
    sub = Run(run.path(cls.__name__), run.seed, 0, run.trace, run.cpus)
    os.makedirs(sub.work)
    sub.spark, sub.tracer, sub.jvm_pid = run.spark, run.tracer, run.jvm_pid
    wl = cls(sub)
    wl.prepare()
    with run.span("probe.setup"):
        sub.attempt(wl.cold_pass)
    wl.measure()
    run.attempted += sub.attempted
    run.failed += sub.failed
    return {k: v for k, v in wl.layer.items() if k.startswith(prefixes)}


class StreamIngest(Workload):
    """``run_stream_pipeline`` over dropped files: an open loop at a fixed
    rate, then a drain of a fixed backlog one file per micro-batch."""

    rate = 3.0  # files/s, open loop
    # 24 latency samples, so the median has more than ten samples beyond it
    open_files = 24
    open_rows = 5_000  # rows per open-loop file
    drain_files = 5
    drain_rows = 25_000  # rows per drain file

    def prepare(self):
        from ctlp_spark import gen

        run = self.run
        self.json_columns = gen.JSON_COLUMNS
        obj = inputs.fixture_rules()
        self.rules_path = inputs.write_rules(run.path("rules.json"), obj)
        n_open = max(self.open_files, round(self.rate * run.seconds))
        sets = {"warm": (1, self.open_rows), "open": (n_open, self.open_rows),
                "drain": (self.drain_files, self.drain_rows)}
        self.golden = {}
        for i, (name, (n, rows)) in enumerate(sets.items()):
            d = run.path("stage", name)
            inputs.write_transcripts(d, n * rows, run.seed * 10 + i, n)
            self.golden[name] = oracle.golden_counts(d, obj, self.json_columns)
        self.rows = self.golden["drain"]["total"]
        self.phases = 0

    def _start(self, src: str, available_now: bool, max_files=None):
        """Start the pipeline on ``src`` with fresh sinks and checkpoint;
        returns (query, out_dir, commit times by batch id)."""
        from ctlp_spark.streaming.stream import (read_transcript_stream,
                                                 run_stream_pipeline)

        run = self.run
        self.phases += 1
        out = run.path("stream", f"p{self.phases}", "out")
        commits: dict[int, float] = {}

        def side_sink(msg):
            commits[msg["batch_id"]] = clock()

        with run.span("stream.start"):
            sdf = read_transcript_stream(run.spark, src, with_lineage=True,
                                         max_files_per_trigger=max_files)
            q = run_stream_pipeline(
                sdf, self.cfg, out, run.path("stream", f"p{self.phases}", "ck"),
                json_columns=self.json_columns, role_dim=self.role_dim,
                tool_dim=self.tool_dim, available_now=available_now,
                side_sink=side_sink,
            )
        return q, out, commits

    def _committed(self, out: str, golden: dict, what: str) -> list:
        """Check the committed sinks against the golden counts; returns
        (source file, batch id) pairs."""
        from ctlp_spark.sources.io import LINEAGE_COL

        run = self.run
        spark = run.spark
        with run.span("bench.read_back"):
            kept = spark.read.parquet(f"{out}/kept")
            dropped = spark.read.parquet(f"{out}/dropped")
            per_file = (
                kept.select(LINEAGE_COL, "batch")
                .unionByName(dropped.select(LINEAGE_COL, "batch"))
                .groupBy(LINEAGE_COL, "batch").count().collect()
            )
            hits = {r[0]: r[1] for r in
                    dropped.groupBy("matched_rule").count().collect()}
        total = sum(r["count"] for r in per_file)
        run.check(
            total == golden["total"] and hits == golden["rule_hits"],
            f"stream {what}: {total} rows, hits {hits} != {golden}",
        )
        self.layer["pipeline.kept_rows"] = total - sum(hits.values())
        self.layer["pipeline.dropped_rows"] = sum(hits.values())
        return [(r[LINEAGE_COL], r["batch"]) for r in per_file]

    def _drain(self, src: str, golden: dict, what: str, max_files=None):
        q, out, _ = self._start(src, True, max_files)
        with self.run.span("stream.wait"):
            q.awaitTermination()
        self._committed(out, golden, what)
        return q

    def cold_pass(self):
        from ctlp_spark.operators.pipeline import tag
        from ctlp_spark.streaming.stream import read_transcript_stream

        run = self.run
        self.cfg = _load_rules(run, self.rules_path)
        self.role_dim, self.tool_dim = _dims(run.spark)
        src = run.path("stage", "warm")
        with run.span("compile.native_build"):
            tag(read_transcript_stream(run.spark, src), self.cfg, "native",
                self.json_columns)
        self._drain(src, self.golden["warm"], "warm-up")

    def open_loop(self) -> None:
        run = self.run
        golden = self.golden["open"]
        stage = run.path("stage", "open")
        n_files = len(os.listdir(stage))
        src = run.path("stream_in")
        os.makedirs(src)
        q, out, commits = self._start(src, False)
        self.open_out = out
        log = run.path("dropper.json")
        start = clock() + 1.0
        gen_proc = subprocess.Popen([
            sys.executable, os.path.join(HERE, "dropper.py"), "--src", stage,
            "--dst", src, "--rate", str(self.rate), "--start", repr(start),
            "--log", log,
        ])
        try:
            with run.span("stream.wait"):
                gen_proc.wait(timeout=n_files / self.rate + 60)
                q.processAllAvailable()
            progress = q.recentProgress
        finally:
            if gen_proc.poll() is None:
                gen_proc.kill()
                gen_proc.wait()
            q.stop()
        with open(log) as fh:
            drops = json.load(fh)
        pairs = self._committed(out, golden, "open loop")
        lat = stats.file_latencies({k: v[0] for k, v in drops.items()},
                                   pairs, commits)
        done = {k: drops[k][0] + v for k, v in lat.items()}
        data = [p for p in progress if p["numInputRows"]]
        self.layer.update({
            "stream.ingest_p50_s": stats.median(lat.values()),
            "stream.ingest_samples": len(lat),
            "stream.batches": len(data),
            "stream.files_per_batch": n_files / len(data) if data else 0.0,
            "stream.backlog_max_files": stats.max_backlog(
                {k: v[1] for k, v in drops.items()}, done),
            "gen.late_max_s": max(v[1] - v[0] for v in drops.values()),
        })

    def measure(self):
        run = self.run
        run.tracer.enabled = run.trace
        with run.span("bench.open_loop"):
            run.attempt(self.open_loop)
        # the drain is the pass: untraced, then traced in a traced run
        src = run.path("stage", "drain")
        for traced in (False, True) if run.trace else (False,):
            run.tracer.enabled = traced
            gc0 = sparkstats.gc_seconds(run.spark)
            t0 = clock()
            with run.span("bench.pass"):
                try:
                    q = self._drain(src, self.golden["drain"], "drain",
                                    max_files=1)
                except Exception:  # noqa: BLE001 - a failed attempt
                    traceback.print_exc()
                    run.check(False, "drain raised")
                    q = None
            (run.traced_pass_s if traced else run.pass_s).append(clock() - t0)
            if traced and q is not None:
                run.gc_s.append(sparkstats.gc_seconds(run.spark) - gc0)
                run.groups.append(str(q.runId))
                data = [p for p in q.recentProgress if p["numInputRows"]]
                self.layer["stream.add_batch_ms_p50"] = stats.median(
                    p["durationMs"]["addBatch"] for p in data)
                self.layer["stream.trigger_ms_p50"] = stats.median(
                    p["durationMs"]["triggerExecution"] for p in data)
        run.tracer.enabled = run.trace
        self.layer["sink.files"], self.layer["sink.mb"] = sink_stats(
            getattr(self, "open_out", ""))


class CurateDedup(Workload):
    """``curate`` to a parquet sink, then the near-dup pipeline."""

    rows = 10_000  # documents
    files = 4

    def prepare(self):
        run = self.run
        self.inp = run.path("docs")
        table = inputs.write_documents(self.inp, self.rows, run.seed, self.files)
        self.exact_dups = inputs.exact_dup_count(table.column("text").to_pylist())
        self.out = run.path("curated")
        self.neardup_pairs = None

    def cold_pass(self):
        self.docs = self.run.spark.read.parquet(self.inp)
        self.one_pass(False)

    def _check_pairs(self, n: int) -> None:
        if self.neardup_pairs is None:
            self.neardup_pairs = n
        self.run.check(n == self.neardup_pairs and n > 0,
                       f"near-dup pairs {n} != {self.neardup_pairs}")

    def one_pass(self, traced):
        from pyspark.sql import functions as F

        from ctlp_spark.functions import dedup
        from ctlp_spark.functions.curate import curate

        run = self.run
        with run.span("curate.pass"):
            curate(self.docs).write.mode("overwrite").parquet(self.out)
        dups = run.spark.read.parquet(self.out).where(~F.col("is_canonical")).count()
        run.check(dups == self.exact_dups,
                  f"exact dups {dups} != recount {self.exact_dups}")
        if traced:
            # neardup_pipeline's two stages, one span each
            with run.span("dedup.candidates"):
                cands = dedup.lsh_candidate_pairs(self.docs).localCheckpoint()
                n_cands = cands.count()
            with run.span("dedup.verify"):
                n = dedup.jaccard_on_candidates(self.docs, cands,
                                                checkpoint=None).count()
            self.layer["dedup.candidate_pairs"] = n_cands
            self.layer["dedup.verified_pairs"] = n
            self.layer["dedup.verify_yield"] = n / n_cands if n_cands else 0.0
        else:
            n = dedup.neardup_pipeline(self.docs).count()
        dedup.release_caches()
        self._check_pairs(n)

    def trace_extras(self):
        self.layer["sink.files"], self.layer["sink.mb"] = sink_stats(self.out)


WORKLOADS = {
    "batch_fanout": BatchFanout,
    "rule_scan": RuleScan,
    "stream_ingest": StreamIngest,
    "curate_dedup": CurateDedup,
}


def layer_metrics(run: Run, wl: Workload) -> dict[str, float]:
    """Every per-layer metric; a layer the workload never calls reads 0."""
    out = {name: median_self(run.tracer.spans, span, root)
           for name, (span, root) in SPAN_METRICS.items()}
    starts = [s for s in run.tracer.spans if s["name"] == "session.start"]
    out["session.cold_start_s"] = (starts[0]["end"] - starts[0]["start"]
                                   if starts else 0.0)
    counts = sparkstats.job_counts(run.spark, run.groups)
    n = max(1, len(run.traced_pass_s))
    for key, value in counts.items():
        out[f"spark.{key}"] = value / n
    out["jvm.gc_s"] = stats.median(run.gc_s)
    out["trace.overhead_frac"] = (
        stats.median(run.traced_pass_s) / stats.median(run.pass_s) - 1
        if run.traced_pass_s and run.pass_s else 0.0
    )
    out.update(wl.layer)
    return out
