"""Tests of the benchmark's own code. None of them starts Spark:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os

import pytest

import compare
import inputs
import oracle
import run
import stats
from spans import Tracer, by_root, median_self, self_times

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _same_tree(a: str, b: str) -> bool:
    names = sorted(os.listdir(a))
    return names == sorted(os.listdir(b)) and all(
        filecmp.cmp(os.path.join(a, n), os.path.join(b, n), shallow=False)
        for n in names
    )


def test_same_seed_same_inputs(tmp_path):
    for seed in (3, 3, 4):
        d = tmp_path / f"t{seed}-{len(os.listdir(tmp_path))}"
        inputs.write_transcripts(str(d / "turns"), 3000, seed, 3)
        inputs.write_documents(str(d / "docs"), 500, seed, 2)
        inputs.write_rules(str(d / "rules.json"), inputs.scan_rules(seed))
    first, again, other = sorted(os.listdir(tmp_path))
    for sub in ("turns", "docs"):
        assert _same_tree(tmp_path / first / sub, tmp_path / again / sub)
        assert not _same_tree(tmp_path / first / sub, tmp_path / other / sub)
    assert filecmp.cmp(tmp_path / first / "rules.json",
                       tmp_path / again / "rules.json", shallow=False)


def test_scan_rules_shape():
    rules = inputs.scan_rules(7)["rules"]
    assert len(rules) == 64
    assert len({r["name"] for r in rules}) == 64
    assert rules[-3:] == inputs.FIXTURE_ROW_RULES


def test_oracle_matches_python_evaluator(tmp_path):
    from ctlp_spark import gen, load_rules

    obj = inputs.scan_rules(5)
    table = inputs.transcripts_table(4000, 5)
    inputs.write_transcripts(str(tmp_path), 4000, 5, 2)
    golden = oracle.golden_counts(str(tmp_path), obj, gen.JSON_COLUMNS)
    assert golden == gen.expected_counts(table.to_pandas(), load_rules(obj))
    assert golden["dropped"] > 0


def test_exact_dup_count_normalizes():
    texts = ["a b", "A  B ", "a b c", None, " a\tb"]
    assert inputs.exact_dup_count(texts) == 2


def test_metric_names_valid_and_match_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == run.END_TO_END
    assert layer == run.PER_LAYER
    for name in [*e2e, *layer, *(w["name"] for w in spec["workloads"])]:
        assert stats.valid_metric_name(name), name
    assert not stats.valid_metric_name("bad name")
    assert not stats.valid_metric_name("_leading")
    assert max(m["bound"] for m in spec["end_to_end"]) == e2e_bound(spec, "setup_s")


def e2e_bound(spec: dict, name: str) -> float:
    return next(m["bound"] for m in spec["end_to_end"] if m["name"] == name)


class FakeClock:
    def __init__(self):
        self.now = 0.0

    def __call__(self):
        return self.now


def test_span_self_time_arithmetic():
    clock = FakeClock()
    tracer = Tracer(True, clock)
    with tracer.span("bench.pass"):            # 0 .. 10
        clock.now = 1
        with tracer.span("pipeline.write"):    # 1 .. 4, child 2 .. 3
            clock.now = 2
            with tracer.span("io.read"):
                clock.now = 3
            clock.now = 4
        clock.now = 6
        with tracer.span("pipeline.write"):    # 6 .. 9
            clock.now = 9
        clock.now = 10
    with tracer.span("bench.pass"):            # 10 .. 12, no children
        clock.now = 12
    selfs = self_times(tracer.spans)
    assert [selfs[s["id"]] for s in tracer.spans] == [4, 2, 1, 3, 2]
    assert by_root(tracer.spans) == {
        0: {"bench.pass": 4, "pipeline.write": 5, "io.read": 1},
        4: {"bench.pass": 2},
    }
    assert median_self(tracer.spans, "bench.pass") == 3
    assert median_self(tracer.spans, "pipeline.write", "bench.pass") == 5
    assert median_self(tracer.spans, "pipeline.write", "bench.setup") == 0.0
    assert [s["layer"] for s in tracer.spans][:3] == ["bench", "pipeline", "io"]


def test_overlapping_children_count_once():
    spans = [
        {"id": 0, "name": "p", "parent": None, "root": 0, "start": 0, "end": 10},
        {"id": 1, "name": "a", "parent": 0, "root": 0, "start": 1, "end": 5},
        {"id": 2, "name": "b", "parent": 0, "root": 0, "start": 3, "end": 7},
        {"id": 3, "name": "c", "parent": 0, "root": 0, "start": 9, "end": 12},
    ]
    assert self_times(spans)[0] == 10 - 6 - 1


def test_disabled_tracer_records_nothing():
    tracer = Tracer(False)
    with tracer.span("x"):
        pass
    assert tracer.spans == []


def test_file_latency_mapping_on_synthetic_progress():
    drops = {"part-00000.parquet": 10.0, "part-00001.parquet": 10.4,
             "part-00002.parquet": 10.8}
    # lineage (_src_file, batch): file 1 is split over batches 1 and 2
    pairs = [("file:///w/in/part-00000.parquet", 0),
             ("file:///w/in/part-00001.parquet", 1),
             ("file:///w/in/part-00001.parquet", 2),
             ("file:///w/in/part-00002.parquet", 2)]
    commits = {0: 11.0, 1: 12.0, 2: 13.5}
    lat = stats.file_latencies(drops, pairs, commits)
    assert lat == pytest.approx({"part-00000.parquet": 1.0,
                                 "part-00001.parquet": 3.1,
                                 "part-00002.parquet": 2.7})
    done = {k: drops[k] + v for k, v in lat.items()}
    assert stats.max_backlog(drops, done) == 3
    with pytest.raises(KeyError):
        stats.file_latencies({"part-00009.parquet": 1.0}, pairs, commits)


def test_compare_verdicts():
    parent = [100.0 + i % 3 for i in range(10)]
    faster = [p * 0.8 for p in parent]
    pairs = list(zip(parent, faster))
    assert compare.verdict(parent, faster, pairs, False, 0.1) == ("better", 1.0)
    slower = [p * 1.3 for p in parent]
    assert compare.verdict(parent, slower, list(zip(parent, slower)),
                           False, 0.1)[0] == "regression"
    assert compare.verdict(parent, parent, list(zip(parent, parent)),
                           False, 0.1)[0] == "same"
    noisy = [50.0, 150.0] * 5
    assert compare.verdict(noisy, parent, list(zip(noisy, parent)),
                           False, 0.1)[0] == "unresolved"
