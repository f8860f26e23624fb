"""Collect benchmark runs and compare a parent tree with a change.

    # ten seeds of every workload of one tree, results under DIR
    python3 perfbench/compare.py runs --out DIR [--tree PATH] [--seeds 1-10]
        [--workloads a,b]
    # parent and change alternated, which goes first flipping every seed
    python3 perfbench/compare.py pairs --parent P --change C --out DIR
    # per workload and metric: medians, quartiles, pairs won, verdict
    python3 perfbench/compare.py diff PARENT_DIR CHANGE_DIR

``runs`` also prints each metric's spread, (Q3 - Q1) / median, against
its bound. ``diff`` calls a change "better" only if it wins at least 9 in
10 seed-matched pairs and its median beats the parent's by more than the
parent's interquartile range; "regression" if its median is worse by more
than the bound; "unresolved" if the parent's own spread is wider than the
bound (unless every change run beats every parent run); else "same".
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def load_spec(tree: str = ROOT) -> dict:
    with open(os.path.join(tree, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_one(tree: str, workload: str, seed: int, seconds: int, out: str) -> dict:
    """Run the benchmark untraced once in ``tree``; save and return its
    result."""
    spec = load_spec(tree)
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=tree, capture_output=True, text=True,
                          timeout=900)
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
    record = {"workload": workload, "seed": seed,
              "returncode": proc.returncode, "result": result}
    os.makedirs(out, exist_ok=True)
    name = f"{workload}-s{seed}.json"
    with open(os.path.join(out, name), "w") as fh:
        json.dump(record, fh)
    if result is None:
        print(proc.stderr[-3000:], file=sys.stderr)
    return record


def load_runs(out: str) -> dict:
    """{workload: {seed: result}} from a ``runs`` directory."""
    runs: dict = {}
    for path in sorted(glob.glob(os.path.join(out, "*.json"))):
        with open(path) as fh:
            rec = json.load(fh)
        if rec.get("result"):
            runs.setdefault(rec["workload"], {})[rec["seed"]] = rec["result"]
    return runs


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        v = values[0] if values else 0.0
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread_report(out: str, spec: dict) -> None:
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    for workload, by_seed in sorted(load_runs(out).items()):
        bad = sum(not r["correct"] for r in by_seed.values())
        print(f"{workload}: {len(by_seed)} runs, {bad} incorrect")
        for name, bound in bounds.items():
            vals = [r["metrics"][name]["value"] for r in by_seed.values()]
            q1, q2, q3 = quartiles(vals)
            spread = (q3 - q1) / q2 if q2 else float("inf")
            flag = "ok" if spread <= bound / 3 else ("WIDE" if spread > bound else "near")
            print(f"  {name:16s} median {q2:12.4f}  spread {spread:6.3f}"
                  f"  bound {bound:.2f}  {flag}")


def verdict(parent: list[float], change: list[float], pairs: list[tuple],
            higher: bool, bound: float) -> tuple[str, float]:
    """(verdict, fraction of pairs the change won)."""
    sign = 1 if higher else -1
    wins = sum(1 for p, c in pairs if sign * (c - p) > 0)
    frac = wins / len(pairs) if pairs else 0.0
    p1, pm, p3 = quartiles(parent)
    cm = quartiles(change)[1]
    gain = sign * (cm - pm)
    if not pm or (p3 - p1) / pm > bound:
        beats_all = (min(change) > max(parent)) if higher else (max(change) < min(parent))
        return ("better" if beats_all else "unresolved"), frac
    if frac >= 0.9 and gain > (p3 - p1):
        return "better", frac
    if -gain > bound * pm:
        return "regression", frac
    return "same", frac


def diff(parent_dir: str, change_dir: str, spec: dict) -> None:
    metrics = {m["name"]: m for m in spec["end_to_end"]}
    parent, change = load_runs(parent_dir), load_runs(change_dir)
    print(f"{'workload':14s} {'metric':16s} {'parent q1/med/q3':>32s} "
          f"{'change q1/med/q3':>32s} {'won':>5s}  verdict")
    for workload in sorted(set(parent) & set(change)):
        p_runs, c_runs = parent[workload], change[workload]
        seeds = sorted(set(p_runs) & set(c_runs))
        for name, m in metrics.items():
            pv = [r["metrics"][name]["value"] for r in p_runs.values()]
            cv = [r["metrics"][name]["value"] for r in c_runs.values()]
            pairs = [(p_runs[s]["metrics"][name]["value"],
                      c_runs[s]["metrics"][name]["value"]) for s in seeds]
            v, frac = verdict(pv, cv, pairs, m["better"] == "higher", m["bound"])
            pq = "/".join(f"{x:.4g}" for x in quartiles(pv))
            cq = "/".join(f"{x:.4g}" for x in quartiles(cv))
            print(f"{workload:14s} {name:16s} {pq:>32s} {cq:>32s} {frac:5.2f}  {v}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    for name in ("runs", "pairs"):
        p = sub.add_parser(name)
        p.add_argument("--out", required=True)
        p.add_argument("--seeds", default="1-10")
        p.add_argument("--workloads", default=None)
        if name == "runs":
            p.add_argument("--tree", default=ROOT)
        else:
            p.add_argument("--parent", required=True)
            p.add_argument("--change", required=True)
    p = sub.add_parser("diff")
    p.add_argument("parent_dir")
    p.add_argument("change_dir")
    args = ap.parse_args()

    if args.cmd == "diff":
        diff(args.parent_dir, args.change_dir, load_spec())
        return 0
    tree = args.tree if args.cmd == "runs" else args.change
    spec = load_spec(tree)
    names = (args.workloads.split(",") if args.workloads
             else [w["name"] for w in spec["workloads"]])
    for i, seed in enumerate(_seeds(args.seeds)):
        for workload in names:
            if args.cmd == "runs":
                sides = [(args.tree, "")]
            else:
                sides = [(args.parent, "parent/"), (args.change, "change/")]
                if i % 2:
                    sides.reverse()
            for tree_i, tag in sides:
                rec = run_one(tree_i, workload, seed, spec["run_seconds"],
                              os.path.join(args.out, tag))
                ok = rec["result"] and rec["result"]["correct"]
                print(f"{tag}{workload} seed {seed}: "
                      f"{'ok' if ok else 'FAILED'}", file=sys.stderr)
    if args.cmd == "runs":
        spread_report(args.out, spec)
    else:
        diff(os.path.join(args.out, "parent"), os.path.join(args.out, "change"), spec)
    return 0


if __name__ == "__main__":
    sys.exit(main())
