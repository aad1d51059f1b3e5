#!/usr/bin/env python3
"""Alternating-pair A/B of one perfbench workload: a parent revision
against the working tree.

    python3 tools/perf_ab.py --parent <rev> --workload <name> --pairs <n>
        [--out ab.json]

Run from the repository root. The parent revision is `git archive`d into
a temporary directory; the working tree runs in place. Pair i runs seed
i (from 1) on both sides, the parent first on odd seeds and the change
first on even ones, so a drift in machine speed over the session falls
on both sides alike. Every run is
`python3 perfbench/run.py --workload W --seed s --seconds S --trace 0`
with its own build directory per side, S being BENCHMARK.json's
`run_seconds`.

For each end-to-end metric BENCHMARK.json lists, it prints the median
[Q1, Q3] of each side, how many pairs the change won (by the metric's
`better` direction), and the gap between the medians against the parent's
interquartile range. A gap wider than that IQR, in the better direction,
with the change winning at least 9 pairs in 10, is what a claimed gain
needs. Standard library only.
"""
import argparse
import io
import json
import os
import statistics
import subprocess
import sys
import tarfile
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def archive(rev, dest):
    """Extracts the committed tree of `rev` into `dest`."""
    data = subprocess.run(["git", "-C", str(ROOT), "archive", "--format=tar", rev],
                          check=True, capture_output=True).stdout
    with tarfile.open(fileobj=io.BytesIO(data)) as t:
        t.extractall(dest)
    return dest


def run(tree, build, workload, seed, seconds):
    """One perfbench run; returns its result line as a dict."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    env = dict(os.environ, CARGO_TARGET_DIR=str(build))
    p = subprocess.run(cmd, cwd=tree, env=env, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"perf_ab: run failed in {tree} (seed {seed}, exit {p.returncode})")
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def summarize(spec, pairs):
    """Prints one line per end-to-end metric; returns them as dicts."""
    rows = []
    for m in spec["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        a = [p["parent"]["metrics"][name]["value"] for p in pairs]
        b = [p["change"]["metrics"][name]["value"] for p in pairs]
        wins = sum((y < x) if lower else (y > x) for x, y in zip(a, b))
        ma, mb = statistics.median(a), statistics.median(b)
        qa, qb = quartiles(a), quartiles(b)
        iqr = qa[1] - qa[0]
        gain = (ma - mb) if lower else (mb - ma)
        rel = (mb - ma) / ma if ma else 0.0
        rows.append({"metric": name, "parent_median": ma, "parent_q": qa,
                     "change_median": mb, "change_q": qb, "wins": wins,
                     "pairs": len(pairs), "gain": gain, "parent_iqr": iqr,
                     "relative": rel, "bound": m["bound"]})
        print(f"{name:<18} parent {ma:10.4f} [{qa[0]:.4f}, {qa[1]:.4f}]  "
              f"change {mb:10.4f} [{qb[0]:.4f}, {qb[1]:.4f}]  "
              f"{rel:+7.1%} (bound {m['bound']:.0%})  wins {wins}/{len(pairs)}  "
              f"gain {gain:+.4f} vs parent IQR {iqr:.4f}"
              f"{'  beyond IQR' if gain > iqr else ''}")
    return rows


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True, help="revision of the baseline side")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--out", help="write every run's result and the summary here as JSON")
    a = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        raise SystemExit(f"perf_ab: unknown workload {a.workload}")
    with tempfile.TemporaryDirectory(prefix="perf_ab_") as tmp:
        tmp = Path(tmp)
        trees = {"parent": archive(a.parent, tmp / "parent"), "change": ROOT}
        pairs = []
        for seed in range(1, a.pairs + 1):
            order = ("parent", "change") if seed % 2 else ("change", "parent")
            pair = {"seed": seed, "first": order[0]}
            for side in order:
                pair[side] = run(trees[side], tmp / f"{side}_build", a.workload,
                                 seed, spec["run_seconds"])
            ok = all(pair[s]["correct"] and pair[s]["failed"] == 0 for s in order)
            print(f"[perf_ab] seed {seed} ({order[0]} first): " + "  ".join(
                f"{s} op_s_p50 {pair[s]['metrics']['op_s_p50']['value']:.4f}"
                for s in ("parent", "change")) + ("" if ok else "  INCORRECT OR FAILED OPS"),
                flush=True)
            pairs.append(pair)
    rows = summarize(spec, pairs)
    if a.out:
        Path(a.out).write_text(json.dumps({
            "workload": a.workload, "parent": a.parent, "change": "working tree",
            "seconds": spec["run_seconds"], "pairs": pairs, "summary": rows}, indent=1) + "\n")


if __name__ == "__main__":
    main()
