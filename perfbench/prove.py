#!/usr/bin/env python3
"""Repeat the benchmark over several seeds and report, per workload and
end-to-end metric, the median and the quartile spread (Q3 - Q1) / median,
next to the metric's bound from BENCHMARK.json.

    python3 perfbench/prove.py --runs 10 [--workloads camera_stream,...] [--out runs.jsonl]

Run from the repository root. Each run's result line is appended to
``--out`` (JSON lines) so two sets of runs can be compared later with
``--compare A.jsonl B.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def spread(values: list[float]) -> tuple[float, float]:
    """(median, (Q3 - Q1) / median) with statistics.quantiles' default."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med


def one(workload: str, seed: int, seconds: int) -> dict:
    cmd = spec()["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", "0",
    ]
    t = time.time()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else {}
    return {"workload": workload, "seed": seed, "rc": p.returncode,
            "wall_s": time.time() - t, **res}


def summarize(rows: list[dict]) -> None:
    bench = spec()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for w in dict.fromkeys(r["workload"] for r in rows):
        runs = [r for r in rows if r["workload"] == w and r.get("metrics")]
        walls = [r["wall_s"] for r in rows if r["workload"] == w]
        bad = [r["seed"] for r in rows if r["workload"] == w and not r.get("correct")]
        print(f"{w}: {len(runs)} runs, wall median {statistics.median(walls):.1f} s"
              f", max {max(walls):.1f} s, incorrect seeds {bad}")
        for name in runs[0]["metrics"] if runs else ():
            vals = [r["metrics"][name]["value"] for r in runs]
            if len(vals) < 2:
                continue
            med, sp = spread(vals)
            b = bounds.get(name)
            flag = "" if b is None or name == "setup_s" or sp < b / 3 else "  <-- above bound/3"
            print(f"  {name:28s} median {med:10.4g}  spread {sp:6.3f}  bound {b}{flag}")


def compare(a_path: str, b_path: str) -> None:
    """Second set's median vs the first's, per workload and metric."""
    bench = spec()
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    a, b = load(a_path), load(b_path)
    for w in dict.fromkeys(r["workload"] for r in a):
        for name in better:
            va = [r["metrics"][name]["value"] for r in a if r["workload"] == w]
            vb = [r["metrics"][name]["value"] for r in b if r["workload"] == w]
            if not va or not vb:
                continue
            ma, mb = statistics.median(va), statistics.median(vb)
            worse = (mb - ma) / ma if better[name] == "lower" else (ma - mb) / ma
            ok = "ok" if worse <= bounds[name] else "WORSE THAN BOUND"
            print(f"{w:16s} {name:16s} {ma:10.4g} -> {mb:10.4g}  worse by {worse:+.3f} {ok}")


def load(path: str) -> list[dict]:
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", help="comma-separated; default all")
    ap.add_argument("--out")
    ap.add_argument("--compare", nargs=2, metavar=("A", "B"))
    args = ap.parse_args()
    if args.compare:
        compare(*args.compare)
        return 0
    bench = spec()
    names = args.workloads.split(",") if args.workloads else [
        w["name"] for w in bench["workloads"]
    ]
    rows = []
    for seed in range(1, args.runs + 1):
        for w in names:
            r = one(w, seed, bench["run_seconds"])
            rows.append(r)
            if args.out:
                with open(args.out, "a") as fh:
                    fh.write(json.dumps(r) + "\n")
            print(f"{w} seed {r['seed']} rc {r['rc']} wall {r['wall_s']:.1f}s "
                  f"correct {r.get('correct')}", file=sys.stderr, flush=True)
    summarize(rows)
    return 0


if __name__ == "__main__":
    sys.exit(main())
