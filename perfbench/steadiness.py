"""Steadiness record: repeated runs of ``run.py`` and the bounds they support.

Runs ``--sets`` sets of ``--runs`` untraced runs per workload (one seed per
run, workloads interleaved so host noise falls on both alike) and writes,
for every end-to-end metric, each set's values, median, quartiles and
spread (interquartile distance over median, as
``statistics.quantiles(values, n=4)`` gives the quartiles), whether the
values repeat exactly, the drift of the set medians, and the bound the
record supports: three times the largest spread or the largest drift,
whichever is larger, and at least 0.01. ``fits`` says whether the metric's
bound in ``BENCHMARK.json`` covers that; the spread of ``setup_s`` is left
out of it, as the bound gates only its median. The record also keeps the
``BENCHMARK.json`` it was made with.

    python3 perfbench/steadiness.py --sets 2 --runs 10 --out perfbench/steadiness.json
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


def one_run(workload: str, seed: int, seconds: int) -> dict:
    t0 = time.perf_counter()
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, check=True,
    ).stdout.strip().splitlines()
    return {"workload": workload, "seed": seed, "wall_s": time.perf_counter() - t0,
            "result": json.loads(out[-1]), "context": json.loads(out[-2])["context"]}


def spread(values: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"values": values, "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0,
            "repeats_exactly": len(set(values)) == 1}


def summarize(runs: list[dict], bench: dict) -> dict:
    """Per workload and metric: each set's spread, the set-median drift
    and the supported bound."""
    out = {}
    for wl in bench["workloads"]:
        name = wl["name"]
        sets = sorted({r["set"] for r in runs if r["workload"] == name})
        per = {}
        for m in bench["end_to_end"]:
            by_set = [spread([r["result"]["metrics"][m["name"]]["value"]
                              for r in runs if r["workload"] == name and r["set"] == s])
                      for s in sets]
            medians = [s["median"] for s in by_set]
            worse = [(b - a) / a if m["better"] == "lower" else (a - b) / a
                     for a in medians for b in medians if a]
            drift = max([0.0] + worse)
            widest = max(s["spread"] for s in by_set)
            gated = drift if m["name"] == "setup_s" else max(3 * widest, drift)
            per[m["name"]] = {
                "sets": by_set,
                "max_spread": widest,
                "max_median_drift": drift,
                "supported_bound": max(0.01, 3 * widest, drift),
                "bound": m["bound"],
                "fits": gated <= m["bound"],
            }
        out[name] = {
            "runs": sum(1 for r in runs if r["workload"] == name),
            "run_wall_s": spread([r["wall_s"] for r in runs if r["workload"] == name]),
            "metrics": per,
        }
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    runs = []
    for s in range(args.sets):
        for i in range(args.runs):
            for wl in bench["workloads"]:
                rec = one_run(wl["name"], 1000 * (s + 1) + i, bench["run_seconds"])
                rec["set"] = s
                runs.append(rec)
                print(json.dumps({k: rec[k] for k in ("workload", "seed", "set", "wall_s")}),
                      file=sys.stderr)
    record = {"benchmark": bench, "summary": summarize(runs, bench), "runs": runs}
    with open(args.out, "w") as f:
        json.dump(record, f, indent=1)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
