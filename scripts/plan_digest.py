"""Plan-digest ledger: one fingerprint line per registered key.

Round-over-round plan regressions (an extra shuffle, a window losing its
partitioning, a Python stage appearing in a JVM-only op) currently surface
only if a targeted test in tests/test_plans.py happens to pin that key.
This script makes the WHOLE inventory diffable: it builds every
non-streaming key at the given SF and digests the returned plan without
running it, writing a JSON map

    key -> {xh, xr, x1, bc, sort, wscg, py, bnlj, cart}

      xh/xr/x1  Exchange hashpartitioning / rangepartitioning / SinglePartition
      bc        BroadcastExchange
      sort      Sort operators
      wscg      WholeStageCodegen spans
      py        Python boundaries (MapInPandas / FlatMapGroupsInPandas /
                ArrowEval / BatchEval / MapInArrow / PythonUDTF)
      bnlj/cart BroadcastNestedLoopJoin / CartesianProduct (should be ~0/0;
                the allowlisted 1-row-broadcast crosses show up in bnlj)

Counts come from the INITIAL executed plan (pre-AQE — deterministic at plan
time), so the digest is stable. Building a key does run jobs: its eager
probes (count, collect, toPandas) and the upstream stages its lineage cuts
materialize at call time (see session.one_compute_boundary). Only the
returned plan is never run.
Diff the committed PLANS_r{N}.json between rounds: a changed line is either
an intentional plan improvement (commit message should say so) or a
regression the targeted tests missed.

Usage: python scripts/plan_digest.py [sf_dir] [out.json]
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_MARKS = {
    "xh": "Exchange hashpartitioning",
    "xr": "Exchange rangepartitioning",
    "x1": "Exchange SinglePartition",
    "bc": "BroadcastExchange",
    "bnlj": "BroadcastNestedLoopJoin",
    "cart": "CartesianProduct",
}
# word-boundary markers (avoid SortMergeJoin counting as Sort etc.)
_RE_MARKS = {
    # tree prefixes interleave whitespace with ':', '+-', '|' and codegen
    # '*(n)' markers ANY number of times (e.g. ':     +- *(3) Sort [...]'),
    # so the prefix class must admit repeated runs — a single
    # charclass-then-whitespace pattern missed Sorts nested under
    # multi-branch joins (r07 review finding)
    "sort": re.compile(r"^[\s+:|*-]*(?:\(\d+\)\s*)?Sort ", re.MULTILINE),
    "wscg": re.compile(r"WholeStageCodegen"),
    "py": re.compile(
        r"MapInPandas|FlatMapGroupsInPandas|ArrowEvalPython|BatchEvalPython"
        r"|MapInArrow|PythonUDTF|FlatMapGroupsInArrow"
    ),
}


def digest(plan: str) -> dict[str, int]:
    out = {k: plan.count(m) for k, m in _MARKS.items()}
    out.update({k: len(r.findall(plan)) for k, r in _RE_MARKS.items()})
    return out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_path = sys.argv[2] if len(sys.argv) > 2 else "/tmp/plan_digest.json"

    from gvcf_hbase_spark.registry import load_all
    from gvcf_hbase_spark.session import get_spark

    specs = load_all()
    spark = get_spark("plan-digest")
    digests: dict[str, dict[str, int] | str] = {}
    for key in sorted(specs):
        spec = specs[key]
        if "streaming" in spec.tags:
            digests[key] = "streaming: skipped (micro-batch plans are runtime)"
            continue
        try:
            df = spec.fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
            digests[key] = digest(plan)
        except Exception as e:  # noqa: BLE001 — record, keep going
            digests[key] = f"ERR: {type(e).__name__}: {str(e)[:120]}"
    totals = {
        "keys": len(digests),
        "planned": sum(1 for v in digests.values() if isinstance(v, dict)),
        "cartesian_total": sum(
            v["cart"] for v in digests.values() if isinstance(v, dict)
        ),
        "python_stage_keys": sorted(
            k for k, v in digests.items() if isinstance(v, dict) and v["py"]
        ),
    }
    with open(out_path, "w") as f:
        json.dump({"sf_dir": sf_dir, "totals": totals, "plans": digests}, f, indent=1)
    print(json.dumps(totals))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
