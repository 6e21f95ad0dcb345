"""Executable plan-ledger gate (r08 verdict action 6).

The plan-digest ledger (PLANS_r{N}.json, written by scripts/plan_digest.py)
was being diffed by eye between rounds; this script makes the diff a
mechanical gate. It exits nonzero on:

  1. a key whose NEW digest contains a CartesianProduct the OLD one
     didn't (cart regressions are never acceptable);
  2. a key that gained a Python stage (py 0 -> >0) without an allowlist
     entry — the Arrow/pandas tier is declared, so a JVM-only op silently
     falling to Python is a plan regression;
  3. ANY other per-key digest change without an allowlist entry — an
     intentional plan improvement must be recorded below with a reason, so
     a future round can't miss a real regression the way a cache artifact
     was nearly missed by eye in r08.

A removed key fails too, unless it has an allowlist entry giving the
reason for the removal; added keys are reported but pass (inventory
growth).

Usage:
    python scripts/plan_gate.py OLD.json NEW.json

The committed-ledger pytest (tests/test_plans.py) runs this gate over the
two newest PLANS_r*.json in the repo root, so `pytest` fails if a round
commits a ledger whose diff vs the prior round is not fully allowlisted.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

# key -> reason. An entry admits ANY digest change for that key for the
# one round-pair being gated; prune entries when the round they describe
# has been judged (stale entries would mask future regressions).
#
# r09 -> r10 (optimization round 2). The r08->r09 entries were pruned per
# the r09 verdict action 7 (that round is judged); every entry below is
# an r10 change, oracle hash-verified at sf0.001+sf0.01 and covered by
# the full sf0.01 driver mirror (0 fails).
ALLOWED_CHANGES: dict[str, str] = {
    "dedup_containment": (
        "r10: bitmap/sgemm third path dispatches at sf0.1 (bounded "
        "vocabulary) — the visible plan is the fwd/rev tail over the "
        "checkpointed candidate set (xh 2->0, bc 2->0; pack/grid/sgemm "
        "stages run inside the boundary RDD, same presentation as r09's "
        "phash boundary); direct path 430 s -> bitmap 13.4 s at sf1"
    ),
    "graph_pagerank": (
        "r10: per-round rank checkpoints dropped (lean union-of-zero-rows "
        "round) — the k=3 recurrence is now VISIBLE in the plan (all-zero "
        "digest behind the last checkpoint -> xh 7, bc 7); same-session "
        "A/B 1.27-2.43 -> 1.02-1.22 s build+action at sf0.1"
    ),
    "curate_segment_dedup": (
        "r10: NULL-text spine filter (ADVICE r09 — restores the oracle's "
        "JOIN-on-n_all drop semantics; fixtures carry no NULL text)"
    ),
    "dedup_near_minhash": (
        "r10: CODE UNTOUCHED — digest is session-history-dependent (its "
        "shingle sets persist() at build, so the sweep ordering decides "
        "which InMemoryRelations are live when it plans; the r10 window "
        "rotation reordered the sweep). Solo fresh-session digest differs "
        "from BOTH ledger readings (bc 6, InMemoryRelation 16) — same "
        "artifact class the r08->r09 allowlist documented for "
        "dedup_minhash_recall"
    ),
    # r10 one-compute boundaries (duplicated-subtree dedup; the r09 belief
    # that AQE ReuseExchange would dedupe these at runtime was measured
    # FALSE-or-partial on executed sf1 plans — see OPTIMIZATION_r10.md):
    "analytics_rfm_segment": (
        "r10: per-user aggregate boundary (was planned ~8x: 25 parquet "
        "scans, 43 distinct stages, only 12 ReusedExchange); 1.91 -> "
        "0.97 s at sf1"
    ),
    "analytics_shapley_attribution": (
        "r10: conv + coalition-value boundaries (broadcast-fed consumers "
        "re-ran the whole log pipeline); 1.63 -> 0.45 s at sf1"
    ),
    "agg_ks_test": (
        "r10: support-relation (diffs) boundary; 0.98 -> 0.24 s at sf1"
    ),
    "funnel_steps": (
        "r10: v/c step-aggregate boundaries; 0.53 -> 0.35 s at sf1, "
        "bench 0.37 -> 0.19 s at sf0.1"
    ),
    "funnel_time_window": (
        "r10: v/c step-aggregate boundaries (same shape as funnel_steps); "
        "0.70 -> 0.30 s at sf1"
    ),
    "analytics_funnel_summary": (
        "r10: v/c step-aggregate boundaries; 1.48 -> 0.60 s at sf1"
    ),
    "analytics_association_lift": (
        "r10: basket + frequency-table boundaries, n_users counted from "
        "the already-distinct basket relation (same value, one less log "
        "scan); 1.62 -> 0.31 s at sf1"
    ),
    "ts_cross_correlation": (
        "r10: hourly-aggregate boundary (was planned 10x — both series "
        "sides x five lag joins); 0.60 -> 0.19 s at sf1"
    ),
    "ts_dominant_period": (
        "r10: hourly-aggregate boundary (4 consumers); 1.14 -> 0.32 s at sf1"
    ),
    "ts_forecast_seasonal_naive": (
        "r10: day/hod-aggregate boundary (3 consumers); 0.69 -> 0.21 s at sf1"
    ),
    "anomaly_seasonal_residual": (
        "r10: residual-relation boundary (decompose pipeline re-ran per "
        "consumer); 1.38 -> 0.24 s at sf1"
    ),
    "text_collocations_pmi": (
        "r10: unigram + bigram aggregate boundaries (u1/u2 broadcast-fed); "
        "1.48 -> 0.10 s at sf1"
    ),
    "graph_triangle_count": (
        "r10: canonical edge-relation boundary (3 consumers); 2.28 -> "
        "1.09 s at sf1"
    ),
    "graph_modularity": (
        "r10: bridged-clique edge-relation boundary in the shared fixture "
        "helper (feeds adj twice + edge-count + intra joins); 1.85 -> "
        "1.10 s at sf1"
    ),
    # Next ledger after r10: one connected-components algorithm.
    "dedup_cluster_cc": (
        "min-label propagation loop replaced by connected_components_lss; "
        "same 477 rows at sf0.1, and LSS raises where the 20-round loop "
        "returned a partial clustering without an error"
    ),
    "dedup_cluster_cc_lss": (
        "dedup_cluster_cc now returns connected_components_lss over the "
        "same pairs, so this key was its exact twin (same builder, same "
        "oracle)"
    ),
}

# (r08->r09 entries pruned per r09 verdict action 7 — see git history.)


def _load(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def gate(old: dict, new: dict) -> tuple[list[str], list[str]]:
    """Return (failures, notes)."""
    fails: list[str] = []
    notes: list[str] = []
    op, np_ = old["plans"], new["plans"]

    for key in sorted(set(op) | set(np_)):
        o, n = op.get(key), np_.get(key)
        if o is None:
            notes.append(f"ADDED {key}: {n}")
            if isinstance(n, dict) and n.get("cart", 0) > 0:
                fails.append(f"{key}: NEW key planned with CartesianProduct: {n}")
            continue
        if n is None:
            if key in ALLOWED_CHANGES:
                notes.append(f"REMOVED {key} ({ALLOWED_CHANGES[key]})")
            else:
                fails.append(f"{key}: REMOVED from ledger without an allowlist entry")
            continue
        if o == n:
            continue
        # digest changed — classify
        if isinstance(n, dict) and isinstance(o, dict):
            if n.get("cart", 0) > o.get("cart", 0):
                fails.append(f"{key}: CartesianProduct regression {o} -> {n}")
                continue
            if n.get("py", 0) > 0 and o.get("py", 0) == 0 and key not in ALLOWED_CHANGES:
                fails.append(f"{key}: gained a Python stage outside the declared tier {o} -> {n}")
                continue
        if key in ALLOWED_CHANGES:
            notes.append(f"ALLOWED {key}: {o} -> {n} ({ALLOWED_CHANGES[key]})")
        else:
            fails.append(f"{key}: unallowlisted digest change {o} -> {n}")
    return fails, notes


def newest_ledgers(repo_root: str) -> tuple[str, str]:
    """The two newest committed PLANS_r{N}.json by round number."""
    paths = glob.glob(os.path.join(repo_root, "PLANS_r*.json"))
    # match on the basename only — a directory component like ".../r2/..."
    # must not win the round-number extraction
    by_round = sorted(
        paths, key=lambda p: int(re.search(r"r(\d+)", os.path.basename(p)).group(1))
    )
    if len(by_round) < 2:
        raise SystemExit("need at least two committed PLANS_r*.json to gate")
    return by_round[-2], by_round[-1]


def main() -> int:
    if len(sys.argv) == 3:
        old_path, new_path = sys.argv[1], sys.argv[2]
    else:
        old_path, new_path = newest_ledgers(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        )
    old, new = _load(old_path), _load(new_path)
    fails, notes = gate(old, new)
    for x in notes:
        print(f"[plan-gate] {x}")
    for x in fails:
        print(f"[plan-gate] FAIL {x}")
    print(
        f"[plan-gate] {old_path} -> {new_path}: "
        f"{len(fails)} failures, {len(notes)} allowed/added"
    )
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
