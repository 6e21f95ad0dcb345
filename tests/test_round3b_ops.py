"""Semantic micro-tests for the late-round-3 additions: VARIANT
extraction, boolean aggregates, ROLLUP level algebra, perceptual-hash
near-dup banding completeness, nearest as-of tie rules, and the pinned
mode tie-break. Oracle hash comparison runs in test_queries.py; these pin
the closed-form behaviors that a hash match alone wouldn't localize.
"""

from __future__ import annotations

import datetime

import numpy as np
import pyspark.sql.functions as F

from tests.conftest import SF_DIR, DOCUMENTS, write_events, write_table
from gvcf_hbase_spark.registry import load_all

SPECS = load_all()


def test_variant_extracts_typed_and_missing(spark, tmp_path):
    sf = write_events(
        spark, tmp_path, [(1, 0, 1, "a", 0.0)], props='{"k": 42}'
    )
    row = SPECS["fn_variant_json"].fn(spark, sf).collect()[0]
    assert row.k == 42 and row.k_bucket == 2
    assert row.absent is None


def test_bool_logic_closed_form(spark, tmp_path):
    sf = write_events(
        spark,
        tmp_path,
        [
            (1, 0, 1, "a", 5.0),
            (2, 1, 1, "a", 13.0),
            (3, 2, 1, "a", 30.0),
            (4, 0, 1, "b", -1.0),
        ],
    )
    out = {r.event_type: r for r in SPECS["agg_bool_logic"].fn(spark, sf).collect()}
    assert out["a"].n_high == 2 and out["a"].all_nonneg and out["a"].any_extreme
    assert out["b"].n_high == 0 and not out["b"].all_nonneg and not out["b"].any_extreme


def test_rollup_levels_are_consistent(spark):
    """lvl-0 leaf revenues must sum (within rounding) to each lvl-2 flag
    subtotal, and those to the single lvl-3 grand total; row counts add
    exactly."""
    rows = SPECS["agg_rollup"].fn(spark, SF_DIR).collect()
    leaves = [r for r in rows if r.lvl == 0]
    flags = {r.flag: r for r in rows if r.lvl == 1}
    total = [r for r in rows if r.lvl == 3]
    assert len(total) == 1
    assert sum(r.n for r in leaves) == total[0].n
    for f, fr in flags.items():
        mine = [r for r in leaves if r.flag == f]
        assert sum(r.n for r in mine) == fr.n
        assert abs(sum(r.revenue for r in mine) - fr.revenue) < 0.05 * len(mine)
    assert not [r for r in rows if r.lvl == 2]  # ROLLUP has no (status)-only level


def test_phash_banding_recall_is_exact(spark, tmp_path):
    """Candidate banding must find EVERY hamming≤3 pair: brute-force the
    signatures of a corpus of near-identical texts (single-char edits →
    small hamming distances) and compare pair sets."""
    base = " ".join(f"w{i % 17}" for i in range(300))
    texts = [(i, base[:i] + ("#" * (i % 3)) + base[i:]) for i in range(0, 40, 2)]
    write_table(
        spark, tmp_path, "documents", [(i, t, "en", "unit", len(t)) for i, t in texts], DOCUMENTS
    )
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in SPECS["multimodal_phash_neardup"].fn(spark, str(tmp_path)).collect()
    }

    def sig(t: str) -> int:
        b = np.frombuffer(t.encode(), dtype=np.uint8).astype(np.int64)
        n = len(b)
        cs = np.concatenate([[0], np.cumsum(b)])
        total = int(cs[-1])
        bits = 0
        for i in range(64):
            s = int(cs[(i + 1) * n // 64] - cs[i * n // 64])
            if s * 64 > total:
                bits |= 1 << i
        return bits

    sigs = {i: sig(t) for i, t in texts}
    ids = sorted(sigs)
    expected = {}
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            h = bin(sigs[ids[x]] ^ sigs[ids[y]]).count("1")
            if h <= 3:
                expected[(ids[x], ids[y])] = h
    assert got == expected
    assert expected, "fixture must produce at least one near-dup pair"


def test_asof_nearest_prefers_backward_on_tie(spark, tmp_path):
    """purchase at t=100 with clicks at 90 and 110 (equidistant) → the
    backward click wins; a purchase before any click matches forward; a
    user with no clicks keeps NULL."""
    sf = write_events(
        spark,
        tmp_path,
        [
            (1, 90, 1, "click", 0.0),
            (2, 100, 1, "purchase", 1.0),
            (3, 110, 1, "click", 0.0),
            (4, 50, 2, "purchase", 1.0),
            (5, 60, 2, "click", 0.0),
            (6, 10, 3, "purchase", 1.0),
        ],
    )
    out = {
        r.purchase_id: r.nearest_click_ts_us
        for r in SPECS["join_asof_nearest"].fn(spark, sf).collect()
    }
    base = int(
        datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc).timestamp() * 1e6
    )
    assert out[2] == base + 90 * 1_000_000  # tie -> backward
    assert out[4] == base + 60 * 1_000_000  # forward-only match
    assert out[6] is None  # no click at all


def test_mode_tie_breaks_to_smallest_value(spark, tmp_path):
    """Buckets 3 and 7 both occur twice → mode must be 3 (n desc, v asc)."""
    sf = write_events(
        spark,
        tmp_path,
        [
            (1, 0, 1, "a", 0.30),
            (2, 1, 1, "a", 0.31),
            (3, 2, 1, "a", 0.70),
            (4, 3, 1, "a", 0.71),
            (5, 4, 1, "a", 0.50),
        ],
    )
    out = SPECS["agg_mode_deterministic"].fn(spark, sf).collect()
    assert len(out) == 1 and out[0].mode_bucket == 3 and out[0].n == 2
