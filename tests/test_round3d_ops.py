"""Semantic micro-tests for the round-3d additions: CUSUM reset/alarm
behavior, Gini closed forms, and Welch t-test symmetry. Oracle hash
comparison runs in test_queries.py; these pin the closed-form behaviors a
hash match alone wouldn't localize.
"""

from __future__ import annotations

import datetime

from tests.conftest import write_documents, write_events, write_table
from gvcf_hbase_spark.registry import load_all

SPECS = load_all()
_ORDERS = (
    "o_orderkey long, o_custkey long, o_orderstatus string, "
    "o_totalprice double, o_orderdate timestamp, o_orderpriority string"
)
_LINEITEM = (
    "l_orderkey long, l_partkey long, l_linenumber long, l_quantity double, "
    "l_extendedprice double, l_discount double, l_tax double, "
    "l_returnflag string, l_linestatus string, l_shipdate timestamp"
)


def test_cusum_resets_and_alarms(spark, tmp_path):
    """Page's recursion hand-unrolled: a dip below target resets the
    statistic to 0 (never negative), sustained drift accumulates linearly
    and crosses the alarm threshold."""
    rows = [(i, i, 1, "view", v, "{}") for i, v in enumerate([60.0, 60.0, 40.0, 70.0, 70.0, 70.0])]
    rows += [(100 + i, i, 2, "view", 100.0, "{}") for i in range(10)]
    sf = write_events(spark, tmp_path, rows)
    out = {r.event_id: (r.cusum_cents, r.drift_flag) for r in SPECS["anomaly_cusum"].fn(spark, sf).collect()}
    # y = 100*value - 5500: +500 +500 -1500 +1500 +1500 +1500
    assert [out[i][0] for i in range(6)] == [500, 1000, 0, 1500, 3000, 4500]
    assert not any(out[i][1] for i in range(6))
    # user 2: y = +4500/event; C = 4500*(t+1); alarm strictly above 20000
    assert out[104] == (22500, True) and out[103][1] is False


def test_gini_closed_forms(spark, tmp_path):
    """Uniform cell → G = 0; one whale + zeros → G = (n-1)/n."""
    d = datetime.datetime(2024, 3, 1)
    rows = [(i, 1, "O", 100.0, d, "UNIFORM") for i in range(25)]
    rows += [(100 + i, 1, "O", 0.0, d, "WHALE") for i in range(24)]
    rows += [(200, 1, "O", 9999.0, d, "WHALE")]
    sf = write_table(spark, tmp_path, "orders", rows, _ORDERS)
    out = {r.pri: (r.n_orders, r.gini_1e6) for r in SPECS["analytics_gini"].fn(spark, sf).collect()}
    assert out["UNIFORM"] == (25, 0)
    assert out["WHALE"] == (25, 960000)  # (n-1)/n = 24/25


def test_ab_ttest_symmetry_and_closed_form(spark, tmp_path):
    """Identical arms → t = 0 with Welch dof = n0+n1-2 = 4; shifted arms
    with equal variance → t = -1/sqrt(2), dof = 2."""
    rows = []
    for i, (v, k) in enumerate([(10.0, 0), (20.0, 0), (30.0, 0), (10.0, 1), (20.0, 1), (30.0, 1)]):
        rows.append((i, i, 1, "same", v, '{"k": %d}' % k))
    for i, (v, k) in enumerate([(10.0, 0), (30.0, 0), (20.0, 1), (40.0, 1)]):
        rows.append((100 + i, i, 2, "shift", v, '{"k": %d}' % k))
    sf = write_events(spark, tmp_path, rows)
    out = {r.event_type: r for r in SPECS["analytics_ab_ttest"].fn(spark, sf).collect()}
    assert (out["same"].t_stat_1e4, out["same"].welch_dof_1e3) == (0, 4000)
    assert (out["shift"].t_stat_1e4, out["shift"].welch_dof_1e3) == (-7071, 2000)
    assert (out["shift"].n0, out["shift"].n1) == (2, 2)


def test_jaccard_neighbors_closed_form(spark, tmp_path):
    """Suppliers 1,2 share parts {10,11}; supplier 1 also has {12},
    supplier 2 also has {13,14}: J(1,2) = 2/(3+4-2) = 0.4."""
    edges = [(10, 1), (11, 1), (12, 1), (10, 2), (11, 2), (13, 2), (14, 2)]
    sf = write_table(
        spark, tmp_path, "lineitem", [(1, p, s) for p, s in edges],
        "l_orderkey long, l_partkey long, l_suppkey long",
    )
    out = [(r.s1, r.s2, r.jaccard_1e6) for r in
           SPECS["graph_jaccard_neighbors"].fn(spark, sf).collect()]
    assert out == [(1, 2, 400000)]


def test_streak_islands(spark, tmp_path):
    """Days {0,1,2, 5,6, 9} → longest 3, n_streaks 3, active 6."""
    rows = [(i, d * 86400 + 10, 1, "view", 1.0) for i, d in enumerate([0, 1, 2, 5, 6, 9])]
    sf = write_events(spark, tmp_path, rows)
    r = SPECS["win_streak_longest"].fn(spark, sf).collect()[0]
    assert (r.n_active_days, r.longest_streak, r.n_streaks) == (6, 3, 3)


def test_seasonal_decompose_identities(spark, tmp_path):
    """Wherever trend is defined: cnt*100 == trend + seasonal + resid
    (additive identity), and edge hours (incomplete centered window)
    carry NULL trend."""
    rows = []
    eid = 0
    for hr in range(24):
        for j in range(1 + (hr % 3)):  # varying hourly counts
            rows.append((eid, hr * 3600 + 60 * j, 1, "view", 1.0))
            eid += 1
    sf = write_events(spark, tmp_path, rows)
    out = SPECS["ts_seasonal_decompose"].fn(spark, sf).collect()
    assert len(out) == 24
    for r in sorted(out, key=lambda r: r.hr):
        if r.trend_1e2 is None:
            assert r.hr < 3 or r.hr > 20  # only the 3-row edges
            assert r.resid_1e2 is None
        else:
            assert r.cnt * 100 == r.trend_1e2 + r.seasonal_1e2 + r.resid_1e2


def test_boilerplate_ngrams_threshold(spark, tmp_path):
    """A 5-gram shared by 2 of 4 docs in a source (50% ≥ 30%) is
    boilerplate; a unique tail is not; a doc from another source with
    the SAME gram is untouched (threshold is per-source)."""
    shared = "one two three four five"
    rows = [
        (shared + " aaa bbb", "s1"),      # 4 grams: 2 bp (positions 1-2... )
        (shared + " ccc ddd", "s1"),
        ("xxx yyy zzz www vvv uuu", "s1"),
        ("ppp qqq rrr sss ttt", "s1"),
        (shared, "s2"),                    # sole doc in s2: 100% >= 30%
    ]
    sf = write_documents(spark, tmp_path, [(t, "en", src) for t, src in rows])
    out = {r.doc_id: r for r in SPECS["curate_boilerplate_ngrams"].fn(spark, sf).collect()}
    # doc 0: tokens = 7 -> 3 grams; only the first gram (the shared 5) is
    # common to docs 0 and 1 => 1 boilerplate of 3
    assert (out[0].n_grams, out[0].n_boilerplate) == (3, 1)
    assert out[2].n_boilerplate == 0
    assert out[4].n_boilerplate == 1  # sole-doc source: its gram is 100%


def test_winsorize_clips_and_flags(spark, tmp_path):
    """21 values 0..20: p05 = 1.0, p95 = 19.0 exactly (index formula on
    n=21) — 0 clips up to 1, 20 clips down to 19, 10 unchanged."""
    rows = [(i, i, 1, "t", float(i)) for i in range(21)]
    sf = write_events(spark, tmp_path, rows)
    out = {r.event_id: (r.clipped_1e4, r.was_clipped) for r in
           SPECS["curate_winsorize"].fn(spark, sf).collect()}
    assert out[0] == (1_0000, True)     # clipped up to 100 cents = 1.0
    assert out[20] == (19_0000, True)
    assert out[10] == (10_0000, False)


def test_mad_flags_outlier_not_mean_dragged(spark, tmp_path):
    """9 values near 10 plus one at 1000: MAD flags only the spike.
    zscore with the dragged mean/std would see z≈2.85 < 2.5σ? — the
    robust detector must flag it regardless."""
    vals = [9.0, 9.5, 10.0, 10.0, 10.0, 10.5, 10.5, 11.0, 11.0, 1000.0]
    rows = [(i, i, 1, "t", v) for i, v in enumerate(vals)]
    sf = write_events(spark, tmp_path, rows)
    out = SPECS["anomaly_mad"].fn(spark, sf).collect()
    assert [r.event_id for r in out] == [9]


def test_pareto_shares_sum_and_order(spark, tmp_path):
    """10 customers with revenue 10..1 → one per decile, shares are
    rev/55, cumulative share hits exactly 1e6 at decile 10."""
    import datetime
    d = datetime.datetime(2024, 1, 1)
    rows = [(i, i, "O", float(11 - (i + 1)), d, "P") for i in range(10)]
    sf = write_table(spark, tmp_path, "orders", rows, _ORDERS)
    out = {r.decile: r for r in SPECS["analytics_pareto_share"].fn(spark, sf).collect()}
    assert len(out) == 10 and all(out[i].n_customers == 1 for i in out)
    assert out[1].revenue_cents == 1000  # top decile = richest customer
    assert out[1].share_1e6 == round(1000 / 5500 * 1e6)
    assert out[10].cum_share_1e6 == 1_000_000


def test_canonical_select_keeps_longest(spark, tmp_path):
    """Two near-dup docs cluster; the longer one is kept. A singleton
    is its own cluster and kept."""
    a = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [(a, "s"), (a + " iota", "s"), ("totally different words here now", "s")]
    sf = write_documents(spark, tmp_path, [(t, "en", src) for t, src in rows])
    out = {r.doc_id: (r.cluster_id, r.keep) for r in
           SPECS["dedup_canonical_select"].fn(spark, sf).collect()}
    assert out[0] == (0, False) and out[1] == (0, True)  # longer doc 1 kept
    assert out[2] == (2, True)


def test_profile_flags_dups_and_domain_violations(spark, tmp_path):
    import datetime
    d = datetime.datetime(1995, 6, 1)
    rows = [
        (1, 1, 1, 5.0, 100.0, 0.05, 0.0, "N", "O", d),
        (1, 1, 2, 5.0, 100.0, 0.05, 0.0, "N", "O", d),
        (1, 1, 2, -3.0, 100.0, 1.50, 0.0, "N", "O", d),  # dup key + bad qty + bad disc
    ]
    write_table(spark, tmp_path, "lineitem", rows, _LINEITEM)
    r = SPECS["profile_table_quality"].fn(spark, str(tmp_path)).collect()[0]
    assert (r.n_rows, r.n_distinct_keys, r.n_key_dups) == (3, 2, 1)
    assert (r.n_nonpos_qty, r.n_bad_discount) == (1, 1)
    assert r.min_ship_us == r.max_ship_us


def test_keyword_topk_distinguishes_sources(spark, tmp_path):
    """A term exclusive to one source outranks shared vocabulary; terms
    present in every source get idf 0 and never surface above it."""
    rows = [
        ("shared shared shared unique1 unique1", "s1"),
        ("shared shared shared unique2", "s2"),
    ]
    sf = write_documents(spark, tmp_path, [(t, "en", src) for t, src in rows])
    out = {(r.source, r.rnk): (r.term, r.score_1e6) for r in
           SPECS["text_keyword_topk"].fn(spark, sf).collect()}
    import math
    assert out[("s1", 1)] == ("unique1", round(2 * math.log(2) * 1e6))
    assert out[("s2", 1)][0] == "unique2"
    assert out[("s1", 2)][1] == 0  # 'shared' in both sources: idf = ln(1) = 0


def test_byte_histogram_conservation(spark, tmp_path):
    """Histogram counts sum to total corpus bytes; a known tiny corpus
    yields exact per-byte counts."""
    rows = [("aab", "s"), ("b c", "s")]
    sf = write_documents(spark, tmp_path, [(t, "en", src) for t, src in rows])
    out = {r.byte: r.cnt for r in SPECS["multimodal_byte_histogram"].fn(spark, sf).collect()}
    assert out == {ord("a"): 2, ord("b"): 2, ord(" "): 1, ord("c"): 1}
    assert sum(out.values()) == len("aab") + len("b c")


def test_pattern_match_contiguity(spark, tmp_path):
    """v->c->p strictly consecutive matches; an interleaved error event
    breaks contiguity (the CEP semantics, vs the funnel's anywhere
    chain); overlapping candidates each report their own start."""
    rows = [(0, 0, 1, "view", 1.0), (1, 10, 1, "click", 1.0), (2, 20, 1, "purchase", 1.0)]
    rows += [(10, 0, 2, "view", 1.0), (11, 10, 2, "click", 1.0),
             (12, 20, 2, "error", 1.0), (13, 30, 2, "purchase", 1.0)]
    sf = write_events(spark, tmp_path, rows)
    out = [(r.start_event_id, r.user_id, r.span_us) for r in
           SPECS["analytics_pattern_match"].fn(spark, sf).collect()]
    assert out == [(0, 1, 20_000_000)]


def test_masking_deterministic_and_join_safe(spark):
    """The pseudonym is stable across invocations (join-safe) and
    distinct per customer; banding rounds half away from zero on both
    signs."""
    from tests.conftest import SF_DIR

    a = {r.c_custkey: r.masked_name for r in SPECS["fn_data_masking"].fn(spark, SF_DIR).collect()}
    b = {r.c_custkey: r.masked_name for r in SPECS["fn_data_masking"].fn(spark, SF_DIR).collect()}
    assert a == b
    assert len(set(a.values())) == len(a)  # no token collisions at this scale
    bands = {r.c_custkey: r.balance_band for r in SPECS["fn_data_masking"].fn(spark, SF_DIR).collect()}
    assert all(v % 100 == 0 for v in bands.values())


def test_session_rollup_boundaries(spark, tmp_path):
    """Events at 0s, 100s, then 1900s (>=30 min gap) → two sessions:
    first spans 100s with 2 events, second is a singleton."""
    rows = [(0, 0, 1, "view", 1.0), (1, 100, 1, "view", 2.0), (2, 1900, 1, "view", 3.0)]
    sf = write_events(spark, tmp_path, rows)
    out = {r.session_id: r for r in SPECS["win_session_rollup"].fn(spark, sf).collect()}
    assert len(out) == 2
    assert (out[1].n_events, out[1].duration_us, out[1].total_cents) == (2, 100_000_000, 300)
    assert (out[2].n_events, out[2].duration_us) == (1, 0)


def test_budget_select_greedy_cut(spark, tmp_path):
    """Docs with quality 1.0 (all-distinct tokens) fill the budget in
    doc_id order until the running total crosses 10k tokens; the first
    doc past the boundary is rejected."""
    rows = []
    for i in range(4):
        toks = [f"w{i}_{j}" for j in range(4000)]  # 4000 distinct tokens
        rows.append((" ".join(toks), "s"))
    sf = write_documents(spark, tmp_path, [(t, "en", src) for t, src in rows])
    out = {r.doc_id: (r.cum_tokens, r.selected) for r in
           SPECS["curate_budget_select"].fn(spark, sf).collect()}
    assert out[0] == (4000, True) and out[1] == (8000, True)
    assert out[2] == (12000, False) and out[3] == (16000, False)


def test_forecast_seasonal_naive_closed_form(spark, tmp_path):
    """3 train days with counts 1,2,3 at hour 0 → forecast 2.00; holdout
    day has 5 events at hour 0 → abs error 3.00. An hour active only in
    train scores actual 0."""
    rows = []
    eid = 0
    for day, n in [(0, 1), (1, 2), (2, 3)]:
        for j in range(n):
            rows.append((eid, day * 86400 + j, 1, "view", 1.0)); eid += 1
    # train-only hour 5 on day 0
    rows.append((eid, 5 * 3600, 1, "view", 1.0)); eid += 1
    # holdout day 3: 5 events at hour 0
    for j in range(5):
        rows.append((eid, 3 * 86400 + j, 1, "view", 1.0)); eid += 1
    sf = write_events(spark, tmp_path, rows)
    out = {r.hod: r for r in SPECS["ts_forecast_seasonal_naive"].fn(spark, sf).collect()}
    assert (out[0].forecast_1e2, out[0].actual, out[0].abs_err_1e2) == (200, 5, 300)
    assert (out[5].forecast_1e2, out[5].actual) == (100, 0)


def test_wilson_interval_bounds(spark, tmp_path):
    """k=n (all converted): Wilson hi = 1 exactly, lo = n/(n+z²) — both
    inside [0,1], unlike Wald's degenerate zero-width band; rate is
    monotone inside the interval."""
    rows = [(i, i, i, "t", 20.0) for i in range(4)]  # 4 users, all > 15
    sf = write_events(spark, tmp_path, rows)
    r = SPECS["analytics_rate_wilson"].fn(spark, sf).collect()[0]
    assert (r.n_users, r.n_converted, r.rate_1e6) == (4, 4, 1_000_000)
    assert r.wilson_hi_1e6 == 1_000_000
    lo_expected = round(4 / (4 + 3.8416) * 1e6)  # p=1 ⇒ lo = n/(n+z²)
    assert abs(r.wilson_lo_1e6 - lo_expected) <= 1
    assert 0 < r.wilson_lo_1e6 < r.rate_1e6 <= r.wilson_hi_1e6


def test_geometric_mean_closed_form(spark, tmp_path):
    """Prices 1.00 and 100.00 → geometric mean exactly 10.00 (1000
    cents): exp(avg(ln)) on exact cents, floor-quantized."""
    import datetime
    d = datetime.datetime(1995, 1, 1)
    rows = [
        (1, 1, 1, 1.0, 1.0, 0.0, 0.0, "A", "O", d),
        (1, 1, 2, 1.0, 100.0, 0.0, 0.0, "A", "O", d),
    ]
    write_table(spark, tmp_path, "lineitem", rows, _LINEITEM)
    r = SPECS["agg_geometric_mean"].fn(spark, str(tmp_path)).collect()[0]
    # cents 100 and 10000: geo mean 1000 cents -> x100 fixed point
    assert (r.n, r.geo_mean_1e2) == (2, 100_000)


def test_point_in_time_join_versions(spark, tmp_path):
    """Purchases at t=10 (v), t=30 (v') version the user's state: a click
    at t=5 predates all versions (dropped — no leakage), t=15 sees v,
    t=35 sees the open current version v'."""
    rows = [
        (1, 10, 7, "purchase", 11.0),
        (2, 30, 7, "purchase", 22.0),
        (3, 5, 7, "click", 0.0),
        (4, 15, 7, "click", 0.0),
        (5, 35, 7, "click", 0.0),
    ]
    sf = write_events(spark, tmp_path, rows)
    out = {r.click_id: (r.version_id, r.state_cents) for r in
           SPECS["join_point_in_time"].fn(spark, sf).collect()}
    assert 3 not in out             # pre-history click never sees a future version
    assert out[4] == (1, 1100)
    assert out[5] == (2, 2200)


def test_csv_corrupt_recovery_split(spark, tmp_path):
    """Custkeys 12,13,14: only 13 (13%13==0) is poisoned → 2 good rows,
    1 quarantined, and the good-row aggregate excludes the bad row's
    value entirely."""
    rows = [(k, f"Customer#{k}", 1, float(k), "BUILDING") for k in (12, 13, 14)]
    write_table(
        spark, tmp_path, "customer", rows,
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double, c_mktsegment string",
    )
    r = SPECS["source_csv_corrupt_recovery"].fn(spark, str(tmp_path)).collect()[0]
    assert (r.n_good, r.n_corrupt) == (2, 1)
    assert r.good_balance_cents == 1200 + 1400
