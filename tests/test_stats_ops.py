"""Closed-form semantic tests for the statistical-test family
(operators/stats.py) and the round-4 analytics additions — constructed
inputs whose chi-square / U / F / Kaplan–Meier values are hand-computable,
exercised through the registered query functions exactly as the driver
runs them."""

from __future__ import annotations

from tests.conftest import SF_DIR, write_events
from gvcf_hbase_spark.registry import load_all

SPECS = load_all()

_DAY = 86_400  # seconds


def test_chi_square_balanced_table_is_zero(spark, tmp_path):
    """Perfectly balanced 2x2 contingency (5 per cell): O == E in every
    cell, so chi2 == 0 and dof == 1."""
    rows = []
    i = 0
    for et in ("a", "b"):
        for k in (0, 1):  # grp = k % 2
            for _ in range(5):
                rows.append((i, i, i, et, 1.0, f'{{"k": {k}}}'))
                i += 1
    sf = write_events(spark, tmp_path, rows)
    r = SPECS["analytics_chi_square"].fn(spark, sf).collect()[0]
    assert (r.n, r.n_types, r.n_grps, r.dof) == (20, 2, 2, 1)
    assert r.chi2_1e6 == 0


def test_chi_square_perfect_association_equals_n(spark, tmp_path):
    """2x2 with all of type a in cohort 0 and all of type b in cohort 1:
    phi == 1, so chi2 == n (the zero cells contribute their full E)."""
    rows = [(i, i, i, "a", 1.0, '{"k": 0}') for i in range(10)]
    rows += [(10 + i, 10 + i, 10 + i, "b", 1.0, '{"k": 1}') for i in range(10)]
    sf = write_events(spark, tmp_path, rows)
    r = SPECS["analytics_chi_square"].fn(spark, sf).collect()[0]
    assert r.dof == 1
    assert r.chi2_1e6 == 20_000_000  # chi2 == n == 20


def test_mann_whitney_identical_samples(spark, tmp_path):
    """click and view carry the same multiset {1,2,3}: U == n1*n2/2
    exactly (u_doubled == n1*n2) and z == 0."""
    rows = []
    i = 0
    for et in ("click", "view"):
        for v in (1.0, 2.0, 3.0):
            rows.append((i, i, i, et, v, "{}"))
            i += 1
    sf = write_events(spark, tmp_path, rows)
    r = SPECS["analytics_mann_whitney"].fn(spark, sf).collect()[0]
    assert (r.n1, r.n2) == (3, 3)
    assert r.u_doubled == 9  # == n1 * n2
    assert r.z_1e4 == 0


def test_mann_whitney_total_separation(spark, tmp_path):
    """Every click value above every view value: U1 == n1*n2 (doubled:
    2*n1*n2), no ties, z > 0."""
    rows = [(i, i, i, "view", float(i), "{}") for i in range(4)]
    rows += [(4 + i, 4 + i, 4 + i, "click", 100.0 + i, "{}") for i in range(4)]
    sf = write_events(spark, tmp_path, rows)
    r = SPECS["analytics_mann_whitney"].fn(spark, sf).collect()[0]
    assert r.u_doubled == 2 * 4 * 4
    assert r.tie_term == 0
    assert r.z_1e4 > 0


def test_anova_known_f_and_degenerate_guard(spark, tmp_path):
    """Groups a={0,2}, b={2,4} (dollars -> cents 0/200/200/400):
    SSB = 40000 cents^2, SSW = 40000, F = (40000/1)/(40000/2) = 2."""
    rows = [(0, 0, 0, "a", 0.0, "{}"), (1, 1, 1, "a", 2.0, "{}"),
            (2, 2, 2, "b", 2.0, "{}"), (3, 3, 3, "b", 4.0, "{}")]
    sf = write_events(spark, tmp_path, rows)
    r = SPECS["analytics_anova"].fn(spark, sf).collect()[0]
    assert (r.n_groups, r.n) == (2, 4)
    assert r.ss_between_1e3 == 40_000_000
    assert r.ss_within_1e3 == 40_000_000
    assert r.f_stat_1e4 == 20_000

    # all-constant input: zero within-variance must yield NULL F, not a
    # divide-by-zero abort (the anomaly_mad ANSI lesson)
    rows = [(i, i, i, "a" if i < 2 else "b", 5.0, "{}") for i in range(4)]
    sf = write_events(spark, tmp_path, rows)
    r = SPECS["analytics_anova"].fn(spark, sf).collect()[0]
    assert r.ss_within_1e3 == 0
    assert r.f_stat_1e4 is None


def test_kaplan_meier_textbook_curve(spark, tmp_path):
    """4 users: purchase day 1, censored day 1, purchase day 2, censored
    day 3. KM: S(1) = 3/4; at day 2 the at-risk set is 2 (one event + one
    censor left), S(2) = 0.75 * 0.5 = 0.375."""
    rows = [
        (0, 0, 1, "view", 1.0, "{}"), (1, _DAY, 1, "purchase", 1.0, "{}"),
        (2, 0, 2, "view", 1.0, "{}"), (3, _DAY, 2, "view", 1.0, "{}"),
        (4, 0, 3, "view", 1.0, "{}"), (5, 2 * _DAY, 3, "purchase", 1.0, "{}"),
        (6, 0, 4, "view", 1.0, "{}"), (7, 3 * _DAY, 4, "view", 1.0, "{}"),
    ]
    sf = write_events(spark, tmp_path, rows)
    out = {r.duration_days: r for r in SPECS["analytics_survival_km"].fn(spark, sf).collect()}
    assert set(out) == {1, 2}
    assert (out[1].n_risk, out[1].n_events, out[1].n_censored) == (4, 1, 1)
    assert out[1].survival_1e6 == 750_000
    assert (out[2].n_risk, out[2].n_events) == (2, 1)
    assert out[2].survival_1e6 == 375_000


def test_funnel_window_expires_stale_steps(spark, tmp_path):
    """u1: click 1d after view (in window) but purchase 10d after click
    (expired) -> stage 2. u2: click 8d after view (expired) -> stage 1.
    u3: full chain 1d apart -> stage 3."""
    rows = [
        (0, 0, 1, "view", 1.0, "{}"), (1, _DAY, 1, "click", 1.0, "{}"),
        (2, 11 * _DAY, 1, "purchase", 1.0, "{}"),
        (3, 0, 2, "view", 1.0, "{}"), (4, 8 * _DAY, 2, "click", 1.0, "{}"),
        (5, 0, 3, "view", 1.0, "{}"), (6, _DAY, 3, "click", 1.0, "{}"),
        (7, 2 * _DAY, 3, "purchase", 1.0, "{}"),
    ]
    sf = write_events(spark, tmp_path, rows)
    stages = {r.user_id: r.funnel_stage
              for r in SPECS["funnel_time_window"].fn(spark, sf).collect()}
    assert stages == {1: 2, 2: 1, 3: 3}


def test_funnel_window_never_exceeds_unconstrained(spark):
    """The gap constraint can only drop matches: per user, windowed
    stage <= unconstrained funnel_steps stage on the shared fixture."""
    free = {r.user_id: r.funnel_stage
            for r in SPECS["funnel_steps"].fn(spark, SF_DIR).collect()}
    tight = {r.user_id: r.funnel_stage
             for r in SPECS["funnel_time_window"].fn(spark, SF_DIR).collect()}
    assert set(free) == set(tight)
    assert all(tight[u] <= free[u] for u in free)


def test_cohort_ltv_accumulates_per_capita(spark, tmp_path):
    """One cohort of two users: week0 revenue 1+2 dollars, week1 revenue
    3 -> cum 300, 600 cents; per-capita 1e2: 15000, 30000."""
    rows = [
        (0, 0, 1, "view", 1.0, "{}"),
        (1, 3600, 2, "view", 2.0, "{}"),
        (2, 7 * _DAY, 1, "view", 3.0, "{}"),
    ]
    sf = write_events(spark, tmp_path, rows)
    out = sorted(SPECS["analytics_cohort_ltv"].fn(spark, sf).collect(),
                 key=lambda r: r.age_weeks)
    assert [r.age_weeks for r in out] == [0, 1]
    assert [r.revenue_cents for r in out] == [300, 300]
    assert [r.cum_revenue_cents for r in out] == [300, 600]
    assert [r.n_users for r in out] == [2, 2]
    assert [r.ltv_per_user_1e2 for r in out] == [15_000, 30_000]
