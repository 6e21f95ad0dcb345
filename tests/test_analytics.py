"""Semantic tests for the event-analytics operators: funnel ordering
rules, retention cohort identities, and the Misra-Gries superset
guarantee under skew (the parquet fixture is uniform, so the sketch's
pruning behavior needs a synthetic skewed corpus).
"""

from __future__ import annotations

import pyspark.sql.functions as F

from tests.conftest import SF_DIR, write_events
from gvcf_hbase_spark.registry import load_all

SPECS = load_all()


def test_funnel_ordering_semantics(spark, tmp_path):
    """Steps must match in strict time order from the EARLIEST view: a
    purchase before the first qualifying click must not count, and a
    click at the exact view timestamp must not count (strict >)."""
    sf = write_events(
        spark,
        tmp_path,
        [
            # u1: full ordered funnel
            (1, 0, 1, "view", 0.0),
            (2, 10, 1, "click", 0.0),
            (3, 20, 1, "purchase", 5.0),
            # u2: purchase BEFORE its click -> stage 2 only
            (4, 0, 2, "view", 0.0),
            (5, 30, 2, "purchase", 5.0),
            (6, 40, 2, "click", 0.0),
            # u3: click at the same instant as the view (not strictly after)
            (7, 0, 3, "view", 0.0),
            (8, 0, 3, "click", 0.0),
            # u4: no view at all
            (9, 0, 4, "click", 0.0),
        ],
    )
    out = {r.user_id: r for r in SPECS["funnel_steps"].fn(spark, sf).collect()}
    assert out[1].funnel_stage == 3
    assert out[2].funnel_stage == 2 and out[2].purchase_us is None
    assert out[3].funnel_stage == 1 and out[3].click_us is None
    assert out[4].funnel_stage == 0


def test_pattern_kleene_semantics(spark, tmp_path):
    """view click+ purchase: maximal click islands, strict contiguity,
    mandatory open/close context, 48 h bound."""
    hours_49 = 49 * 3600
    sf = write_events(
        spark,
        tmp_path,
        [
            # u1: view c c c purchase -> ONE maximal match, n_clicks=3
            (1, 0, 1, "view", 0.0),
            (2, 10, 1, "click", 0.0),
            (3, 20, 1, "click", 0.0),
            (4, 30, 1, "click", 0.0),
            (5, 40, 1, "purchase", 5.0),
            # u2: single click (Kleene+ lower bound)
            (6, 0, 2, "view", 0.0),
            (7, 10, 2, "click", 0.0),
            (8, 20, 2, "purchase", 5.0),
            # u3: no opening view
            (9, 0, 3, "click", 0.0),
            (10, 10, 3, "click", 0.0),
            (11, 20, 3, "purchase", 5.0),
            # u4: no closing purchase
            (12, 0, 4, "view", 0.0),
            (13, 10, 4, "click", 0.0),
            (14, 20, 4, "click", 0.0),
            # u5: view c [view] c purchase -> only the SECOND island matches
            (15, 0, 5, "view", 0.0),
            (16, 10, 5, "click", 0.0),
            (17, 20, 5, "view", 0.0),
            (18, 30, 5, "click", 0.0),
            (19, 40, 5, "purchase", 5.0),
            # u6: contiguity broken by an interleaved scroll
            (20, 0, 6, "view", 0.0),
            (21, 10, 6, "click", 0.0),
            (22, 20, 6, "scroll", 0.0),
            (23, 30, 6, "purchase", 5.0),
            # u7: complete run but outside the 48 h bound
            (24, 0, 7, "view", 0.0),
            (25, 10, 7, "click", 0.0),
            (26, hours_49, 7, "purchase", 5.0),
        ],
    )
    rows = SPECS["analytics_pattern_kleene"].fn(spark, sf).collect()
    by_user = {r.user_id: r for r in rows}
    assert set(by_user) == {1, 2, 5}
    assert by_user[1].n_clicks == 3 and by_user[1].start_event_id == 1
    assert by_user[1].span_us == 40_000_000
    assert by_user[2].n_clicks == 1
    assert by_user[5].n_clicks == 1 and by_user[5].start_event_id == 17


def test_retention_cohort_identities(spark):
    """Week-0 actives of a cohort == cohort size (everyone is active in
    their first week by construction), offsets are non-negative, and the
    sum over a cohort's offsets counts each (user, week) once."""
    rows = SPECS["agg_retention_cohort"].fn(spark, SF_DIR).collect()
    assert rows
    week0 = {r.cohort_week: r.active_users for r in rows if r.week_offset == 0}
    assert all(r.week_offset >= 0 for r in rows)
    # every cohort must have a week-0 row, and it must be its max row
    per_cohort_max = {}
    for r in rows:
        per_cohort_max[r.cohort_week] = max(
            per_cohort_max.get(r.cohort_week, 0), r.active_users
        )
    for cw, mx in per_cohort_max.items():
        assert cw in week0
        assert week0[cw] == mx


def test_heavy_hitters_exact_under_skew(spark, tmp_path, monkeypatch):
    """With 300 distinct users and capacity 16 (forcing real MG
    evictions), the candidate+verify pipeline must still return EXACTLY
    the true heavy hitters — the superset guarantee needs capacity ≥ k,
    so k is lowered to 8 (> 1/8 of events ≡ the two planted whales)."""
    from gvcf_hbase_spark.operators import analytics

    rows = []
    eid = 0
    # two whales: 400 events each; 298 long-tail users: 2 events each
    for uid, n in [(1, 400), (2, 400)] + [(u, 2) for u in range(3, 301)]:
        for i in range(n):
            rows.append((eid, eid, uid, "view", 0.0))
            eid += 1
    sf = write_events(spark, tmp_path, rows)
    monkeypatch.setattr(analytics, "_HH_CAPACITY", 16)
    monkeypatch.setattr(analytics, "_HH_K", 8)
    got = {(r.user_id, r.cnt) for r in SPECS["agg_heavy_hitters"].fn(spark, sf).collect()}
    # exact truth: n_total = 800 + 596 = 1396; cnt*8 > 1396 -> cnt > 174.5
    assert got == {(1, 400), (2, 400)}


def test_split_multiallelic_indices(spark):
    """Allele indices are 1-based and contiguous per record; biallelic
    records yield one row, triallelic two."""
    out = SPECS["gvcf_split_multiallelic"].fn(spark, SF_DIR)
    per = (
        out.groupBy("sample_id", "contig", "start")
        .agg(
            F.sort_array(F.collect_list("allele_idx")).alias("idxs"),
            F.count("*").alias("n"),
        )
        .collect()
    )
    assert per
    assert any(r.n == 2 for r in per) and any(r.n == 1 for r in per)
    for r in per:
        assert r.idxs == list(range(1, r.n + 1))


def test_gaps_islands_equals_session_window(spark):
    """Aggregating win_gaps_islands' per-event session ids must reproduce
    stream_session's session aggregate exactly (same 30-min gap rule) —
    the two operators are independent implementations of one semantics."""
    ev = SPECS["win_gaps_islands"].fn(spark, SF_DIR).alias("s")
    from gvcf_hbase_spark.sources.tables import load_table

    raw = load_table(spark, SF_DIR, "events").select("event_id", "ts_us", "value").alias("e")
    joined = ev.join(raw, "event_id")
    agg = (
        joined.groupBy("user_id", "session_id")
        .agg(
            F.min("ts_us").alias("session_start"),
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .drop("session_id")
    )
    sess = SPECS["stream_session"].fn(spark, SF_DIR)
    a = {tuple(r) for r in agg.select("user_id", "session_start", "n_events", "total_value").collect()}
    b = {tuple(r) for r in sess.select("user_id", "session_start", "n_events", "total_value").collect()}
    assert a == b


def test_bitmap_distinct_mergeable(spark):
    """The bitmap-distinct pattern's core claim: per-bucket bitmaps from
    DISJOINT corpus halves OR-merge (bitmap_or_agg) to exactly the full
    corpus' distinct count — the property that makes stored bitmaps
    incrementally refreshable with zero error."""
    from gvcf_hbase_spark.sources.tables import load_table

    o = load_table(spark, SF_DIR, "orders")

    def buckets(df):
        return (
            df.select(
                F.bitmap_bucket_number(F.col("o_custkey")).alias("bucket"),
                F.bitmap_bit_position(F.col("o_custkey")).alias("pos"),
            )
            .groupBy("bucket")
            .agg(F.bitmap_construct_agg(F.col("pos")).alias("bm"))
        )

    halves = buckets(o.filter("o_orderkey % 2 = 0")).unionByName(
        buckets(o.filter("o_orderkey % 2 = 1"))
    )
    merged = (
        halves.groupBy("bucket")
        .agg(F.bitmap_or_agg(F.col("bm")).alias("bm"))
        .agg(F.sum(F.bitmap_count(F.col("bm"))).alias("n"))
        .collect()[0]["n"]
    )
    exact = o.select(F.countDistinct("o_custkey").alias("n")).collect()[0]["n"]
    assert merged == exact


def test_cdc_compact_equals_current_scd2_version(spark):
    """Consistency between the two CDC views: the compacted latest state
    must be exactly the SCD2 `is_current` versions whose op is an upsert
    — history and snapshot derive from one changelog and must agree."""
    from gvcf_hbase_spark.sources.tables import load_table

    current = (
        SPECS["cdc_scd2_intervals"].fn(spark, SF_DIR).filter("is_current")
        .select("user_id", "event_id")
    )
    ev = load_table(spark, SF_DIR, "events").select("event_id", "event_type")
    current_upserts = {
        (r.user_id, r.event_id)
        for r in current.join(ev, "event_id").filter("event_type <> 'error'").collect()
    }
    compacted = {
        (r.user_id, r.last_event_id)
        for r in SPECS["cdc_compact_latest"].fn(spark, SF_DIR).collect()
    }
    assert compacted == current_upserts


def test_triangle_count_closed_form(spark):
    """The ring-with-chords fixture graph has exactly one triangle per
    vertex — an INDEPENDENT closed-form check, because the oracle shares
    the wedge-join algorithm and a shared construction bug would
    hash-match while being wrong (which is exactly how the original
    1-based formula slipped through)."""
    from gvcf_hbase_spark.sources.tables import load_table

    n = load_table(spark, SF_DIR, "customer").count()
    got = SPECS["graph_triangle_count"].fn(spark, SF_DIR).collect()[0]["n_triangles"]
    assert got == n

    from gvcf_hbase_spark.operators.graphs import triangle_count

    # micro-fixture: K4 has 4 triangles; duplicate/reversed edges must not
    # change the count
    edges = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(4) if a != b], "u int, v int"
    )
    assert triangle_count(edges).collect()[0]["n_triangles"] == 4


def test_shapley_efficiency_axiom(spark):
    """Σ_i φ_i = v(full) - v(∅): total credit equals conversions with a
    non-empty touch set (×6 in the exact-integer scale), and shares sum
    to ~1e6."""
    import pyspark.sql.functions as F
    from gvcf_hbase_spark.sources.tables import load_table

    out = SPECS["analytics_shapley_attribution"].fn(spark, SF_DIR).collect()
    assert {r.channel for r in out} == {"view", "click", "signup"}
    ev = load_table(spark, SF_DIR, "events")
    conv = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts_us_long").alias("cutoff"))
    )
    touched = (
        ev.join(conv, "user_id")
        .filter(
            (F.col("ts_us_long") < F.col("cutoff"))
            & F.col("event_type").isin("view", "click", "signup")
        )
        .select("user_id")
        .distinct()
        .count()
    )
    assert sum(r.phi_x6 for r in out) == 6 * touched
    assert abs(sum(r.share_1e6 for r in out) - 1_000_000) <= 3


def test_decay_score_bounds(spark):
    """The decayed score can never exceed the undecayed value mass and
    is strictly positive for users with a max-day event."""
    import pyspark.sql.functions as F
    from gvcf_hbase_spark.sources.tables import load_table

    out = SPECS["analytics_decay_score"].fn(spark, SF_DIR)
    ev = load_table(spark, SF_DIR, "events")
    mass = ev.groupBy("user_id").agg(
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long") * 1_000_000).alias("m")
    )
    j = out.join(mass, "user_id").collect()
    assert j
    # +n_events: each per-event floor(x + .5) can round up by half a unit
    assert all(0 <= r.decay_score_1e6 <= r.m + r.n_events for r in j)


def test_dau_wau_stickiness_bounds(spark):
    """sum_dau ≤ 7·wau (each user counts ≤ once per day) so stickiness
    ≤ 1e6; wau ≥ any single day's contribution."""
    out = SPECS["analytics_dau_wau"].fn(spark, SF_DIR).collect()
    assert out
    for r in out:
        assert r.sum_dau <= 7 * r.wau
        assert 0 < r.stickiness_1e6 <= 1_000_000
        assert r.wau <= r.sum_dau  # every weekly active has >=1 active day


def test_median_twophase_matches_exact_percentile(spark):
    """The two-phase selection must equal Spark's own exact percentile
    aggregate (and n must match the table size)."""
    import pyspark.sql.functions as F
    from gvcf_hbase_spark.sources.tables import load_table

    out = SPECS["agg_median_twophase"].fn(spark, SF_DIR).collect()
    assert len(out) == 1
    li = load_table(spark, SF_DIR, "lineitem").select(
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long").alias("cents")
    )
    exact = li.agg(
        F.count("*").alias("n"),
        F.expr("percentile(cents, 0.5)").alias("med"),
    ).collect()[0]
    assert out[0].n == exact.n
    assert out[0].median_x2 == int(2 * exact.med)
