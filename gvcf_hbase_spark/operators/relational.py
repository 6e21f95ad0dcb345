"""Relational core: scans, projections, filters, aggregations, sorts.

Reference parity (SURVEY §2A; upstream recollection — local reference
checkout was empty):
- A6 range scan  -> ``scan_range_key``: Catalyst pushes the predicate to
  Parquet row-group min/max stats, the columnar analog of an HBase
  start/stop-row scan.
- A7 column projection -> ``scan_project``: ColumnPruning reaches the
  Parquet reader (ReadSchema shows only the selected columns).
- A8 predicate filter (variant-sites-only) -> ``filter_variant_sites``.
- Aggregations/sorts are new surface (the reference is a storage PoC).

Scale notes (100 TB):
- Every aggregation here is a hash aggregate with partial (map-side) +
  final (reduce-side) phases — Spark plans this automatically, so the
  shuffle carries one row per (partition, group), not per input row.
- Scans push filters + projections into the Parquet reader; nothing below
  materializes an unpruned table.
- No collect()/driver loops anywhere; results stay distributed until the
  harness collects them.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from gvcf_hbase_spark.registry import register
from gvcf_hbase_spark.sources.tables import fixture_copy, load_table


def _ts(s: str):
    """timestamp_ntz literal (fixture ms-timestamps read as timestamp_ntz)."""
    return F.lit(s).cast("timestamp_ntz")


# ---------------------------------------------------------------------------
# 2B.1 Scans / sources
# ---------------------------------------------------------------------------


@register("scan_full", oracle="SELECT * FROM lineitem", tags=("scan",))
def scan_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-table scan, schema fidelity check."""
    return load_table(spark, sf_dir, "lineitem")


@register(
    "scan_project",
    oracle="SELECT l_orderkey, l_quantity FROM lineitem",
    tags=("scan",),
)
def scan_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column pruning: ReadSchema must contain only these two columns."""
    return load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")


@register(
    "scan_range_key",
    oracle="""
    SELECT * FROM lineitem
    WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-03-31'
    """,
    tags=("scan",),
)
def scan_range_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 analog: range scan on the sort key -> Parquet row-group skipping."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_shipdate").between(_ts("1996-01-01"), _ts("1996-03-31")))


@register(
    "scan_events_ns",
    oracle="""
    SELECT event_id, CAST(ts AS TIMESTAMP) AS ts_us, user_id, event_type, value
    FROM events
    """,
    tags=("scan", "events"),
)
def scan_events_ns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time ingestion (SURVEY §1.2): the loader branches on the
    actual physical ts type (fixtures: timestamp[us]; legacy: long ns) and
    derives a canonical µs ts_us on either path."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select("event_id", "ts_us", "user_id", "event_type", "value")


@register(
    "source_json_props",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INT) AS k,
           CAST(json_extract_string(props, '$.k') AS INT) * 2 AS k2
    FROM events
    """,
    tags=("scan", "json"),
)
def source_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-in-string ingestion via from_json (schema-on-read, JVM-side)."""
    ev = load_table(spark, sf_dir, "events")
    parsed = F.from_json(F.col("props"), "k INT")
    return ev.select(
        "event_id",
        parsed.getField("k").alias("k"),
        (parsed.getField("k") * 2).alias("k2"),
    )


@register(
    "source_csv_inline",
    oracle="""
    WITH lines AS (
      SELECT c_custkey,
             concat_ws(',', CAST(c_custkey AS VARCHAR), c_mktsegment,
                       CAST(round(c_acctbal, 2) AS VARCHAR)) AS line
      FROM customer
    )
    SELECT c_custkey,
           CAST(split_part(line, ',', 1) AS BIGINT) AS k,
           split_part(line, ',', 2) AS segment,
           CAST(split_part(line, ',', 3) AS DOUBLE) AS balance
    FROM lines
    """,
    tags=("scan", "source"),
)
def source_csv_inline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delimited-text ingestion via from_csv (the schema-on-read twin of
    source_json_props; same machinery as spark.read.csv over files, run
    column-side so the oracle can rebuild identical lines). Single parse
    per row into a struct, JVM-side, no UDF; at 100 TB this is the map
    stage of a CSV data lake ingest, fused into the scan."""
    c = load_table(spark, sf_dir, "customer")
    line = F.concat_ws(
        ",",
        F.col("c_custkey").cast("string"),
        F.col("c_mktsegment"),
        F.round("c_acctbal", 2).cast("string"),
    )
    parsed = F.from_csv(line, "k BIGINT, segment STRING, balance DOUBLE")
    return c.select(
        "c_custkey",
        parsed.getField("k").alias("k"),
        parsed.getField("segment").alias("segment"),
        parsed.getField("balance").alias("balance"),
    )


# ---------------------------------------------------------------------------
# 2B.2 Projections / filters / predicates
# ---------------------------------------------------------------------------


@register(
    "project_expr",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS revenue,
           l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge
    FROM lineitem
    """,
    tags=("project",),
)
def project_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Computed columns. Identical IEEE expression trees on both sides, so
    no rounding is needed (per-row arithmetic is order-independent)."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        rev.alias("revenue"),
        (rev * (1 + F.col("l_tax"))).alias("charge"),
    )


@register(
    "filter_conj",
    oracle="""
    SELECT * FROM orders
    WHERE o_orderstatus = 'O'
      AND o_totalprice BETWEEN 50000 AND 200000
      AND (o_orderpriority LIKE '1-%' OR o_orderpriority IN ('2-HIGH', '3-MEDIUM'))
      AND o_orderdate IS NOT NULL
    """,
    tags=("filter",),
)
def filter_conj(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compound AND/OR/LIKE/IN/BETWEEN/IS NULL predicate -> single pushed
    filter (PushedFilters in the scan node)."""
    o = load_table(spark, sf_dir, "orders")
    return o.filter(
        (F.col("o_orderstatus") == "O")
        & F.col("o_totalprice").between(50000, 200000)
        & (F.col("o_orderpriority").like("1-%") | F.col("o_orderpriority").isin("2-HIGH", "3-MEDIUM"))
        & F.col("o_orderdate").isNotNull()
    )


@register(
    "filter_variant_sites",
    oracle="""
    SELECT event_id, CAST(ts AS TIMESTAMP) AS ts_us, user_id, event_type, value
    FROM events WHERE event_type <> 'view'
    """,
    tags=("filter", "events"),
)
def filter_variant_sites(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 analog: drop 'reference-only' rows (here: drop passive 'view'
    events), keeping only 'variant' rows — the onlyVariants flag of the
    reference's scan pipeline re-expressed as a pushed predicate."""
    ev = load_table(spark, sf_dir, "events")
    return ev.filter(F.col("event_type") != "view").select(
        "event_id", "ts_us", "user_id", "event_type", "value"
    )


@register(
    "distinct_rows",
    oracle="SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders",
    tags=("filter",),
)
def distinct_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate elimination -> hash aggregate on all columns (partial+final,
    so the shuffle carries only distinct pairs)."""
    return load_table(spark, sf_dir, "orders").select("o_orderstatus", "o_orderpriority").distinct()


# ---------------------------------------------------------------------------
# 2B.4 Aggregations
# ---------------------------------------------------------------------------


@register(
    "agg_global",
    oracle="""
    SELECT count(*) AS cnt,
           round(sum(l_quantity), 2) AS sum_qty,
           round(avg(l_extendedprice), 2) AS avg_price,
           round(min(l_extendedprice), 2) AS min_price,
           round(max(l_extendedprice), 2) AS max_price
    FROM lineitem
    """,
    tags=("agg",),
)
def agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global (no-group) aggregate -> partial per partition + single final."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("*").alias("cnt"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
    )


@register(
    "agg_group",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 2) AS avg_qty,
           round(avg(l_extendedprice), 2) AS avg_price,
           round(avg(l_discount), 4) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("agg", "flagship"),
)
def agg_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP (TPC-H Q1-style pricing summary; also entry()).

    Plan shape at any scale: pushed date filter -> partial hash agg (map
    side, one row per partition×6 groups) -> tiny shuffle -> final agg.
    The shuffle is O(partitions), independent of table size — this is the
    plan that survives 100 TB.
    """
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= _ts("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "agg_distinct",
    oracle="""
    SELECT o_orderstatus,
           count(DISTINCT o_custkey) AS cust_cnt,
           count(DISTINCT o_orderpriority) AS prio_cnt,
           count(*) AS cnt
    FROM orders GROUP BY o_orderstatus
    """,
    tags=("agg",),
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-distinct aggregate (Spark expands to a two-phase plan)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("cust_cnt"),
        F.countDistinct("o_orderpriority").alias("prio_cnt"),
        F.count("*").alias("cnt"),
    )


@register("agg_approx_distinct", oracle=None, tags=("agg", "approx"))
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ cardinality. No oracle (sketches differ across engines —
    SURVEY §5.4 rule 7); tests assert within 5% of exact instead."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.approx_count_distinct("o_custkey", rsd=0.01).alias("approx_cust_cnt")
    )


@register("agg_approx_percentile", oracle=None, tags=("agg", "approx"))
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate quartiles (KLL-style t-digest/GK summary): the
    bounded-memory, mergeable alternative to exact F.percentile — at
    100 TB the exact sort-based percentile shuffles the whole column,
    while the approx summary is O(1/accuracy) per partition and merges
    map-side. No oracle (summaries differ across engines — SURVEY §5.4
    rule 7); tests bound the error against the exact quartiles."""
    o = load_table(spark, sf_dir, "orders")
    q = F.approx_percentile("o_totalprice", F.lit([0.25, 0.5, 0.75]), F.lit(10_000))
    # scalar columns, not an array: keeps the result hashable by any
    # row-canonicalizing comparator (arrays are unhashable in pandas)
    return o.groupBy("o_orderstatus").agg(q.alias("qa")).select(
        "o_orderstatus",
        F.col("qa")[0].alias("p25_approx"),
        F.col("qa")[1].alias("p50_approx"),
        F.col("qa")[2].alias("p75_approx"),
    )


@register("agg_hll_sketch_merge", oracle=None, tags=("agg", "approx"))
def agg_hll_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level mergeable-sketch rollup — the 100 TB cardinality
    pattern: build HLL sketches at fine grain (status, priority), then
    hll_union_agg them to the coarse grain WITHOUT rescanning the fact
    table. This is what approx_count_distinct can't do (its sketch is
    consumed by its own query); persisted fine-grain sketches answer any
    coarser rollup later. Rows-only (binary sketches are engine-specific);
    tests bound the estimate against exact countDistinct."""
    o = load_table(spark, sf_dir, "orders")
    fine = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.hll_sketch_agg("o_custkey").alias("sk")
    )
    return fine.groupBy("o_orderstatus").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_cust_cnt")
    )


@register(
    "agg_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS cnt,
           round(sum(o_totalprice), 2) AS total
    FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    tags=("agg",),
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup (grouping sets family). Group keys are non-null in the
    fixture, so the NULLs in the output unambiguously mark subtotal rows."""
    o = load_table(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("cnt"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@register(
    "agg_cube",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS cnt,
           round(sum(o_totalprice), 2) AS total,
           CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS BIGINT)
             AS gid
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    tags=("agg",),
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE (all 2^k grouping sets) + grouping_id to disambiguate which
    dimensions each subtotal row aggregates away. One Expand node fans
    each input row into its 4 grouping sets before one partial+final
    aggregate — no extra shuffles versus a plain group-by."""
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("cnt"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
        F.grouping_id().cast("long").alias("gid"),
    )


@register(
    "agg_stats",
    oracle="""
    SELECT l_returnflag,
           round(stddev_samp(l_quantity), 6) AS std_qty,
           round(var_samp(l_quantity), 6) AS var_qty,
           round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
           round(covar_samp(l_quantity, l_extendedprice), 2) AS covar_qty_price
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg",),
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates; rounded so one-pass-algorithm differences
    between engines (~1e-10 relative) can't flip the hash."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 6).alias("std_qty"),
        F.round(F.var_samp("l_quantity"), 6).alias("var_qty"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias("covar_qty_price"),
    )


@register(
    "agg_percentile",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.5), 4) AS p50_qty,
           round(quantile_cont(l_quantity, 0.9), 4) AS p90_qty
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg",),
)
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (F.percentile <-> quantile_cont,
    both linear-interpolating — probe-verified same results)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_quantity", 0.5), 4).alias("p50_qty"),
        F.round(F.percentile("l_quantity", 0.9), 4).alias("p90_qty"),
    )


@register(
    "agg_collect",
    oracle="""
    SELECT o_orderstatus,
           array_to_string(list_sort(list(DISTINCT o_orderpriority)), ',') AS prios,
           count(*) AS cnt
    FROM orders GROUP BY o_orderstatus
    """,
    tags=("agg",),
)
def agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """List/set aggregation. Sorted then joined to one string per group:
    order-insensitive AND hashable by any comparator (raw array columns
    are unhashable in pandas-side canonicalizers — SURVEY §5.4 rule 3)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.array_join(F.sort_array(F.collect_set("o_orderpriority")), ",").alias("prios"),
        F.count("*").alias("cnt"),
    )


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@register(
    "agg_pivot",
    oracle="""
    SELECT CAST(ts AS DATE) AS day,
           count(*) FILTER (WHERE event_type = 'click')    AS click,
           count(*) FILTER (WHERE event_type = 'error')    AS error,
           count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           count(*) FILTER (WHERE event_type = 'signup')   AS signup,
           count(*) FILTER (WHERE event_type = 'view')     AS "view"
    FROM events GROUP BY 1
    """,
    tags=("agg", "events"),
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot day × event_type. Explicit value list -> single-pass pivot
    (no extra distinct-values job — that matters at scale)."""
    ev = load_table(spark, sf_dir, "events")
    out = (
        ev.groupBy(F.to_date("ts_us").alias("day"))
        .pivot("event_type", _EVENT_TYPES)
        .count()
    )
    return out.na.fill(0, subset=_EVENT_TYPES)


# ---------------------------------------------------------------------------
# 2B.6 Sorts / limits / top-k
# ---------------------------------------------------------------------------


@register(
    "sort_multi",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
    ORDER BY o_orderstatus ASC, o_totalprice DESC, o_orderkey ASC
    LIMIT 100
    """,
    tags=("sort",),
)
def sort_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key mixed-direction sort; o_orderkey is the unique tiebreaker
    that makes the LIMIT deterministic (SURVEY §5.4 rule 2)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_orderstatus", "o_totalprice")
        .orderBy(F.col("o_orderstatus").asc(), F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
    )


@register(
    "topk_global",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC
    LIMIT 50
    """,
    tags=("sort",),
)
def topk_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k -> TakeOrderedAndProject (each partition keeps k rows,
    driver merges k×partitions — no full sort, scales to any table size)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(F.col("l_extendedprice").desc(), F.col("l_orderkey").asc(), F.col("l_linenumber").asc())
        .limit(50)
    )


@register(
    "limit_offset",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_orderkey LIMIT 50 OFFSET 100
    """,
    tags=("sort",),
)
def limit_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pagination over a total order (o_orderkey is unique)."""
    o = load_table(spark, sf_dir, "orders")
    return o.select("o_orderkey", "o_totalprice").orderBy("o_orderkey").offset(100).limit(50)


@register(
    "agg_conditional",
    oracle="""
    SELECT o_orderstatus,
           count(*) FILTER (WHERE o_totalprice > 300000) AS n_big,
           bool_and(o_totalprice > 1000) AS all_over_1k,
           bool_or(o_orderpriority = '1-URGENT') AS any_urgent,
           round(sum(o_totalprice) FILTER (WHERE o_orderpriority = '1-URGENT'), 2)
             AS urgent_total
    FROM orders GROUP BY o_orderstatus
    """,
    tags=("agg",),
)
def agg_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregates (count_if / bool_and / bool_or / filtered
    sum) — one pass, no self-joins: each predicate evaluates inside the
    same partial+final hash aggregate, so N conditions cost one scan."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.count_if(F.col("o_totalprice") > 300000).alias("n_big"),
        F.bool_and(F.col("o_totalprice") > 1000).alias("all_over_1k"),
        F.bool_or(F.col("o_orderpriority") == "1-URGENT").alias("any_urgent"),
        F.round(
            F.sum(F.when(F.col("o_orderpriority") == "1-URGENT", F.col("o_totalprice"))),
            2,
        ).alias("urgent_total"),
    )


@register(
    "topk_keyset_page",
    oracle="""
    SELECT o_orderkey, round(o_totalprice, 2) AS totalprice
    FROM orders
    WHERE o_orderkey > 5000
    ORDER BY o_orderkey
    LIMIT 100
    """,
    tags=("sort",),
)
def topk_keyset_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset pagination: resume from the last seen key instead of
    OFFSET. The predicate pushes into the parquet scan (row groups below
    the key skip entirely), then TakeOrdered caps at page size — O(page)
    work per page, where limit_offset's OFFSET must still sort-and-skip
    all preceding rows. The scalable pager at 100 TB."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_orderkey") > 5000)
        .select("o_orderkey", F.round("o_totalprice", 2).alias("totalprice"))
        .orderBy("o_orderkey")
        .limit(100)
    )


@register(
    "agg_arg_minmax",
    oracle="""
    SELECT o_orderstatus,
           arg_max(o_custkey, o_orderkey) AS last_custkey,
           arg_min(o_custkey, o_orderkey) AS first_custkey,
           arg_max(o_totalprice, o_orderkey) AS last_totalprice
    FROM orders
    GROUP BY o_orderstatus
    """,
    tags=("agg",),
)
def agg_arg_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argument-of-extremum aggregates (max_by/min_by ↔ arg_max/arg_min):
    attributes of the newest/oldest order per status in ONE pass — the
    idiomatic replacement for the self-join-on-groupwise-max anti-pattern
    (which costs a second scan + join) and for a window + filter (which
    costs a full sort). Partial aggregation keeps each map task's state at
    one (value, key) pair per group. Determinism: the ordering key
    o_orderkey is unique, so ties are impossible (SURVEY §5.4 rule 2)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.max_by("o_custkey", "o_orderkey").alias("last_custkey"),
        F.min_by("o_custkey", "o_orderkey").alias("first_custkey"),
        F.max_by("o_totalprice", "o_orderkey").alias("last_totalprice"),
    )


@register(
    "source_jsonl_roundtrip",
    oracle="""
    SELECT lang, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           min(doc_id) AS min_id, max(doc_id) AS max_id
    FROM documents
    GROUP BY lang
    """,
    tags=("source",),
)
def source_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines source end-to-end: documents written as JSONL, read
    back with an EXPLICIT schema (schema inference costs a full extra
    pass at 100 TB — always pass the schema), aggregated per lang. The
    oracle aggregates the original table directly, so the hash-match
    proves the JSONL write→read cycle is lossless. Line-delimited JSON
    splits by line like any text format — parallel scan for free; the
    JSONL copy is written once per documents version and shared across
    processes (sources.tables.fixture_copy)."""
    d = load_table(spark, sf_dir, "documents")
    out = fixture_copy(sf_dir, "documents", "jsonl", d.write.mode("overwrite").json)
    schema = "doc_id bigint, text string, lang string, source string, n_chars bigint"
    back = spark.read.schema(schema).json(out)
    return back.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


@register(
    "source_schema_evolution",
    oracle="""
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN doc_id % 2 = 1 THEN n_chars END) AS BIGINT)
             AS chars_new_batches,
           CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_with_chars
    FROM documents
    GROUP BY lang
    """,
    tags=("source",),
)
def source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: an old writer batch lacks the
    ``n_chars`` column, a newer batch carries it; ``mergeSchema=true``
    unions the footers so old rows surface NULL for the added column —
    the append-only table-widening every long-lived 100 TB dataset goes
    through. The oracle recomputes the same aggregate from the unsplit
    table with CASE masking, so the hash-match proves both batches'
    rows survive the merge with the right null-extension. (mergeSchema
    costs a footer read per file — at scale prefer a table format or an
    explicit superset schema; this demonstrates the mechanism.) The two
    batches are written once per documents version
    (sources.tables.fixture_copy)."""
    d = load_table(spark, sf_dir, "documents")

    def write(tmp: str) -> None:
        d.filter("doc_id % 2 = 0").select("doc_id", "lang").write.parquet(f"{tmp}/b0")
        d.filter("doc_id % 2 = 1").select("doc_id", "lang", "n_chars").write.parquet(
            f"{tmp}/b1"
        )

    out = fixture_copy(sf_dir, "documents", "schevo", write)
    merged = spark.read.option("mergeSchema", "true").parquet(f"{out}/b0", f"{out}/b1")
    return merged.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("chars_new_batches"),
        F.count("n_chars").cast("bigint").alias("n_with_chars"),
    )


@register(
    "agg_histogram",
    oracle="""
    SELECT CAST(floor(value / 50.0) AS INT) AS bucket,
           count(*) AS n,
           round(min(value), 2) AS lo,
           round(max(value), 2) AS hi
    FROM events
    GROUP BY 1
    """,
    tags=("agg",),
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram (50-unit buckets over event values):
    bucket id by floor division, one hash aggregate with partial+final
    phases — the shuffle carries one row per (partition, bucket), so a
    100 TB histogram costs one scan plus a ~bucket-count-sized exchange.
    The per-bucket min/max double as a correctness tripwire: every
    bucket's observed range must sit inside its nominal bounds."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.floor(F.col("value") / 50.0).cast("int").alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("value"), 2).alias("lo"),
            F.round(F.max("value"), 2).alias("hi"),
        )
    )


@register(
    "source_orc_roundtrip",
    oracle="""
    SELECT l_returnflag,
           count(*) AS n_rows,
           round(sum(l_quantity), 2) AS total_qty
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    GROUP BY l_returnflag
    """,
    tags=("source",),
)
def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second columnar format end-to-end: lineitem written as ORC, read
    back with a pushed-down ship-date filter, aggregated — hash-matched
    against the parquet-table oracle, proving the engine's layout
    contract (columnar scan, predicate pushdown, column pruning) is
    format-portable and the ORC write→read cycle is lossless. ORC's
    row-group stats serve the same skipping role as parquet's; a
    deployment standardizes on one format, the engine doesn't care. The
    ORC copy is written once per lineitem version
    (sources.tables.fixture_copy)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_quantity", "l_shipdate"
    )
    out = fixture_copy(sf_dir, "lineitem", "orc", li.write.mode("overwrite").orc)
    back = spark.read.orc(out).filter(F.col("l_shipdate") >= _ts("1996-01-01"))
    return back.groupBy("l_returnflag").agg(
        F.count("*").alias("n_rows"),
        F.round(F.sum("l_quantity"), 2).alias("total_qty"),
    )


@register(
    "agg_bool_logic",
    oracle="""
    SELECT event_type,
           CAST(count_if(value > 12) AS BIGINT) AS n_high,
           bool_and(value >= 0) AS all_nonneg,
           bool_or(value > 25) AS any_extreme,
           CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY event_type
    """,
    tags=("agg",),
)
def agg_bool_logic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregate family — count_if / bool_and (every) / bool_or
    (any) — the predicate-rollup surface quality gates are written in
    ('did ALL shards pass', 'did ANY batch overflow'). All three are
    partial-aggregable single-bit states, so the shuffle carries one
    boolean/long per (task, group): the cheapest aggregates in the
    engine, and the reason to use them instead of the equivalent
    sum(case when …) arithmetic everywhere."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count_if(F.col("value") > 12).alias("n_high"),
        F.bool_and(F.col("value") >= 0).alias("all_nonneg"),
        F.bool_or(F.col("value") > 25).alias("any_extreme"),
        F.count("*").alias("n"),
    )


@register(
    "agg_rollup",
    oracle="""
    SELECT coalesce(l_returnflag, 'ALL') AS flag,
           coalesce(l_linestatus, 'ALL') AS status,
           CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS INT) AS lvl,
           round(sum(l_extendedprice), 2) AS revenue,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
    tags=("agg",),
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical ROLLUP — (flag, status), (flag), () subtotal levels
    in one pass, disambiguated by grouping() (NULL-valued group cells vs
    genuine NULL data is exactly what grouping() exists for; the output
    canonicalizes group cells to 'ALL'). ROLLUP is the prefix-closed
    subset of CUBE: Spark expands it to grouping sets and still computes
    every level through ONE partial+final aggregate pass — level count
    multiplies the aggregate state, not the scans or shuffles."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
            F.count("*").alias("n"),
            (F.grouping("l_returnflag") * 2 + F.grouping("l_linestatus"))
            .cast("int")
            .alias("lvl"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("flag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("status"),
            "lvl",
            "revenue",
            "n",
        )
    )


@register(
    "agg_mode_deterministic",
    oracle="""
    WITH c AS (
      SELECT event_type, CAST(floor(value * 10) AS INT) % 20 AS v, count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    r AS (
      SELECT event_type, v, n,
             row_number() OVER (PARTITION BY event_type ORDER BY n DESC, v) AS rn
      FROM c
    )
    SELECT event_type, v AS mode_bucket, CAST(n AS BIGINT) AS n
    FROM r WHERE rn = 1
    """,
    tags=("agg", "stats"),
)
def agg_mode_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical mode per group with a PINNED tie rule (most frequent
    bucketed value; ties → smallest value). Built as count-then-argmax
    instead of the engines' native mode() precisely because both Spark's
    and DuckDB's mode leave tie-breaking unspecified — an operator whose
    result depends on partition visit order is untestable and
    non-reproducible, which a training pipeline can't tolerate.

    Shape: one partial+final count aggregate on (group, value) — the
    only pass over the data — then the argmax runs on the distinct-value
    aggregate (a window over |buckets| rows per group; max_by(struct)
    would fuse it into the first aggregate at the cost of readability —
    either is scale-safe)."""
    ev = load_table(spark, sf_dir, "events")
    c = (
        # floor, not cast: Spark's double->int cast truncates toward zero while
        # DuckDB's CAST rounds — floor() is the one op both define identically
        ev.select("event_type", (F.floor(F.col("value") * 10).cast("int") % 20).alias("v"))
        .groupBy("event_type", "v")
        .agg(F.count("*").alias("n"))
    )
    from pyspark.sql import Window as W

    pick = W.partitionBy("event_type").orderBy(F.col("n").desc(), F.col("v"))
    return (
        c.withColumn("rn", F.row_number().over(pick))
        .filter(F.col("rn") == 1)
        .select("event_type", F.col("v").alias("mode_bucket"), F.col("n").cast("bigint").alias("n"))
    )


@register(
    "source_xml_roundtrip",
    oracle="""
    SELECT s_nationkey,
           CAST(count(*) AS BIGINT) AS n_suppliers,
           CAST(sum(CAST(round(s_acctbal * 100, 0) AS BIGINT)) AS BIGINT)
             AS balance_cents
    FROM supplier
    GROUP BY s_nationkey
    """,
    tags=("source",),
)
def source_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured interchange format end-to-end: supplier written as
    XML (Spark 4's built-in xml source, one <row> element per record),
    read back with an EXPLICIT schema — no inference pass over the files
    — and aggregated, hash-matched against the parquet oracle. The
    explicit read schema is the 100 TB posture: schema inference is a
    full extra scan, and on XML an expensive one (every file parsed
    twice); production readers declare the contract and let malformed
    records hit the configurable mode instead.

    XML is row-oriented text — no pushdown, no pruning, ~10× parquet scan
    cost — so the engine treats it strictly as an INGEST format: parse
    once, land columnar, query the landing table (the same posture as
    `source_gvcf_lines`). The doubles round-trip losslessly because the
    xml writer emits full-precision decimal strings and the explicit
    schema parses them straight back to double.

    The export is written once per supplier version and published by one
    atomic rename (sources.tables.fixture_copy), so a crashed or
    concurrent writer never exposes a half-written export.
    """
    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey", "s_acctbal"
    )
    xml = sup.write.format("xml").option("rowTag", "supplier").mode("overwrite")
    out = fixture_copy(sf_dir, "supplier", "xml", xml.save)
    back = (
        spark.read.format("xml")
        .option("rowTag", "supplier")
        .schema("s_suppkey long, s_nationkey int, s_acctbal double")
        .load(out)
    )
    return back.groupBy("s_nationkey").agg(
        F.count("*").alias("n_suppliers"),
        F.sum(F.round(F.col("s_acctbal") * 100, 0).cast("bigint")).alias(
            "balance_cents"
        ),
    )


@register(
    "agg_geometric_mean",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n,
           CAST(floor(exp(avg(ln(CAST(round(l_extendedprice * 100, 0) AS BIGINT))))
                      * 100 + 0.5) AS BIGINT) AS geo_mean_1e2
    FROM lineitem
    WHERE l_extendedprice > 0
    GROUP BY l_returnflag
    """,
    tags=("agg",),
)
def agg_geometric_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric mean per group via the exp∘avg∘ln decomposition — the
    correct central tendency for ratio/multiplicative data (speedups,
    growth factors, price indices) where the arithmetic mean is biased
    by construction.

    No engine ships geo_mean as an aggregate, but the log-domain
    identity turns it into a plain partial-aggregable AVG: per-row ln
    (codegen), map-side partial sums, one tiny shuffle — identical plan
    shape to any sum/avg, so it scales like one. ln runs on exact
    integer cents so both engines see identical operands; avg's
    summation order can differ across engines by ±ulps, which the 1e2
    output quantization absorbs (a looser gate than the integer ops use
    — the documented cost of a transcendental aggregate). Positive-only
    filter is part of the contract: ln(0) is the caller's bug, not a
    NULL to paper over.
    """
    li = load_table(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("bigint")
    return (
        li.filter(F.col("l_extendedprice") > 0)
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.floor(F.exp(F.avg(F.log(cents))) * 100 + F.lit(0.5))
            .cast("bigint")
            .alias("geo_mean_1e2"),
        )
    )


@register(
    "source_csv_corrupt_recovery",
    oracle="""
    WITH lines AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 13 = 0
                  THEN concat('garbage-', c_mktsegment)
                  ELSE concat_ws(',', CAST(c_custkey AS VARCHAR), c_mktsegment,
                                 CAST(CAST(round(c_acctbal * 100, 0) AS BIGINT)
                                      AS VARCHAR))
             END AS line
      FROM customer
    )
    SELECT
      CAST(count_if(c_custkey % 13 <> 0) AS BIGINT) AS n_good,
      CAST(count_if(c_custkey % 13 = 0) AS BIGINT) AS n_corrupt,
      CAST(sum(CASE WHEN c_custkey % 13 <> 0
                    THEN CAST(split_part(line, ',', 3) AS BIGINT) END) AS BIGINT)
        AS good_balance_cents
    FROM lines
"""
    ,
    tags=("scan", "source"),
)
def source_csv_corrupt_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-record RECOVERY on delimited ingest — the property that
    separates an engine from a script: poisoned rows (1-in-13 here,
    deterministically) must neither kill the job (FAILFAST would) nor
    vanish silently (DROPMALFORMED would), but land in a quarantine
    column for audit. PERMISSIVE mode + columnNameOfCorruptRecord is
    that contract; this op reports the good/corrupt split and an
    aggregate over the clean rows only.

    The corrupt row's typed columns parse to NULL and the raw line is
    preserved in ``_bad`` — count(_bad) IS the quarantine metric a
    100 TB ingest dashboards on (and the rows it would divert to a
    dead-letter table). from_csv carries mode options exactly like the
    file reader, so the tested semantics transfer to spark.read.csv
    unchanged. A row is corrupt here when its numeric column can't
    type — schema violation, not just delimiter damage.
    """
    c = load_table(spark, sf_dir, "customer")
    cents = F.round(F.col("c_acctbal") * 100, 0).cast("bigint").cast("string")
    line = F.when(
        F.col("c_custkey") % 13 == 0,
        F.concat(F.lit("garbage-"), F.col("c_mktsegment")),
    ).otherwise(
        F.concat_ws(",", F.col("c_custkey").cast("string"), F.col("c_mktsegment"), cents)
    )
    parsed = F.from_csv(
        line,
        "k BIGINT, segment STRING, balance_cents BIGINT, _bad STRING",
        {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_bad"},
    )
    t = c.select(parsed.alias("p")).select(
        F.col("p.k").alias("k"),
        F.col("p.balance_cents").alias("balance_cents"),
        F.col("p._bad").alias("_bad"),
    )
    return t.agg(
        F.count(F.when(F.col("_bad").isNull(), 1)).alias("n_good"),
        F.count("_bad").alias("n_corrupt"),
        F.sum(F.when(F.col("_bad").isNull(), F.col("balance_cents"))).alias(
            "good_balance_cents"
        ),
    )


@register(
    "agg_listagg_distinct",
    oracle="""
    SELECT o_orderpriority,
           string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses,
           CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS n_statuses
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("agg",),
)
def agg_listagg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LISTAGG(DISTINCT … ORDER BY …) — the ANSI string-aggregation
    surface (Spark spells it concat_ws over sort_array(collect_set)).
    Partial aggregation keeps the exchange bounded by the distinct set
    per group, not the row count; the sort_array makes the output
    deterministic, which raw LISTAGG famously is not — the §5.4
    collect-rule applied to the ANSI function users actually reach for.
    Unbounded-cardinality groups are the known hazard (the aggregated
    string is a row, not a stream) — cap with a slice or go back to
    rows beyond ~10⁴ distinct values."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.concat_ws(",", F.sort_array(F.collect_set("o_orderstatus"))).alias("statuses"),
        F.countDistinct("o_orderstatus").cast("bigint").alias("n_statuses"),
    )


_FILE_META_ORACLE = """
    SELECT l_orderkey % 8 AS bucket_from_path,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(l_orderkey) AS BIGINT) AS min_key,
           CAST(max(l_orderkey) AS BIGINT) AS max_key
    FROM lineitem
    GROUP BY 1
"""


@register("scan_file_metadata", oracle=_FILE_META_ORACLE, tags=("source", "layout"))
def scan_file_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hidden ``_metadata`` file column on file sources: write a
    hive-partitioned copy, then recover each row's partition FROM THE
    FILE PATH (``_metadata.file_path``) rather than from any data
    column, and aggregate per recovered bucket. Hash-matching the
    data-derived oracle proves path metadata and data agree row-for-row
    — the mechanism behind file-grain auditing, incremental-load
    bookkeeping (which files fed a row), and CDC file manifests.

    Scale: `_metadata` is constant-per-split metadata, not I/O — zero
    extra column read; the aggregate is one map-side-combining pass.
    The partitioned copy is written once per lineitem version and
    published by one atomic rename (sources.tables.fixture_copy)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", (F.col("l_orderkey") % 8).alias("bucket")
    )
    by_bucket = li.write.mode("overwrite").partitionBy("bucket")
    out = fixture_copy(sf_dir, "lineitem", "filemeta", by_bucket.parquet)
    back = spark.read.parquet(out)
    bucket_from_path = (
        F.regexp_extract(F.col("_metadata.file_path"), r"bucket=(\d+)", 1)
        .cast("long")
        .alias("bucket_from_path")
    )
    return back.select(bucket_from_path, "l_orderkey").groupBy("bucket_from_path").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.min("l_orderkey").cast("bigint").alias("min_key"),
        F.max("l_orderkey").cast("bigint").alias("max_key"),
    )
