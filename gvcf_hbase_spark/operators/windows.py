"""Window functions (SURVEY §2B.5) — including the two operators that carry
the reference's gVCF block semantics (SURVEY §2A A4/A9):

- ``win_carry_forward``: a gVCF reference block's value applies at every
  position until the next record — 'last non-null value so far' per
  partition in order. The reference implements this as partition-local
  iterator state over key-ordered HBase cells; here it is one window
  expression, and Spark's shuffle guarantees partition-completeness (the
  property the reference had to engineer with fixed-boundary block splits).
- ``win_expand_blocks``: expand ``[start, end]`` interval rows to one row
  per position (explode(sequence(...))) — the dense-alignment half of the
  reference's per-position combine.

Ordering discipline: every window ORDER BY carries a unique tiebreaker
(event_id / o_orderkey), and event-time ordering uses µs-truncated longs so
both engines sort identically (DuckDB reads the ns column µs-truncated).

Scale notes (100 TB): windows shuffle once on partitionBy keys; within a
key the sort is per-key cardinality. Running/frame aggregates are O(1) per
row. Skewed partition keys are the one hazard — mitigate upstream with
key salting or pre-bucketed layout (plans/layout.py).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from gvcf_hbase_spark.registry import register
from gvcf_hbase_spark.sources.tables import load_table


def _events_us(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ts_us_long (bigint epoch µs) is derived centrally by the events
    # loader from the actual physical ts type — see sources.tables.
    return load_table(spark, sf_dir, "events")


@register(
    "win_rank",
    oracle="""
    SELECT event_id, user_id,
           row_number() OVER (PARTITION BY user_id ORDER BY event_type, event_id) AS rn,
           rank()       OVER (PARTITION BY user_id ORDER BY event_type) AS rnk,
           dense_rank() OVER (PARTITION BY user_id ORDER BY event_type) AS drnk
    FROM events
    """,
    tags=("window",),
)
def win_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number/rank/dense_rank. event_type has heavy ties, so rank vs
    dense_rank genuinely diverge; row_number adds the unique tiebreaker."""
    ev = _events_us(spark, sf_dir)
    w_tie = Window.partitionBy("user_id").orderBy("event_type", "event_id")
    w = Window.partitionBy("user_id").orderBy("event_type")
    return ev.select(
        "event_id",
        "user_id",
        F.row_number().over(w_tie).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
    )


@register(
    "win_topk_group",
    oracle="""
    SELECT * FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders) t
    WHERE rn <= 3
    """,
    tags=("window",),
)
def win_topk_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group: rank-filter pattern. At scale this is the standard
    substitute for a per-group ORDER BY/LIMIT; only k rows per group
    survive the window stage."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        o.select("o_custkey", "o_orderkey", "o_totalprice", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 3)
    )


@register(
    "win_lag_lead",
    oracle="""
    SELECT event_id, user_id,
           lag(value)       OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_value,
           lead(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS next_type,
           first_value(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS first_type
    FROM events
    """,
    tags=("window",),
)
def win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead/first_value over event time (µs) with unique tiebreaker."""
    ev = _events_us(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_us_long", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("event_type").over(w).alias("next_type"),
        F.first("event_type").over(w).alias("first_type"),
    )


@register(
    "win_frame_rows",
    oracle="""
    SELECT event_id, user_id,
           round(avg(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS mov_avg
    FROM events
    """,
    tags=("window",),
)
def win_frame_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving aggregate over a ROWS frame (3-row trailing average)."""
    ev = _events_us(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us_long", "event_id")
        .rowsBetween(-2, Window.currentRow)
    )
    return ev.select(
        "event_id", "user_id", F.round(F.avg("value").over(w), 6).alias("mov_avg")
    )


@register(
    "win_frame_range",
    oracle="""
    SELECT event_id, user_id,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                                  RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_total
    FROM events
    """,
    tags=("window",),
)
def win_frame_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running total over a RANGE frame keyed by event time: peer rows
    (same µs timestamp) share the same running value — that's the RANGE
    vs ROWS distinction this query exists to pin down."""
    ev = _events_us(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us_long")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id", "user_id", F.round(F.sum("value").over(w), 4).alias("running_total")
    )


@register(
    "win_ntile_pct",
    oracle="""
    SELECT o_orderkey, o_orderstatus,
           ntile(4) OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey) AS quartile,
           round(percent_rank() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey), 9) AS pct_rank,
           round(cume_dist() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey), 9) AS cdist
    FROM orders
    """,
    tags=("window",),
)
def win_ntile_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile / percent_rank / cume_dist (distribution functions)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 9).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 9).alias("cdist"),
    )


@register(
    "win_carry_forward",
    oracle="""
    SELECT event_id, user_id,
           last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase_value
    FROM events
    """,
    tags=("window", "gvcf"),
)
def win_carry_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 analog — gVCF open-block semantics: at every event, the value of
    the user's most recent purchase so far (NULL before the first). The
    reference keeps this state in a partition-local iterator over
    key-ordered cells; one `last(..., ignorenulls)` window replaces it."""
    ev = _events_us(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us_long", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pv = F.when(F.col("event_type") == "purchase", F.col("value"))
    return ev.select(
        "event_id",
        "user_id",
        F.last(pv, ignorenulls=True).over(w).alias("last_purchase_value"),
    )


@register(
    "win_expand_blocks",
    oracle="""
    SELECT o_orderkey,
           unnest(range(CAST(day(o_orderdate) AS BIGINT),
                        CAST(day(o_orderdate) AS BIGINT) + o_orderkey % 3 + 1)) AS pos
    FROM orders
    """,
    tags=("window", "gvcf"),
)
def win_expand_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/A9 analog — expand [start, end] interval rows to per-position
    rows via explode(sequence(...)). On a derived interval table from
    orders (start = day-of-month, length = o_orderkey % 3). At 100 TB the
    expansion multiplies rows by mean block length — keep it lazy
    (generator inside WholeStageCodegen, never materialized on the driver).
    """
    o = load_table(spark, sf_dir, "orders")
    start = F.dayofmonth("o_orderdate").cast("bigint")
    end = start + F.col("o_orderkey") % 3
    return o.select(
        "o_orderkey", F.explode(F.sequence(start, end)).alias("pos")
    )


@register(
    "win_nth_value",
    oracle="""
    SELECT event_id, user_id,
           nth_value(value, 2) OVER w AS second_value,
           last_value(event_type) OVER w AS last_type
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
    tags=("window",),
)
def win_nth_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nth_value / last_value over the WHOLE partition (explicit unbounded
    frame — the default frame stops at CURRENT ROW, which is the classic
    last_value trap on both engines)."""
    ev = _events_us(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us_long", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.nth_value("value", 2).over(w).alias("second_value"),
        F.last("event_type").over(w).alias("last_type"),
    )


@register(
    "win_gaps_islands",
    oracle="""
    WITH ordered AS (
      SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t,
             lag(epoch_us(CAST(ts AS TIMESTAMP)))
               OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_t
      FROM events
    )
    SELECT event_id, user_id,
           CAST(sum(CASE WHEN prev_t IS NULL OR t - prev_t >= 1800000000
                         THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY t, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS session_id
    FROM ordered
    """,
    tags=("window",),
)
def win_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands sessionization in batch: lag → new-session flag
    (gap ≥ 30 min, same boundary rule as `stream_session`) → running sum
    = 1-based per-user session ordinal on EVERY event row. This is the
    batch-SQL twin of `F.session_window` with per-event granularity the
    session aggregate can't give (each event keeps its session id — the
    shape needed to join session labels back onto raw events).

    One shuffle on user_id; both windows share the same (user, time,
    tiebreak) sort so Spark plans a single Sort+Window pipeline. Test
    cross-checks: aggregating these islands equals `stream_session`'s
    session aggregate exactly."""
    ev = _events_us(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_us_long", "event_id")
    gap_us = 30 * 60 * 1_000_000
    prev = F.lag("ts_us_long").over(w)
    new_s = F.when(prev.isNull() | (F.col("ts_us_long") - prev >= gap_us), 1).otherwise(0)
    return ev.select(
        "event_id",
        "user_id",
        F.sum(new_s)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("bigint")
        .alias("session_id"),
    )


@register(
    "win_time_weighted_avg",
    oracle="""
    WITH spans AS (
      SELECT user_id, value,
             lead(epoch_us(CAST(ts AS TIMESTAMP)))
               OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
               - epoch_us(CAST(ts AS TIMESTAMP)) AS dt_us
      FROM events
    )
    SELECT user_id,
           round(sum(value * dt_us) / sum(dt_us), 4) AS tw_avg,
           CAST(sum(dt_us) AS BIGINT) AS span_us
    FROM spans
    WHERE dt_us IS NOT NULL AND dt_us > 0
    GROUP BY user_id
    """,
    tags=("window", "timeseries"),
)
def win_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average per user (the hypertable/time-series
    aggregate a plain avg gets wrong on irregular sampling): each
    reading's weight is how long it REMAINED the current value (lead
    timestamp − own timestamp, last reading contributes no span). One
    window for the spans, one aggregate — both shuffle on user_id, and
    AQE reuses the first shuffle's partitioning for the groupBy. Zero-dt
    same-instant readings are excluded on both sides so duplicate
    timestamps cannot make the weighting ill-defined."""
    ev = _events_us(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_us_long", "event_id")
    dt = F.lead("ts_us_long").over(w) - F.col("ts_us_long")
    spans = ev.select("user_id", "value", dt.alias("dt_us")).filter(
        F.col("dt_us").isNotNull() & (F.col("dt_us") > 0)
    )
    return spans.groupBy("user_id").agg(
        F.round(F.sum(F.col("value") * F.col("dt_us")) / F.sum("dt_us"), 4).alias("tw_avg"),
        F.sum("dt_us").cast("bigint").alias("span_us"),
    )


@register(
    "win_percentile_running",
    oracle="""
    SELECT event_id, user_id,
           round(CAST(quantile_cont(value, 0.5)
             OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                   ROWS BETWEEN 24 PRECEDING AND CURRENT ROW) AS DOUBLE), 6)
             AS running_median
    FROM events
    """,
    tags=("window", "timeseries"),
)
def win_percentile_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-25 running median per user (exact interpolated
    percentile over a BOUNDED rows frame) — the robust-centerline
    monitor that a running avg can't give on heavy-tailed values.

    The frame is bounded by design: a growing (UNBOUNDED PRECEDING)
    percentile frame is O(frame) per row with no incremental state —
    O(n²) per key on unbounded history, the r03-flagged scale hazard.
    The trailing ROWS frame caps per-row cost at a constant 25-element
    sort regardless of key history length, which is the form that
    survives 100 TB; callers who need the full-history EXACT quantile
    use `win_percentile_running_full` (streaming two-heap, O(log n)
    per row), and at sketch-tolerant scale approx_percentile per key
    (one pass, mergeable) replaces the window entirely."""
    ev = _events_us(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us_long", "event_id")
        .rowsBetween(-24, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.expr("percentile(value, 0.5)").over(w), 6).alias("running_median"),
    )


@register(
    "win_percentile_running_full",
    oracle="""
    SELECT event_id, user_id,
           CAST(round(2 * quantile_cont(CAST(round(value * 100, 0) AS BIGINT), 0.5)
             OVER (PARTITION BY user_id ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id
                   ROWS UNBOUNDED PRECEDING), 0) AS BIGINT)
             AS med_cents_2x
    FROM events
    """,
    tags=("window", "timeseries"),
)
def win_percentile_running_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL-HISTORY exact running median per user — the scale-safe form
    of the growing-frame percentile window (`win_percentile_running`'s
    trailing-25 twin bounds the frame instead; this op keeps the
    unbounded semantics and fixes the cost): a native
    ``percentile() OVER (ROWS UNBOUNDED PRECEDING)`` re-materializes
    and re-sorts the whole growing frame per row — O(n²) per key, the
    r03-flagged scale hazard — while the streaming TWO-HEAP algorithm
    here maintains the lower-half max-heap / upper-half min-heap
    invariant for O(log n) per row, one sequential pass per key inside
    ``applyInPandas`` (keys are the parallelism unit, same contract as
    `ts_downsample_lttb_exact`).

    Determinism: values quantize to int64 cents BEFORE the heaps, and
    the median is reported DOUBLED (2·mid for odd frames, lo+hi for
    even) so it stays pure int64 — no float interpolation to diverge
    on; the oracle's quantile_cont interpolation on ints is exact in
    double and 2× it is integral, so both engines report the identical
    integer."""
    import pandas as pd

    ev = _events_us(spark, sf_dir)
    pts = ev.select(
        "event_id",
        "user_id",
        "ts_us_long",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("v_cents"),
    )

    def med(pdf: pd.DataFrame) -> pd.DataFrame:
        import heapq

        pdf = pdf.sort_values(["ts_us_long", "event_id"], kind="mergesort")
        lo: list[int] = []  # max-heap of lower half (negated)
        hi: list[int] = []  # min-heap of upper half
        out: list[int] = []
        for c in pdf["v_cents"]:
            c = int(c)
            if lo and c > -lo[0]:
                heapq.heappush(hi, c)
            else:
                heapq.heappush(lo, -c)
            if len(lo) > len(hi) + 1:
                heapq.heappush(hi, -heapq.heappop(lo))
            elif len(hi) > len(lo):
                heapq.heappush(lo, -heapq.heappop(hi))
            out.append(-2 * lo[0] if len(lo) > len(hi) else -lo[0] + hi[0])
        return pd.DataFrame(
            {
                "event_id": pdf["event_id"].to_numpy(),
                "user_id": pdf["user_id"].to_numpy(),
                "med_cents_2x": out,
            }
        )

    return pts.groupBy("user_id").applyInPandas(
        med, "event_id long, user_id long, med_cents_2x long"
    )


_INTERVAL_MERGE_ORACLE = """
    WITH iv AS (
      SELECT DISTINCT l_suppkey AS k, CAST(l_shipdate AS DATE) AS s,
             CAST(l_shipdate AS DATE) + CAST(l_quantity AS INT) AS e
      FROM lineitem
    ),
    flagged AS (
      SELECT k, s, e,
             CASE WHEN s > max(e) OVER (PARTITION BY k ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  THEN 1 ELSE 0 END AS new_island
      FROM iv
    ),
    islands AS (
      SELECT k, s, e,
             sum(new_island) OVER (PARTITION BY k ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM flagged
    ),
    merged AS (
      SELECT k, island, min(s) AS ms, max(e) AS me
      FROM islands GROUP BY k, island
    )
    SELECT k AS l_suppkey,
           CAST(count(*) AS BIGINT) AS n_merged,
           CAST(sum(date_diff('day', ms, me)) AS BIGINT) AS covered_days
    FROM merged GROUP BY k
"""


@register("win_interval_merge", oracle=_INTERVAL_MERGE_ORACLE, tags=("window", "range", "gvcf"))
def win_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union of overlapping intervals per key — merge each supplier's
    [shipdate, shipdate + quantity days] spans into maximal disjoint islands and
    report islands + total covered days. The same kernel merges gVCF
    reference blocks into contiguous covered regions (A9's coverage
    union) and consolidates any interval set without a pair join.

    One shuffle on the key, then two in-partition window passes: (1) a
    row is a NEW island iff its start exceeds the running max end of all
    earlier intervals (running max, not lag(e) — lag alone breaks on
    nested intervals where an earlier long span swallows a later short
    one); (2) island id = running sum of the new-island flags. The
    islands then collapse with an ordinary co-partitioned aggregate.
    Interval-merge via running-max is O(n log n) sort per key vs the
    O(n²) self-join formulation — the difference between a window and a
    join is the whole trick."""
    # The fixture lineitem has no receiptdate; derive a deterministic
    # interval end (shipdate + quantity days) so islands genuinely overlap.
    # Distinct BEFORE the merge windows (r08): the union of a multiset of
    # intervals equals the union of its support set, so duplicates are
    # dead weight in the per-key sort — and the sf1 clone-replicated
    # fixture (every interval x10) exposed a DuckDB parallel-window
    # wobble on duplicate-heavy partitions that made the ORACLE
    # nondeterministic run-to-run (0-2 suppliers flipping; single-thread
    # and distinct-input runs are stable and identical — measured). The
    # dedup both shrinks the window input 10x at sf1 and removes the
    # degenerate tie runs on both engines.
    iv = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            F.col("l_suppkey").alias("k"),
            F.col("l_shipdate").cast("date").alias("s"),
            F.date_add(
                F.col("l_shipdate").cast("date"), F.col("l_quantity").cast("int")
            ).alias("e"),
        )
        .distinct()
    )
    w = Window.partitionBy("k").orderBy("s", "e")
    prev_max_e = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    flagged = iv.withColumn(
        "new_island",
        F.when(F.col("s") > prev_max_e, 1).otherwise(0),
    )
    islands = flagged.withColumn(
        "island",
        F.sum("new_island").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    merged = islands.groupBy("k", "island").agg(
        F.min("s").alias("ms"), F.max("e").alias("me")
    )
    return merged.groupBy("k").agg(
        F.count("*").cast("bigint").alias("n_merged"),
        F.sum(F.datediff("me", "ms")).cast("bigint").alias("covered_days"),
    ).select(F.col("k").alias("l_suppkey"), "n_merged", "covered_days")


_US_HOUR = 3_600_000_000

_TIME_RANGE_ORACLE = f"""
    SELECT event_id, user_id,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN {_US_HOUR} PRECEDING AND CURRENT ROW), 4)
             AS hour_sum,
           CAST(count(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN {_US_HOUR} PRECEDING AND CURRENT ROW) AS BIGINT)
             AS hour_n
    FROM events
"""


@register("win_frame_time_range", oracle=_TIME_RANGE_ORACLE, tags=("window", "timeseries"))
def win_frame_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 1-hour rolling sum/count per user — the time-interval
    RANGE frame (every event sees exactly the events in (t−1h, t]),
    which ROWS frames cannot express on irregular event times.

    The frame bound is an offset on the µs-long ordering column
    (`rangeBetween(-1h_in_µs, 0)`) — numerically identical on both
    engines, no interval-type coercion in play. Cost model: one shuffle
    on user_id + one in-partition sort; Spark evaluates the sliding
    range frame with two pointers over the sorted run (amortized O(1)
    per row, state = the in-frame aggregate), so a year-long user
    timeline costs its sort, not frame-width × rows."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us_long")
        .rangeBetween(-_US_HOUR, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w), 4).alias("hour_sum"),
        F.count("*").over(w).cast("bigint").alias("hour_n"),
    )


_SESSION_ROLLUP_ORACLE = """
    WITH ordered AS (
      SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t,
             CAST(round(value * 100, 0) AS BIGINT) AS cents,
             lag(epoch_us(CAST(ts AS TIMESTAMP)))
               OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_t
      FROM events
    ),
    tagged AS (
      SELECT *, CAST(sum(CASE WHEN prev_t IS NULL OR t - prev_t >= 1800000000
                              THEN 1 ELSE 0 END)
                       OVER (PARTITION BY user_id ORDER BY t, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS session_id
      FROM ordered
    )
    SELECT user_id, session_id,
           min(t) AS start_us, max(t) AS end_us,
           max(t) - min(t) AS duration_us,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(cents) AS BIGINT) AS total_cents
    FROM tagged
    GROUP BY user_id, session_id
"""


@register("win_session_rollup", oracle=_SESSION_ROLLUP_ORACLE, tags=("window", "analytics"))
def win_session_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-LEVEL metrics (start, end, duration, events, spend) on top
    of gaps-and-islands sessionization — the table a product-analytics
    team actually reads; `win_gaps_islands` tags events, this rolls the
    tags up. 30-minute inactivity boundary, same as the streaming
    session-window twin.

    The rollup groups on (user_id, session_id) — a REFINEMENT of the
    window's user_id partitioning, so the aggregate's exchange
    requirement is already satisfied by the window stage's shuffle:
    one full-data exchange end-to-end, aggregate runs partial→final on
    co-located rows. Duration stays exact integer µs; session_id is the
    running-flag sum, deterministic under the (t, event_id) tiebreak.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_us_long", "event_id")
    run = Window.partitionBy("user_id").orderBy("ts_us_long", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    prev_t = F.lag("ts_us_long").over(w)
    new_s = F.when(
        prev_t.isNull() | (F.col("ts_us_long") - prev_t >= 1_800_000_000), 1
    ).otherwise(0)
    tagged = ev.select(
        "user_id",
        "ts_us_long",
        "event_id",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
        F.sum(new_s).over(run).alias("session_id"),
    )
    return tagged.groupBy("user_id", "session_id").agg(
        F.min("ts_us_long").alias("start_us"),
        F.max("ts_us_long").alias("end_us"),
        (F.max("ts_us_long") - F.min("ts_us_long")).alias("duration_us"),
        F.count("*").alias("n_events"),
        F.sum("cents").alias("total_cents"),
    )


_MTD_YTD_ORACLE = """
    WITH daily AS (
      SELECT event_type, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS rev_cents
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, day, rev_cents,
           CAST(sum(rev_cents) OVER (
             PARTITION BY event_type, date_trunc('month', day)
             ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS mtd_cents,
           CAST(sum(rev_cents) OVER (
             PARTITION BY event_type, date_trunc('year', day)
             ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ytd_cents,
           CAST(row_number() OVER (
             PARTITION BY event_type, date_trunc('month', day)
             ORDER BY day) AS BIGINT) AS day_of_month_rank
    FROM daily
"""


@register("win_mtd_ytd", oracle=_MTD_YTD_ORACLE, tags=("window",))
def win_mtd_ytd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-reset running totals: per series, month-to-date and
    year-to-date revenue that RESET at each calendar boundary — the
    fiscal-reporting window every BI layer reimplements (a plain
    running sum never resets; the reset is just the right PARTITION BY
    key: (series, month) and (series, year)).

    The raw log collapses first in ONE daily hash aggregate (map-side
    combine, int cents), so the windows run over #days × #series rows —
    at 100 TB the window input is calendar-bounded, not data-bounded.
    Both cumulative windows and the rank share the (event_type, month)
    sort order; Spark plans the year window as a second exchange over
    the already-tiny daily relation. Exact int sums throughout."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            F.date_trunc("day", F.col("ts_us")).alias("day"),
            F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("cents").cast("bigint").alias("rev_cents"))
    )
    mw = (
        Window.partitionBy("event_type", F.date_trunc("month", F.col("day")))
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    yw = (
        Window.partitionBy("event_type", F.date_trunc("year", F.col("day")))
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    rw = Window.partitionBy("event_type", F.date_trunc("month", F.col("day"))).orderBy(
        "day"
    )
    return daily.select(
        "event_type",
        "day",
        "rev_cents",
        F.sum("rev_cents").over(mw).cast("bigint").alias("mtd_cents"),
        F.sum("rev_cents").over(yw).cast("bigint").alias("ytd_cents"),
        F.row_number().over(rw).cast("bigint").alias("day_of_month_rank"),
    )


@register(
    "win_drawdown_max",
    oracle="""
    WITH c AS (
      SELECT event_id, user_id, epoch_us(ts) AS ts_us,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
               OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents
      FROM events
    ),
    p AS (
      SELECT event_id, user_id, cum_cents,
             max(cum_cents)
               OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                     ROWS UNBOUNDED PRECEDING) AS peak_cents
      FROM c
    )
    SELECT event_id, user_id, cum_cents, peak_cents,
           peak_cents - cum_cents AS dd_cents
    FROM p
    """,
    tags=("window", "timeseries"),
)
def win_drawdown_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running drawdown per user: cumulative value balance, its running
    peak, and the gap back to that peak — the risk/health monitor shape
    (portfolio drawdown, error-budget burn, battery drain) that needs
    TWO stacked running aggregates over the same per-key order.

    Physical plan: both windows share one partitioning (user_id) and one
    sort, so Spark plans a single shuffle + single sort with two
    running-aggregate passes — O(1) per row, no frame re-scan; at 100 TB
    the cost is one keyed shuffle of (key, cents), the minimum for any
    order-dependent statistic. Values quantize to integer cents BEFORE
    the cumsum so the running sums are exact int64 on both engines
    (float cumsum order-drift is the classic cross-engine hash breaker)."""
    ev = _events_us(spark, sf_dir)
    wseq = Window.partitionBy("user_id").orderBy("ts_us_long", "event_id")
    frame = wseq.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = (
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint"))
        .over(frame)
        .alias("cum_cents")
    )
    c = ev.select("event_id", "user_id", "ts_us_long", cum)
    p = c.select(
        "event_id",
        "user_id",
        "cum_cents",
        F.max("cum_cents").over(frame).alias("peak_cents"),
    )
    return p.select(
        "event_id",
        "user_id",
        "cum_cents",
        "peak_cents",
        (F.col("peak_cents") - F.col("cum_cents")).alias("dd_cents"),
    )
