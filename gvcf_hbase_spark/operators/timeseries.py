"""Time-series operators over the ``events`` table: regular-grid
resampling with linear interpolation, z-score anomaly flagging, and a
running-distinct window — the hypertable-style queries a metrics/
observability team runs on the same event log the streaming operators
consume (SURVEY §2B.13 beyond-reference surface).

Scale shapes (100 TB):

- ``ts_resample_interpolate`` — output cardinality is #series × grid
  span, INDEPENDENT of input row count: the bucket aggregate collapses
  the raw log in its first (and only full-data) shuffle, and every later
  stage runs on the bucket grid. The explode(sequence) gap-fill is the
  same bounded-expansion pattern as ``gvcf_combine``; its factor is
  (span / bucket width), known before launch from min/max.
- ``anomaly_zscore`` — two-pass mean/std then broadcast join back; no
  window sort over the full log. The per-type stats dim has one row per
  event type, broadcast by AQE on its own.
- ``win_distinct_running`` — running COUNT(DISTINCT) is not directly a
  Spark window aggregate; the first-occurrence-flag + running-sum
  decomposition keeps it a pair of ordinary window specs over the SAME
  (user_id) partitioning — one shuffle, two in-partition sorts, no
  distinct state per frame.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from gvcf_hbase_spark.registry import register
from gvcf_hbase_spark.session import one_compute_boundary
from gvcf_hbase_spark.sources.tables import load_table

_US_PER_HOUR = 3_600_000_000

_RESAMPLE_ORACLE = f"""
    WITH b AS (
      SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) // {_US_PER_HOUR} AS h,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS DOUBLE)
               / (count(*) * 100) AS v
      FROM events GROUP BY 1, 2
    ),
    r AS (SELECT event_type, min(h) AS mn, max(h) AS mx FROM b GROUP BY 1),
    grid AS (SELECT event_type, unnest(generate_series(mn, mx)) AS h FROM r),
    j AS (
      SELECT g.event_type, g.h, b.v
      FROM grid g LEFT JOIN b USING (event_type, h)
    ),
    w AS (
      SELECT event_type, h, v,
        lag(v IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY h) AS pv,
        lag(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS)
          OVER (PARTITION BY event_type ORDER BY h) AS pm,
        lead(v IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY h) AS nv,
        lead(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS)
          OVER (PARTITION BY event_type ORDER BY h) AS nm
      FROM j
    )
    SELECT event_type, h * {_US_PER_HOUR} AS bucket_us,
           CAST(floor((CASE WHEN v IS NOT NULL THEN v
                            WHEN pv IS NULL THEN nv
                            WHEN nv IS NULL THEN pv
                            ELSE pv + (nv - pv) * (h - pm) / (nm - pm)
                       END) * 10000 + 0.5) AS BIGINT) AS value_1e4,
           CAST(v IS NULL AS INT) AS interpolated
    FROM w
"""


@register("ts_resample_interpolate", oracle=_RESAMPLE_ORACLE, tags=("timeseries", "window"))
def ts_resample_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample each event-type series onto a regular hourly grid and
    linearly interpolate the gaps: hour buckets get avg(value); missing
    hours between the series' first and last observation get
    ``prev + (next - prev) * (t - t_prev) / (t_next - t_prev)``
    (nearest present buckets on each side; one-sided gaps carry the
    single available neighbor).

    Physical plan: ONE full-data shuffle (the hour-bucket aggregate on
    (event_type, hour)); the min/max range agg, the sequence() gap-fill
    explode, and the neighbor windows all run on the collapsed grid,
    whose size is #series × span-hours regardless of the raw log's row
    count. The neighbor lookup is last/first(ignorenulls) over rows
    frames — the same carry-forward shape as ``win_carry_forward``, run
    both directions.

    Determinism war story (§5.4, earned here twice): the fixture values
    are 2-dp quantized, so bucket means and interpolations sit ON
    decimal rounding midpoints. First fix — sum exact integer cents and
    divide once, making both engines' doubles bit-identical. Still
    failed: Spark's round() is exact-decimal HALF_UP while DuckDB's is
    scaled float arithmetic, and ON midpoints the conventions disagree
    even on identical doubles. Final form: explicit floor(v·10⁴ + 0.5)
    quantization to integer 1e-4 units — the same IEEE ops on both
    engines, integer output, floats removed from the hash entirely.
    """
    ev = load_table(spark, sf_dir, "events")
    b = (
        ev.select(
            "event_type",
            # integer div, not double `/`+cast: exact at any epoch magnitude
            F.expr(f"ts_us_long div {_US_PER_HOUR}").alias("h"),
            "value",
        )
        .groupBy("event_type", "h")
        # exact-integer bucket mean: the fixture values are 2-dp
        # quantized, so double avg() lands exactly on decimal rounding
        # midpoints and ANY display precision can flip on a 1-ulp
        # summation-order difference between engines. Summing exact
        # cents (bigint) and dividing once makes both engines perform
        # the SAME single IEEE division on identical operands —
        # bit-identical v, deterministic rounding, at every SF.
        .agg(
            (
                F.sum(F.round(F.col("value") * 100, 0).cast("bigint")).cast("double")
                / (F.count("*") * 100)
            ).alias("v")
        )
    )
    rng = b.groupBy("event_type").agg(F.min("h").alias("mn"), F.max("h").alias("mx"))
    grid = rng.select(
        "event_type", F.explode(F.sequence("mn", "mx")).alias("h")
    )
    j = grid.join(b, ["event_type", "h"], "left")
    w = Window.partitionBy("event_type").orderBy("h")
    before = w.rowsBetween(Window.unboundedPreceding, -1)
    after = w.rowsBetween(1, Window.unboundedFollowing)
    h_if_obs = F.when(F.col("v").isNotNull(), F.col("h"))
    pv = F.last("v", ignorenulls=True).over(before)
    pm = F.last(h_if_obs, ignorenulls=True).over(before)
    nv = F.first("v", ignorenulls=True).over(after)
    nm = F.first(h_if_obs, ignorenulls=True).over(after)
    value = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(pv.isNull(), nv)
        .when(nv.isNull(), pv)
        .otherwise(pv + (nv - pv) * (F.col("h") - pm) / (nm - pm))
    )
    return j.select(
        "event_type",
        (F.col("h") * F.lit(_US_PER_HOUR)).alias("bucket_us"),
        # explicit scaled-floor quantization to integer 1e-4 units, NOT
        # round(): Spark rounds doubles via exact decimal HALF_UP while
        # DuckDB rounds via scaled float arithmetic — near the decimal
        # midpoints this quantized fixture constantly produces, the two
        # conventions disagree on identical input doubles. floor(v*1e4 +
        # 0.5) is the same IEEE op sequence on both engines, and the
        # integer output removes floats from the hash entirely.
        F.floor(value * 10000 + F.lit(0.5)).cast("bigint").alias("value_1e4"),
        F.col("v").isNull().cast("int").alias("interpolated"),
    )


_ZSCORE_ORACLE = """
    WITH s AS (
      SELECT event_type, avg(value) AS m, stddev_samp(value) AS sd
      FROM events GROUP BY 1
    )
    SELECT e.event_id, e.event_type, e.value,
           round((e.value - s.m) / s.sd, 6) AS z
    FROM events e JOIN s USING (event_type)
    WHERE abs(e.value - s.m) > 2.5 * s.sd
"""


@register("anomaly_zscore", oracle=_ZSCORE_ORACLE, tags=("timeseries", "analytics"))
def anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type z-score outlier flagging: events whose value sits
    more than 2.5 sample standard deviations from the type mean.

    Two-pass, no window: pass 1 is a 5-row mean/std aggregate, pass 2 a
    broadcast join back over the log and a filter. The alternative — a
    window over partitionBy(event_type) — would sort 100 TB inside 5
    giant skewed partitions; the agg+join shape keeps the log scan
    embarrassingly parallel and pushes only a 5-row dim through the
    broadcast. The 2.5σ threshold flags ~1–2% of a normal-ish value
    distribution, enough rows for the hash compare to be meaningful.
    """
    ev = load_table(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("m"), F.stddev_samp("value").alias("sd")
    )
    return (
        ev.join(F.broadcast(stats), "event_type")
        .filter(F.abs(F.col("value") - F.col("m")) > 2.5 * F.col("sd"))
        .select(
            "event_id",
            "event_type",
            "value",
            F.round((F.col("value") - F.col("m")) / F.col("sd"), 6).alias("z"),
        )
    )


_RUN_DISTINCT_ORACLE = """
    SELECT event_id, user_id,
           CAST(count(DISTINCT event_type)
                OVER (PARTITION BY user_id
                      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS BIGINT)
             AS n_types_seen
    FROM events
"""


@register("win_distinct_running", oracle=_RUN_DISTINCT_ORACLE, tags=("timeseries", "window"))
def win_distinct_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running count of DISTINCT event types each user has produced, in
    event-time order — "how far through the product surface is this user
    by event k".

    Spark has no DISTINCT window aggregate, and the naive
    collect_set-over-frame holds a per-frame set. The standard
    decomposition used here: flag each row that is the FIRST occurrence
    of its (user, type) pair (row_number over the pair), then running-sum
    the flag over the plain user window. Both window specs hash-partition
    on ``user_id`` alone — Spark plans them over ONE exchange with two
    in-partition sorts, which is the shape that survives a 1000-executor
    scale-up. The oracle runs DuckDB's native COUNT(DISTINCT …) OVER, so
    the decomposition is checked against an independent implementation
    rather than a mirror of itself.
    """
    ev = load_table(spark, sf_dir, "events")
    first_w = Window.partitionBy("user_id", "event_type").orderBy("ts_us_long", "event_id")
    run_w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us_long", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    is_first = (F.row_number().over(first_w) == 1).cast("bigint")
    return ev.select(
        "event_id",
        "user_id",
        F.sum(is_first).over(run_w).alias("n_types_seen"),
    )


_EWMA_ORACLE = """
    WITH w AS (
      SELECT event_id, user_id,
             list(CAST(round(value * 100, 0) AS BIGINT) / 100.0)
               OVER (PARTITION BY user_id
                     ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id
                     ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS vs
      FROM events
    )
    SELECT event_id, user_id,
           CAST(floor(
             list_sum(list_transform(vs, (x, i) -> x * pow(0.5, len(vs) - i)))
             / list_sum(list_transform(vs, (x, i) -> pow(0.5, len(vs) - i)))
             * 10000 + 0.5) AS BIGINT) AS ewma_1e4
    FROM w
"""


@register("ts_ewma", oracle=_EWMA_ORACLE, tags=("timeseries", "window"))
def ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average of each user's event values
    (α = 0.5, pandas ``ewm(adjust=True)`` weighting) over a trailing
    10-row window: ewma_t = Σ xᵢ·(1-α)^(t-i) / Σ (1-α)^(t-i).

    The unbounded-history EWMA is a linear recurrence — not a window
    aggregate in either engine. Truncating the history to 10 rows is
    exact to within (1-α)¹⁰ ≈ 1e-3 relative weight AND makes the
    definition closed-form: collect the trailing frame (collect_list
    preserves the ordered frame's order), weight by position with an
    indexed transform(), fold with aggregate(). All JVM expression
    work — no Python, no UDF, one shuffle on user_id.

    Scale: the frame is O(10) per row regardless of series length, so
    task memory is flat; the window sort is the same single
    (user_id)-exchange every other per-user window op here rides.
    Determinism: values enter as exact cents (the 2-dp fixture trick),
    weights are exact powers of two, folds run left-to-right in frame
    order on both engines, and the output is floor-quantized to integer
    1e-4 units — no float reaches the hash. DuckDB's lambda index is
    1-based, Spark's 0-based: both sides compute weight (1-α)^(n-1-i₀)
    for 0-based i₀ (the oracle's ``len(vs) - i`` == n-1-i₀).
    """
    ev = load_table(spark, sf_dir, "events")
    frame = (
        Window.partitionBy("user_id")
        .orderBy("ts_us_long", "event_id")
        .rowsBetween(-9, Window.currentRow)
    )
    cents = (F.round(F.col("value") * 100, 0).cast("bigint") / 100.0).alias("x")
    vs = F.collect_list(cents).over(frame)
    n = F.size(vs)
    wnum = F.aggregate(
        F.transform(vs, lambda x, i: x * F.pow(F.lit(0.5), n - 1 - i)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    wden = F.aggregate(
        F.transform(vs, lambda x, i: F.pow(F.lit(0.5), n - 1 - i)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return ev.select(
        "event_id",
        "user_id",
        F.floor(wnum / wden * 10000 + F.lit(0.5)).cast("bigint").alias("ewma_1e4"),
    )


_LAG_FEATURES_ORACLE = """
    WITH t AS (
      SELECT event_id, user_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us,
             CAST(round(value * 100, 0) AS BIGINT) AS c
      FROM events
    )
    SELECT event_id, user_id,
           lag(c, 1) OVER w AS lag1_c,
           lag(c, 2) OVER w AS lag2_c,
           us - lag(us, 1) OVER w AS dt_us,
           CAST(floor(
             CAST(sum(c) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
                  AS DOUBLE)
             / (count(*) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
                * 100) * 10000 + 0.5) AS BIGINT) AS roll3_1e4
    FROM t
    WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
"""


@register("ts_lag_features", oracle=_LAG_FEATURES_ORACLE, tags=("timeseries", "window"))
def ts_lag_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supervised-learning feature generation over the event log: per
    user in event-time order, the two previous values, the time delta
    to the previous event, and a 3-row trailing mean — the standard
    lag-feature block a forecasting pipeline materializes before
    training.

    One exchange on user_id serves all four features: the lags, the
    delta, and the trailing frame are different frames over the SAME
    window spec, and Spark plans them over a single sort. Series
    boundaries yield NULL lags (first rows) rather than leaking values
    across users. Exact integer cents throughout; the only division is
    the trailing mean's single IEEE divide, floor-quantized to 1e-4.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_us_long", "event_id")
    roll = w.rowsBetween(-2, Window.currentRow)
    c = F.round(F.col("value") * 100, 0).cast("bigint")
    return ev.select(
        "event_id",
        "user_id",
        F.lag(c, 1).over(w).alias("lag1_c"),
        F.lag(c, 2).over(w).alias("lag2_c"),
        (F.col("ts_us_long") - F.lag("ts_us_long", 1).over(w)).alias("dt_us"),
        F.floor(
            F.sum(c).over(roll).cast("double")
            / (F.count("*").over(roll) * 100)
            * 10000
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("roll3_1e4"),
    )


_ROLLING_CORR_ORACLE = """
    WITH t AS (
      SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
             CAST(round(value * 100, 0) AS BIGINT) AS x
      FROM events
    ), p AS (
      SELECT *, lag(x) OVER w AS y FROM t
      WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ), s AS (
      SELECT event_id, user_id,
             count(*) OVER f AS n,
             sum(x) OVER f AS sx, sum(y) OVER f AS sy,
             sum(x * y) OVER f AS sxy,
             sum(x * x) OVER f AS sxx, sum(y * y) OVER f AS syy
      FROM p WHERE y IS NOT NULL
      WINDOW f AS (PARTITION BY user_id ORDER BY us, event_id
                   ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, user_id,
           CASE WHEN n >= 5 AND (n*sxx - sx*sx) > 0 AND (n*syy - sy*sy) > 0
                THEN CAST(floor(
                  CAST(n*sxy - sx*sy AS DOUBLE)
                  / sqrt(CAST(n*sxx - sx*sx AS DOUBLE) * CAST(n*syy - sy*sy AS DOUBLE))
                  * 1e6 + 0.5) AS BIGINT)
           END AS corr_1e6
    FROM s
"""


@register("win_rolling_corr", oracle=_ROLLING_CORR_ORACLE, tags=("timeseries", "window"))
def win_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling Pearson correlation between each user's value series and
    its own 1-lag (trailing 20 rows, ≥5 observations) — the
    autocorrelation tracker behind change-point and seasonality
    monitors.

    Spark has no corr() window aggregate over arbitrary frames with this
    null discipline, but corr is algebra over five running sums — n, Σx,
    Σy, Σxy, Σx², Σy² — and window SUMs it has. All six ride ONE
    (user_id) exchange and one in-partition sort: the lag pass and the
    frame-sum pass stack as two Window nodes over the same partitioning
    (plan-verified — 1 Exchange, no re-sort between them). Every sum is
    over exact integer cents, so cross-engine the
    only floats are the final sqrt/divide on identical operands;
    degenerate frames (constant series ⇒ zero variance) yield NULL by
    the same guard on both engines rather than a 0/0. The lag-feature
    block (`ts_lag_features`) is stage one of the same plan shape.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_us_long", "event_id")
    f = w.rowsBetween(-19, Window.currentRow)
    x = F.round(F.col("value") * 100, 0).cast("bigint")
    p = ev.select(
        "event_id", "user_id", "ts_us_long", x.alias("x"), F.lag(x).over(w).alias("y")
    ).filter(F.col("y").isNotNull())
    s = p.select(
        "event_id",
        "user_id",
        F.count("*").over(f).alias("n"),
        F.sum("x").over(f).alias("sx"),
        F.sum("y").over(f).alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(f).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(f).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(f).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    cov_n = n * F.col("sxy") - sx * sy
    vx_n = n * F.col("sxx") - sx * sx
    vy_n = n * F.col("syy") - sy * sy
    corr = F.when(
        (n >= 5) & (vx_n > 0) & (vy_n > 0),
        F.floor(
            cov_n.cast("double")
            / F.sqrt(vx_n.cast("double") * vy_n.cast("double"))
            * 1e6
            + F.lit(0.5)
        ).cast("bigint"),
    )
    return s.select("event_id", "user_id", corr.alias("corr_1e6"))


_CUSUM_ORACLE = """
    WITH t AS (
      SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
             CAST(round(value * 100, 0) AS BIGINT) - 5500 AS y
      FROM events
    ),
    p AS (
      SELECT event_id, user_id, us,
             CAST(sum(y) OVER w AS BIGINT) AS pf
      FROM t
      WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, user_id,
           pf - least(CAST(0 AS BIGINT), min(pf) OVER w2) AS cusum_cents,
           (pf - least(CAST(0 AS BIGINT), min(pf) OVER w2)) > 20000 AS drift_flag
    FROM p
    WINDOW w2 AS (PARTITION BY user_id ORDER BY us, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


@register("anomaly_cusum", oracle=_CUSUM_ORACLE, tags=("timeseries", "anomaly"))
def anomaly_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM drift detector per user: Page's recursion
    C_t = max(0, C_{t−1} + (x_t − target − slack)) with an alarm when C
    crosses h — the sequential change-point statistic behind metric-drift
    monitors (target 55.00, slack absorbed into it, h = 200.00).

    The recursion LOOKS inherently sequential (each C depends on the
    previous), but it has a closed form Spark's window engine can run:
    C_t = P_t − min(0, min_{j≤t} P_j), where P is the plain prefix sum of
    the excess series — "the drift since the most recent reset point".
    Two running windows over ONE (user_id) exchange and one in-partition
    sort replace what would otherwise be a per-key Python fold in
    applyInPandas; state never leaves the JVM and a 10⁹-row user history
    streams through the frame in O(1) memory per row. Everything is exact
    integer cents — no float drift across engines, no rounding gate
    needed.
    """
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us_long", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    p = ev.select(
        "event_id",
        "user_id",
        "ts_us_long",
        F.sum(F.round(F.col("value") * 100, 0).cast("bigint") - 5500)
        .over(w)
        .alias("pf"),
    )
    # Identical partitioning+ordering as w: the second Window node stacks
    # on the first's exchange and sort (plan-verified: 1 Exchange, 1 Sort,
    # 2 Window passes) — the recursion costs one shuffle total.
    w2 = (
        Window.partitionBy("user_id")
        .orderBy("ts_us_long", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cusum = F.col("pf") - F.least(F.lit(0).cast("bigint"), F.min("pf").over(w2))
    return p.select(
        "event_id",
        "user_id",
        cusum.alias("cusum_cents"),
        (cusum > 20000).alias("drift_flag"),
    )


_SEASONAL_ORACLE = """
    WITH h AS (
      SELECT event_type,
             CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS BIGINT) AS hr,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ),
    tr AS (
      SELECT event_type, hr, cnt,
             CASE WHEN count(*) OVER w = 7
                  THEN CAST(floor(CAST(sum(cnt) OVER w * 100 AS DOUBLE) / 7) AS BIGINT)
             END AS trend_1e2
      FROM h
      WINDOW w AS (PARTITION BY event_type ORDER BY hr
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    d AS (
      SELECT *, cnt * 100 - trend_1e2 AS detr_1e2, hr % 24 AS hod FROM tr
    ),
    s AS (
      SELECT event_type, hod,
             CAST(floor(CAST(sum(detr_1e2) AS DOUBLE) / count(detr_1e2)) AS BIGINT)
               AS seasonal_1e2
      FROM d WHERE detr_1e2 IS NOT NULL GROUP BY 1, 2
    )
    SELECT d.event_type, d.hr, d.cnt, d.trend_1e2, s.seasonal_1e2,
           d.detr_1e2 - s.seasonal_1e2 AS resid_1e2
    FROM d LEFT JOIN s ON d.event_type = s.event_type AND d.hod = s.hod
"""


@register("ts_seasonal_decompose", oracle=_SEASONAL_ORACLE, tags=("timeseries",))
def ts_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive decomposition of the hourly event-rate series
    per type: trend (centered 7-hour moving average, full windows only),
    seasonal (mean detrended value per hour-of-day), remainder — the
    STL-lite any metric-monitoring stack runs before alerting on the
    residual.

    The raw log is touched ONCE (the hourly count aggregate, map-side
    combined); every later stage — the centered-MA window, the
    hour-of-day seasonal aggregate, the join-back — operates on
    #types × #hours rows, input-size independent. The seasonal table
    re-joins by (type, hod): dimension-sized, AQE broadcasts it. Edge
    hours (< 7-row window) get NULL trend, and are excluded from the
    seasonal means rather than polluting them. Arithmetic is scaled
    integers with floor-after-double-division on exact operands — the
    ×100 fixed-point convention shared with the resample op.
    """
    ev = load_table(spark, sf_dir, "events")
    h = (
        ev.groupBy(
            "event_type",
            (F.col("ts_us_long") / F.lit(3_600_000_000)).cast("bigint").alias("hr"),
        )
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy("event_type").orderBy("hr").rowsBetween(-3, 3)
    trend = F.when(
        F.count("*").over(w) == 7,
        F.floor((F.sum("cnt").over(w) * 100).cast("double") / 7).cast("bigint"),
    )
    d = h.withColumn("trend_1e2", trend).withColumn(
        "detr_1e2", F.col("cnt") * 100 - F.col("trend_1e2")
    ).withColumn("hod", F.col("hr") % 24)
    s = (
        d.filter(F.col("detr_1e2").isNotNull())
        .groupBy("event_type", "hod")
        .agg(
            F.floor(
                F.sum("detr_1e2").cast("double") / F.count("detr_1e2")
            ).cast("bigint").alias("seasonal_1e2")
        )
    )
    return d.join(s, ["event_type", "hod"], "left").select(
        "event_type",
        "hr",
        "cnt",
        "trend_1e2",
        "seasonal_1e2",
        (F.col("detr_1e2") - F.col("seasonal_1e2")).alias("resid_1e2"),
    )


_SAX_ORACLE = """
    WITH h AS (
      SELECT event_type,
             CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS BIGINT) AS hr,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ),
    seg AS (
      SELECT event_type, CAST(hr // 24 AS BIGINT) AS seg,
             CAST(sum(cnt) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n
      FROM h GROUP BY 1, 2
    ),
    st AS (
      SELECT event_type,
             avg(CAST(s AS DOUBLE) / n) AS m,
             stddev_pop(CAST(s AS DOUBLE) / n) AS sd
      FROM seg GROUP BY 1
    )
    SELECT seg.event_type, seg.seg,
           CAST(floor((CAST(s AS DOUBLE) / n - m) / sd * 1e6 + 0.5) AS BIGINT)
             AS z_1e6,
           CASE WHEN floor((CAST(s AS DOUBLE) / n - m) / sd * 1e6 + 0.5) < -674500
                  THEN 'a'
                WHEN floor((CAST(s AS DOUBLE) / n - m) / sd * 1e6 + 0.5) < 0
                  THEN 'b'
                WHEN floor((CAST(s AS DOUBLE) / n - m) / sd * 1e6 + 0.5) < 674500
                  THEN 'c'
                ELSE 'd' END AS symbol
    FROM seg JOIN st USING (event_type)
    WHERE st.sd > 0
"""


@register("ts_sax_symbols", oracle=_SAX_ORACLE, tags=("timeseries",))
def ts_sax_symbols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX symbolization (Lin/Keogh) of the hourly event-rate series per
    type: PAA-compress to daily segments (mean of each 24-hour frame),
    z-normalize the segment means per series, then map to a 4-letter
    alphabet at the N(0,1) quartile breakpoints (−0.6745, 0, 0.6745) —
    the representation that turns a numeric series into a string so
    motif mining, symbolic matching, and `text_*`-family tooling apply
    to telemetry.

    Scale: the raw log is touched once (the hourly count aggregate,
    map-side combined); PAA is a second #types×#hours → #types×#days
    aggregate; the per-series mean/σ is a #types-row dim broadcast back.
    No windows, no per-row Python. Determinism: segment means are exact
    int-ratio doubles (identical IEEE ops both engines), the z-score is
    floor-quantized to 1e-6 under the shared §5.4 convention, and the
    ALPHABET CUT compares the quantized integer — so a breakpoint
    boundary can't flip between engines. Zero-variance series (σ=0) are
    excluded on both sides (no z-score exists)."""
    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type",
        (F.col("ts_us_long") / F.lit(3_600_000_000)).cast("bigint").alias("hr"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    seg = h.groupBy(
        "event_type", F.expr("hr div 24").cast("bigint").alias("seg")
    ).agg(F.sum("cnt").alias("s"), F.count(F.lit(1)).alias("n"))
    paa = F.col("s").cast("double") / F.col("n")
    st = seg.groupBy("event_type").agg(
        F.avg(paa).alias("m"), F.stddev_pop(paa).alias("sd")
    )
    z6 = F.floor((paa - F.col("m")) / F.col("sd") * 1e6 + F.lit(0.5)).cast("bigint")
    return (
        seg.join(F.broadcast(st), "event_type")
        .filter(F.col("sd") > 0)
        .select(
            "event_type",
            "seg",
            z6.alias("z_1e6"),
            F.when(z6 < -674500, "a")
            .when(z6 < 0, "b")
            .when(z6 < 674500, "c")
            .otherwise("d")
            .alias("symbol"),
        )
    )


_SEASONAL_RESID_ORACLE = f"""
    WITH decomp AS ({_SEASONAL_ORACLE}),
    r AS (
      SELECT event_type, hr, resid_1e2 FROM decomp WHERE resid_1e2 IS NOT NULL
    ),
    med AS (
      SELECT event_type,
             percentile_cont(0.5) WITHIN GROUP (ORDER BY resid_1e2) AS med
      FROM r GROUP BY 1
    ),
    dev AS (
      SELECT r.event_type, r.hr, r.resid_1e2,
             abs(CAST(r.resid_1e2 AS DOUBLE) - med.med) AS ad
      FROM r JOIN med USING (event_type)
    ),
    mad AS (
      SELECT event_type,
             percentile_cont(0.5) WITHIN GROUP (ORDER BY ad) AS mad
      FROM dev GROUP BY 1
    )
    SELECT d.event_type, d.hr, d.resid_1e2,
           CAST(floor(d.ad / (1.4826 * mad.mad) * 1e4 + 0.5) AS BIGINT)
             AS robust_z_1e4
    FROM dev d JOIN mad USING (event_type)
    WHERE mad.mad > 0 AND d.ad > 3 * 1.4826 * mad.mad
"""


@register(
    "anomaly_seasonal_residual",
    oracle=_SEASONAL_RESID_ORACLE,
    tags=("timeseries", "anomaly"),
)
def anomaly_seasonal_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-aware anomaly flagging — the composition every metric
    monitor actually runs: decompose the hourly rate (trend + hour-of-
    day seasonal, `ts_seasonal_decompose` verbatim), then MAD-flag the
    REMAINDER per type (|r − med| > 3·1.4826·MAD, `anomaly_mad`'s robust
    rule). Flagging the residual instead of the raw count is the whole
    point: a 9am traffic spike is SEASON, not anomaly — `anomaly_zscore`
    and `anomaly_mad` over raw values fire on it every day, this op
    stays silent and fires only on deviations the trend and season
    can't explain.

    Scale posture is the two parents': one raw-log aggregate, then
    everything rides #types×#hours rows with #types-row medians
    broadcast back (the log crosses no exchange after the first
    aggregate). Edge hours without a full trend window carry a NULL
    remainder and are excluded on both sides. Integer-×100 residuals
    make both engines' interpolated medians identical doubles — same
    determinism argument as `anomaly_mad`."""
    decomp = ts_seasonal_decompose(spark, sf_dir)
    # One-compute boundary (r10, guide §2.4): r feeds the median, the
    # deviation join, and (through dev) the MAD and the final filter —
    # without it the whole decompose pipeline re-ran per consumer
    # (measured 6 ReusedExchange but 9 separate parquet scans at sf1).
    r = one_compute_boundary(
        decomp.filter(F.col("resid_1e2").isNotNull()).select(
            "event_type", "hr", "resid_1e2"
        )
    )
    med = r.groupBy("event_type").agg(
        F.percentile("resid_1e2", F.lit(0.5)).alias("med")
    )
    dev = r.join(F.broadcast(med), "event_type").withColumn(
        "ad", F.abs(F.col("resid_1e2").cast("double") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(F.percentile("ad", F.lit(0.5)).alias("mad"))
    j = dev.join(F.broadcast(mad), "event_type")
    scale = 1.4826 * F.col("mad")
    return j.filter((F.col("mad") > 0) & (F.col("ad") > 3 * scale)).select(
        "event_type",
        "hr",
        "resid_1e2",
        F.floor(F.col("ad") / scale * 1e4 + F.lit(0.5))
        .cast("bigint")
        .alias("robust_z_1e4"),
    )


_DOMINANT_PERIOD_ORACLE = """
    WITH h AS (
      SELECT event_type,
             CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS BIGINT) AS hr,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ),
    st AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cnt) AS BIGINT) AS s
      FROM h GROUP BY 1
    ),
    den AS (
      SELECT h.event_type,
             CAST(sum((st.n * h.cnt - st.s) * (st.n * h.cnt - st.s)) AS BIGINT)
               AS den
      FROM h JOIN st USING (event_type) GROUP BY 1
    ),
    num AS (
      SELECT a.event_type, l.lag,
             CAST(sum((st.n * a.cnt - st.s) * (st.n * b.cnt - st.s)) AS BIGINT)
               AS num,
             CAST(count(*) AS BIGINT) AS n_pairs
      FROM h a
      JOIN (SELECT CAST(unnest(range(2, 37)) AS BIGINT) AS lag) l ON TRUE
      JOIN h b ON b.event_type = a.event_type AND b.hr = a.hr - l.lag
      JOIN st ON st.event_type = a.event_type
      GROUP BY 1, 2
    )
    SELECT event_type, lag AS best_lag, n_pairs,
           CAST(floor(CAST(num AS DOUBLE) * 1000000 / den + 0.5) AS BIGINT)
             AS acf_1e6
    FROM (
      SELECT num.*, den.den,
             row_number() OVER (PARTITION BY num.event_type
                                ORDER BY num.num DESC, num.lag) AS rn
      FROM num JOIN den USING (event_type)
      WHERE den.den > 0
    ) WHERE rn = 1
"""


@register("ts_dominant_period", oracle=_DOMINANT_PERIOD_ORACLE, tags=("timeseries",))
def ts_dominant_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant cycle length per event type: the lag ∈ [2, 36] hours that
    maximizes the autocorrelation of the hourly rate series — the query
    that DISCOVERS the period `ts_seasonal_decompose` and
    `ts_forecast_seasonal_naive` hard-code (both assume 24h; this op is
    how a pipeline checks that assumption per stream instead of baking
    it in). On the fixture's daily-cycled log it returns 24.

    Everything after the one raw-log aggregate rides #types×#hours rows:
    the 35-point lag grid is an in-row explode (no join), shifted pairs
    come from ONE self-equi-join on (type, hr−lag), and the argmax is
    integer-exact — centered products use the n·c−S trick (shared with
    `ts_autocorr`), den is lag-independent per type, so argmax(acf) =
    argmax(num) compares pure int64s; no float enters until the reported
    acf is quantized. Ties break to the shortest lag on both engines.

    Overflow posture (same note as `graph_assortativity`): the centered
    products (n·c−S)² and cross terms are int64; at n ≈ 1e5 hours with
    per-hour counts ≈ 1e4 a single product reaches ~1e18 and the
    lag-grouped sum could wrap under Spark's non-ANSI long arithmetic.
    Fixture scales sit orders of magnitude below that; an extreme-scale
    deployment promotes these sums to decimal(38,0) — the argmax and tie
    rules are unchanged by the wider type."""
    ev = load_table(spark, sf_dir, "events")
    # One-compute boundary (r10, guide §2.4): h feeds the per-type stats,
    # the denominator, the lag-exploded side, and the shifted join side —
    # four consumers of the one full-data aggregate (#types x #hours rows).
    h = one_compute_boundary(
        ev.groupBy(
            "event_type",
            (F.col("ts_us_long") / F.lit(3_600_000_000)).cast("bigint").alias("hr"),
        ).agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    st = h.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cnt").cast("bigint").alias("s"),
    )
    hs = h.join(F.broadcast(st), "event_type")
    centered = (F.col("n") * F.col("cnt") - F.col("s"))
    den = hs.groupBy("event_type").agg(
        F.sum(centered * centered).cast("bigint").alias("den")
    )
    a = hs.withColumn(
        "lag", F.explode(F.sequence(F.lit(2), F.lit(36)))
    ).withColumn("lag", F.col("lag").cast("bigint")).select(
        "event_type",
        "lag",
        (F.col("hr") - F.col("lag")).alias("hr_b"),
        centered.alias("ca"),
        F.col("n").alias("n"),
        F.col("s").alias("s"),
    )
    b = h.select("event_type", F.col("hr").alias("hr_b"), F.col("cnt").alias("cnt_b"))
    num = (
        a.join(b, ["event_type", "hr_b"])
        .groupBy("event_type", "lag")
        .agg(
            F.sum(F.col("ca") * (F.col("n") * F.col("cnt_b") - F.col("s")))
            .cast("bigint")
            .alias("num"),
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        )
    )
    w = Window.partitionBy("event_type").orderBy(F.col("num").desc(), "lag")
    return (
        num.join(F.broadcast(den.filter(F.col("den") > 0)), "event_type")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("lag").alias("best_lag"),
            "n_pairs",
            F.floor(F.col("num").cast("double") * 1_000_000 / F.col("den") + F.lit(0.5))
            .cast("bigint")
            .alias("acf_1e6"),
        )
    )


_STREAK_ORACLE = """
    WITH d AS (
      SELECT DISTINCT user_id,
             CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS BIGINT) AS day
      FROM events
    ),
    i AS (
      SELECT user_id, day,
             day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS island
      FROM d
    ),
    st AS (
      SELECT user_id, island, CAST(count(*) AS BIGINT) AS len FROM i GROUP BY 1, 2
    )
    SELECT user_id, CAST(sum(len) AS BIGINT) AS n_active_days,
           max(len) AS longest_streak, CAST(count(*) AS BIGINT) AS n_streaks
    FROM st GROUP BY user_id
"""


@register("win_streak_longest", oracle=_STREAK_ORACLE, tags=("timeseries", "window"))
def win_streak_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest run of consecutive active days per user (plus total active
    days and streak count) — the engagement-streak metric, via the
    day − row_number() island identity: consecutive days share a
    constant difference, any gap shifts it.

    distinct(user, day) collapses the log first — the only stage that
    sees raw rows, and the shuffle carries one row per user-day. The
    island window and both aggregates then run on the collapsed table:
    one more exchange (user_id,day → user_id), but it moves one row per
    user-day, not per event — the raw log shuffles exactly once. Integer
    day arithmetic end-to-end — no calendar functions, no timezone trap:
    day = floor(µs / 86.4e9) pins the same UTC bucketing on both engines.
    """
    ev = load_table(spark, sf_dir, "events")
    d = ev.select(
        "user_id", (F.col("ts_us_long") / F.lit(86_400_000_000)).cast("bigint").alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    i = d.withColumn("island", F.col("day") - F.row_number().over(w))
    st = i.groupBy("user_id", "island").agg(F.count("*").alias("len"))
    return st.groupBy("user_id").agg(
        F.sum("len").alias("n_active_days"),
        F.max("len").alias("longest_streak"),
        F.count("*").alias("n_streaks"),
    )


_MAD_ORACLE = """
    WITH c AS (
      SELECT event_id, event_type,
             CAST(round(value * 100, 0) AS BIGINT) AS x
      FROM events
    ),
    med AS (
      SELECT event_type,
             percentile_cont(0.5) WITHIN GROUP (ORDER BY x) AS med
      FROM c GROUP BY 1
    ),
    dev AS (
      SELECT c.event_id, c.event_type, c.x, med.med,
             abs(CAST(c.x AS DOUBLE) - med.med) AS ad
      FROM c JOIN med USING (event_type)
    ),
    mad AS (
      SELECT event_type,
             percentile_cont(0.5) WITHIN GROUP (ORDER BY ad) AS mad
      FROM dev GROUP BY 1
    )
    SELECT d.event_id, d.event_type,
           CAST(floor(abs(CAST(d.x AS DOUBLE) - d.med)
                      / (1.4826 * mad.mad) * 1e4 + 0.5) AS BIGINT)
             AS robust_z_1e4
    FROM dev d JOIN mad USING (event_type)
    WHERE mad.mad > 0
      AND abs(CAST(d.x AS DOUBLE) - d.med) > 3 * 1.4826 * mad.mad
"""


@register("anomaly_mad", oracle=_MAD_ORACLE, tags=("timeseries", "anomaly"))
def anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier flagging via median absolute deviation: flag rows
    where |x − median| > 3·1.4826·MAD per event type, reporting the
    robust z-score — the detector `anomaly_zscore` should have been
    when the data has outliers, because mean/std are themselves dragged
    by the very rows being hunted (50% breakdown point vs 0%).

    MAD needs two dependent medians, so the plan is two aggregate
    passes with a broadcast stitch between: per-type median (5-row
    dim) → broadcast join → per-type median of |x − med| (5-row dim) →
    broadcast join → flag filter. The event log crosses NO exchange in
    any pass (percentile partials aggregate map-side; both joins are
    broadcast), which is the property that survives 100 TB — swap exact
    percentile for approx_percentile there and nothing else moves.
    Integer-cent operands make both engines' interpolated medians
    identical doubles; the flag compares the same exact quantities on
    both sides, so the boundary rows agree.
    """
    ev = load_table(spark, sf_dir, "events")
    c = ev.select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("x"),
    )
    med = c.groupBy("event_type").agg(F.percentile("x", F.lit(0.5)).alias("med"))
    dev = c.join(F.broadcast(med), "event_type").withColumn(
        "ad", F.abs(F.col("x").cast("double") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(F.percentile("ad", F.lit(0.5)).alias("mad"))
    j = dev.join(F.broadcast(mad), "event_type")
    scale = 1.4826 * F.col("mad")
    # MAD = 0 (a majority of the type's values equal its median) means the
    # robust scale is undefined — filter those types out BEFORE dividing,
    # or ANSI mode turns ad/scale into DIVIDE_BY_ZERO on the first real
    # constant-heavy type. Oracle mirrors with `mad.mad > 0`.
    return j.filter((F.col("mad") > 0) & (F.col("ad") > 3 * scale)).select(
        "event_id",
        "event_type",
        F.floor(F.col("ad") / scale * 1e4 + F.lit(0.5)).cast("bigint").alias("robust_z_1e4"),
    )


_FORECAST_ORACLE = """
    WITH h AS (
      SELECT event_type,
             CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS BIGINT) AS day,
             CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 % 24 AS BIGINT) AS hod,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2, 3
    ),
    mx AS (SELECT max(day) AS last_day FROM h),
    train AS (
      SELECT event_type, hod,
             CAST(floor(CAST(sum(cnt) * 100 AS DOUBLE) / count(*)) AS BIGINT)
               AS forecast_1e2
      FROM h, mx WHERE day < last_day GROUP BY 1, 2
    ),
    actual AS (
      SELECT event_type, hod, cnt AS actual FROM h, mx WHERE day = last_day
    )
    SELECT t.event_type, t.hod, t.forecast_1e2,
           coalesce(a.actual, 0) AS actual,
           abs(coalesce(a.actual, 0) * 100 - t.forecast_1e2) AS abs_err_1e2
    FROM train t LEFT JOIN actual a USING (event_type, hod)
"""


@register("ts_forecast_seasonal_naive", oracle=_FORECAST_ORACLE, tags=("timeseries",))
def ts_forecast_seasonal_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast WITH its backtest: predict the final day's
    hourly event rate per type as the mean of the same hour-of-day over
    all prior days, and score |actual − forecast| — the baseline every
    fancier forecaster must beat, and the shape of a proper backtest
    (train strictly before the scored day; an hour absent from the held-
    out day scores as 0 actual, not a dropped row).

    The log collapses in ONE (type, day, hod) aggregate; the train/test
    split is a filter against a 1-row max-day aggregate (broadcast),
    so no event row is read twice and nothing about the plan changes if
    the holdout becomes a date literal from a scheduler. Train means are
    floor-scaled exact integers (sum·100/count on day-count operands);
    the error column stays in the same 1e2 fixed-point domain.
    """
    ev = load_table(spark, sf_dir, "events")
    # One-compute boundary (r10, guide §2.4): h feeds the max-day anchor,
    # the train mean, and the holdout side (#types x #days x 24 rows).
    h = one_compute_boundary(
        ev.groupBy(
            "event_type",
            (F.col("ts_us_long") / F.lit(86_400_000_000)).cast("bigint").alias("day"),
            ((F.col("ts_us_long") / F.lit(3_600_000_000)).cast("bigint") % 24).alias("hod"),
        ).agg(F.count("*").alias("cnt"))
    )
    mx = h.agg(F.max("day").alias("last_day"))
    hh = h.crossJoin(F.broadcast(mx))
    train = (
        hh.filter(F.col("day") < F.col("last_day"))
        .groupBy("event_type", "hod")
        .agg(
            F.floor((F.sum("cnt") * 100).cast("double") / F.count("*"))
            .cast("bigint")
            .alias("forecast_1e2")
        )
    )
    actual = hh.filter(F.col("day") == F.col("last_day")).select(
        "event_type", "hod", F.col("cnt").alias("actual")
    )
    j = train.join(actual, ["event_type", "hod"], "left").withColumn(
        "actual", F.coalesce(F.col("actual"), F.lit(0))
    )
    return j.select(
        "event_type",
        "hod",
        "forecast_1e2",
        "actual",
        F.abs(F.col("actual") * 100 - F.col("forecast_1e2")).alias("abs_err_1e2"),
    )


_AUTOCORR_ORACLE = """
    WITH t AS (
      SELECT user_id,
             CAST(round(value * 100, 0) AS BIGINT) AS c,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id
      FROM events
    ),
    s AS (
      SELECT user_id, c,
             sum(c) OVER (PARTITION BY user_id) AS S,
             count(*) OVER (PARTITION BY user_id) AS n,
             lag(c, 1) OVER w AS c1,
             lag(c, 2) OVER w AS c2,
             lag(c, 3) OVER w AS c3
      FROM t WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ),
    d AS (
      SELECT user_id, n,
             sum((n * c - S) * (n * c - S)) AS den,
             sum(CASE WHEN c1 IS NOT NULL THEN (n * c - S) * (n * c1 - S) END) AS num1,
             sum(CASE WHEN c2 IS NOT NULL THEN (n * c - S) * (n * c2 - S) END) AS num2,
             sum(CASE WHEN c3 IS NOT NULL THEN (n * c - S) * (n * c3 - S) END) AS num3
      FROM s GROUP BY user_id, n
    )
    SELECT user_id, CAST(n AS BIGINT) AS n,
           CAST(floor(num1 * 1.0 / den * 1000000 + 0.5) AS BIGINT) AS acf1_1e6,
           CAST(floor(num2 * 1.0 / den * 1000000 + 0.5) AS BIGINT) AS acf2_1e6,
           CAST(floor(num3 * 1.0 / den * 1000000 + 0.5) AS BIGINT) AS acf3_1e6
    FROM d WHERE den > 0 AND n >= 4
"""


@register("ts_autocorr", oracle=_AUTOCORR_ORACLE, tags=("timeseries", "agg"))
def ts_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation (lags 1–3) of each user's event-value
    series — the whiteness check a forecasting pipeline runs before
    choosing model order (flat ACF ⇒ `ts_forecast_seasonal_naive` has
    nothing to exploit; high lag-1 ⇒ `ts_ewma` smoothing pays).

    ACF is a ratio of mean-centred sums; float centring drifts between
    engines, so both sides multiply through by n — (x−μ) ∝ (n·x−S) with
    S=Σx, n the series length — and all sums are EXACT int64 on cent-
    quantized values (|n·x−S| ≤ n·max_cents keeps products ≪ 2⁶³ for
    any realistic per-key series). Only the final ratio divides, then
    1e-6 quantizes. One (user_id) exchange does everything: the
    unbounded S/n window, the three lags, and the final aggregate all
    share the same partitioning, so Spark plans a single sort+exchange
    (no second shuffle — the groupBy key is the partition key).
    Degenerate series (constant ⇒ den=0, or n<4 ⇒ missing lags) are
    filtered identically on both sides."""
    ev = load_table(spark, sf_dir, "events")
    c = F.round(F.col("value") * 100, 0).cast("bigint")
    part = Window.partitionBy("user_id")
    w = part.orderBy("ts_us_long", "event_id")
    s = ev.select(
        "user_id",
        c.alias("c"),
        F.sum(c).over(part).alias("S"),
        F.count("*").over(part).alias("n"),
        F.lag(c, 1).over(w).alias("c1"),
        F.lag(c, 2).over(w).alias("c2"),
        F.lag(c, 3).over(w).alias("c3"),
    )
    d = F.col("n") * F.col("c") - F.col("S")

    def num(lagc):
        return F.sum(
            F.when(F.col(lagc).isNotNull(), d * (F.col("n") * F.col(lagc) - F.col("S")))
        )

    agg = s.groupBy("user_id", "n").agg(
        F.sum(d * d).alias("den"),
        num("c1").alias("num1"),
        num("c2").alias("num2"),
        num("c3").alias("num3"),
    )

    def acf(numcol):
        return (
            F.floor(F.col(numcol) / F.col("den") * 1_000_000 + F.lit(0.5))
            .cast("bigint")
            .alias(numcol.replace("num", "acf") + "_1e6")
        )

    return agg.filter((F.col("den") > 0) & (F.col("n") >= 4)).select(
        "user_id",
        F.col("n").cast("bigint").alias("n"),
        acf("num1"),
        acf("num2"),
        acf("num3"),
    )


_SLOPE_ORACLE = """
    WITH t AS (
      SELECT event_id, user_id,
             CAST(round(value * 100, 0) AS BIGINT) AS c,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us
      FROM events
    ),
    xed AS (
      SELECT event_id, user_id, c, us,
             CAST(row_number() OVER (PARTITION BY user_id ORDER BY us, event_id)
                  AS BIGINT) AS x
      FROM t
    ),
    s AS (
      SELECT event_id, user_id, x, c,
             count(*) OVER wf AS n,
             sum(c) OVER wf AS sy,
             sum(x) OVER wf AS sx,
             sum(x * c) OVER wf AS sxy,
             sum(x * x) OVER wf AS sxx
      FROM xed
      WINDOW wf AS (PARTITION BY user_id ORDER BY us, event_id
                    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, user_id,
           CAST(floor((n * sxy - sx * sy) * 1000000.0
                      / (n * sxx - sx * sx) + 0.5) AS BIGINT) AS slope_1e6
    FROM s WHERE n = 5
"""


@register("win_moving_slope", oracle=_SLOPE_ORACLE, tags=("timeseries", "window"))
def win_moving_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling OLS slope (trailing 5 rows) of each user's value series
    against its row index — the local-trend feature that complements
    `win_rolling_corr` (direction+magnitude rather than association)
    and feeds `anomaly_cusum`-style drift monitors.

    Slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²), with x the per-user row
    number: shift-invariant, so the ABSOLUTE row number works inside
    every trailing frame — no per-frame re-indexing, which is what
    makes this expressible as four plain windowed sums instead of a
    UDAF. All sums are exact int64 on cent-quantized values (x ≤ series
    length, products ≪ 2⁶³); the denominator for a full 5-row frame is
    the constant 5·Σx²−(Σx)² = 50, never zero, so no divide guard is
    needed — partial frames (n<5) are filtered identically on both
    sides. One (user_id) exchange serves the row numbering, the four
    frame sums, and the filter."""
    ev = load_table(spark, sf_dir, "events")
    part = Window.partitionBy("user_id").orderBy("ts_us_long", "event_id")
    frame = part.rowsBetween(-4, Window.currentRow)
    c = F.round(F.col("value") * 100, 0).cast("bigint")
    x = F.row_number().over(part).cast("bigint")
    s = ev.select(
        "event_id",
        "user_id",
        x.alias("x"),
        c.alias("c"),
        F.count("*").over(frame).alias("n"),
        F.sum(c).over(frame).alias("sy"),
        F.sum(x).over(frame).alias("sx"),
        F.sum(x * c).over(frame).alias("sxy"),
        F.sum(x * x).over(frame).alias("sxx"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return s.filter(F.col("n") == 5).select(
        "event_id",
        "user_id",
        F.floor(num * 1_000_000.0 / den + F.lit(0.5)).cast("bigint").alias("slope_1e6"),
    )


_XCORR_LAGS = [-2, -1, 0, 1, 2]

_XCORR_JOINS = "\n    UNION ALL\n".join(
    f"""    SELECT {lag} AS lag, a.cents AS x, b.cents AS y
    FROM a JOIN b ON a.h = b.h + ({lag})"""
    for lag in _XCORR_LAGS
)

_XCORR_ORACLE = f"""
    WITH e AS (
      SELECT event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS h,
             CAST(round(value * 100, 0) AS BIGINT) AS c
      FROM events
    ),
    a AS (SELECT h, sum(c) AS cents FROM e WHERE event_type = 'view' GROUP BY h),
    b AS (SELECT h, sum(c) AS cents FROM e WHERE event_type = 'purchase' GROUP BY h),
    m AS (
{_XCORR_JOINS}
    ),
    s AS (
      SELECT lag, CAST(count(*) AS BIGINT) AS n,
             sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
             sum(x * x) AS sxx, sum(y * y) AS syy
      FROM m GROUP BY lag
    )
    SELECT lag, n,
           CAST(floor((n * sxy - sx * sy) * 1000000.0
                      / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                             * CAST(n * syy - sy * sy AS DOUBLE)) + 0.5)
                AS BIGINT) AS xcorr_1e6
    FROM s
    WHERE n >= 3 AND n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
"""


@register("ts_cross_correlation", oracle=_XCORR_ORACLE, tags=("timeseries", "join"))
def ts_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged cross-correlation between the hourly view-revenue and
    purchase-revenue series (lags −2..+2 hours) — the lead-lag
    discovery tool ("do views predict purchases two hours later?")
    that decides which lag features `ts_lag_features` should
    materialize.

    The full-data pass is ONE hourly aggregation per series (map-side
    partials; output = #hours rows). Everything after runs on the tiny
    hourly relations: five lag-shifted equi-joins unioned, then one
    Pearson aggregate per lag with all sums exact int64 (the same
    multiply-through-by-n discipline as `ts_autocorr`; only the final
    normalized ratio touches float, through one sqrt, then 1e-6
    quantization). Degenerate lags (under 3 matched hours or a
    zero-variance side) are filtered identically on both sides. At
    100 TB the hourly relation is still just #hours × #series rows —
    the whole point of correlating AGGREGATED series."""
    ev = load_table(spark, sf_dir, "events")
    h = (F.col("ts_us_long") / 3_600_000_000).cast("bigint").alias("h")
    c = F.round(F.col("value") * 100, 0).cast("bigint")
    # One-compute boundary (r10, guide §2.4): hourly feeds both series
    # sides, and each side feeds all five lag joins — the full-data scan
    # and aggregate were planned TEN times and the executed sf1 plan
    # showed only partial reuse (8 ReusedExchange, 12 separate parquet
    # scans). #hours × #series rows, the smallest relation in the query.
    # Measured: 0.60 -> 0.19 s at sf1.
    hourly = one_compute_boundary(
        ev.filter(F.col("event_type").isin("view", "purchase"))
        .select("event_type", h, c.alias("c"))
        .groupBy("event_type", "h")
        .agg(F.sum("c").alias("cents"))
    )
    a = hourly.filter(F.col("event_type") == "view").select("h", F.col("cents").alias("x"))
    b = hourly.filter(F.col("event_type") == "purchase").select(
        F.col("h").alias("hb"), F.col("cents").alias("y")
    )
    matched = None
    for lag in _XCORR_LAGS:
        m = a.join(b, a.h == F.col("hb") + lag).select(
            F.lit(lag).alias("lag"), "x", "y"
        )
        matched = m if matched is None else matched.unionByName(m)
    s = matched.groupBy("lag").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return s.filter((F.col("n") >= 3) & (vx > 0) & (vy > 0)).select(
        "lag",
        "n",
        F.floor(num * 1_000_000.0 / F.sqrt(vx.cast("double") * vy.cast("double")) + F.lit(0.5))
        .cast("bigint")
        .alias("xcorr_1e6"),
    )


_CHANGEPOINT_ORACLE = """
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    s AS (
      SELECT event_type, h, c,
             row_number() OVER w AS i,
             sum(c) OVER w AS L,
             count(*) OVER (PARTITION BY event_type) AS n,
             sum(c) OVER (PARTITION BY event_type) AS S
      FROM hourly WINDOW w AS (PARTITION BY event_type ORDER BY h)
    ),
    scored AS (
      SELECT event_type, h, i, n, L, S,
             (L * n - S * i) AS d,
             CAST(floor(
               (CAST(L * n - S * i AS DOUBLE) * CAST(L * n - S * i AS DOUBLE))
               / (CAST(n AS DOUBLE) * i * (n - i)) * 1e6 + 0.5
             ) AS BIGINT) AS score_1e6
      FROM s WHERE i < n
    ),
    best AS (
      SELECT *, row_number() OVER (
        PARTITION BY event_type ORDER BY score_1e6 DESC, h
      ) AS rk
      FROM scored
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_hours, h AS split_hour,
           CAST(i AS BIGINT) AS split_i, score_1e6,
           CAST(floor(CAST(L AS DOUBLE) * 1000 / i + 0.5) AS BIGINT)
             AS mean_left_1e3,
           CAST(floor(CAST(S - L AS DOUBLE) * 1000 / (n - i) + 0.5) AS BIGINT)
             AS mean_right_1e3
    FROM best WHERE rk = 1
"""


@register("ts_changepoint_meanshift", oracle=_CHANGEPOINT_ORACLE, tags=("timeseries", "window"))
def ts_changepoint_meanshift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single mean-shift changepoint per event-type series (binary
    segmentation's first split): the hourly-rate series is scanned for
    the split maximizing between-segment variance BSS(i) =
    (L·n − S·i)² / (n·i·(n−i)) — the exact argmax, not a heuristic —
    reporting the split hour, its score and both segment means. Recurse
    on the halves for the full binary-segmentation tree.

    The raw log collapses in ONE hourly hash aggregate; everything after
    runs on #hours × #types rows. One (event_type) exchange serves the
    rank/cumsum windows AND the argmax window (same partition key, no
    second shuffle). The BSS numerator L·n − S·i stays EXACT int64
    (multiply-through-by-n centring, the `ts_autocorr` discipline); the
    single float division per candidate is written token-identically in
    the oracle and 1e-6-quantized BEFORE the argmax, with the hour as
    tiebreak — both engines pick the same split even under exact score
    ties."""
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.select("event_type", F.date_trunc("hour", F.col("ts_us")).alias("h"))
        .groupBy("event_type", "h")
        .agg(F.count("*").alias("c"))
    )
    part = Window.partitionBy("event_type")
    w = part.orderBy("h")
    s = hourly.select(
        "event_type",
        "h",
        F.row_number().over(w).alias("i"),
        F.sum("c").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).alias("L"),
        F.count("*").over(part).alias("n"),
        F.sum("c").over(part).alias("S"),
    ).filter(F.col("i") < F.col("n"))
    d = F.col("L") * F.col("n") - F.col("S") * F.col("i")
    score = F.floor(
        (d.cast("double") * d.cast("double"))
        / (F.col("n").cast("double") * F.col("i") * (F.col("n") - F.col("i")))
        * 1e6
        + F.lit(0.5)
    ).cast("bigint")
    scored = s.select("event_type", "h", "i", "n", "L", "S", score.alias("score_1e6"))
    best = scored.select(
        "*",
        F.row_number()
        .over(part.orderBy(F.col("score_1e6").desc(), "h"))
        .alias("rk"),
    ).filter(F.col("rk") == 1)
    return best.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_hours"),
        F.col("h").alias("split_hour"),
        F.col("i").cast("bigint").alias("split_i"),
        "score_1e6",
        F.floor(F.col("L").cast("double") * 1000 / F.col("i") + F.lit(0.5))
        .cast("bigint")
        .alias("mean_left_1e3"),
        F.floor(
            (F.col("S") - F.col("L")).cast("double") * 1000 / (F.col("n") - F.col("i"))
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("mean_right_1e3"),
    )


_M4_ORACLE = """
    WITH t AS (
      SELECT event_type, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
             epoch_us(CAST(ts AS TIMESTAMP)) AS t_us, event_id,
             CAST(round(value * 100, 0) AS BIGINT) AS v
      FROM events
    ),
    r AS (
      SELECT *,
             row_number() OVER (PARTITION BY event_type, day
                                ORDER BY t_us, event_id) AS rn_first,
             row_number() OVER (PARTITION BY event_type, day
                                ORDER BY t_us DESC, event_id DESC) AS rn_last,
             row_number() OVER (PARTITION BY event_type, day
                                ORDER BY v, t_us, event_id) AS rn_min,
             row_number() OVER (PARTITION BY event_type, day
                                ORDER BY v DESC, t_us DESC, event_id DESC) AS rn_max
      FROM t
    )
    SELECT event_type, day, CAST(count(*) AS BIGINT) AS n,
           max(CASE WHEN rn_first = 1 THEN t_us END) AS first_t_us,
           max(CASE WHEN rn_first = 1 THEN v END) AS first_v_cents,
           max(CASE WHEN rn_last = 1 THEN t_us END) AS last_t_us,
           max(CASE WHEN rn_last = 1 THEN v END) AS last_v_cents,
           max(CASE WHEN rn_min = 1 THEN v END) AS min_v_cents,
           max(CASE WHEN rn_min = 1 THEN t_us END) AS min_t_us,
           max(CASE WHEN rn_max = 1 THEN v END) AS max_v_cents,
           max(CASE WHEN rn_max = 1 THEN t_us END) AS max_t_us
    FROM r GROUP BY 1, 2
"""


@register("ts_downsample_m4", oracle=_M4_ORACLE, tags=("timeseries", "agg"))
def ts_downsample_m4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 downsampling (Jugel et al., VLDB 2014): per (series, bucket)
    emit the first, last, min and max points WITH their timestamps — the
    four points that make a line rendering of the bucket pixel-exact,
    and the shape-preserving downsample a dashboard / charting stack
    runs before shipping a 100 TB series to a browser. Buckets are days
    here; swap the truncation for the pixel width.

    ONE hash aggregate over (event_type, day): each extreme is a
    lexicographic min/max of a (key, tiebreak, payload) STRUCT — Spark's
    struct ordering gives argmin/argmax WITH deterministic tiebreaks
    (t_us then event_id) in a plain map-side-combining aggregate, no
    window, no sort, no shuffle beyond the group key. The oracle
    recomputes via four row_number windows — same four points, different
    physical plan — which is exactly the n-vs-4 compression the operator
    exists to avoid on the Spark side."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.date_trunc("day", F.col("ts_us")).alias("day"),
        F.col("ts_us_long").alias("t_us"),
        "event_id",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("v"),
    )
    first_s = F.min(F.struct("t_us", "event_id", "v"))
    last_s = F.max(F.struct("t_us", "event_id", "v"))
    min_s = F.min(F.struct("v", "t_us", "event_id"))
    max_s = F.max(F.struct("v", "t_us", "event_id"))
    g = ev.groupBy("event_type", "day").agg(
        F.count("*").alias("n"),
        first_s.alias("fs"),
        last_s.alias("ls"),
        min_s.alias("ms"),
        max_s.alias("xs"),
    )
    return g.select(
        "event_type",
        "day",
        "n",
        F.col("fs.t_us").alias("first_t_us"),
        F.col("fs.v").alias("first_v_cents"),
        F.col("ls.t_us").alias("last_t_us"),
        F.col("ls.v").alias("last_v_cents"),
        F.col("ms.v").alias("min_v_cents"),
        F.col("ms.t_us").alias("min_t_us"),
        F.col("xs.v").alias("max_v_cents"),
        F.col("xs.t_us").alias("max_t_us"),
    )


_US_DAY = 86_400_000_000


def _lttb_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LTTB input: every event as a point of its ``event_type``
    series — ``day`` bucket, time ``t_us``, tie-break ``event_id`` and the
    value ``v`` in integer cents."""
    return load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr(f"ts_us_long div {_US_DAY}").alias("day"),
        F.col("ts_us_long").alias("t_us"),
        "event_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("v"),
    )


_LTTB_ORACLE = f"""
    WITH pts AS (
      SELECT event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) // {86_400_000_000} AS day,
             epoch_us(CAST(ts AS TIMESTAMP)) AS t_us, event_id,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
      FROM events
    ),
    b AS (
      SELECT event_type, day,
             CAST(day * {86_400_000_000} AS DOUBLE)
               + CAST(sum(t_us - day * {86_400_000_000}) AS DOUBLE) / count(*) AS at,
             CAST(sum(v) AS DOUBLE) / count(*) AS av,
             min(day) OVER (PARTITION BY event_type) AS first_day,
             max(day) OVER (PARTITION BY event_type) AS last_day
      FROM pts GROUP BY event_type, day
    ),
    anchors AS (
      SELECT event_type, day, first_day, last_day,
             lag(at)  OVER (PARTITION BY event_type ORDER BY day) AS ax,
             lag(av)  OVER (PARTITION BY event_type ORDER BY day) AS ay,
             lead(at) OVER (PARTITION BY event_type ORDER BY day) AS cx,
             lead(av) OVER (PARTITION BY event_type ORDER BY day) AS cy
      FROM b
    ),
    scored AS (
      SELECT p.event_type, p.day, p.t_us, p.event_id, p.v,
             a.first_day, a.last_day,
             abs((a.ax - a.cx) * (p.v - a.ay) - (a.ax - p.t_us) * (a.cy - a.ay))
               AS area
      FROM pts p JOIN anchors a USING (event_type, day)
    ),
    ranked AS (
      SELECT *,
             CASE WHEN day = first_day THEN
               row_number() OVER (PARTITION BY event_type, day
                                  ORDER BY t_us, event_id)
             WHEN day = last_day THEN
               row_number() OVER (PARTITION BY event_type, day
                                  ORDER BY t_us DESC, event_id DESC)
             ELSE
               row_number() OVER (PARTITION BY event_type, day
                                  ORDER BY area DESC, t_us, event_id)
             END AS rk
      FROM scored
    )
    SELECT event_type, day, t_us AS sel_t_us, v AS sel_v_cents,
           CASE WHEN day = first_day THEN 'first'
                WHEN day = last_day THEN 'last' ELSE 'lttb' END AS kind
    FROM ranked WHERE rk = 1
"""


@register("ts_downsample_lttb", oracle=_LTTB_ORACLE, tags=("timeseries", "window"))
def ts_downsample_lttb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LTTB downsampling (largest-triangle-three-buckets, Steinarsson
    2013), PARALLEL variant: per bucket keep the point whose triangle
    with the NEIGHBOR BUCKET AVERAGES has the largest area — the
    shape-preserving one-point-per-bucket sibling of `ts_downsample_m4`.
    Exact LTTB anchors on the previously SELECTED point, a sequential
    chain; anchoring on bucket averages instead makes every bucket
    independent (this is LTTB's own within-step treatment of the NEXT
    bucket, applied to both sides) — the standard parallelization, and
    the first/last series points are kept exactly as in the original.

    Scale: one partial+final aggregate for bucket averages, lag/lead
    over the per-(series,bucket) rows (tiny), anchors joined back by
    their own grouping key, one bounded per-bucket argmax window.
    Cross-products run in doubles (exactly-rounded mults — int64 would
    overflow at µs×cents magnitudes; SURVEY §5.4 IEEE discipline)."""
    pts = _lttb_points(spark, sf_dir)
    # Bucket-average time as day_start + mean(in-day offset), NOT
    # mean(absolute epoch): summing absolute epoch-µs (~1.7e15 each)
    # int64-overflows once a bucket holds ~5400+ rows — hit at the sf1
    # gate (r08). Offsets are < 8.64e10, so the sum stays exact past 1e8
    # rows/bucket; the oracle applies the IDENTICAL reassociated formula
    # so the double `at` stays bit-equal cross-engine.
    off = F.col("t_us") - F.col("day") * F.lit(_US_DAY)
    b = (
        pts.groupBy("event_type", "day")
        .agg(
            (F.sum(off).cast("double") / F.count("*")).alias("at_off"),
            (F.sum("v").cast("double") / F.count("*")).alias("av"),
        )
        .select(
            "event_type",
            "day",
            ((F.col("day") * F.lit(_US_DAY)).cast("double") + F.col("at_off")).alias("at"),
            "av",
        )
    )
    sw = Window.partitionBy("event_type")
    ow = Window.partitionBy("event_type").orderBy("day")
    anchors = b.select(
        "event_type",
        "day",
        F.min("day").over(sw).alias("first_day"),
        F.max("day").over(sw).alias("last_day"),
        F.lag("at").over(ow).alias("ax"),
        F.lag("av").over(ow).alias("ay"),
        F.lead("at").over(ow).alias("cx"),
        F.lead("av").over(ow).alias("cy"),
    )
    j = pts.join(F.broadcast(anchors), ["event_type", "day"])
    area = F.abs(
        (F.col("ax") - F.col("cx")) * (F.col("v") - F.col("ay"))
        - (F.col("ax") - F.col("t_us")) * (F.col("cy") - F.col("ay"))
    )
    wf = Window.partitionBy("event_type", "day").orderBy("t_us", "event_id")
    wl = Window.partitionBy("event_type", "day").orderBy(
        F.col("t_us").desc(), F.col("event_id").desc()
    )
    wa = Window.partitionBy("event_type", "day").orderBy(
        area.desc(), "t_us", "event_id"
    )
    rk = (
        F.when(F.col("day") == F.col("first_day"), F.row_number().over(wf))
        .when(F.col("day") == F.col("last_day"), F.row_number().over(wl))
        .otherwise(F.row_number().over(wa))
    )
    return (
        j.withColumn("rk", rk)
        .filter(F.col("rk") == 1)
        .select(
            "event_type",
            "day",
            F.col("t_us").alias("sel_t_us"),
            F.col("v").alias("sel_v_cents"),
            F.when(F.col("day") == F.col("first_day"), F.lit("first"))
            .when(F.col("day") == F.col("last_day"), F.lit("last"))
            .otherwise(F.lit("lttb"))
            .alias("kind"),
        )
    )


_LTTB_EXACT_ORACLE = """
    WITH RECURSIVE pts AS (
      SELECT event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
             epoch_us(CAST(ts AS TIMESTAMP)) AS t_us, event_id,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
      FROM events
    ),
    fd AS (
      SELECT event_type, min(day) AS first_day, max(day) AS last_day
      FROM pts GROUP BY 1
    ),
    p2 AS (
      SELECT p.*, p.t_us - f.first_day * 86400000000 AS tt,
             f.first_day, f.last_day
      FROM pts p JOIN fd f USING (event_type)
    ),
    dsum AS (
      SELECT event_type, day, count(*) AS n,
             sum(tt) AS sx, sum(v) AS sy
      FROM p2 GROUP BY event_type, day
    ),
    days AS (
      SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY day) AS i,
             count(*) OVER (PARTITION BY event_type) AS b
      FROM dsum
    ),
    firstpt AS (
      SELECT event_type, day, tt, t_us, v FROM (
        SELECT p2.*, row_number() OVER (PARTITION BY event_type
                                        ORDER BY t_us, event_id) AS rk
        FROM p2 WHERE day = first_day
      ) WHERE rk = 1
    ),
    lastpt AS (
      SELECT event_type, day, t_us, v FROM (
        SELECT p2.*, row_number() OVER (PARTITION BY event_type
                                        ORDER BY t_us DESC, event_id DESC) AS rk
        FROM p2 WHERE day = last_day AND last_day > first_day
      ) WHERE rk = 1
    ),
    walk(event_type, i, day, sel_tt, sel_t_us, sel_v, kind) AS (
      SELECT f.event_type, 1, f.day, f.tt, f.t_us, f.v, 'first'
      FROM firstpt f
      UNION ALL
      SELECT w.event_type, w.i + 1, cur.day,
             pick.tt, pick.t_us, pick.v, 'lttb'
      FROM walk w
      JOIN days cur ON cur.event_type = w.event_type AND cur.i = w.i + 1
                   AND w.i + 1 <= cur.b - 1
      JOIN days nxt ON nxt.event_type = w.event_type AND nxt.i = w.i + 2,
      LATERAL (
        SELECT p.tt, p.t_us, p.v
        FROM p2 p
        WHERE p.event_type = w.event_type AND p.day = cur.day
        -- HUGEINT keeps n·sel_tt exact (rebased tt ~3e13 µs × bucket
        -- counts overflows BIGINT at scale); the Python side subtracts
        -- in arbitrary-precision int before float(), so exact-int-then-
        -- double is the identity both engines must share.
        ORDER BY abs(CAST(CAST(nxt.n AS HUGEINT) * w.sel_tt - nxt.sx AS DOUBLE)
                       * CAST(p.v - w.sel_v AS DOUBLE)
                   - CAST(w.sel_tt - p.tt AS DOUBLE)
                       * CAST(nxt.sy - CAST(nxt.n AS HUGEINT) * w.sel_v AS DOUBLE)) DESC,
                 p.t_us, p.event_id
        LIMIT 1
      ) pick
    )
    SELECT event_type, day, sel_t_us, sel_v_cents, kind FROM (
      SELECT event_type, day, sel_t_us, sel_v AS sel_v_cents, kind FROM walk
      UNION ALL
      SELECT event_type, day, t_us, v, 'last' FROM lastpt
    )
"""


@register("ts_downsample_lttb_exact", oracle=_LTTB_EXACT_ORACLE, tags=("timeseries",))
def ts_downsample_lttb_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT sequential LTTB (Steinarsson 2013), closing the documented
    deviation of `ts_downsample_lttb`'s parallel variant: each interior
    bucket's pick maximizes the triangle with the PREVIOUSLY SELECTED
    point (the true recurrence) and the next bucket's mean — so picks
    chain left-to-right and cannot be computed bucket-independently.

    Execution: applyInPandas per series key. Exact LTTB is inherently
    sequential per series (each pick reads the previous pick), so
    one-series-per-task is the contract — the right trade when series
    count is large and per-series length is bounded (the dashboard/
    downsample setting; 100 TB of telemetry is millions of series
    × bounded points, and the OUTPUT is one row per bucket). The walk
    itself is vectorized per bucket (numpy argmax over the bucket's
    candidates); only the bucket loop is Python.

    Determinism (SURVEY §5.4): timestamps rebase to the series' first
    day so every cross term is a product of two exact-in-double int64s;
    IEEE round-to-nearest multiply/subtract is bit-identical on both
    engines, and ties break on (t_us, event_id). The oracle replays the
    identical recurrence as a recursive CTE whose per-step argmax is a
    LATERAL ORDER-BY-LIMIT-1 — a genuinely independent evaluation
    strategy for the same chain. First/last series points are kept
    exactly as in the paper (and the parallel twin)."""
    import pandas as pd

    pts = _lttb_points(spark, sf_dir)

    def walk(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values(["t_us", "event_id"], kind="mergesort")
        days = np.sort(pdf["day"].unique())
        first_day = int(days[0])
        tt = (pdf["t_us"] - first_day * _US_DAY).to_numpy(dtype="int64")
        day = pdf["day"].to_numpy()
        t_us = pdf["t_us"].to_numpy(dtype="int64")
        v = pdf["v"].to_numpy(dtype="int64")
        et = pdf["event_type"].iloc[0]
        sums = {
            int(d): (
                int((day == d).sum()),
                int(tt[day == d].sum()),
                int(v[day == d].sum()),
            )
            for d in days
        }
        out = []
        m0 = day == days[0]
        # rows are (t_us, event_id)-sorted, so the first masked row IS the
        # deterministic first point (and the last masked row the last one)
        i0 = np.flatnonzero(m0)[0]
        sel_tt, sel_v = int(tt[i0]), int(v[i0])
        out.append((et, int(days[0]), int(t_us[i0]), sel_v, "first"))
        for j in range(1, len(days) - 1):
            nn, sx, sy = sums[int(days[j + 1])]
            m = day == days[j]
            ctt, cv = tt[m], v[m]
            a = (float(nn * sel_tt - sx)) * (cv - sel_v).astype("float64")
            b = (sel_tt - ctt).astype("float64") * float(sy - nn * sel_v)
            area = np.abs(a - b)
            # argmax with (area DESC, t_us, event_id) tie-break: rows are
            # already (t_us, event_id)-sorted, argmax takes the first max
            k = int(np.argmax(area))
            idx = np.flatnonzero(m)[k]
            sel_tt, sel_v = int(tt[idx]), int(v[idx])
            out.append((et, int(days[j]), int(t_us[idx]), sel_v, "lttb"))
        if len(days) > 1:
            il = np.flatnonzero(day == days[-1])[-1]
            out.append((et, int(days[-1]), int(t_us[il]), int(v[il]), "last"))
        return pd.DataFrame(
            out, columns=["event_type", "day", "sel_t_us", "sel_v_cents", "kind"]
        )

    return pts.groupBy("event_type").applyInPandas(
        walk,
        "event_type string, day long, sel_t_us long, sel_v_cents long, kind string",
    )


def _day_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(event_type, day) mean value ``y`` in cents: exact int cent
    sums over counts, the same IEEE double on both engines — the series a
    day-grid recurrence walks."""
    return (
        load_table(spark, sf_dir, "events")
        .select(
            "event_type",
            F.expr(f"ts_us_long div {_US_DAY}").alias("day"),
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("v"),
        )
        .groupBy("event_type", "day")
        .agg((F.sum("v").cast("double") / F.count("*")).alias("y"))
    )


_HOLT_ORACLE = """
    WITH RECURSIVE pts AS (
      SELECT event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
      FROM events
    ),
    d AS (
      SELECT event_type, day,
             CAST(sum(v) AS DOUBLE) / count(*) AS y,
             row_number() OVER (PARTITION BY event_type ORDER BY day) AS i,
             count(*) OVER (PARTITION BY event_type) AS b
      FROM pts GROUP BY event_type, day
    ),
    init AS (
      SELECT d0.event_type, d0.day, d0.y, d0.b,
             d0.y AS l, coalesce(d1.y - d0.y, 0.0) AS tr
      FROM d d0 LEFT JOIN d d1
        ON d1.event_type = d0.event_type AND d1.i = 2
      WHERE d0.i = 1
    ),
    hw(event_type, i, day, l, tr) AS (
      SELECT event_type, 1, day, l, tr FROM init
      UNION ALL
      SELECT w.event_type, w.i + 1, nxt.day,
             0.5 * nxt.y + 0.5 * (w.l + w.tr),
             0.5 * ((0.5 * nxt.y + 0.5 * (w.l + w.tr)) - w.l) + 0.5 * w.tr
      FROM hw w
      JOIN d nxt ON nxt.event_type = w.event_type AND nxt.i = w.i + 1
    )
    SELECT event_type, day,
           round(l, 4) AS level,
           round(tr, 4) AS trend,
           round(l + tr, 4) AS forecast_next
    FROM hw
"""


@register("ts_holt_winters", oracle=_HOLT_ORACLE, tags=("timeseries",))
def ts_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's double exponential smoothing (level + trend, alpha = beta
    = 1/2) over each series' daily means — the trend-aware forecast
    `ts_forecast_seasonal_naive` cannot give, and the second genuinely
    SEQUENTIAL per-series recurrence here (after exact LTTB):
    l_t = a*y_t + (1-a)(l_{t-1} + b_{t-1}),
    b_t = B*(l_t - l_{t-1}) + (1-B)*b_{t-1}, init l_0 = y_0,
    b_0 = y_1 - y_0.

    Execution: the raw log collapses to per-(series, day) means in one
    map-side-combining aggregate (the only full-data shuffle), then the
    recurrence walks the DAY GRID per series inside applyInPandas —
    state is two doubles, work is O(days), and one-series-per-task is
    the contract exactly as in `ts_downsample_lttb_exact`. At 100 TB
    the heavy dimension (events per day) is gone before Python sees a
    row; the walked relation is series x days.

    Determinism: day means divide exact int cent-sums by counts — the
    same IEEE double on both engines — and halving coefficients make
    every step multiply-by-0.5/add; the oracle replays the identical
    recurrence as a recursive CTE and outputs round to 4dp."""
    import pandas as pd

    d = _day_means(spark, sf_dir)

    def walk(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day")
        ys = pdf["y"].to_numpy()
        days = pdf["day"].to_numpy()
        et = pdf["event_type"].iloc[0]
        lvl = float(ys[0])
        tr = float(ys[1] - ys[0]) if len(ys) > 1 else 0.0
        out = [(et, int(days[0]), lvl, tr)]
        for t in range(1, len(ys)):
            new_l = 0.5 * float(ys[t]) + 0.5 * (lvl + tr)
            tr = 0.5 * (new_l - lvl) + 0.5 * tr
            lvl = new_l
            out.append((et, int(days[t]), lvl, tr))
        return pd.DataFrame(out, columns=["event_type", "day", "l", "tr"])

    # rounding stays JVM-side: F.round is the half-up the oracle's round()
    # also implements (pandas .round is half-to-even — a latent mismatch)
    raw = d.groupBy("event_type").applyInPandas(
        walk, "event_type string, day long, l double, tr double"
    )
    return raw.select(
        "event_type",
        "day",
        F.round("l", 4).alias("level"),
        F.round("tr", 4).alias("trend"),
        F.round(F.col("l") + F.col("tr"), 4).alias("forecast_next"),
    )


_KF_Q = 25.0  # process noise (cents^2): how fast the latent level drifts
_KF_R = 400.0  # observation noise (cents^2): day-mean sampling error

_KALMAN_ORACLE = f"""
    WITH RECURSIVE pts AS (
      SELECT event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
      FROM events
    ),
    d AS (
      SELECT event_type, day,
             CAST(sum(v) AS DOUBLE) / count(*) AS y,
             row_number() OVER (PARTITION BY event_type ORDER BY day) AS i
      FROM pts GROUP BY event_type, day
    ),
    kf(event_type, i, day, x, p) AS (
      -- anchor literal must be cast: DuckDB types the recursion's p
      -- column from the anchor, and a bare 400.0 is DECIMAL(4,1)
      SELECT event_type, 1, day, y, CAST({_KF_R} AS DOUBLE) FROM d WHERE i = 1
      UNION ALL
      SELECT w.event_type, w.i + 1, nxt.day,
             w.x + ((w.p + {_KF_Q}) / (w.p + {_KF_Q} + {_KF_R}))
                 * (nxt.y - w.x),
             (1 - (w.p + {_KF_Q}) / (w.p + {_KF_Q} + {_KF_R}))
                 * (w.p + {_KF_Q})
      FROM kf w
      JOIN d nxt ON nxt.event_type = w.event_type AND nxt.i = w.i + 1
    )
    SELECT event_type, day,
           round(x, 4) AS level_kf,
           round(p, 6) AS p_var
    FROM kf
"""


@register("ts_kalman_1d", oracle=_KALMAN_ORACLE, tags=("timeseries",))
def ts_kalman_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D Kalman filter (local-level model) over each series' daily
    means — the optimal linear denoiser when the latent level drifts
    (process noise q) and day means are noisy reads (observation noise
    r): per step, gain k = (p+q)/(p+q+r), level += k·(y − level),
    p = (1−k)·(p+q). Converges to the steady-state gain a plain EWMA
    (`ts_ewma`) hard-codes — here the gain ADAPTS (high after
    data gaps, low once settled), which is why trackers use it.

    Execution is the `ts_holt_winters` contract exactly: the raw log
    collapses to per-(series, day) means in one map-side-combining
    aggregate (the only full-data shuffle), then the genuinely
    sequential recurrence walks the day grid per series inside
    applyInPandas — state is two doubles. Determinism: both engines
    start from the identical day-mean double and replay the identical
    IEEE expression chain (the oracle spells the recurrence as a
    recursive CTE with token-identical algebra); rounding stays
    JVM-side half-up. The same recurrence gap-adaptively smooths
    per-position depth tracks downstream of the A9 coverage rollup
    (`gvcf_coverage_depth`)."""
    import pandas as pd

    d = _day_means(spark, sf_dir)

    def walk(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day")
        ys = pdf["y"].to_numpy()
        days = pdf["day"].to_numpy()
        et = pdf["event_type"].iloc[0]
        x = float(ys[0])
        p = _KF_R
        out = [(et, int(days[0]), x, p)]
        for t in range(1, len(ys)):
            pp = p + _KF_Q
            k = pp / (pp + _KF_R)
            x = x + k * (float(ys[t]) - x)
            p = (1.0 - k) * pp
            out.append((et, int(days[t]), x, p))
        return pd.DataFrame(out, columns=["event_type", "day", "x", "p"])

    raw = d.groupBy("event_type").applyInPandas(
        walk, "event_type string, day long, x double, p double"
    )
    return raw.select(
        "event_type",
        "day",
        F.round("x", 4).alias("level_kf"),
        F.round("p", 6).alias("p_var"),
    )


_OHLC_ORACLE = """
    WITH pts AS (
      SELECT event_type,
             CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS BIGINT) AS h,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS v_cents,
             lpad(CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS VARCHAR), 20, '0')
               || lpad(CAST(event_id AS VARCHAR), 12, '0') AS ord_key
      FROM events
    )
    SELECT event_type, h,
           arg_min(v_cents, ord_key) AS open_cents,
           max(v_cents) AS high_cents,
           min(v_cents) AS low_cents,
           arg_max(v_cents, ord_key) AS close_cents,
           CAST(count(*) AS BIGINT) AS n_ticks,
           CAST(sum(v_cents) AS BIGINT) AS vol_cents
    FROM pts
    GROUP BY event_type, h
"""


@register("ts_ohlc_bars", oracle=_OHLC_ORACLE, tags=("timeseries",))
def ts_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candle bars: per (event_type, hour) the opening value (first
    by event time), high, low, closing value (last by event time), tick
    count, and summed volume — the canonical downsample every monitoring
    / market-data store (and the reference's coverage-summary rollup
    shape) serves reads from.

    Physical plan: ONE hash aggregate — open/close are ``min_by``/
    ``max_by`` over a sortable order key, so no window, no per-key sort,
    and the partial aggregates combine map-side; at 100 TB the shuffle
    carries #series × #hours rows, not the raw ticks. The order key is a
    zero-padded string (epoch-µs ‖ event_id) because a packed bigint
    overflows int64 at epoch-µs magnitudes and DuckDB's arg_min cannot
    order by a struct — lexicographic order on the padded string equals
    (ts, event_id) order exactly, so both engines pick identical
    open/close rows even under duplicate timestamps. Values quantize to
    integer cents BEFORE aggregation: picks are drift-free, and the
    volume sum stays exact integer (§5.4 — no float reaches the hash)."""
    ev = load_table(spark, sf_dir, "events")
    ord_key = F.concat(
        F.lpad(F.col("ts_us_long").cast("string"), 20, "0"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    pts = ev.select(
        "event_type",
        F.expr(f"ts_us_long div {_US_PER_HOUR}").alias("h"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("v_cents"),
        ord_key.alias("ord_key"),
    )
    return pts.groupBy("event_type", "h").agg(
        F.min_by("v_cents", "ord_key").alias("open_cents"),
        F.max("v_cents").alias("high_cents"),
        F.min("v_cents").alias("low_cents"),
        F.max_by("v_cents", "ord_key").alias("close_cents"),
        F.count("*").cast("bigint").alias("n_ticks"),
        F.sum("v_cents").alias("vol_cents"),
    )
