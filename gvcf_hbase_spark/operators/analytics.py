"""Event-analytics operators over the ``events`` stream table: ordered
funnel matching, weekly cohort retention, and heavy-hitter detection with
the sketch-candidate + exact-verify pattern.

These extend the engine's beyond-reference surface (SURVEY §2B.13): the
queries a product/growth team runs against the same event log the
streaming operators consume. All three are built for the 100 TB shape —
every join/aggregate shuffles on ``user_id`` (the natural key), heavy
hitters never shuffle the raw log, and nothing is driver-resident beyond
per-partition candidate summaries.
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from gvcf_hbase_spark.functions.ranks import (
    attach_two_phase_cumsum,
    attach_two_phase_ntile,
)
from gvcf_hbase_spark.registry import register
from gvcf_hbase_spark.session import one_compute_boundary
from gvcf_hbase_spark.sources.tables import load_table

_FUNNEL_ORACLE = """
    WITH ev AS (
      SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS t FROM events
    ),
    v AS (SELECT user_id, min(t) AS view_us FROM ev WHERE event_type = 'view' GROUP BY user_id),
    c AS (
      SELECT ev.user_id, min(t) AS click_us
      FROM ev JOIN v USING (user_id)
      WHERE event_type = 'click' AND t > v.view_us
      GROUP BY ev.user_id
    ),
    p AS (
      SELECT ev.user_id, min(t) AS purchase_us
      FROM ev JOIN c USING (user_id)
      WHERE event_type = 'purchase' AND t > c.click_us
      GROUP BY ev.user_id
    )
    SELECT u.user_id, v.view_us, c.click_us, p.purchase_us,
           CAST(CASE WHEN p.purchase_us IS NOT NULL THEN 3
                     WHEN c.click_us IS NOT NULL THEN 2
                     WHEN v.view_us IS NOT NULL THEN 1
                     ELSE 0 END AS INT) AS funnel_stage
    FROM (SELECT DISTINCT user_id FROM ev) u
    LEFT JOIN v USING (user_id)
    LEFT JOIN c USING (user_id)
    LEFT JOIN p USING (user_id)
"""


@register("funnel_steps", oracle=_FUNNEL_ORACLE, tags=("analytics",))
def funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel per user (view → click → purchase, strictly
    increasing event time, greedy-earliest matching): emit the first
    qualifying timestamp of each reached step and the stage count.

    The greedy chain is a CASCADE of aggregates — min(view), then
    min(click > first view), then min(purchase > first click) — not a
    window or a pair join: each step is one equi-shuffle on ``user_id``
    plus a filter, so a k-step funnel costs k co-partitioned aggregates
    over an ever-shrinking side (users still in the funnel), never a
    per-user event sort or an (event × event) self-join. At fixture scale
    AQE broadcasts the shrunken step dims on its own.
    """
    return _funnel_detail(spark, sf_dir)


def _funnel_stages(ev: DataFrame, gap_us: int | None = None):
    """The greedy view → click → purchase cascade over ``ev`` (user_id,
    event_type, t): ``(v, c, p)``, each user's first view, first click
    after it and first purchase after that (``view_us``, ``click_us``,
    ``purchase_us``). With ``gap_us`` each step must also follow the
    previous match within that many µs.

    One-compute boundaries (r10, guide §2.4): v and c each feed the next
    step's filter join AND every caller's final left-join cascade or
    count branch; the executed sf1 plan ran 11 separate parquet scans with
    only 2 ReusedExchange, so each step aggregate materializes once
    (user-sized, ever-shrinking relations). Measured: 0.53 -> 0.35 s at
    sf1 (`funnel_steps`)."""

    def step(kind: str, prev: DataFrame, prev_us: str, out_us: str) -> DataFrame:
        after = F.col("t") > F.col(prev_us)
        if gap_us is not None:
            after = after & (F.col("t") <= F.col(prev_us) + gap_us)
        return (
            ev.filter(F.col("event_type") == kind)
            .join(prev, "user_id")
            .filter(after)
            .groupBy("user_id")
            .agg(F.min("t").alias(out_us))
        )

    v = one_compute_boundary(
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("t").alias("view_us"))
    )
    c = one_compute_boundary(step("click", v, "view_us", "click_us"))
    p = step("purchase", c, "click_us", "purchase_us")
    return v, c, p


def _funnel_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.col("ts_us_long").alias("t")
    )


def _funnel_detail(spark: SparkSession, sf_dir: str, gap_us: int | None = None) -> DataFrame:
    """Per-user funnel detail: every user with the first timestamp of
    each reached step and the stage count (0-3)."""
    ev = _funnel_events(spark, sf_dir)
    v, c, p = _funnel_stages(ev, gap_us)
    stage = (
        F.when(F.col("purchase_us").isNotNull(), 3)
        .when(F.col("click_us").isNotNull(), 2)
        .when(F.col("view_us").isNotNull(), 1)
        .otherwise(0)
    )
    return (
        ev.select("user_id").distinct()
        .join(v, "user_id", "left")
        .join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            "view_us",
            "click_us",
            "purchase_us",
            stage.cast("int").alias("funnel_stage"),
        )
    )


_RETENTION_ORACLE = """
    WITH ev AS (
      SELECT user_id, date_trunc('week', CAST(ts AS TIMESTAMP)) AS wk
      FROM events
    ),
    cohort AS (SELECT user_id, min(wk) AS cohort_week FROM ev GROUP BY user_id)
    SELECT c.cohort_week,
           CAST(date_diff('day', c.cohort_week, ev.wk) // 7 AS BIGINT) AS week_offset,
           CAST(count(DISTINCT ev.user_id) AS BIGINT) AS active_users
    FROM ev JOIN cohort c USING (user_id)
    GROUP BY 1, 2
"""


@register("agg_retention_cohort", oracle=_RETENTION_ORACLE, tags=("analytics",))
def agg_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users are cohorted by the ISO week of
    their first event; for every (cohort_week, week_offset) count the
    distinct users active that week — the classic retention triangle.

    Two shuffles on ``user_id`` (cohort min, then the fact⋈cohort join —
    co-partitioned, AQE broadcasts the cohort dim when it measures small)
    plus one on the (cohort, offset) pair for the distinct-count. The
    offset is integer day-diff // 7 of two week-truncated instants, which
    sidesteps any engine difference in week-epoch numbering; cohort_week
    stays a midnight TIMESTAMP on both sides (pandas has no date dtype —
    DATE columns round-trip engine-dependently, timestamps don't)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("week", F.col("ts_us")).alias("wk")
    )
    cohort = ev.groupBy("user_id").agg(F.min("wk").alias("cohort_week"))
    return (
        ev.join(cohort, "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff(F.col("wk"), F.col("cohort_week")) / 7)
            .cast("bigint")
            .alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").cast("bigint").alias("active_users"))
    )


# Heavy hitters: report every user with strictly more than N/_HH_K of all
# events. _HH_CAPACITY bounds the per-partition Misra-Gries summary; the
# candidate union is guaranteed a superset of the true heavy hitters
# whenever capacity ≥ _HH_K (pigeonhole: a global > N/k item exceeds
# n_p/k in some partition, and MG with k counters never evicts an item
# with local frequency above n_p/(k+1)).
_HH_K = 200
_HH_CAPACITY = 256

_HH_ORACLE = f"""
    SELECT user_id, count(*) AS cnt
    FROM events
    GROUP BY user_id
    HAVING count(*) * {_HH_K} > (SELECT count(*) FROM events)
"""


@register("agg_heavy_hitters", oracle=_HH_ORACLE, tags=("analytics", "sketch"))
def agg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-item (heavy hitter) detection with EXACT output: users
    owning > 1/200 of all events, found via the sketch-candidate +
    exact-verify pattern (same design as minhash→Jaccard dedup).

    Phase 1 streams each partition through a Misra-Gries summary
    (``_HH_CAPACITY`` counters, mapInPandas) and emits only the surviving
    candidate keys — ≤ capacity rows per partition cross the shuffle, so
    a 10^9-cardinality key column never materializes a full groupBy.
    Phase 2 computes exact counts for the candidates only (semi-join +
    aggregate) and applies the integral threshold ``cnt·k > N``. MG's
    superset guarantee makes the result EXACTLY the true heavy-hitter
    set, which is why this is oracle-checkable while pure sketches are
    rows-only.

    At fixture scale (150 users < capacity) the summary degenerates to a
    plain distinct — the guarantee is trivially tight; the pruning bites
    precisely when cardinality ≫ capacity at 100 TB.
    """
    ev = load_table(spark, sf_dir, "events")

    def mg_summary(batches):
        # Batched Misra-Gries (the mergeable-summaries form): fold each
        # Arrow batch's value_counts into the counter dict, and when it
        # overflows capacity subtract the (capacity+1)-th largest count
        # from everything, dropping non-positives — identical error bound
        # to per-item MG (≤ n_p/(capacity+1) undercount per key) with no
        # per-row Python: the only loop is over DISTINCT keys per batch.
        counters: dict[int, int] = {}
        for pdf in batches:
            for u, cnt in pdf["user_id"].value_counts().items():
                counters[u] = counters.get(u, 0) + int(cnt)
            if len(counters) > _HH_CAPACITY:
                spill = sorted(counters.values(), reverse=True)[_HH_CAPACITY]
                counters = {k: v - spill for k, v in counters.items() if v > spill}
        yield pd.DataFrame({"user_id": pd.array(list(counters), dtype="int64")})

    cands = ev.select("user_id").mapInPandas(mg_summary, "user_id bigint").distinct()
    n = ev.agg(F.count("*").alias("n_total"))
    return (
        ev.join(cands, "user_id", "left_semi")
        .groupBy("user_id")
        .agg(F.count("*").alias("cnt"))
        .crossJoin(F.broadcast(n))
        .filter(F.col("cnt") * _HH_K > F.col("n_total"))
        .select("user_id", "cnt")
    )


_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]

_CORR_ORACLE = "\nUNION ALL\n".join(
    f"SELECT '{a}' AS col_a, '{b}' AS col_b, round(corr({a}, {b}), 6) AS r FROM lineitem"
    for i, a in enumerate(_CORR_COLS)
    for b in _CORR_COLS[i + 1 :]
)


@register("agg_corr_matrix", oracle=_CORR_ORACLE, tags=("analytics", "agg", "stats"))
def agg_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation of the four lineitem measures, as
    tidy (col_a, col_b, r) rows — the feature-screening aggregate run
    before mixing/weighting decisions.

    All 6 pairs are computed in ONE aggregate pass (6 ``corr`` exprs in
    a single global agg — one scan, one 1-row reduce; corr's streaming
    co-moment form is a partial aggregate, so map-side combine does the
    heavy lifting and the shuffle carries 6 co-moment tuples per task).
    The 1-row wide result is then unpivoted driver-free via ``stack``.
    The oracle recomputes each pair with DuckDB's independent corr —
    6 scans there, but oracle cost doesn't count."""
    li = load_table(spark, sf_dir, "lineitem")
    pairs = [(a, b) for i, a in enumerate(_CORR_COLS) for b in _CORR_COLS[i + 1 :]]
    wide = li.agg(
        *[F.corr(a, b).alias(f"c{i}") for i, (a, b) in enumerate(pairs)]
    )
    stack_expr = ", ".join(
        f"'{a}', '{b}', round(c{i}, 6)" for i, (a, b) in enumerate(pairs)
    )
    return wide.select(
        F.expr(f"stack({len(pairs)}, {stack_expr}) AS (col_a, col_b, r)")
    )


_TRANSITIONS_ORACLE = """
    WITH ordered AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
               ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_type
      FROM events
    ),
    c AS (
      SELECT prev_type, event_type AS next_type, count(*) AS n
      FROM ordered WHERE prev_type IS NOT NULL
      GROUP BY 1, 2
    )
    SELECT prev_type, next_type, CAST(n AS BIGINT) AS n,
           round(n / sum(n) OVER (PARTITION BY prev_type), 6) AS p
    FROM c
"""


@register("analytics_event_transitions", oracle=_TRANSITIONS_ORACLE, tags=("analytics", "window"))
def analytics_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user behavior: for each
    (previous event type → next event type) pair, the transition count
    and row-normalized probability. The session-flow fingerprint behind
    'what do users do after a view'.

    Plan: one shuffle+sort on user_id for the lag, then a count
    aggregate over the (prev, next) pairs — 25 rows for 5 event types —
    and the normalizing window runs on that tiny aggregate (its
    partitionBy(prev_type) sort is over ≤|types| rows, not the log; a
    giant-partition window over raw events is exactly what this avoids).
    The denominator is a window over the aggregated counts rather than a
    second groupBy+join — one pass, and AQE sees a single-digit-KB
    exchange."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_us_long", "event_id")
    pairs = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").alias("n"))
    )
    norm = Window.partitionBy("prev_type")
    return pairs.select(
        "prev_type",
        "next_type",
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("n") / F.sum("n").over(norm), 6).alias("p"),
    )


_WMEDIAN_ORACLE = """
    WITH w AS (
      SELECT l_returnflag, l_extendedprice, l_quantity,
             sum(l_quantity) OVER (PARTITION BY l_returnflag
               ORDER BY l_extendedprice, l_orderkey, l_linenumber
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_w,
             sum(l_quantity) OVER (PARTITION BY l_returnflag) AS total_w
      FROM lineitem
    ),
    hit AS (
      SELECT l_returnflag, l_extendedprice,
             row_number() OVER (PARTITION BY l_returnflag
               ORDER BY cum_w, l_extendedprice) AS rn
      FROM w WHERE cum_w >= total_w / 2
    )
    SELECT l_returnflag, round(l_extendedprice, 2) AS weighted_median
    FROM hit WHERE rn = 1
"""


@register("agg_weighted_median", oracle=_WMEDIAN_ORACLE, tags=("analytics", "agg", "stats"))
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median of extended price per return flag, weighted by
    quantity — the first value whose running weight reaches half the
    group's total (lower weighted median; deterministic full ordering by
    (price, orderkey, linenumber) pins ties).

    Neither engine has a weighted-percentile aggregate, so both sides
    build it from first principles — but independently, in their own
    window dialects. Shape: ONE shuffle on the group key drives both the
    running weight and the group total (two frames over the same sort),
    then the first-hit pick is a rank-1 filter. No percentile_cont
    approximation, no second shuffle. Skew note: the group count here is
    3; a high-cardinality grouping keys the same plan, and a SKEWED
    group is bounded by its in-partition sort exactly like any window."""
    li = load_table(spark, sf_dir, "lineitem")
    order = [F.col("l_extendedprice"), F.col("l_orderkey"), F.col("l_linenumber")]
    wsort = Window.partitionBy("l_returnflag").orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy("l_returnflag")
    staged = li.select(
        "l_returnflag",
        "l_extendedprice",
        F.sum("l_quantity").over(wsort).alias("cum_w"),
        F.sum("l_quantity").over(wall).alias("total_w"),
    ).filter(F.col("cum_w") >= F.col("total_w") / 2)
    pick = Window.partitionBy("l_returnflag").orderBy("cum_w", "l_extendedprice")
    return (
        staged.withColumn("rn", F.row_number().over(pick))
        .filter(F.col("rn") == 1)
        .select("l_returnflag", F.round("l_extendedprice", 2).alias("weighted_median"))
    )


_ENTROPY_ORACLE = """
    WITH c AS (
      SELECT lang, source, count(*) AS n FROM documents GROUP BY 1, 2
    ),
    t AS (
      SELECT lang, source, n,
             CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY lang) AS p
      FROM c
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_sources,
           CAST(sum(n) AS BIGINT) AS n_docs,
           round(-sum(p * log2(p)), 6) AS entropy_bits,
           round(-sum(p * log2(p)) / log2(count(*)), 6) AS entropy_norm
    FROM t GROUP BY lang
"""


@register("agg_entropy", oracle=_ENTROPY_ORACLE, tags=("analytics", "agg"))
def agg_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each language's source-domain distribution —
    the corpus-diversity metric a training-data curator watches when a
    mixture drifts toward one crawler (low entropy = concentration risk;
    ``entropy_norm`` = entropy / log2(#sources) rescales to [0,1] so
    languages with different source counts compare directly).

    Two collapsing hash aggregates: (lang, source) counts first — the
    only pass over the corpus, map-side partials, shuffle carries one
    row per distinct pair — then the per-lang entropy fold over that
    tiny table with a window for the normalizing total. At 100 TB the
    second stage's input is #langs × #sources rows regardless of corpus
    size. p and the log2 fold run on exact integer counts, so both
    engines divide and log identical operands; round(6) absorbs the
    ±1-ulp summation-order difference across ~20 terms.
    """
    d = load_table(spark, sf_dir, "documents")
    c = d.groupBy("lang", "source").agg(F.count("*").alias("n"))
    p = F.col("n").cast("double") / F.sum("n").over(Window.partitionBy("lang"))
    ent = F.sum(-(F.col("p") * F.log2("p")))
    return (
        c.select("lang", "n", p.alias("p"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_sources"),
            F.sum("n").alias("n_docs"),
            F.round(ent, 6).alias("entropy_bits"),
            # single-source groups: log2(1)=0 ⇒ DuckDB's x/0 is NULL while
            # Spark's ANSI division THROWS — try_divide pins the shared
            # "normalized entropy of a degenerate distribution is
            # undefined" contract instead of crashing on it
            F.round(F.try_divide(ent, F.log2(F.count("*"))), 6).alias("entropy_norm"),
        )
    )


_GINI_ORACLE = """
    WITH o AS (
      SELECT o_orderpriority AS pri,
             CAST(strftime(CAST(o_orderdate AS TIMESTAMP), '%Y-%m') AS VARCHAR) AS ym,
             CAST(round(o_totalprice * 100, 0) AS BIGINT) AS x,
             o_orderkey AS k
      FROM orders
    ),
    r AS (
      SELECT pri, ym, x,
             row_number() OVER (PARTITION BY pri, ym ORDER BY x, k) AS rn
      FROM o
    )
    SELECT pri, ym, CAST(count(*) AS BIGINT) AS n_orders,
           CAST(floor(
             (2.0 * sum(rn * x) - (count(*) + 1) * CAST(sum(x) AS DOUBLE))
             / (count(*) * CAST(sum(x) AS DOUBLE)) * 1e6 + 0.5) AS BIGINT
           ) AS gini_1e6
    FROM r
    GROUP BY pri, ym
    HAVING count(*) >= 20
"""


@register("analytics_gini", oracle=_GINI_ORACLE, tags=("analytics",))
def analytics_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini concentration of order value per (priority, month) cell — the
    inequality measure behind revenue-concentration and whale-detection
    dashboards, from the rank formula
    G = (2·Σ rᵢxᵢ − (n+1)·Σ xᵢ) / (n·Σ xᵢ) over ascending-sorted values.

    One window (row_number over the cell) + one hash aggregate: the sort
    IS the algorithm, so cost is one exchange on the cell key plus an
    in-partition sort — no pair joins, no driver math. Ranks are pinned
    deterministic with the (x, orderkey) tiebreak. The month in the cell
    key is load-bearing at scale twice over: it bounds the per-cell sort
    AND keeps Σ rᵢxᵢ ≈ n²·x̄/2 under 2⁵³ (n ≈ 360 per cell at sf0.1 →
    ~1e12), so the final double division sees exactly-representable
    integer operands on both engines; an unbucketed variant at sf ≥ 1
    would need the decimal accumulator documented here. Cells < 20 orders
    are dropped — rank-formula Gini is noise at tiny n.
    """
    o = load_table(spark, sf_dir, "orders")
    cell = o.select(
        F.col("o_orderpriority").alias("pri"),
        F.date_format("o_orderdate", "yyyy-MM").alias("ym"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("x"),
        F.col("o_orderkey").alias("k"),
    )
    w = Window.partitionBy("pri", "ym").orderBy("x", "k")
    r = cell.withColumn("rn", F.row_number().over(w))
    n, sx = F.count("*"), F.sum("x")
    srx = F.sum(F.col("rn") * F.col("x"))
    gini = (2.0 * srx - (n + 1) * sx.cast("double")) / (n * sx.cast("double"))
    return (
        r.groupBy("pri", "ym")
        .agg(
            n.alias("n_orders"),
            F.floor(gini * 1e6 + F.lit(0.5)).cast("bigint").alias("gini_1e6"),
        )
        .filter(F.col("n_orders") >= 20)
    )


_AB_TTEST_ORACLE = """
    WITH t AS (
      SELECT event_type,
             TRY_CAST(regexp_extract(props, '(\\d+)', 1) AS BIGINT) % 2 AS grp,
             CAST(round(value * 100, 0) AS BIGINT) AS x
      FROM events
    ),
    g AS (
      SELECT event_type,
             count(*) FILTER (grp = 0) AS n0,
             sum(x)   FILTER (grp = 0) AS sx0,
             sum(x*x) FILTER (grp = 0) AS sxx0,
             count(*) FILTER (grp = 1) AS n1,
             sum(x)   FILTER (grp = 1) AS sx1,
             sum(x*x) FILTER (grp = 1) AS sxx1
      FROM t GROUP BY event_type
    ),
    s AS (
      SELECT event_type, n0, n1,
             CAST(sx0 AS DOUBLE) / n0 AS m0,
             CAST(sx1 AS DOUBLE) / n1 AS m1,
             (sxx0 - CAST(sx0 AS DOUBLE) * sx0 / n0) / (n0 - 1) AS v0,
             (sxx1 - CAST(sx1 AS DOUBLE) * sx1 / n1) / (n1 - 1) AS v1
      FROM g WHERE n0 >= 2 AND n1 >= 2
    )
    SELECT event_type, CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
           CAST(floor((m0 - m1) / sqrt(v0 / n0 + v1 / n1) * 1e4 + 0.5) AS BIGINT)
             AS t_stat_1e4,
           CAST(floor(
             (v0/n0 + v1/n1) * (v0/n0 + v1/n1)
             / ((v0/n0)*(v0/n0)/(n0-1) + (v1/n1)*(v1/n1)/(n1-1)) * 1e3 + 0.5
           ) AS BIGINT) AS welch_dof_1e3
    FROM s
"""


@register("analytics_ab_ttest", oracle=_AB_TTEST_ORACLE, tags=("analytics",))
def analytics_ab_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's two-sample t statistic per event type between the even-k
    and odd-k property cohorts (the A/B assignment), with the
    Welch–Satterthwaite degrees of freedom — the experiment-readout
    aggregate, computed without ever materializing either cohort.

    Shape: ONE conditional hash aggregate over the log (six FILTER
    partials per type — n, Σx, Σx² per arm), then scalar algebra on the
    per-type rows. Map-side combine collapses everything before the
    shuffle; the statistic never sees a row twice, and adding arms or
    metrics is more partials, not more passes. All partials are exact
    integers over cents (Σx² ≤ ~6e12 at sf0.1, far under 2⁵³), so the
    final float chain runs on identical operands in both engines.
    """
    ev = load_table(spark, sf_dir, "events")
    t = ev.select(
        "event_type",
        # try_cast, not cast: regexp_extract returns '' when props has no
        # digit, and ANSI CAST('' AS BIGINT) aborts the query. Digit-free
        # rows fall into a NULL cohort that the n0>=2/n1>=2 gate and the
        # grp==0/1 partials already ignore; oracle mirrors with TRY_CAST.
        (F.regexp_extract("props", r"(\d+)", 1).try_cast("bigint") % 2).alias("grp"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("x"),
    )
    g = t.groupBy("event_type").agg(
        F.count(F.when(F.col("grp") == 0, 1)).alias("n0"),
        F.sum(F.when(F.col("grp") == 0, F.col("x"))).alias("sx0"),
        F.sum(F.when(F.col("grp") == 0, F.col("x") * F.col("x"))).alias("sxx0"),
        F.count(F.when(F.col("grp") == 1, 1)).alias("n1"),
        F.sum(F.when(F.col("grp") == 1, F.col("x"))).alias("sx1"),
        F.sum(F.when(F.col("grp") == 1, F.col("x") * F.col("x"))).alias("sxx1"),
    ).filter((F.col("n0") >= 2) & (F.col("n1") >= 2))
    n0, n1 = F.col("n0"), F.col("n1")
    m0 = F.col("sx0").cast("double") / n0
    m1 = F.col("sx1").cast("double") / n1
    v0 = (F.col("sxx0") - F.col("sx0").cast("double") * F.col("sx0") / n0) / (n0 - 1)
    v1 = (F.col("sxx1") - F.col("sx1").cast("double") * F.col("sx1") / n1) / (n1 - 1)
    se0, se1 = v0 / n0, v1 / n1
    tstat = (m0 - m1) / F.sqrt(se0 + se1)
    dof = (se0 + se1) * (se0 + se1) / (se0 * se0 / (n0 - 1) + se1 * se1 / (n1 - 1))
    return g.select(
        "event_type",
        n0.alias("n0"),
        n1.alias("n1"),
        F.floor(tstat * 1e4 + F.lit(0.5)).cast("bigint").alias("t_stat_1e4"),
        F.floor(dof * 1e3 + F.lit(0.5)).cast("bigint").alias("welch_dof_1e3"),
    )


_PARETO_ORACLE = """
    WITH r AS (
      SELECT o_custkey,
             CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
               AS rev
      FROM orders GROUP BY 1
    ),
    d AS (
      SELECT rev, ntile(10) OVER (ORDER BY rev DESC, o_custkey) AS decile FROM r
    ),
    g AS (
      SELECT decile, CAST(count(*) AS BIGINT) AS n_customers,
             CAST(sum(rev) AS BIGINT) AS revenue_cents
      FROM d GROUP BY 1
    )
    SELECT decile, n_customers, revenue_cents,
           CAST(floor(CAST(revenue_cents AS DOUBLE)
                      / sum(revenue_cents) OVER () * 1e6 + 0.5) AS BIGINT)
             AS share_1e6,
           CAST(floor(CAST(sum(revenue_cents) OVER (ORDER BY decile) AS DOUBLE)
                      / sum(revenue_cents) OVER () * 1e6 + 0.5) AS BIGINT)
             AS cum_share_1e6
    FROM g
"""


@register("analytics_pareto_share", oracle=_PARETO_ORACLE, tags=("analytics", "window"))
def analytics_pareto_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration curve by customer decile — the 80/20 readout
    ("the top 10% of customers carry X% of revenue"): customers ranked by
    lifetime spend, dealt into deciles, each decile's share and the
    cumulative share down the curve.

    The log collapses in the per-customer aggregate (one shuffle); the
    decile assignment is the TWO-PHASE distributed ntile
    (`functions.ranks`): customers bucket by ``-(rev div 2^20)`` —
    monotone under the (rev DESC, custkey) order, constant across rev
    ties — rank locally per bucket, add the exclusive per-bucket offsets
    (one row per bucket, broadcast), then decile = rank arithmetic. No
    single-partition window ever sees the per-customer relation; the
    pinned tiebreak keeps decile boundaries deterministic. Everything
    after runs on 10 rows (decile agg + two windows over it).
    """
    o = load_table(spark, sf_dir, "orders")
    r = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint")).alias("rev")
    )
    d = attach_two_phase_ntile(
        r,
        order=[F.col("rev").desc(), F.col("o_custkey")],
        bucket=-F.floor(F.col("rev") / F.lit(1 << 20)),
        tiles=10,
        out="decile",
    ).select("rev", F.col("decile").cast("int").alias("decile"))
    g = d.groupBy("decile").agg(
        F.count("*").alias("n_customers"),
        F.sum("rev").alias("revenue_cents"),
    )
    total = Window.partitionBy()
    cum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return g.select(
        "decile",
        "n_customers",
        "revenue_cents",
        F.floor(
            F.col("revenue_cents").cast("double") / F.sum("revenue_cents").over(total) * 1e6
            + F.lit(0.5)
        ).cast("bigint").alias("share_1e6"),
        F.floor(
            F.sum("revenue_cents").over(cum).cast("double")
            / F.sum("revenue_cents").over(total) * 1e6
            + F.lit(0.5)
        ).cast("bigint").alias("cum_share_1e6"),
    )


_PATTERN_ORACLE = """
    WITH t AS (
      SELECT event_id, user_id, event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us
      FROM events
    ),
    s AS (
      SELECT event_id, user_id, event_type, us,
             lead(event_type, 1) OVER w AS e1,
             lead(event_type, 2) OVER w AS e2,
             lead(us, 2) OVER w AS us2
      FROM t
      WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    )
    SELECT event_id AS start_event_id, user_id, us AS start_us,
           us2 - us AS span_us
    FROM s
    WHERE event_type = 'view' AND e1 = 'click' AND e2 = 'purchase'
      AND us2 - us <= 172800000000
"""


@register("analytics_pattern_match", oracle=_PATTERN_ORACLE, tags=("analytics", "window"))
def analytics_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-sequence pattern detection (the MATCH_RECOGNIZE / Flink-CEP
    kernel): find every STRICTLY CONSECUTIVE view → click → purchase run
    per user completing within 48 hours — "no distraction between
    intent and conversion" (the bound is sized to the fixture's ~9 h per-user
    inter-event gap; the shape is bound-agnostic), a stricter signal than the funnel op's
    anywhere-in-history chain.

    A fixed-length pattern over consecutive rows needs no NFA: it
    compiles to k−1 lead() columns + one conjunctive filter — every
    pattern position becomes a column, the contiguity is the window
    ordering itself, and the time bound is one subtraction. ONE
    (user_id) exchange and sort; matching is a codegen'd filter, no
    state machine, no UDF, and overlapping matches fall out for free
    (each row starts its own candidate). Variable-length patterns
    (A B+ C) are where this shape ends — that boundary is closed by
    `analytics_pattern_kleene` (batch, gaps-and-islands) and
    `stream_pattern_kleene` (incremental NFA on the state store).
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_us_long", "event_id")
    s = ev.select(
        "event_id",
        "user_id",
        "event_type",
        F.col("ts_us_long").alias("us"),
        F.lead("event_type", 1).over(w).alias("e1"),
        F.lead("event_type", 2).over(w).alias("e2"),
        F.lead("ts_us_long", 2).over(w).alias("us2"),
    )
    return s.filter(
        (F.col("event_type") == "view")
        & (F.col("e1") == "click")
        & (F.col("e2") == "purchase")
        & (F.col("us2") - F.col("us") <= 172_800_000_000)
    ).select(
        F.col("event_id").alias("start_event_id"),
        "user_id",
        F.col("us").alias("start_us"),
        (F.col("us2") - F.col("us")).alias("span_us"),
    )


_KLEENE_ORACLE = """
    WITH t AS (
      SELECT event_id, user_id, event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us
      FROM events
    ),
    s AS (
      SELECT event_id, user_id, event_type, us,
             row_number() OVER w AS rn,
             lag(event_type) OVER w AS prev_type,
             lag(event_id) OVER w AS prev_eid,
             lag(us) OVER w AS prev_us,
             lead(event_type) OVER w AS next_type,
             lead(us) OVER w AS next_us
      FROM t
      WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ),
    c AS (
      SELECT *, rn - row_number() OVER (PARTITION BY user_id ORDER BY rn) AS isl
      FROM s WHERE event_type = 'click'
    ),
    runs AS (
      SELECT user_id, isl,
             CAST(count(*) AS BIGINT) AS n_clicks,
             arg_min(prev_type, rn) AS open_type,
             arg_min(prev_eid, rn) AS start_event_id,
             arg_min(prev_us, rn) AS start_us,
             arg_max(next_type, rn) AS close_type,
             arg_max(next_us, rn) AS end_us
      FROM c GROUP BY user_id, isl
    )
    SELECT start_event_id, user_id, n_clicks,
           CAST(start_us AS BIGINT) AS start_us,
           CAST(end_us - start_us AS BIGINT) AS span_us
    FROM runs
    WHERE open_type = 'view' AND close_type = 'purchase'
      AND end_us - start_us <= 172800000000
"""


@register("analytics_pattern_kleene", oracle=_KLEENE_ORACLE, tags=("analytics", "window"))
def analytics_pattern_kleene(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIABLE-LENGTH event-sequence pattern: ``view click+ purchase``
    over strictly consecutive per-user events within 48 h — the Kleene-
    plus case `analytics_pattern_match` documents as the boundary of the
    fixed-length lead() compilation. This op closes that boundary for
    batch: a B+ group is exactly a maximal island of consecutive B rows,
    so the matcher compiles to the gaps-and-islands machinery instead of
    an NFA — islands of 'click' (rn − rank-among-clicks is constant per
    run), then one aggregate per island carrying the island's OPENING
    context (lag row: must be 'view') and CLOSING context (lead row:
    must be 'purchase') via min_by/max_by on rn.

    Plan: ONE (user_id) exchange + sort for the lag/lead/rn window; the
    click filter prunes before the island window (same partitioning —
    no second exchange); the island aggregate shuffles only click rows
    with constant-width context columns. No UDF, no state machine, no
    per-row Python — matching is codegen'd expressions end-to-end, and
    every stage partitions on user_id, so 100 TB parallelizes by user
    exactly like the fixed-length op. Greedy/maximal-match semantics
    (the MATCH_RECOGNIZE default) fall out of island maximality; the
    oracle replays the identical construction in SQL.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_us_long", "event_id")
    s = ev.select(
        "event_id",
        "user_id",
        "event_type",
        F.col("ts_us_long").alias("us"),
        F.row_number().over(w).alias("rn"),
        F.lag("event_type").over(w).alias("prev_type"),
        F.lag("event_id").over(w).alias("prev_eid"),
        F.lag("ts_us_long").over(w).alias("prev_us"),
        F.lead("event_type").over(w).alias("next_type"),
        F.lead("ts_us_long").over(w).alias("next_us"),
    )
    wc = Window.partitionBy("user_id").orderBy("rn")
    c = s.filter(F.col("event_type") == "click").withColumn(
        "isl", F.col("rn") - F.row_number().over(wc)
    )
    runs = c.groupBy("user_id", "isl").agg(
        F.count("*").alias("n_clicks"),
        F.min_by("prev_type", "rn").alias("open_type"),
        F.min_by("prev_eid", "rn").alias("start_event_id"),
        F.min_by("prev_us", "rn").alias("start_us"),
        F.max_by("next_type", "rn").alias("close_type"),
        F.max_by("next_us", "rn").alias("end_us"),
    )
    return runs.filter(
        (F.col("open_type") == "view")
        & (F.col("close_type") == "purchase")
        & (F.col("end_us") - F.col("start_us") <= 172_800_000_000)
    ).select(
        "start_event_id",
        "user_id",
        "n_clicks",
        F.col("start_us").cast("bigint").alias("start_us"),
        (F.col("end_us") - F.col("start_us")).cast("bigint").alias("span_us"),
    )


_WILSON_ORACLE = """
    WITH s AS (
      SELECT event_type,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
             CAST(count(DISTINCT CASE WHEN value > 15 THEN user_id END) AS BIGINT)
               AS n_converted
      FROM events GROUP BY 1
    )
    SELECT event_type, n_users, n_converted,
           CAST(floor(CAST(n_converted AS DOUBLE) / n_users * 1e6 + 0.5) AS BIGINT)
             AS rate_1e6,
           CAST(floor(
             ((CAST(n_converted AS DOUBLE) / n_users + 3.8416 / (2 * n_users)
               - 1.96 * sqrt((CAST(n_converted AS DOUBLE) / n_users)
                             * (1 - CAST(n_converted AS DOUBLE) / n_users) / n_users
                             + 3.8416 / (4.0 * n_users * n_users)))
              / (1 + 3.8416 / n_users)) * 1e6 + 0.5) AS BIGINT) AS wilson_lo_1e6,
           CAST(floor(
             ((CAST(n_converted AS DOUBLE) / n_users + 3.8416 / (2 * n_users)
               + 1.96 * sqrt((CAST(n_converted AS DOUBLE) / n_users)
                             * (1 - CAST(n_converted AS DOUBLE) / n_users) / n_users
                             + 3.8416 / (4.0 * n_users * n_users)))
              / (1 + 3.8416 / n_users)) * 1e6 + 0.5) AS BIGINT) AS wilson_hi_1e6
    FROM s
"""


@register("analytics_rate_wilson", oracle=_WILSON_ORACLE, tags=("analytics",))
def analytics_rate_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type user conversion rate with its 95% Wilson score interval —
    the uncertainty band a rate should never ship without (the naive
    Wald interval collapses to zero width at p→0/1 and small n; Wilson
    stays calibrated, which is why it's the standard for funnel and CTR
    readouts).

    One distinct-count aggregate produces (n, k) per type; the interval
    is pure scalar algebra on those two integers — computed in the
    SELECT, no second pass, no UDF. z = 1.96 enters only as the
    constants z² = 3.8416 and z — both engines evaluate the identical
    IEEE expression tree on identical integer-derived operands, so the
    floor-quantized bounds agree exactly. At 100 TB the exact distincts
    are the only cost — the same sketch swap as `profile_table_quality`.
    """
    ev = load_table(spark, sf_dir, "events")
    s = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_users"),
        F.count_distinct(
            F.when(F.col("value") > 15, F.col("user_id"))
        ).alias("n_converted"),
    )
    n = F.col("n_users").cast("double")
    p = F.col("n_converted").cast("double") / n
    z2 = 3.8416
    center = p + z2 / (2 * n)
    margin = 1.96 * F.sqrt(p * (1 - p) / n + z2 / (4 * n * n))
    denom = 1 + z2 / n
    return s.select(
        "event_type",
        "n_users",
        "n_converted",
        F.floor(p * 1e6 + F.lit(0.5)).cast("bigint").alias("rate_1e6"),
        F.floor((center - margin) / denom * 1e6 + F.lit(0.5))
        .cast("bigint")
        .alias("wilson_lo_1e6"),
        F.floor((center + margin) / denom * 1e6 + F.lit(0.5))
        .cast("bigint")
        .alias("wilson_hi_1e6"),
    )


_ATTRIB_ORACLE = """
    WITH t AS (
      SELECT event_id, user_id, event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us
      FROM events
    ),
    s AS (
      SELECT event_id, user_id, event_type, us,
             last_value(CASE WHEN event_type IN ('view', 'click')
                             THEN event_id END IGNORE NULLS) OVER w AS touch_event_id,
             last_value(CASE WHEN event_type IN ('view', 'click')
                             THEN event_type END IGNORE NULLS) OVER w AS touch_type,
             last_value(CASE WHEN event_type IN ('view', 'click')
                             THEN us END IGNORE NULLS) OVER w AS touch_us
      FROM t
      WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id AS purchase_event_id, user_id, touch_event_id, touch_type,
           CAST(us - touch_us AS BIGINT) AS gap_us
    FROM s
    WHERE event_type = 'purchase' AND touch_event_id IS NOT NULL
      AND us - touch_us <= 3600000000
"""


@register("analytics_attribution_last_touch", oracle=_ATTRIB_ORACLE, tags=("analytics", "window"))
def analytics_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase is credited to the user's
    most recent PRECEDING view/click within a 1-hour lookback — the
    marketing-analytics primitive (and the general as-of-self-join on
    one table, which `join_asof` does across two).

    One (user_id) exchange + sort serves the whole query: the carry of
    the candidate touch (id, type, timestamp) is last_value IGNORE
    NULLS over an unbounded-to-1-preceding frame — Spark implements
    this as a running O(1) state per partition, no frame re-scan — and
    the purchase filter + lookback bound are codegen'd predicates on
    the carried columns. Same carry-forward machinery as
    `win_carry_forward`, applied to the attribution join shape; scales
    per user key like every window op here."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us_long", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_touch = F.col("event_type").isin("view", "click")
    s = ev.select(
        "event_id",
        "user_id",
        "event_type",
        F.col("ts_us_long").alias("us"),
        F.last(F.when(is_touch, F.col("event_id")), ignorenulls=True)
        .over(w)
        .alias("touch_event_id"),
        F.last(F.when(is_touch, F.col("event_type")), ignorenulls=True)
        .over(w)
        .alias("touch_type"),
        F.last(F.when(is_touch, F.col("ts_us_long")), ignorenulls=True)
        .over(w)
        .alias("touch_us"),
    )
    return s.filter(
        (F.col("event_type") == "purchase")
        & F.col("touch_event_id").isNotNull()
        & (F.col("us") - F.col("touch_us") <= 3_600_000_000)
    ).select(
        F.col("event_id").alias("purchase_event_id"),
        "user_id",
        "touch_event_id",
        "touch_type",
        (F.col("us") - F.col("touch_us")).cast("bigint").alias("gap_us"),
    )


_SHARE_ORACLE = """
    WITH g AS (
      SELECT o_orderpriority, o_orderstatus,
             CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
      FROM orders GROUP BY o_orderpriority, o_orderstatus
    )
    SELECT o_orderpriority, o_orderstatus, cents,
           CAST(cents * 1000000 // sum(cents) OVER (PARTITION BY o_orderpriority)
                AS BIGINT) AS share_in_priority_1e6,
           CAST(cents * 1000000 // sum(cents) OVER () AS BIGINT) AS share_of_grand_1e6,
           CAST(row_number() OVER (PARTITION BY o_orderpriority
                                   ORDER BY cents DESC, o_orderstatus) AS BIGINT) AS rnk
    FROM g
"""


@register("agg_share_of_total", oracle=_SHARE_ORACLE, tags=("analytics", "window"))
def agg_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each (priority, status) cell's revenue share
    within its priority group AND of the grand total, plus its in-group
    rank — the classic OLAP reporting primitive (RATIO_TO_REPORT /
    percent-of-parent in MDX terms).

    Plan: ONE collapsing aggregate over the fact table (the only
    full-data shuffle — map-side partial sums make the exchange carry
    ≤ groups × tasks rows), then windows over the aggregated relation,
    which is #groups-sized — at 100 TB the windows cost nothing because
    they run on 15 rows, not 15 billion; the grand-total window's single
    partition is bounded by the group count, never the data. Values are
    cent-quantized and shares integer-floored so no float crosses the
    hash."""
    o = load_table(spark, sf_dir, "orders")
    g = o.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    wp = Window.partitionBy("o_orderpriority")
    return g.select(
        "o_orderpriority",
        "o_orderstatus",
        "cents",
        F.floor(F.col("cents") * 1_000_000 / F.sum("cents").over(wp))
        .cast("bigint")
        .alias("share_in_priority_1e6"),
        F.floor(
            F.col("cents") * 1_000_000 / F.sum("cents").over(Window.partitionBy())
        )
        .cast("bigint")
        .alias("share_of_grand_1e6"),
        F.row_number()
        .over(wp.orderBy(F.col("cents").desc(), "o_orderstatus"))
        .cast("bigint")
        .alias("rnk"),
    )


_PERIOD_GROWTH_ORACLE = """
    WITH m AS (
      SELECT CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS TIMESTAMP)
               AS month_start,
             CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
               AS cents,
             CAST(count(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY 1
    )
    SELECT month_start, cents, n_orders,
           lag(cents) OVER w AS prev_cents,
           CAST(floor((cents - lag(cents) OVER w) * 1000000.0
                      / lag(cents) OVER w + 0.5) AS BIGINT) AS mom_growth_1e6,
           lag(cents, 12) OVER w AS yoy_cents,
           CAST(floor((cents - lag(cents, 12) OVER w) * 1000000.0
                      / lag(cents, 12) OVER w + 0.5) AS BIGINT) AS yoy_growth_1e6
    FROM m WINDOW w AS (ORDER BY month_start)
"""


@register("win_period_growth", oracle=_PERIOD_GROWTH_ORACLE, tags=("analytics", "window"))
def win_period_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period reporting: monthly revenue with month-over-month
    and year-over-year growth rates — the dashboard primitive behind
    every trend chart (lag-12 is the seasonality-free comparison).

    One collapsing aggregate to month grain (the only full-data
    shuffle), then lag windows over the #months-sized result — the
    single-partition ORDER BY window is bounded by the month count
    (≤ a few hundred rows for decades of data), never by the data, the
    same tiny-relation argument as `agg_share_of_total`. Growth is NULL
    for the first month / first year — emitted as NULL on both sides
    rather than a sentinel. Cents + integer-ppm quantization keep
    floats out of the hash."""
    o = load_table(spark, sf_dir, "orders")
    m = o.groupBy(
        F.date_trunc("month", F.col("o_orderdate").cast("date")).alias("month_start")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("cents"),
        F.count("*").alias("n_orders"),
    )
    w = Window.orderBy("month_start")
    prev = F.lag("cents").over(w)
    yoy = F.lag("cents", 12).over(w)
    return m.select(
        "month_start",
        "cents",
        "n_orders",
        prev.alias("prev_cents"),
        F.floor((F.col("cents") - prev) * 1_000_000.0 / prev + F.lit(0.5))
        .cast("bigint")
        .alias("mom_growth_1e6"),
        yoy.alias("yoy_cents"),
        F.floor((F.col("cents") - yoy) * 1_000_000.0 / yoy + F.lit(0.5))
        .cast("bigint")
        .alias("yoy_growth_1e6"),
    )


_LIFT_ORACLE = """
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
    n AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM events),
    tc AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_t FROM ut GROUP BY 1),
    tcf AS (SELECT tc.* FROM tc CROSS JOIN n WHERE n_t * 1000 >= n_users),
    utf AS (SELECT ut.* FROM ut JOIN tcf USING (event_type)),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(count(*) AS BIGINT) AS n_ab
      FROM utf a JOIN utf b ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT type_a, type_b, n_ab,
           CAST(floor(n_ab * 1000000.0 / n.n_users + 0.5) AS BIGINT) AS support_1e6,
           CAST(floor(n_ab * 1000000.0 / ta.n_t + 0.5) AS BIGINT) AS confidence_1e6,
           CAST(floor(n_ab * n.n_users * 1000000.0 / (ta.n_t * tb.n_t) + 0.5)
                AS BIGINT) AS lift_1e6
    FROM pairs
    JOIN tcf ta ON ta.event_type = pairs.type_a
    JOIN tcf tb ON tb.event_type = pairs.type_b
    CROSS JOIN n
"""


@register("analytics_association_lift", oracle=_LIFT_ORACLE, tags=("analytics",))
def analytics_association_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule mining over per-user behavior baskets: for every
    unordered event-type pair, co-occurrence support, confidence
    (P(b|a)), and LIFT (observed co-occurrence over the independence
    expectation) — lift > 1 is the 'users who do X also do Y' signal,
    the basket-analysis primitive behind recommendations and feature
    interactions.

    Pipeline: one distinct to (user, type) — the basket relation whose
    shuffle is the only full-data exchange; then the standard Apriori
    FREQUENT-ITEM PRUNING: types below 0.1% user support are dropped
    BEFORE the pair join via a broadcast semi-join of the
    vocabulary-sized frequency table (on this fixture every type is
    frequent, so the oracle — which applies the identical ``n_t * 1000
    >= n_users`` predicate — sees the same rows; at web scale with
    items for types this filter is what bounds the fan-out). The pair
    self-join is equi on user_id with per-user fan-out ≤ (#frequent
    types choose 2), NOT bounded by event volume; the type-frequency
    and user-count sides are vocabulary-sized broadcasts. Ratios are
    integer-quantized."""
    ev = load_table(spark, sf_dir, "events")
    # One-compute boundaries (r10, guide §2.4): the basket relation feeds
    # the frequency table, the user count, and both pair-join sides; tc is
    # consumed three times, all broadcast-fed (no AQE exchange reuse —
    # measured only 5 ReusedExchange across 14 parquet scans at sf1).
    # n_users now counts over the (already-distinct) basket relation
    # instead of rescanning the raw log — provably the same value.
    ut = one_compute_boundary(ev.select("user_id", "event_type").distinct())
    n = ut.agg(F.countDistinct("user_id").cast("bigint").alias("n_users"))
    tc = one_compute_boundary(
        ut.groupBy("event_type")
        .agg(F.count("*").cast("bigint").alias("n_t"))
        .crossJoin(F.broadcast(n))
        .filter(F.col("n_t") * 1000 >= F.col("n_users"))
        .select("event_type", "n_t")
    )
    ut = ut.join(F.broadcast(tc.select("event_type")), "event_type", "leftsemi")
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select("user_id", F.col("event_type").alias("type_b"))
    pairs = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").cast("bigint").alias("n_ab"))
    )
    ta = tc.select(F.col("event_type").alias("type_a"), F.col("n_t").alias("n_a"))
    tb = tc.select(F.col("event_type").alias("type_b"), F.col("n_t").alias("n_b"))
    return (
        pairs.join(F.broadcast(ta), "type_a")
        .join(F.broadcast(tb), "type_b")
        .crossJoin(F.broadcast(n))
        .select(
            "type_a",
            "type_b",
            "n_ab",
            F.floor(F.col("n_ab") * 1_000_000.0 / F.col("n_users") + F.lit(0.5))
            .cast("bigint")
            .alias("support_1e6"),
            F.floor(F.col("n_ab") * 1_000_000.0 / F.col("n_a") + F.lit(0.5))
            .cast("bigint")
            .alias("confidence_1e6"),
            F.floor(
                F.col("n_ab") * F.col("n_users") * 1_000_000.0
                / (F.col("n_a") * F.col("n_b"))
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("lift_1e6"),
        )
    )


_KS_ORACLE = """
    WITH x AS (SELECT CAST(round(value * 100, 0) AS BIGINT) AS v FROM events
               WHERE event_type = 'view'),
    y AS (SELECT CAST(round(value * 100, 0) AS BIGINT) AS v FROM events
          WHERE event_type = 'purchase'),
    n AS (SELECT (SELECT count(*) FROM x) AS nx, (SELECT count(*) FROM y) AS ny),
    pts AS (
      SELECT v, count(*) FILTER (WHERE side = 'x') AS cx_here,
             count(*) FILTER (WHERE side = 'y') AS cy_here
      FROM (SELECT v, 'x' AS side FROM x UNION ALL SELECT v, 'y' FROM y)
      GROUP BY v
    ),
    cum AS (
      SELECT v,
             sum(cx_here) OVER (ORDER BY v) AS cx,
             sum(cy_here) OVER (ORDER BY v) AS cy
      FROM pts
    ),
    diffs AS (
      SELECT v, abs(cx * n.ny - cy * n.nx) AS dnum FROM cum CROSS JOIN n
    ),
    mx AS (SELECT max(dnum) AS max_dnum FROM diffs)
    SELECT n.nx, n.ny,
           CAST(mx.max_dnum AS BIGINT) AS max_dnum,
           CAST(floor(mx.max_dnum * 1000000.0 / (n.nx * n.ny) + 0.5) AS BIGINT)
             AS ks_d_1e6,
           CAST((SELECT min(v) FROM diffs WHERE dnum = mx.max_dnum) AS BIGINT)
             AS at_cents
    FROM n CROSS JOIN mx
"""


@register("agg_ks_test", oracle=_KS_ORACLE, tags=("analytics", "stats"))
def agg_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic between the view and
    purchase value distributions: D = sup|F₁−F₂|, the standard
    distribution-drift test (train-vs-serve skew, A/B sanity,
    `analytics_ab_ttest`'s nonparametric sibling — KS sees shape
    changes a mean test misses).

    Exactness: D's numerator is computed as max |cx·n_y − cy·n_x| over
    the merged support — pure int64 on cent-quantized values; only the
    final normalized D divides. Plan: both samples collapse to
    per-distinct-value counts first (map-side combine; the support is
    bounded by the value DOMAIN, not the row count), then the
    cumulative counts come from the TWO-PHASE cumsum
    (functions/ranks.py): a keyed window inside cent-value buckets plus
    a broadcast join of per-bucket prefix totals — so no
    single-partition window ever sees the support relation, and a wide
    value domain at 100× costs one more bucket, not one task. The
    argmax value is reported with a deterministic min-tiebreak on both
    sides."""
    ev = load_table(spark, sf_dir, "events")
    c = F.round(F.col("value") * 100, 0).cast("bigint")
    sides = ev.filter(F.col("event_type").isin("view", "purchase")).select(
        c.alias("v"), (F.col("event_type") == "view").alias("is_x")
    )
    pts = sides.groupBy("v").agg(
        F.sum(F.when(F.col("is_x"), 1).otherwise(0)).alias("cx_here"),
        F.sum(F.when(~F.col("is_x"), 1).otherwise(0)).alias("cy_here"),
    )
    n = sides.agg(
        F.sum(F.when(F.col("is_x"), 1).otherwise(0)).cast("bigint").alias("nx"),
        F.sum(F.when(~F.col("is_x"), 1).otherwise(0)).cast("bigint").alias("ny"),
    )
    cum = attach_two_phase_cumsum(
        pts,
        [F.col("v")],
        F.floor(F.col("v") / 1000),  # per-$10 cent buckets, monotone in v
        {"cx_here": "cx", "cy_here": "cy"},
    ).select("v", "cx", "cy")
    # One-compute boundary (r10, guide §2.4): diffs feeds the max
    # aggregate, the argmax join, and the final projection — and mx/at
    # are BROADCAST-fed, so consumers re-ran the support pipeline (events
    # scan + two-phase cumsum); the executed sf1 plan showed only partial
    # reuse (5 ReusedExchange, 13 separate parquet scans). The support
    # relation is bounded by the value domain, the smallest relation
    # here. Measured: 0.98 -> 0.24 s at sf1.
    diffs = one_compute_boundary(
        cum.crossJoin(F.broadcast(n)).select(
            "v",
            "nx",
            "ny",
            F.abs(F.col("cx") * F.col("ny") - F.col("cy") * F.col("nx")).alias("dnum"),
        )
    )
    mx = diffs.agg(F.max("dnum").alias("max_dnum"))
    at = (
        diffs.join(F.broadcast(mx), diffs.dnum == mx.max_dnum)
        .agg(F.min("v").cast("bigint").alias("at_cents"))
    )
    return (
        n.crossJoin(F.broadcast(mx))
        .crossJoin(F.broadcast(at))
        .select(
            "nx",
            "ny",
            F.col("max_dnum").cast("bigint").alias("max_dnum"),
            F.floor(F.col("max_dnum") * 1_000_000.0 / (F.col("nx") * F.col("ny")) + F.lit(0.5))
            .cast("bigint")
            .alias("ks_d_1e6"),
            "at_cents",
        )
    )


_FUNNEL_GAP_US = 7 * 86_400_000_000  # each step must land within 7 days

_FUNNEL_WINDOW_ORACLE = f"""
    WITH ev AS (
      SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS t FROM events
    ),
    v AS (SELECT user_id, min(t) AS view_us FROM ev WHERE event_type = 'view' GROUP BY user_id),
    c AS (
      SELECT ev.user_id, min(t) AS click_us
      FROM ev JOIN v USING (user_id)
      WHERE event_type = 'click' AND t > v.view_us
        AND t <= v.view_us + {_FUNNEL_GAP_US}
      GROUP BY ev.user_id
    ),
    p AS (
      SELECT ev.user_id, min(t) AS purchase_us
      FROM ev JOIN c USING (user_id)
      WHERE event_type = 'purchase' AND t > c.click_us
        AND t <= c.click_us + {_FUNNEL_GAP_US}
      GROUP BY ev.user_id
    )
    SELECT u.user_id, v.view_us, c.click_us, p.purchase_us,
           CAST(CASE WHEN p.purchase_us IS NOT NULL THEN 3
                     WHEN c.click_us IS NOT NULL THEN 2
                     WHEN v.view_us IS NOT NULL THEN 1
                     ELSE 0 END AS INT) AS funnel_stage
    FROM (SELECT DISTINCT user_id FROM ev) u
    LEFT JOIN v USING (user_id)
    LEFT JOIN c USING (user_id)
    LEFT JOIN p USING (user_id)
"""


@register("funnel_time_window", oracle=_FUNNEL_WINDOW_ORACLE, tags=("analytics",))
def funnel_time_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion funnel with a max-gap constraint: view → click →
    purchase where each step must follow the previous match within 7
    days — the attribution-window variant of `funnel_steps` (an
    unconstrained funnel credits conversions months later; real funnel
    reporting always bounds the gap).

    Same cascade-of-aggregates shape as `funnel_steps` — k
    co-partitioned min-aggregates on ``user_id`` over an ever-shrinking
    survivor set, never a per-user sort or self-join — with the gap
    bound as one extra band predicate per step (greedy-earliest
    matching: the FIRST qualifying view anchors the click window; a
    user whose first view goes stale is not re-anchored, matching the
    strict attribution-window reading both engines replay identically).
    At 100 TB the bound also prunes: each step's join probe filters to
    a 7-day band instead of all later history."""
    return _funnel_detail(spark, sf_dir, _FUNNEL_GAP_US)


_COHORT_LTV_ORACLE = """
    WITH ev AS (
      SELECT user_id, date_trunc('week', CAST(ts AS TIMESTAMP)) AS wk,
             CAST(round(value * 100, 0) AS BIGINT) AS rev
      FROM events
    ),
    cohort AS (SELECT user_id, min(wk) AS cohort_week FROM ev GROUP BY user_id),
    sizes AS (SELECT cohort_week, count(*) AS n_users FROM cohort GROUP BY 1),
    facts AS (
      SELECT c.cohort_week,
             CAST(date_diff('day', c.cohort_week, ev.wk) // 7 AS BIGINT)
               AS age_weeks,
             CAST(sum(ev.rev) AS BIGINT) AS revenue_cents
      FROM ev JOIN cohort c USING (user_id)
      GROUP BY 1, 2
    ),
    cum AS (
      SELECT cohort_week, age_weeks, revenue_cents,
             sum(revenue_cents) OVER (
               PARTITION BY cohort_week ORDER BY age_weeks
             ) AS cum_revenue_cents
      FROM facts
    )
    SELECT cum.cohort_week, cum.age_weeks,
           CAST(s.n_users AS BIGINT) AS n_users,
           cum.revenue_cents,
           CAST(cum.cum_revenue_cents AS BIGINT) AS cum_revenue_cents,
           CAST(floor(CAST(cum.cum_revenue_cents AS DOUBLE) * 100 / s.n_users
                      + 0.5) AS BIGINT) AS ltv_per_user_1e2
    FROM cum JOIN sizes s USING (cohort_week)
"""


@register("analytics_cohort_ltv", oracle=_COHORT_LTV_ORACLE, tags=("analytics", "window"))
def analytics_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve: users cohorted by first-event week,
    revenue summed per (cohort, week-age) and accumulated along age, and
    reported per capita — the LTV triangle `agg_retention_cohort` is the
    head-count half of.

    Same two co-partitioned ``user_id`` shuffles as the retention op
    (cohort min, fact⋈cohort), one more on the (cohort, age) pair — all
    revenue partials exact int64 cents with map-side combine. The
    cumulative sum runs per cohort (a properly partitioned window, one
    row per observed week-age), and per-capita LTV divides two exact
    integers per row. Cohort week stays a midnight TIMESTAMP for the
    same dtype-roundtrip reason as the retention op."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.date_trunc("week", F.col("ts_us")).alias("wk"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("rev"),
    )
    cohort = ev.groupBy("user_id").agg(F.min("wk").alias("cohort_week"))
    sizes = cohort.groupBy("cohort_week").agg(F.count("*").alias("n_users"))
    facts = (
        ev.join(cohort, "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff(F.col("wk"), F.col("cohort_week")) / 7)
            .cast("bigint")
            .alias("age_weeks"),
        )
        .agg(F.sum("rev").cast("bigint").alias("revenue_cents"))
    )
    w = (
        Window.partitionBy("cohort_week")
        .orderBy("age_weeks")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = facts.select(
        "cohort_week",
        "age_weeks",
        "revenue_cents",
        F.sum("revenue_cents").over(w).alias("cum_revenue_cents"),
    )
    return cum.join(sizes, "cohort_week").select(
        "cohort_week",
        "age_weeks",
        F.col("n_users").cast("bigint").alias("n_users"),
        "revenue_cents",
        F.col("cum_revenue_cents").cast("bigint").alias("cum_revenue_cents"),
        F.floor(
            F.col("cum_revenue_cents").cast("double") * 100 / F.col("n_users")
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("ltv_per_user_1e2"),
    )


_RFM_ORACLE = """
    WITH u AS (
      SELECT user_id,
             max(epoch_us(CAST(ts AS TIMESTAMP))) AS last_t,
             CAST(count(*) AS BIGINT) AS frequency,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS monetary_cents
      FROM events GROUP BY user_id
    ),
    anchor AS (SELECT max(last_t) AS t_max FROM u),
    base AS (
      SELECT user_id,
             CAST((t_max - last_t) // 86400000000 AS BIGINT) AS recency_days,
             frequency, monetary_cents
      FROM u CROSS JOIN anchor
    ),
    scored AS (
      SELECT *,
             CAST(ntile(5) OVER (ORDER BY recency_days DESC, user_id) AS BIGINT)
               AS r_score,
             CAST(ntile(5) OVER (ORDER BY frequency ASC, user_id) AS BIGINT)
               AS f_score,
             CAST(ntile(5) OVER (ORDER BY monetary_cents ASC, user_id) AS BIGINT)
               AS m_score
      FROM base
    )
    SELECT user_id, recency_days, frequency, monetary_cents,
           r_score, f_score, m_score,
           CAST(r_score * 100 + f_score * 10 + m_score AS BIGINT) AS rfm_segment
    FROM scored
"""


@register("analytics_rfm_segment", oracle=_RFM_ORACLE, tags=("analytics", "window"))
def analytics_rfm_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: recency (days since last event,
    anchored at the corpus max so the query is reproducible), frequency
    (event count) and monetary (cent-exact value sum) per user, each
    dealt into quintiles, concatenated into the classic 111–555 segment
    code — the marketing-analytics staple next to `analytics_pareto_share`
    and `agg_retention_cohort`.

    The raw log collapses in ONE per-user hash aggregate (map-side
    combine, all-int partials); the anchor enters as a one-row broadcast.
    Quintile assignment is three TWO-PHASE distributed ntiles
    (`functions.ranks`), never a single-partition window over the
    per-user relation: recency buckets by ``-recency_days`` (one bucket
    per distinct day — bounded), frequency by its own value, monetary by
    ``cents div 2^20``; each gets a bucket-local rank plus broadcast
    per-bucket offsets, and the quintile is rank arithmetic. Pinned
    (metric, user_id) tiebreaks keep both engines identical; everything
    upstream keys on user_id and scales flat."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.col("ts_us_long").alias("t"), "value"
    )
    # One-compute boundary (r10, guide §2.4): u feeds the anchor aggregate,
    # the base projection, and — through base — the three ntile branches'
    # internal count/rank/offset sub-branches (~8 plan consumers). The r09
    # audit assumed AQE ReuseExchange would dedupe them all at runtime;
    # the executed sf1 plan shows reuse is PARTIAL (12 ReusedExchange but
    # still 25 separate parquet scans and 43 distinct query stages — the
    # branches' differing projections/filters don't canonicalize equal),
    # so the per-user aggregate — the smallest relation in the query —
    # materializes once instead. Measured: 1.91 -> 0.97 s at sf1.
    u = one_compute_boundary(
        ev.groupBy("user_id").agg(
            F.max("t").alias("last_t"),
            F.count("*").alias("frequency"),
            F.sum(F.round(F.col("value") * 100, 0).cast("bigint"))
            .cast("bigint")
            .alias("monetary_cents"),
        )
    )
    anchor = u.agg(F.max("last_t").alias("t_max"))
    base = u.crossJoin(F.broadcast(anchor)).select(
        "user_id",
        ((F.col("t_max") - F.col("last_t")) / 86_400_000_000)
        .cast("bigint")
        .alias("recency_days"),
        "frequency",
        "monetary_cents",
    )
    # Three INDEPENDENT score branches off base, joined back on user_id —
    # chaining the ntiles instead would re-nest each stage's count/offset
    # branches and blow the plan up combinatorially. (r10: the r09 belief
    # that ReuseExchange would materialize the shared subtree once was
    # measured FALSE — hence the u boundary above.)
    scored = base
    for out, metric, order, bucket in (
        (
            "r_score",
            "recency_days",
            [F.col("recency_days").desc(), F.col("user_id")],
            -F.col("recency_days"),
        ),
        ("f_score", "frequency", [F.col("frequency").asc(), F.col("user_id")], F.col("frequency")),
        (
            "m_score",
            "monetary_cents",
            [F.col("monetary_cents").asc(), F.col("user_id")],
            F.floor(F.col("monetary_cents") / F.lit(1 << 20)),
        ),
    ):
        branch = attach_two_phase_ntile(
            base.select("user_id", metric), order=order, bucket=bucket, tiles=5, out=out
        ).select("user_id", out)
        scored = scored.join(branch, "user_id")
    scored = scored.select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary_cents",
        F.col("r_score").cast("bigint").alias("r_score"),
        F.col("f_score").cast("bigint").alias("f_score"),
        F.col("m_score").cast("bigint").alias("m_score"),
    )
    return scored.select(
        "*",
        (F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score"))
        .cast("bigint")
        .alias("rfm_segment"),
    )


_OLS_MULTI_ORACLE = """
    WITH t AS (
      SELECT CAST(round(l_quantity, 0) AS BIGINT) AS x1,
             CAST(round(l_discount * 100, 0) AS BIGINT) AS x2,
             CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS y
      FROM lineitem
    ),
    s AS (
      -- HUGEINT (int128) sums: Σy² alone is ~6e19 at sf0.1, past int64;
      -- the Spark side uses decimal(38,0) for the same exactness
      SELECT CAST(count(*) AS BIGINT) AS n,
             sum(CAST(x1 AS HUGEINT)) AS sx1, sum(CAST(x2 AS HUGEINT)) AS sx2,
             sum(CAST(y AS HUGEINT)) AS sy,
             sum(CAST(x1 AS HUGEINT) * x1) AS sx1x1,
             sum(CAST(x2 AS HUGEINT) * x2) AS sx2x2,
             sum(CAST(x1 AS HUGEINT) * x2) AS sx1x2,
             sum(CAST(x1 AS HUGEINT) * y) AS sx1y,
             sum(CAST(x2 AS HUGEINT) * y) AS sx2y,
             sum(CAST(y AS HUGEINT) * y) AS syy
      FROM t
    ),
    m AS (
      SELECT n, sx1, sx2, sy, sx1y, sx2y, syy,
             n * sx1x1 - sx1 * sx1 AS a11,
             n * sx1x2 - sx1 * sx2 AS a12,
             n * sx2x2 - sx2 * sx2 AS a22,
             n * sx1y - sx1 * sy AS c1,
             n * sx2y - sx2 * sy AS c2
      FROM s
    ),
    b AS (
      SELECT n, sx1, sx2, sy, syy, sx1y, sx2y,
             (CAST(c1 AS DOUBLE) * a22 - CAST(c2 AS DOUBLE) * a12)
               / (CAST(a11 AS DOUBLE) * a22 - CAST(a12 AS DOUBLE) * a12) AS b1,
             (CAST(c2 AS DOUBLE) * a11 - CAST(c1 AS DOUBLE) * a12)
               / (CAST(a11 AS DOUBLE) * a22 - CAST(a12 AS DOUBLE) * a12) AS b2
      FROM m
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST(floor(b1 * 1e6 + 0.5) AS BIGINT) AS b1_1e6,
           CAST(floor(b2 * 1e6 + 0.5) AS BIGINT) AS b2_1e6,
           CAST(floor((CAST(sy AS DOUBLE) - b1 * sx1 - b2 * sx2) / n * 1e4 + 0.5)
                AS BIGINT) AS b0_1e4,
           CAST(floor(
             (1 - (CAST(syy AS DOUBLE) - (CAST(sy AS DOUBLE) * sy) / n
                   - b1 * (CAST(sx1y AS DOUBLE) - (CAST(sx1 AS DOUBLE) * sy) / n)
                   - b2 * (CAST(sx2y AS DOUBLE) - (CAST(sx2 AS DOUBLE) * sy) / n))
                / (CAST(syy AS DOUBLE) - (CAST(sy AS DOUBLE) * sy) / n))
             * 1e6 + 0.5) AS BIGINT) AS r2_1e6
    FROM b
"""


@register("analytics_ols_multi", oracle=_OLS_MULTI_ORACLE, tags=("analytics", "stats"))
def analytics_ols_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-feature linear regression by normal equations — price ~
    quantity + discount over the full lineitem fact — solved in closed
    form from ONE pass of sufficient statistics: (n, Σx, Σxx, Σxy, Σyy)
    partials, then Cramer's rule on the 2×2 centred system, plus R².
    The multi-feature big sibling of `win_moving_slope`'s rolling simple
    OLS — the distributed-regression shape (sufficient statistics
    shuffle, never rows) every in-warehouse ML fit uses.

    ALL nine sufficient statistics are exact int64 (integer features,
    cent-quantized target: bounded products, map-side combine — the
    whole fact table collapses to ONE row in a single aggregate). The
    solve is driver-free single-row float math written token-identically
    in the oracle; centring happens symbolically (n·Σxy − Σx·Σy), never
    by subtracting float means across rows. At 100 TB the plan is scan →
    partial agg → 1-row final agg: no shuffle wider than the partial
    rows, nothing keyed, nothing skewed. Adding features grows the
    statistic vector (p² terms), not the pass count; past ~30 features
    the closed-form hand-off moves to a driver-side solve of the same
    collected Gram matrix."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.round("l_quantity", 0).cast("bigint").alias("x1"),
        F.round(F.col("l_discount") * 100, 0).cast("bigint").alias("x2"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("bigint").alias("y"),
    )
    # decimal(19,0) OPERANDS whose products/sums widen to decimal(38,0)
    # under Spark's decimal arithmetic: Σy² is ~6e19 at sf0.1 — past int64,
    # found by the 10x-gate mirror. The 38-digit headroom is what keeps
    # every statistic EXACT (the oracle mirrors with HUGEINT); do NOT
    # tighten the operand cast — exactness lives in the widened results,
    # not the operands. Doubles enter only at the closed-form solve.
    d = lambda c: F.col(c).cast("decimal(19,0)")
    s = li.agg(
        F.count("*").alias("n"),
        F.sum(d("x1")).alias("sx1"),
        F.sum(d("x2")).alias("sx2"),
        F.sum(d("y")).alias("sy"),
        F.sum(d("x1") * d("x1")).alias("sx1x1"),
        F.sum(d("x2") * d("x2")).alias("sx2x2"),
        F.sum(d("x1") * d("x2")).alias("sx1x2"),
        F.sum(d("x1") * d("y")).alias("sx1y"),
        F.sum(d("x2") * d("y")).alias("sx2y"),
        F.sum(d("y") * d("y")).alias("syy"),
    )
    n = F.col("n")
    a11 = n * F.col("sx1x1") - F.col("sx1") * F.col("sx1")
    a12 = n * F.col("sx1x2") - F.col("sx1") * F.col("sx2")
    a22 = n * F.col("sx2x2") - F.col("sx2") * F.col("sx2")
    c1 = n * F.col("sx1y") - F.col("sx1") * F.col("sy")
    c2 = n * F.col("sx2y") - F.col("sx2") * F.col("sy")
    m = s.select(
        "n", "sx1", "sx2", "sy", "sx1y", "sx2y", "syy",
        a11.alias("a11"), a12.alias("a12"), a22.alias("a22"),
        c1.alias("c1"), c2.alias("c2"),
    )
    det = m["a11"].cast("double") * m["a22"] - m["a12"].cast("double") * m["a12"]
    b1 = (m["c1"].cast("double") * m["a22"] - m["c2"].cast("double") * m["a12"]) / det
    b2 = (m["c2"].cast("double") * m["a11"] - m["c1"].cast("double") * m["a12"]) / det
    b = m.select("n", "sx1", "sx2", "sy", "syy", "sx1y", "sx2y", b1.alias("b1"), b2.alias("b2"))
    sst = F.col("syy").cast("double") - (F.col("sy").cast("double") * F.col("sy")) / F.col("n")
    sxy1c = F.col("sx1y").cast("double") - (F.col("sx1").cast("double") * F.col("sy")) / F.col("n")
    sxy2c = F.col("sx2y").cast("double") - (F.col("sx2").cast("double") * F.col("sy")) / F.col("n")
    return b.select(
        F.col("n").cast("bigint").alias("n"),
        F.floor(F.col("b1") * 1e6 + F.lit(0.5)).cast("bigint").alias("b1_1e6"),
        F.floor(F.col("b2") * 1e6 + F.lit(0.5)).cast("bigint").alias("b2_1e6"),
        F.floor(
            (F.col("sy").cast("double") - F.col("b1") * F.col("sx1") - F.col("b2") * F.col("sx2"))
            / F.col("n") * 1e4 + F.lit(0.5)
        ).cast("bigint").alias("b0_1e4"),
        F.floor(
            (1 - (sst - F.col("b1") * sxy1c - F.col("b2") * sxy2c) / sst) * 1e6
            + F.lit(0.5)
        ).cast("bigint").alias("r2_1e6"),
    )


_CUPED_ORACLE = """
    WITH t AS (
      SELECT user_id,
             TRY_CAST(regexp_extract(props, '(\\d+)', 1) AS BIGINT) % 2 AS cohort,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us,
             CAST(round(value * 100, 0) AS BIGINT) AS cents
      FROM events
      WHERE TRY_CAST(regexp_extract(props, '(\\d+)', 1) AS BIGINT) IS NOT NULL
    ),
    split AS (SELECT (min(us) + (max(us) - min(us)) // 2) AS mid FROM t),
    u AS (
      SELECT user_id, cohort,
             CAST(sum(CASE WHEN us < mid THEN cents ELSE 0 END) AS BIGINT) AS pre,
             CAST(sum(CASE WHEN us >= mid THEN cents ELSE 0 END) AS BIGINT) AS post
      FROM t CROSS JOIN split GROUP BY user_id, cohort
    ),
    g AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(pre) AS BIGINT) AS sp, CAST(sum(post) AS BIGINT) AS so,
             CAST(sum(pre * pre) AS BIGINT) AS spp,
             CAST(sum(pre * post) AS BIGINT) AS spo,
             CAST(sum(post * post) AS BIGINT) AS soo
      FROM u
    ),
    th AS (
      SELECT n, sp, so,
             CAST(n * spo - sp * so AS DOUBLE) / (n * spp - sp * sp) AS theta,
             (CAST(n * spo - sp * so AS DOUBLE) * (n * spo - sp * so))
               / (CAST(n * spp - sp * sp AS DOUBLE) * (n * soo - so * so))
               AS rho2
      FROM g
    ),
    c AS (
      SELECT cohort, CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(pre) AS BIGINT) AS cp, CAST(sum(post) AS BIGINT) AS co
      FROM u GROUP BY cohort
    )
    SELECT c.cohort, c.n_users,
           CAST(floor(CAST(c.co AS DOUBLE) / c.n_users * 100 + 0.5) AS BIGINT)
             AS mean_post_1e4,
           CAST(floor(
             (CAST(c.co AS DOUBLE)
              - th.theta * (c.cp - CAST(c.n_users AS DOUBLE) * th.sp / th.n))
             / c.n_users * 100 + 0.5) AS BIGINT) AS mean_adj_1e4,
           CAST(floor(th.rho2 * 1e6 + 0.5) AS BIGINT) AS rho2_1e6
    FROM c CROSS JOIN th
"""


@register("analytics_cuped", oracle=_CUPED_ORACLE, tags=("analytics", "stats"))
def analytics_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction for the A/B readout (Deng et al., WSDM
    2013): each user's post-period spend is adjusted by their PRE-period
    spend — adjusted = post − θ·(pre − μ_pre) with θ = cov(pre,post)/
    var(pre) pooled across cohorts — shrinking metric variance by ρ²
    (reported) so the same experiment detects smaller lifts. The
    pre/post split is the corpus time midpoint; cohorts follow
    `analytics_ab_ttest`'s deterministic props-digit assignment.

    The log collapses in ONE per-user aggregate (conditional int-cent
    partials; the midpoint enters as a 1-row broadcast). θ, ρ² and every
    reported mean derive from EXACT int64 sufficient statistics with
    symbolic centring (n·Σxy − ΣxΣy — the `analytics_ols_multi`
    discipline); the per-cohort adjusted mean is computed FROM THE SUMS
    (Σadj = Σpost − θ·(Σpre − n·μ_pre)), so no float is ever summed
    across rows on either engine. Scale: two user-keyed shuffles + two
    1-row broadcasts, nothing else."""
    ev = load_table(spark, sf_dir, "events")
    cohort = (
        F.regexp_extract("props", r"(\d+)", 1).try_cast("bigint") % 2
    ).alias("cohort")
    t = ev.select(
        "user_id",
        cohort,
        F.col("ts_us_long").alias("us"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
    ).filter(F.col("cohort").isNotNull())
    split = t.agg(
        (F.min("us") + ((F.max("us") - F.min("us")) / 2).cast("bigint")).alias("mid")
    )
    u = (
        t.crossJoin(F.broadcast(split))
        .groupBy("user_id", "cohort")
        .agg(
            F.sum(F.when(F.col("us") < F.col("mid"), F.col("cents")).otherwise(0))
            .cast("bigint")
            .alias("pre"),
            F.sum(F.when(F.col("us") >= F.col("mid"), F.col("cents")).otherwise(0))
            .cast("bigint")
            .alias("post"),
        )
    )
    g = u.agg(
        F.count("*").alias("n"),
        F.sum("pre").alias("sp"),
        F.sum("post").alias("so"),
        F.sum(F.col("pre") * F.col("pre")).alias("spp"),
        F.sum(F.col("pre") * F.col("post")).alias("spo"),
        F.sum(F.col("post") * F.col("post")).alias("soo"),
    )
    n = F.col("n")
    covn = n * F.col("spo") - F.col("sp") * F.col("so")
    varpn = n * F.col("spp") - F.col("sp") * F.col("sp")
    varon = n * F.col("soo") - F.col("so") * F.col("so")
    th = g.select(
        "n",
        "sp",
        "so",
        (covn.cast("double") / varpn).alias("theta"),
        ((covn.cast("double") * covn) / (varpn.cast("double") * varon)).alias("rho2"),
    )
    c = u.groupBy("cohort").agg(
        F.count("*").alias("n_users"),
        F.sum("pre").alias("cp"),
        F.sum("post").alias("co"),
    )
    return c.crossJoin(F.broadcast(th)).select(
        "cohort",
        F.col("n_users").cast("bigint").alias("n_users"),
        F.floor(F.col("co").cast("double") / F.col("n_users") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("mean_post_1e4"),
        F.floor(
            (
                F.col("co").cast("double")
                - F.col("theta")
                * (F.col("cp") - F.col("n_users").cast("double") * F.col("sp") / F.col("n"))
            )
            / F.col("n_users")
            * 100
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("mean_adj_1e4"),
        F.floor(F.col("rho2") * 1e6 + F.lit(0.5)).cast("bigint").alias("rho2_1e6"),
    )


_PATH_TOPK_ORACLE = """
    WITH t AS (
      SELECT user_id, event_id, event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us
      FROM events
    ),
    marked AS (
      SELECT *,
             CASE WHEN us - lag(us) OVER w > 1800000000 OR
                       lag(us) OVER w IS NULL THEN 1 ELSE 0 END AS brk
      FROM t WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ),
    sess AS (
      SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    ),
    paths AS (
      SELECT user_id, sid,
             string_agg(event_type, '>' ORDER BY us, event_id) AS path
      FROM sess GROUP BY user_id, sid
    )
    SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
    FROM paths GROUP BY path
    ORDER BY n_sessions DESC, path LIMIT 20
"""


@register("analytics_path_topk", oracle=_PATH_TOPK_ORACLE, tags=("analytics", "window"))
def analytics_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 session paths: events sessionize with the standard 30-min
    inactivity gap (the `win_gaps_islands` construction), each session
    flattens to its ordered event-type string, and the report counts the
    most common paths — the "how do users actually move through the
    product" readout behind every flow diagram / Sankey.

    One (user_id) exchange carries the lag-mark AND the running
    session-id sum (same partition key); the path build is a per-session
    collect_list sorted IN-ROW by (time, event_id) struct order — a
    deterministic array_sort, never relying on collect order — and the
    top-k is TakeOrdered on the aggregated path counts (count desc, path
    asc tiebreak pins the cut). Path strings are Zipf-concentrated, so
    the count shuffle is small; a per-session length cap is the
    documented guard against adversarially long sessions at 100 TB."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.col("ts_us_long").alias("us")
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    brk = F.when(
        (F.col("us") - F.lag("us").over(w) > 1_800_000_000)
        | F.lag("us").over(w).isNull(),
        1,
    ).otherwise(0)
    sess = ev.select("*", brk.alias("brk")).select(
        "*",
        F.sum("brk")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("sid"),
    )
    paths = sess.groupBy("user_id", "sid").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("us", "event_id", "event_type"))),
                lambda x: x.getField("event_type"),
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(20)
    )


_FUNNEL_SUMMARY_ORACLE = f"""
    WITH ev AS (
      SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS t FROM events
    ),
    v AS (SELECT user_id, min(t) AS view_us FROM ev WHERE event_type = 'view' GROUP BY user_id),
    c AS (
      SELECT ev.user_id, min(t) AS click_us
      FROM ev JOIN v USING (user_id)
      WHERE event_type = 'click' AND t > v.view_us
        AND t <= v.view_us + {_FUNNEL_GAP_US}
      GROUP BY ev.user_id
    ),
    p AS (
      SELECT ev.user_id, min(t) AS purchase_us
      FROM ev JOIN c USING (user_id)
      WHERE event_type = 'purchase' AND t > c.click_us
        AND t <= c.click_us + {_FUNNEL_GAP_US}
      GROUP BY ev.user_id
    ),
    counts AS (
      SELECT (SELECT count(*) FROM (SELECT DISTINCT user_id FROM ev)) AS n_total,
             (SELECT count(*) FROM v) AS n_view,
             (SELECT count(*) FROM c) AS n_click,
             (SELECT count(*) FROM p) AS n_purchase
    ),
    stages AS (
      SELECT * FROM (VALUES
        (0, 'all'), (1, 'view'), (2, 'click'), (3, 'purchase')
      ) AS t(stage, stage_name)
    )
    SELECT s.stage, s.stage_name,
           CAST(CASE s.stage WHEN 0 THEN n_total WHEN 1 THEN n_view
                             WHEN 2 THEN n_click ELSE n_purchase END AS BIGINT)
             AS n_users,
           CAST(floor(CASE s.stage WHEN 0 THEN n_total WHEN 1 THEN n_view
                                   WHEN 2 THEN n_click ELSE n_purchase END
                      * 1000000.0 / n_total + 0.5) AS BIGINT) AS pct_of_all_1e6,
           CAST(floor(CASE s.stage
                        WHEN 0 THEN n_total * 1000000.0 / n_total
                        WHEN 1 THEN n_view * 1000000.0 / n_total
                        WHEN 2 THEN n_click * 1000000.0 / NULLIF(n_view, 0)
                        ELSE n_purchase * 1000000.0 / NULLIF(n_click, 0)
                      END + 0.5) AS BIGINT) AS step_conversion_1e6
    FROM stages s CROSS JOIN counts
"""


@register("analytics_funnel_summary", oracle=_FUNNEL_SUMMARY_ORACLE, tags=("analytics",))
def analytics_funnel_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The funnel REPORT: per-stage user counts, share of the full
    population, and step-over-step conversion for the 7-day-window
    view→click→purchase funnel — the four-row table the dashboard
    actually renders (`funnel_time_window` emits the per-user detail
    this aggregates).

    Same cascade as the detail op; each stage then collapses to a 1-row
    count and the four counts assemble against a literal stage dim —
    1-row broadcasts, zero wide shuffles beyond the cascade itself.
    Ratios are single float expressions over exact int counts with the
    zero-denominator guard identical on both sides."""
    ev = _funnel_events(spark, sf_dir)
    v, c, p = _funnel_stages(ev, _FUNNEL_GAP_US)
    counts = (
        ev.select("user_id").distinct().agg(F.count("*").alias("n_total"))
        .crossJoin(F.broadcast(v.agg(F.count("*").alias("n_view"))))
        .crossJoin(F.broadcast(c.agg(F.count("*").alias("n_click"))))
        .crossJoin(F.broadcast(p.agg(F.count("*").alias("n_purchase"))))
    )
    stages = spark.createDataFrame(
        [(0, "all"), (1, "view"), (2, "click"), (3, "purchase")],
        "stage int, stage_name string",
    )
    j = stages.crossJoin(F.broadcast(counts))
    n_users = (
        F.when(F.col("stage") == 0, F.col("n_total"))
        .when(F.col("stage") == 1, F.col("n_view"))
        .when(F.col("stage") == 2, F.col("n_click"))
        .otherwise(F.col("n_purchase"))
    )
    step_den = (
        F.when(F.col("stage") == 0, F.col("n_total"))
        .when(F.col("stage") == 1, F.col("n_total"))
        .when(F.col("stage") == 2, F.nullif(F.col("n_view"), F.lit(0)))
        .otherwise(F.nullif(F.col("n_click"), F.lit(0)))
    )
    return j.select(
        "stage",
        "stage_name",
        n_users.cast("bigint").alias("n_users"),
        F.floor(n_users * 1_000_000.0 / F.col("n_total") + F.lit(0.5))
        .cast("bigint")
        .alias("pct_of_all_1e6"),
        F.floor(n_users * 1_000_000.0 / step_den + F.lit(0.5))
        .cast("bigint")
        .alias("step_conversion_1e6"),
    )


# ---------------------------------------------------------------------------
# Shapley-value marketing attribution, recency-decayed scoring, and DAU/WAU
# stickiness — the product-analytics readouts that sit downstream of the
# funnel/attribution/retention family above.
# ---------------------------------------------------------------------------

# Channel bits for the touch mask (marketing touches preceding the first
# purchase): view=1, click=2, signup=4.
_SHAPLEY_CHANNELS = (("view", 1), ("click", 2), ("signup", 4))
# Shapley marginal weights × 3! for n=3 players, by |S| of the coalition
# being joined: |S|!(n-|S|-1)! = 2, 1, 2.
_SHAPLEY_W6 = {0: 2, 1: 1, 2: 2}

_SHAPLEY_ORACLE = """
    WITH ev AS (
      SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS t
      FROM events
    ),
    conv AS (
      SELECT user_id, min(t) AS cutoff FROM ev
      WHERE event_type = 'purchase' GROUP BY user_id
    ),
    touched AS (
      SELECT ev.user_id,
             max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
             + 2 * max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
             + 4 * max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
               AS mask
      FROM ev JOIN conv USING (user_id)
      WHERE ev.t < conv.cutoff
        AND event_type IN ('view', 'click', 'signup')
      GROUP BY ev.user_id
    ),
    masks AS (
      SELECT conv.user_id, COALESCE(touched.mask, 0) AS mask
      FROM conv LEFT JOIN touched USING (user_id)
    ),
    cnts AS (SELECT mask, count(*) AS cnt FROM masks GROUP BY mask),
    v AS (
      SELECT s.smask, CAST(COALESCE(sum(cnts.cnt), 0) AS BIGINT) AS v
      FROM (SELECT unnest(range(8)) AS smask) s
      LEFT JOIN cnts ON (cnts.mask & s.smask) = cnts.mask
      GROUP BY s.smask
    ),
    pairs AS (
      SELECT * FROM (VALUES
        {pairs}
      ) AS t(channel, bit, s, s_i, w6)
    )
    SELECT p.channel,
           CAST(sum(p.w6 * (vi.v - vs.v)) AS BIGINT) AS phi_x6,
           CAST(floor(CAST(sum(p.w6 * (vi.v - vs.v)) AS DOUBLE) * 1000000
                / (sum(sum(p.w6 * (vi.v - vs.v))) OVER ()) + 0.5) AS BIGINT)
             AS share_1e6
    FROM pairs p
    JOIN v vs ON vs.smask = p.s
    JOIN v vi ON vi.smask = p.s_i
    GROUP BY p.channel
""".format(
    pairs=",\n        ".join(
        f"('{name}', {bit}, {s}, {s | bit}, {_SHAPLEY_W6[bin(s).count('1')]})"
        for name, bit in _SHAPLEY_CHANNELS
        for s in range(8)
        if not s & bit
    )
)


@register("analytics_shapley_attribution", oracle=_SHAPLEY_ORACLE, tags=("analytics",))
def analytics_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shapley-value channel attribution: credit for conversions splits
    across marketing channels by the exact Shapley formula over the
    coalition value v(S) = conversions reachable with channel set S
    (users whose pre-purchase touch set ⊆ S). With n=3 channels the
    marginal weights ×3! are the integers {2,1,2}, so φ·6 is EXACT
    integer arithmetic end to end; only the final share is scaled.

    Scale shape: the log collapses twice on the SAME user_id key (first
    purchase cutoff, then the touch bitmask — the join reuses the
    exchange), masks collapse to ≤8 rows, and ALL Shapley algebra (the
    subset-closure v(S) via an in-row literal-array filter — no theta
    join — and the 12-row literal coalition dim joined twice by equi
    key) runs on broadcast-sized relations. At 100 TB exactly two fact
    exchanges, both on user_id."""
    ev = load_table(spark, sf_dir, "events")
    # One-compute boundaries (r10, guide §2.4): conv feeds the touch join
    # AND the mask spine; v feeds BOTH broadcast sides of the coalition
    # join — the executed sf1 plan showed just 1 ReusedExchange across 9
    # parquet scans, i.e. the log pipeline effectively ran twice.
    # Measured: 1.63 -> 0.45 s at sf1.
    conv = one_compute_boundary(
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
        .groupBy("user_id")
        .agg(
            (
                F.max(F.when(F.col("event_type") == "view", 1).otherwise(0))
                + 2 * F.max(F.when(F.col("event_type") == "click", 1).otherwise(0))
                + 4 * F.max(F.when(F.col("event_type") == "signup", 1).otherwise(0))
            ).alias("mask")
        )
    )
    masks = conv.join(touched, "user_id", "left").select(
        F.coalesce(F.col("mask"), F.lit(0)).alias("mask")
    )
    cnts = masks.groupBy("mask").agg(F.count("*").alias("cnt"))
    # v(S) = Σ_{T⊆S} cnt(T): explode each exact mask T to its supersets
    # via an in-row filter over the literal 0..7 array (8 rows max in,
    # ≤64 rows out — no join, no BNLJ).
    all_masks = F.array(*[F.lit(s) for s in range(8)])
    sup = (
        cnts.select(
            F.explode(
                F.filter(all_masks, lambda s: s.bitwiseAND(F.col("mask")) == F.col("mask"))
            ).alias("smask"),
            "cnt",
        )
        .groupBy("smask")
        .agg(F.sum("cnt").alias("v"))
    )
    dim = spark.createDataFrame([(s,) for s in range(8)], "smask int")
    v = one_compute_boundary(
        dim.join(sup, "smask", "left").select(
            "smask", F.coalesce(F.col("v"), F.lit(0)).cast("long").alias("v")
        )
    )
    pairs = spark.createDataFrame(
        [
            (name, bit, s, s | bit, _SHAPLEY_W6[bin(s).count("1")])
            for name, bit in _SHAPLEY_CHANNELS
            for s in range(8)
            if not s & bit
        ],
        "channel string, bit int, s int, s_i int, w6 int",
    )
    vs = v.select(F.col("smask").alias("s"), F.col("v").alias("v_s"))
    vi = v.select(F.col("smask").alias("s_i"), F.col("v").alias("v_si"))
    phi = (
        pairs.join(F.broadcast(vs), "s")
        .join(F.broadcast(vi), "s_i")
        .groupBy("channel")
        .agg(F.sum(F.col("w6") * (F.col("v_si") - F.col("v_s"))).alias("phi_x6"))
    )
    tot_w = Window.partitionBy()
    return phi.select(
        "channel",
        F.col("phi_x6").cast("bigint").alias("phi_x6"),
        F.floor(
            F.col("phi_x6").cast("double") * 1_000_000
            / F.sum("phi_x6").over(tot_w)
            + F.lit(0.5)
        ).cast("bigint").alias("share_1e6"),
    )


_US_PER_DAY = 86_400_000_000

_DECAY_ORACLE = f"""
    WITH base AS (
      SELECT user_id,
             epoch_us(CAST(ts AS TIMESTAMP)) // {_US_PER_DAY} AS day,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc
      FROM events
    ),
    anchor AS (SELECT max(day) AS a FROM base)
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(floor(CAST(vc AS DOUBLE) * 1000000
                    / (1::BIGINT << CAST(least(anchor.a - day, 62) AS INT))
                    + 0.5) AS BIGINT)) AS BIGINT) AS decay_score_1e6
    FROM base CROSS JOIN anchor
    GROUP BY user_id
"""


@register("analytics_decay_score", oracle=_DECAY_ORACLE, tags=("analytics", "agg"))
def analytics_decay_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-decayed engagement score: each event contributes
    value/2^(days-ago) with a one-day half-life — the standard
    exponential-decay engagement/lead score. 2^k for integer k is a
    bit shift, NOT a transcendental pow() call, so the decay is exact
    rational arithmetic both engines agree on bit-for-bit (÷2^k is
    exact in IEEE doubles); per-event terms quantize to ints BEFORE
    the per-user sum (quantize-then-sum, SURVEY §5.4).

    Scale: the 'today' anchor is a 1-row broadcast; then ONE map-side-
    combining aggregate per user. Nothing else."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "user_id",
        F.expr(f"ts_us_long div {_US_PER_DAY}").alias("day"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("vc"),
    )
    anchor = base.agg(F.max("day").alias("a"))
    # F.shiftleft only takes a literal bit count; the SQL form accepts a
    # column expression for it.
    term = F.expr(
        "CAST(floor(CAST(vc AS DOUBLE) * 1000000"
        " / CAST(shiftleft(CAST(1 AS BIGINT),"
        "        CAST(least(a - day, 62) AS INT)) AS DOUBLE)"
        " + 0.5) AS BIGINT)"
    )
    return (
        base.crossJoin(F.broadcast(anchor))
        .groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum(term).cast("bigint").alias("decay_score_1e6"),
        )
    )


_DAU_WAU_ORACLE = f"""
    WITH base AS (
      SELECT DISTINCT
             epoch_us(CAST(ts AS TIMESTAMP)) // {7 * _US_PER_DAY} AS week_id,
             epoch_us(CAST(ts AS TIMESTAMP)) // {_US_PER_DAY} AS day,
             user_id
      FROM events
    ),
    dau AS (SELECT week_id, day, count(*) AS dau FROM base GROUP BY 1, 2),
    wau AS (SELECT week_id, count(DISTINCT user_id) AS wau FROM base GROUP BY 1)
    SELECT w.week_id, CAST(w.wau AS BIGINT) AS wau,
           CAST(sum(d.dau) AS BIGINT) AS sum_dau,
           CAST(floor(CAST(sum(d.dau) AS DOUBLE) * 1000000 / (7 * w.wau) + 0.5)
                AS BIGINT) AS stickiness_1e6
    FROM wau w JOIN dau d USING (week_id)
    GROUP BY w.week_id, w.wau
"""


@register("analytics_dau_wau", oracle=_DAU_WAU_ORACLE, tags=("analytics", "agg"))
def analytics_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU stickiness per epoch week: average daily actives over
    the 7-day bucket divided by weekly actives — the product-health
    ratio (1.0 = every weekly user shows up daily). Zero-activity days
    count against the average by dividing the DAU sum by a literal 7,
    not by observed days.

    Scale: one (week, day, user) distinct collapses the log; both DAU
    and WAU re-aggregate that already-collapsed relation (≤ users×days
    rows), joined back on the tiny week key. The log is touched once."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        F.expr(f"ts_us_long div {7 * _US_PER_DAY}").alias("week_id"),
        F.expr(f"ts_us_long div {_US_PER_DAY}").alias("day"),
        "user_id",
    ).distinct()
    dau = base.groupBy("week_id", "day").agg(F.count("*").alias("dau"))
    wau = base.groupBy("week_id").agg(F.countDistinct("user_id").alias("wau"))
    return (
        wau.join(dau, "week_id")
        .groupBy("week_id", "wau")
        .agg(F.sum("dau").alias("sum_dau"))
        .select(
            "week_id",
            F.col("wau").cast("bigint").alias("wau"),
            F.col("sum_dau").cast("bigint").alias("sum_dau"),
            F.floor(
                F.col("sum_dau").cast("double") * 1_000_000 / (7 * F.col("wau"))
                + F.lit(0.5)
            ).cast("bigint").alias("stickiness_1e6"),
        )
    )


_MEDIAN_BKT_W = 100_000  # cents per value bucket (~$1000)


def _price_histogram(spark: SparkSession, sf_dir: str):
    """Phase 1 of the two-phase selection over lineitem extendedprice
    cents: ``(base, cum, nrow)`` — every row's (cents, bucket), the
    value-bucket histogram with each bucket's cumulative count ``cum``
    and the count before it ``cum_prev``, and the 1-row total ``n``."""
    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long").alias("cents")
    ).withColumn("bucket", F.expr(f"cents div {_MEDIAN_BKT_W}"))
    hist = base.groupBy("bucket").agg(F.count("*").alias("cnt"))
    cw = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select(
        "bucket",
        "cnt",
        F.sum("cnt").over(cw).alias("cum"),
    ).withColumn("cum_prev", F.col("cum") - F.col("cnt"))
    return base, cum, base.agg(F.count("*").alias("n"))


def _rows_at_ranks(
    base: DataFrame, cum: DataFrame, ranks: DataFrame, rank: str, part: str
) -> DataFrame:
    """Phase 2 of the two-phase selection over :func:`_price_histogram`'s
    ``(base, cum)``: the ``base`` row at each target rank of ``ranks``
    (rank column ``rank``, one target per ``part`` value), with the
    ``ranks`` columns. Each rank is located in the one bucket whose
    cumulative count covers it, and rows are ranked by cents only inside
    the hit buckets, so every sort is bounded by one bucket's
    population."""
    targets = (
        cum.crossJoin(F.broadcast(ranks))
        .filter((F.col("cum_prev") < F.col(rank)) & (F.col(rank) <= F.col("cum")))
        .select("bucket", "cum_prev", *ranks.columns)
    )
    lw = Window.partitionBy("bucket", part).orderBy("cents")
    return (
        base.join(F.broadcast(targets), "bucket")
        .withColumn("lr", F.row_number().over(lw))
        .filter(F.col("lr") == F.col(rank) - F.col("cum_prev"))
    )


_MEDIAN_ORACLE = """
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(floor(2 * median(CAST(floor(l_extendedprice * 100 + 0.5)
                                      AS BIGINT)) + 0.5) AS BIGINT)
             AS median_x2
    FROM lineitem
"""


@register("agg_median_twophase", oracle=_MEDIAN_ORACLE, tags=("analytics", "agg"))
def agg_median_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed EXACT median without a global sort: phase 1 builds a
    value-bucket histogram (one map-side-combining aggregate, ~hundreds
    of rows no matter the input size), a cumulative count over that
    tiny relation locates which bucket holds each median rank, and
    phase 2 ranks ONLY inside the target bucket(s) — every sort is
    bounded by one bucket's population. This is the classic two-phase
    selection algorithm; the naive `sort + pick rank n/2` is a global
    single-partition shape that dies at scale, and Spark's exact
    `percentile` aggregate holds per-group value buffers in memory.

    Reports 2×median so the even-n midpoint (a+b)/2 stays in exact
    integers (lower+upper rank values are fetched separately and
    weight-summed). The rank dim is ≤2 rows; its containment probe
    against the ~100-row histogram is a deliberately tiny BNLJ."""
    base, cum, nrow = _price_histogram(spark, sf_dir)
    ranks = (
        nrow.select(
            "n",
            F.explode(
                F.array(F.expr("(n + 1) div 2"), F.expr("(n + 2) div 2"))
            ).alias("r"),
        )
        .groupBy("n", "r")
        .agg(F.count("*").alias("weight"))
    )
    sel = _rows_at_ranks(base, cum, ranks, "r", "r")
    return sel.groupBy("n").agg(
        F.sum(F.col("cents") * F.col("weight")).alias("median_x2")
    ).select(
        F.col("n").cast("bigint").alias("n"),
        F.col("median_x2").cast("bigint").alias("median_x2"),
    )


_QUANTILES_PCTS = (25, 50, 75, 90, 99)

_QUANTILES_ORACLE = """
    WITH v AS (
      SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS c
      FROM lineitem
    ),
    n AS (SELECT count(*) AS n FROM v),
    r AS (SELECT c, row_number() OVER (ORDER BY c) AS rk FROM v),
    t AS (
      SELECT pct, CAST(ceil(pct * n.n / 100.0) AS BIGINT) AS rank_at
      FROM (VALUES (25), (50), (75), (90), (99)) p(pct) CROSS JOIN n
    )
    SELECT CAST(t.pct AS INT) AS pct, t.rank_at AS rank_at,
           r.c AS value_cents
    FROM t JOIN r ON r.rk = t.rank_at
"""


@register("agg_quantiles_multi", oracle=_QUANTILES_ORACLE, tags=("analytics", "agg"))
def agg_quantiles_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT multi-quantile (p25/p50/p75/p90/p99 of extendedprice, lower
    quantile_disc semantics: value at rank ⌈q·n⌉) — `agg_median_twophase`'s
    selection algorithm generalized to a whole quantile VECTOR in the
    same two phases: one value-bucket histogram locates every target
    rank's bucket at once, and phase 2 ranks only inside the ≤5 hit
    buckets. The naive `sort + pick ranks` is a global single-partition
    sort; Spark's exact `percentile(array)` buffers all values per
    group — this shape is the one that reports exact tail quantiles
    (the p99 a latency/price SLO actually needs) at 100 TB: the
    histogram is domain-bounded, the phase-2 sort is bucket-bounded,
    and adding quantiles adds broadcast rows, not passes. The oracle
    recomputes every rank independently via a full row_number."""
    base, cum, nrow = _price_histogram(spark, sf_dir)
    ranks = nrow.select(
        "n",
        F.explode(F.array(*[F.lit(p) for p in _QUANTILES_PCTS])).alias("pct"),
    ).withColumn(
        "rank_at", F.ceil(F.col("pct") * F.col("n") / F.lit(100.0)).cast("long")
    )
    sel = _rows_at_ranks(base, cum, ranks, "rank_at", "pct")
    return sel.select(
        F.col("pct").cast("int").alias("pct"),
        F.col("rank_at").cast("bigint").alias("rank_at"),
        F.col("cents").cast("bigint").alias("value_cents"),
    )


_DID_ORACLE = """
    WITH t AS (
      SELECT CAST(regexp_extract(props, '(\\d+)', 1) AS BIGINT) % 2 AS g,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us,
             CAST(round(value * 100, 0) AS BIGINT) AS cents
      FROM events
      WHERE regexp_extract(props, '(\\d+)', 1) <> ''
    ),
    split AS (SELECT min(us) + CAST((max(us) - min(us)) / 2 AS BIGINT) AS mid FROM t),
    cells AS (
      SELECT
        CAST(sum(CASE WHEN g = 1 AND us >= mid THEN 1 ELSE 0 END) AS BIGINT) AS n_tp,
        CAST(sum(CASE WHEN g = 1 AND us >= mid THEN cents ELSE 0 END) AS BIGINT) AS s_tp,
        CAST(sum(CASE WHEN g = 1 AND us <  mid THEN 1 ELSE 0 END) AS BIGINT) AS n_tr,
        CAST(sum(CASE WHEN g = 1 AND us <  mid THEN cents ELSE 0 END) AS BIGINT) AS s_tr,
        CAST(sum(CASE WHEN g = 0 AND us >= mid THEN 1 ELSE 0 END) AS BIGINT) AS n_cp,
        CAST(sum(CASE WHEN g = 0 AND us >= mid THEN cents ELSE 0 END) AS BIGINT) AS s_cp,
        CAST(sum(CASE WHEN g = 0 AND us <  mid THEN 1 ELSE 0 END) AS BIGINT) AS n_cr,
        CAST(sum(CASE WHEN g = 0 AND us <  mid THEN cents ELSE 0 END) AS BIGINT) AS s_cr
      FROM t CROSS JOIN split
    )
    SELECT n_tp, n_tr, n_cp, n_cr,
           round(CAST(s_tp AS DOUBLE) / n_tp / 100, 4) AS treat_post_mean,
           round(CAST(s_tr AS DOUBLE) / n_tr / 100, 4) AS treat_pre_mean,
           round(CAST(s_cp AS DOUBLE) / n_cp / 100, 4) AS ctrl_post_mean,
           round(CAST(s_cr AS DOUBLE) / n_cr / 100, 4) AS ctrl_pre_mean,
           round((CAST(s_tp AS DOUBLE) / n_tp - CAST(s_tr AS DOUBLE) / n_tr
                  - (CAST(s_cp AS DOUBLE) / n_cp - CAST(s_cr AS DOUBLE) / n_cr))
                 / 100, 4) AS did_estimate
    FROM cells
"""


@register("analytics_diff_in_diff", oracle=_DID_ORACLE, tags=("analytics", "agg"))
def analytics_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences: the 2×2 (cohort × pre/post) readout
    whose interaction term — (treat_post − treat_pre) − (ctrl_post −
    ctrl_pre) — removes both the group baseline and the common time
    trend, the causal-inference staple when a feature launches for one
    cohort mid-stream. Cohort assignment follows `analytics_ab_ttest`'s
    deterministic props-digit parity; the period split is the corpus
    time midpoint entering as a 1-row broadcast (`analytics_cuped`'s
    idiom).

    The whole log collapses in ONE global aggregate of eight
    conditional int-cent partials (map-side combine; the 2×2 is
    columns, not rows, so no shuffle key at all) and the estimate is
    pure arithmetic over the 1-row result — the cheapest possible plan
    at any scale. Exact int sums; means divide once and round."""
    ev = load_table(spark, sf_dir, "events")
    g = (F.regexp_extract("props", r"(\d+)", 1).try_cast("bigint") % 2).alias("g")
    t = ev.select(
        g,
        F.col("ts_us_long").alias("us"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
    ).filter(F.col("g").isNotNull())
    split = t.agg(
        (F.min("us") + ((F.max("us") - F.min("us")) / 2).cast("bigint")).alias("mid")
    )
    w = t.crossJoin(F.broadcast(split))

    def cell(cond, val):
        return F.sum(F.when(cond, val).otherwise(0)).cast("bigint")

    treat, ctrl = F.col("g") == 1, F.col("g") == 0
    post, pre = F.col("us") >= F.col("mid"), F.col("us") < F.col("mid")
    cells = w.agg(
        cell(treat & post, 1).alias("n_tp"),
        cell(treat & post, F.col("cents")).alias("s_tp"),
        cell(treat & pre, 1).alias("n_tr"),
        cell(treat & pre, F.col("cents")).alias("s_tr"),
        cell(ctrl & post, 1).alias("n_cp"),
        cell(ctrl & post, F.col("cents")).alias("s_cp"),
        cell(ctrl & pre, 1).alias("n_cr"),
        cell(ctrl & pre, F.col("cents")).alias("s_cr"),
    )
    m = lambda s, n: F.col(s).cast("double") / F.col(n)
    return cells.select(
        "n_tp",
        "n_tr",
        "n_cp",
        "n_cr",
        F.round(m("s_tp", "n_tp") / 100, 4).alias("treat_post_mean"),
        F.round(m("s_tr", "n_tr") / 100, 4).alias("treat_pre_mean"),
        F.round(m("s_cp", "n_cp") / 100, 4).alias("ctrl_post_mean"),
        F.round(m("s_cr", "n_cr") / 100, 4).alias("ctrl_pre_mean"),
        F.round(
            (m("s_tp", "n_tp") - m("s_tr", "n_tr") - (m("s_cp", "n_cp") - m("s_cr", "n_cr")))
            / 100,
            4,
        ).alias("did_estimate"),
    )
