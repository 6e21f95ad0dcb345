"""Join family (SURVEY §2B.3).

Reference parity: the reference's only "join" is the per-position combine
(SURVEY §2A A9) — aligning each sample's open gVCF record at every
position, i.e. a positional as-of/interval alignment across samples. That
semantic is carried here by ``join_asof`` / ``join_interval`` (and the
window twins in operators/windows.py); the rest of the family is the
relational surface a full engine needs.

Scale notes (100 TB):
- Dimension joins broadcast explicitly (``F.broadcast``) — nation/region
  size is O(100) rows at any scale factor; never shuffle the fact table
  for them.
- Fact-fact joins are shuffle (sort-merge) joins on the join key; AQE
  handles skew splitting and converts to broadcast when a runtime side
  turns out small.
- The as-of join is NOT a join at the physical level: union-tag both
  sides, one shuffle on the equi key, one carry-forward window. Linear
  in per-key rows (a pair-materializing join is quadratic on hot keys);
  no cross-partition state is needed — the same property the reference
  engineered with fixed-boundary block splits.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window

from gvcf_hbase_spark.registry import register
from gvcf_hbase_spark.sources.tables import load_table, scratch_dir

# ---------------------------------------------------------------------------
# Reusable operator: as-of join (Spark has no native one)
# ---------------------------------------------------------------------------


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    left_ts: str,
    right_ts: str,
    direction: str = "backward",
    strict: bool = False,
    how: str = "inner",
) -> DataFrame:
    """For each left row, attach the single right row with the greatest
    ``right_ts`` <= ``left_ts`` (direction='backward'; 'forward' mirrors).
    Output: every left column unchanged, plus right's non-key columns
    (matched values, or NULL + row dropped under how='inner').

    Implementation — union-tag + one carry-forward window, NOT a join:
    tag right rows side=0 / left rows side=1, union, then per key in
    (ts, side) order carry forward the last-seen right payload with
    ``last(..., ignorenulls)``. One shuffle on the ``on`` keys, O(n log n)
    sort per key, O(1) state per row — no (left × earlier-right) pair
    materialization, so a hot key costs its row count, not its row count
    squared. The side tiebreaker encodes strictness: at equal timestamps
    the right row sorts before the left iff same-instant matches count.

    This is the scalable form of the reference's 'which block is open at
    this position' lookup (SURVEY §2A A9): the open record is carried as
    window state instead of re-joined per position. Ties among right rows
    at the same (key, ts) are broken by payload for determinism.
    """
    keys = [on] if isinstance(on, str) else list(on)
    payload_cols = [c for c in right.columns if c not in keys]
    if not payload_cols:
        raise ValueError("right side needs at least one non-key column")
    overlap = set(payload_cols) & (set(left.columns) - set(keys))
    if overlap:
        raise ValueError(f"rename right columns colliding with left: {sorted(overlap)}")
    reserved = {"__t", "__side", "__r", "__m"}
    taken = reserved & (set(left.columns) | set(right.columns))
    if taken:
        # fail fast: a caller column named e.g. __t would silently corrupt
        # the union/window bookkeeping below instead of erroring
        raise ValueError(f"inputs may not use reserved internal columns: {sorted(taken)}")

    r2 = right.select(
        *keys,
        F.col(right_ts).alias("__t"),
        F.lit(0).alias("__side"),
        F.struct(*payload_cols).alias("__r"),
    )
    l2 = left.select(*left.columns, F.col(left_ts).alias("__t"), F.lit(1).alias("__side"))
    u = l2.unionByName(r2, allowMissingColumns=True)

    if direction == "backward":
        t_order = F.col("__t").asc()
        # non-strict: right row at t ties BEFORE the left row at t (visible)
        side_order = F.col("__side").asc() if not strict else F.col("__side").desc()
    elif direction == "forward":
        t_order = F.col("__t").desc()
        side_order = F.col("__side").asc() if not strict else F.col("__side").desc()
    else:
        raise ValueError(f"unknown direction: {direction}")

    w = (
        Window.partitionBy(*keys)
        .orderBy(t_order, side_order, F.col("__r").asc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = u.withColumn("__m", F.last("__r", ignorenulls=True).over(w)).filter(
        F.col("__side") == 1
    )
    if how == "inner":
        matched = matched.filter(F.col("__m").isNotNull())
    elif how != "left":
        raise ValueError(f"unsupported how: {how}")
    return matched.select(
        *left.columns, *[F.col("__m").getField(c).alias(c) for c in payload_cols]
    )


# ---------------------------------------------------------------------------
# queries() entries
# ---------------------------------------------------------------------------


@register(
    "join_broadcast",
    oracle="""
    SELECT c_custkey, c_name, n_name, r_name
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    """,
    tags=("join",),
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-dim equi-join chain with explicit broadcast: the fact side
    never shuffles (BroadcastHashJoin at every scale)."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("c_custkey", "c_name", "n_name", "r_name")
    )


@register(
    "join_shuffle",
    oracle="""
    SELECT o_orderkey, l_linenumber, o_totalprice, l_extendedprice
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    """,
    tags=("join",),
)
def join_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact equi-join. Written declaratively: at bench SF Spark may
    still broadcast the smaller side; at 100 TB the same plan becomes a
    sort-merge join on o_orderkey with AQE skew handling. The SMJ path is
    asserted separately in tests with broadcast disabled."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return o.join(li, o.o_orderkey == li.l_orderkey).select(
        "o_orderkey", "l_linenumber", "o_totalprice", "l_extendedprice"
    )


@register(
    "join_left",
    oracle="""
    SELECT c_custkey, o_orderkey, o_totalprice
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    """,
    tags=("join",),
)
def join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join; customers without orders null-extend."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left").select(
        "c_custkey", "o_orderkey", "o_totalprice"
    )


@register(
    "join_right",
    oracle="""
    SELECT c_custkey, c_name, o_orderkey
    FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
    """,
    tags=("join",),
)
def join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer join (mirror of left; Spark plans both sides)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return o.join(c, o.o_custkey == c.c_custkey, "right").select(
        "c_custkey", "c_name", "o_orderkey"
    )


@register(
    "join_full",
    oracle="""
    WITH a AS (SELECT DISTINCT o_custkey FROM orders),
         b AS (SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal > 5000)
    SELECT a.o_custkey, b.c_custkey, b.c_acctbal
    FROM a FULL JOIN b ON a.o_custkey = b.c_custkey
    """,
    tags=("join",),
)
def join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join with null extension on both sides (partial overlap
    by construction)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    a = o.select("o_custkey").distinct()
    b = c.filter(F.col("c_acctbal") > 5000).select("c_custkey", "c_acctbal")
    return a.join(b, a.o_custkey == b.c_custkey, "full").select(
        "o_custkey", "c_custkey", "c_acctbal"
    )


@register(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    tags=("join",),
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Existence (left semi): output carries only left columns, right side
    short-circuits after first match — cheaper than join+distinct."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@register(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    tags=("join",),
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-existence (left anti): customers with no orders."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@register(
    "join_cross",
    oracle="""
    SELECT r_name, n_name FROM region
    CROSS JOIN (SELECT n_name FROM nation WHERE n_regionkey < 2) sub
    """,
    tags=("join",),
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product (bounded inputs only; a guard-railed operator —
    Spark requires explicit crossJoin)."""
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    sub = n.filter(F.col("n_regionkey") < 2).select("n_name")
    return r.select("r_name").crossJoin(sub)


@register(
    "join_theta",
    oracle="""
    SELECT e1.event_id AS click_id, e2.event_id AS purchase_id, e1.user_id
    FROM events e1 JOIN events e2
      ON e1.user_id = e2.user_id
     AND e1.event_type = 'click' AND e2.event_type = 'purchase'
     AND epoch_us(e2.ts) > epoch_us(e1.ts)
     AND epoch_us(e2.ts) <= epoch_us(e1.ts) + 3600000000
    """,
    tags=("join", "events"),
)
def join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band (theta) join: purchases within 1h after a click, same user.
    The equi component (user_id) keeps this a hash/SMJ join with a range
    residual — NOT a nested-loop — so it scales with per-user density.
    Comparisons at µs granularity on both engines (``ts_us_long`` is the
    loader-derived epoch-µs column; DuckDB's epoch_us matches exactly)."""
    ev = load_table(spark, sf_dir, "events")
    e1 = ev.filter(F.col("event_type") == "click").alias("e1")
    e2 = ev.filter(F.col("event_type") == "purchase").alias("e2")
    hour_us = 3_600_000_000
    return e1.join(
        e2,
        (F.col("e1.user_id") == F.col("e2.user_id"))
        & (F.col("e2.ts_us_long") > F.col("e1.ts_us_long"))
        & (F.col("e2.ts_us_long") <= F.col("e1.ts_us_long") + hour_us),
    ).select(
        F.col("e1.event_id").alias("click_id"),
        F.col("e2.event_id").alias("purchase_id"),
        F.col("e1.user_id").alias("user_id"),
    )


@register(
    "join_interval",
    oracle="""
    SELECT l_orderkey, l_linenumber, o_orderdate, l_shipdate
    FROM lineitem JOIN orders
      ON l_orderkey = o_orderkey
     AND l_shipdate >= o_orderdate
     AND l_shipdate <= o_orderdate + INTERVAL 90 DAY
    """,
    tags=("join", "gvcf"),
)
def join_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9-descended interval join: rows matched while falling inside a
    date interval — the relational form of 'position inside an open gVCF
    block'. Equi key + interval residual, same scaling as join_theta."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    return li.join(
        o,
        (li.l_orderkey == o.o_orderkey)
        & (li.l_shipdate >= o.o_orderdate)
        & (li.l_shipdate <= o.o_orderdate + F.expr("INTERVAL 90 DAYS")),
    ).select("l_orderkey", "l_linenumber", "o_orderdate", "l_shipdate")


def _purchase_signup_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each purchase with the latest prior (or same-instant) signup of the
    same user: (purchase_id, user_id, purchase_ts_us, signup_ts_us)."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts_us_long"
    )
    signups = ev.filter(F.col("event_type") == "signup").select(
        "user_id", F.col("ts_us_long").alias("signup_ts_us")
    )
    out = asof_join(
        purchases, signups, on="user_id", left_ts="ts_us_long", right_ts="signup_ts_us"
    )
    return out.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts_us_long").alias("purchase_ts_us"),
        "signup_ts_us",
    )


@register(
    "join_asof",
    oracle="""
    SELECT p.event_id AS purchase_id, p.user_id,
           epoch_us(p.ts) AS purchase_ts_us, epoch_us(s.ts) AS signup_ts_us
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF JOIN (SELECT * FROM events WHERE event_type = 'signup') s
      ON p.user_id = s.user_id AND p.ts >= s.ts
    """,
    tags=("join", "gvcf"),
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9-descended as-of join: each purchase matched to the latest prior
    (or same-instant) signup of the same user — exactly the reference's
    'which block is open at this position' lookup, per sample. Built on
    the generic :func:`asof_join` operator (union-tag + carry-forward
    window: one shuffle on user_id, no pair explosion on hot users)."""
    return _purchase_signup_asof(spark, sf_dir)


@register(
    "join_asof_forward",
    oracle="""
    SELECT p.event_id AS purchase_id, p.user_id,
           epoch_us(p.ts) AS purchase_ts_us, epoch_us(s.ts) AS next_click_ts_us
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') s
      ON p.user_id = s.user_id AND p.ts <= s.ts
    """,
    tags=("join", "gvcf"),
)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of: each purchase matched to the EARLIEST same-or-later
    click of the same user (the 'next event' lookup — A9's mirror
    direction). Same union-tag + carry window plan as join_asof, ordered
    descending; oracle is DuckDB's native forward ASOF JOIN."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts_us_long"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts_us_long").alias("next_click_ts_us")
    )
    out = asof_join(
        purchases,
        clicks,
        on="user_id",
        left_ts="ts_us_long",
        right_ts="next_click_ts_us",
        direction="forward",
    )
    return out.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts_us_long").alias("purchase_ts_us"),
        "next_click_ts_us",
    )


# ---------------------------------------------------------------------------
# Reusable operator: salted join for skewed keys
# ---------------------------------------------------------------------------


def salted_join(
    skewed: DataFrame,
    other: DataFrame,
    skewed_key: str,
    other_key: str,
    salt_from: list[str],
    buckets: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join where ``skewed`` has hot keys: spread each key over
    ``buckets`` sub-keys by salting the skewed side with a deterministic
    hash of ``salt_from`` columns, and replicating ``other`` once per salt
    value. Join runs on (key, salt), so one hot key's rows land in
    ``buckets`` different shuffle partitions instead of one straggler.

    Result is row-identical to the plain join (salt only routes rows).
    Cost: ``other`` is shuffled ``buckets``x — use for medium-sized right
    sides that are too big to broadcast; for broadcast-able dims use
    F.broadcast, and for sort-merge joins prefer AQE's runtime skew split
    (spark.sql.adaptive.skewJoin.*), which needs no replication. Salting
    is the pre-planned, engine-portable fallback — and the only option
    when the skew is in a groupBy (salt, partial-agg, final-agg).
    """
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in salt_from]), F.lit(buckets)).cast("int")
    left = skewed.withColumn("__salt", salt)
    right = other.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(buckets)]))
    )
    cond = (left[skewed_key] == right[other_key]) & (left["__salt"] == right["__salt"])
    return left.join(right, cond, how).drop("__salt")


@register(
    "join_skew_salted",
    oracle="""
    SELECT o_orderkey, o_custkey, c_name, round(o_totalprice, 2) AS totalprice
    FROM orders JOIN customer ON o_custkey = c_custkey
    """,
    tags=("join", "skew"),
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resilient orders⋈customer via salting: per-row deterministic
    salt on the fact side (xxhash64 of the unique orderkey), customer
    replicated 8x with a generated salt column. The oracle is the PLAIN
    join — salting must not change a single row, which is exactly what
    the hash-match proves. At 100 TB this pattern de-stragglers a join
    against a power-law customer distribution when the dim side is too
    large to broadcast."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return salted_join(
        o, c, "o_custkey", "c_custkey", salt_from=["o_orderkey"], buckets=8
    ).select(
        "o_orderkey",
        "o_custkey",
        "c_name",
        F.round("o_totalprice", 2).alias("totalprice"),
    )


@register(
    "join_null_safe",
    oracle="""
    WITH e AS (
      SELECT event_id,
             CASE WHEN event_type = 'view' THEN NULL ELSE event_type END AS et
      FROM events
    )
    SELECT a.event_id AS id_a, b.event_id AS id_b, a.et
    FROM e a JOIN e b
      ON a.et IS NOT DISTINCT FROM b.et
     AND a.event_id < b.event_id
     AND a.event_id % 97 = 0 AND b.event_id % 89 = 0
    """,
    tags=("join",),
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys
    match each other instead of vanishing — the semantics needed when
    NULL is a real category (here: 'view' events nulled out). Planned as
    a hash join on the null-safe key like any equi-join; the sampling
    predicates keep the demo's NULL×NULL fan-out bounded."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "event_id",
        F.when(F.col("event_type") == "view", None).otherwise(F.col("event_type")).alias("et"),
    )
    a = e.filter(F.col("event_id") % 97 == 0).alias("a")
    b = e.filter(F.col("event_id") % 89 == 0).alias("b")
    return (
        a.join(b, F.col("a.et").eqNullSafe(F.col("b.et")) & (F.col("a.event_id") < F.col("b.event_id")))
        .select(F.col("a.event_id").alias("id_a"), F.col("b.event_id").alias("id_b"), F.col("a.et").alias("et"))
    )


@register(
    "join_range_bucketed",
    oracle="""
    SELECT o_orderkey, count(*) AS n_shipments
    FROM orders JOIN lineitem
      ON l_shipdate >= o_orderdate
     AND l_shipdate < CAST(o_orderdate AS TIMESTAMP) + INTERVAL 7 DAY
    WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-02-01'
    GROUP BY o_orderkey
    """,
    tags=("join", "range"),
)
def join_range_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure range join with NO equi key — corpus-wide shipping activity in
    the week after each January-1996 order, regardless of which order a
    lineitem belongs to. Naive Spark plans this as BroadcastNestedLoop
    (every probe row scans every build row: dead at 100 TB when neither
    side broadcasts). The scalable rewrite manufactures an equi key by
    time-bucketing: points land in ONE 7-day bucket, each 7-day interval
    overlaps at most TWO, so intervals explode to <=2 rows, the join runs
    as a hash/sort-merge join on the bucket id, and the true range
    predicate evaluates as the join residual. Work is proportional to
    co-bucketed pairs, shuffles on bucket, and both sides stay
    partition-parallel at any scale (the same trick behind Databricks'
    range-join hint and KV interval indexes; bucket width should match
    the interval span so each interval spans <=2 buckets).
    The January filter keeps the fixture result compact — the plan shape
    is identical without it."""
    day0 = F.lit("1995-01-01").cast("timestamp_ntz")
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("o_orderdate") < F.lit("1996-02-01").cast("timestamp_ntz"))
        )
        .select("o_orderkey", "o_orderdate")
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    odays = F.datediff(F.col("o_orderdate"), day0)
    # interval [d, d+7) covers day buckets floor(d/7) and floor((d+6)/7)
    o_bucketed = o.withColumn(
        "bucket",
        F.explode(
            F.array_distinct(
                F.array(F.floor(odays / 7), F.floor((odays + F.lit(6)) / 7))
            )
        ),
    )
    li_bucketed = li.withColumn(
        "bucket", F.floor(F.datediff(F.col("l_shipdate"), day0) / 7)
    )
    return (
        o_bucketed.join(li_bucketed, "bucket")
        .filter(
            (F.col("l_shipdate") >= F.col("o_orderdate"))
            & (F.col("l_shipdate") < F.col("o_orderdate") + F.expr("INTERVAL 7 DAYS"))
        )
        .groupBy("o_orderkey")
        .agg(F.count("*").alias("n_shipments"))
    )


@register(
    "join_asof_tolerance",
    oracle="""
    WITH matched AS (
      SELECT p.event_id AS purchase_id, p.user_id,
             epoch_us(p.ts) AS purchase_ts_us, epoch_us(s.ts) AS signup_ts_us
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      ASOF JOIN (SELECT * FROM events WHERE event_type = 'signup') s
        ON p.user_id = s.user_id AND p.ts >= s.ts
    )
    SELECT * FROM matched
    WHERE purchase_ts_us - signup_ts_us <= 86400000000
    """,
    tags=("join", "gvcf"),
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a tolerance bound (pandas `merge_asof(tolerance=)`
    semantics): latest prior signup per purchase, but only when it is at
    most 24 h old — a stale open record must NOT match. Composition, not
    a new operator: the generic as-of carries the matched right timestamp
    in its payload, and the tolerance is one post-filter on the SAME rows
    (no extra shuffle; the plan is join_asof's plus a Filter). The gVCF
    reading: a reference block match is only valid within its declared
    span — tolerance is how an open-ended carry-forward gets an
    expiry."""
    tol_us = 86_400_000_000  # 24 h
    return _purchase_signup_asof(spark, sf_dir).filter(
        F.col("purchase_ts_us") - F.col("signup_ts_us") <= tol_us
    )


@register(
    "join_asof_nearest",
    oracle="""
    SELECT p.event_id AS purchase_id, p.user_id,
           epoch_us(p.ts) AS purchase_ts_us,
           CASE
             WHEN bk.ts IS NULL THEN epoch_us(fw.ts)
             WHEN fw.ts IS NULL THEN epoch_us(bk.ts)
             WHEN epoch_us(p.ts) - epoch_us(bk.ts) <= epoch_us(fw.ts) - epoch_us(p.ts)
               THEN epoch_us(bk.ts)
             ELSE epoch_us(fw.ts)
           END AS nearest_click_ts_us
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') bk
      ON p.user_id = bk.user_id AND p.ts >= bk.ts
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') fw
      ON p.user_id = fw.user_id AND p.ts <= fw.ts
    """,
    tags=("join", "gvcf"),
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-in-time as-of (pandas merge_asof direction='nearest'):
    each purchase matched to the click minimizing |Δt| in EITHER
    direction; equidistant ties resolve backward (the ≤ in the pick —
    same rule as merge_asof). Completes the as-of family: backward
    (join_asof), forward (join_asof_forward), bounded
    (join_asof_tolerance), nearest.

    Composition, not new machinery: one backward + one forward
    carry-forward pass (each is the union-tag single-shuffle window —
    both shuffle on user_id, and AQE reuses the co-partitioning for the
    final column pick), then a JVM CASE chooses the closer side. Left
    semantics: a purchase with no click at all keeps a NULL match."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts_us_long"
    )
    clicks_b = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts_us_long").alias("bk_ts_us")
    )
    clicks_f = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts_us_long").alias("fw_ts_us")
    )
    bk = asof_join(
        purchases, clicks_b, on="user_id", left_ts="ts_us_long",
        right_ts="bk_ts_us", how="left",
    )
    both = asof_join(
        bk, clicks_f, on="user_id", left_ts="ts_us_long",
        right_ts="fw_ts_us", direction="forward", how="left",
    )
    t = F.col("ts_us_long")
    nearest = (
        F.when(F.col("bk_ts_us").isNull(), F.col("fw_ts_us"))
        .when(F.col("fw_ts_us").isNull(), F.col("bk_ts_us"))
        .when(t - F.col("bk_ts_us") <= F.col("fw_ts_us") - t, F.col("bk_ts_us"))
        .otherwise(F.col("fw_ts_us"))
    )
    return both.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        t.alias("purchase_ts_us"),
        nearest.alias("nearest_click_ts_us"),
    )


_BLOOM_CONFS = {
    # enabled is the Spark 3.5+ default; the two thresholds are what make
    # the rule fire at fixture scale (the application side is far below
    # the 10 GB default). At 100 TB the DEFAULTS fire on their own — these
    # overrides exist so the tested plan is the plan production gets.
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    # bloom pruning only matters for shuffle joins; park the broadcast
    # threshold so the tested plan IS the 100 TB shuffle-join shape
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


def bloom_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lazy joined plan `join_runtime_bloom` materializes; factored
    out so tests can assert `might_contain` on the optimized plan."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    li = load_table(spark, sf_dir, "lineitem")
    rev = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0).cast(
        "bigint"
    )
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(rev).alias("revenue_cents"),
        )
    )


_BLOOM_ORACLE = """
    SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT))
                AS BIGINT) AS revenue_cents
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY l_returnflag
"""


@register("join_runtime_bloom", oracle=_BLOOM_ORACLE, tags=("join",))
def join_runtime_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime row-level bloom pruning on a selective shuffle join:
    Catalyst builds a bloom filter from the filtered orders side
    (`bloom_filter_agg` subquery) and injects `might_contain(l_orderkey)`
    into the lineitem SCAN — ~80% of fact rows die before the shuffle
    instead of after it, the row-level sibling of dynamic partition
    pruning (which needs a partitioned layout; this needs nothing).

    The bloom confs are scoped: injection happens at OPTIMIZATION time,
    so the operator materializes the join to a temp parquet while the
    confs are set, restores every conf, and returns the (tiny, 3-row)
    scan — conf leakage would otherwise re-plan every later query in the
    session (notably `autoBroadcastJoinThreshold=-1`, parked here only so
    the tested plan is the 100 TB shuffle-join shape rather than a
    fixture-scale broadcast). Plan proof (`might_contain` on the fact
    scan's filters) is asserted in tests/test_plans.py via
    :func:`bloom_pruned_join`; the oracle proves pruning never drops a
    matching row. False-positive rate only affects how much the shuffle
    shrinks, never the result.
    """
    saved = {}
    for k, v in _BLOOM_CONFS.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        out = scratch_dir("bloom")
        joined = bloom_pruned_join(spark, sf_dir)
        joined.write.mode("overwrite").parquet(out)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    return spark.read.schema(joined.schema).parquet(out)
