"""100 TB storage layout: the reference's bulk-load pattern, Spark-first.

The reference bulk-loads key-sorted HFiles into pre-split HBase regions
(SURVEY §2A A5/A12): sorted sequential writes, and scan parallelism = the
region splits aligned with block boundaries (A4). The Spark-native
equivalent is a range-partitioned, sorted Parquet layout:

- ``repartitionByRange(n, keys)``  ≙ pre-split regions (each output file
  owns a contiguous key range)
- ``sortWithinPartitions(keys)``   ≙ HFile key order (row-group min/max
  stats become tight, so key-range scans skip whole files/row groups —
  the Parquet analog of an HBase start/stop-row scan)

At 100 TB, choose n so each file lands 128 MB-1 GB; AQE coalesces small
reads back together. No fixed-boundary block duplication (A4) is needed:
Spark shuffles realign interval data, so layout is purely a performance
contract here, not a correctness one.
"""

from __future__ import annotations

import os
from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from gvcf_hbase_spark.registry import register
from gvcf_hbase_spark.sources.tables import load_table, scan_size_bytes, scratch_dir


class HBaseTarget:
    """Connector facade for the reference's A5 bulk-load sink.

    The reference's write path is: sort records by row key → write HFiles →
    hand them to the region servers (bulk load, no WAL). A user porting this
    engine onto a live HBase cluster plugs a connector here (e.g. the
    hbase-spark ``org.apache.hadoop.hbase.spark`` DataSource, or
    ``shc-core``) by passing a ``writer`` callable; everything upstream —
    key composition, salting, range partitioning, per-partition key order —
    is connector-independent and stays exactly as :func:`bulk_put` builds
    it. The offline backend (this sandbox, and any lake-first deployment)
    is the range-sorted Parquet layout, which preserves the two properties
    bulk load exists for: sequential sorted writes and scan parallelism
    aligned with key ranges.

    Parameters
    ----------
    path: output directory for the offline backend.
    writer: optional ``(df, table) -> None`` override that ships the
        key-sorted DataFrame through a real connector. When provided, the
        parquet path is ignored.
    """

    def __init__(self, path: str, writer: Callable[[DataFrame, str], None] | None = None):
        self.path = path
        self.writer = writer
        self.schemas: dict[str, StructType] = {}

    def write(self, df: DataFrame, table: str) -> None:
        if self.writer is not None:
            self.writer(df, table)
        else:
            df.write.mode("overwrite").parquet(f"{self.path}/{table}")
            self.schemas[table] = df.schema

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        """Read back a table this target wrote to the offline backend, with
        the schema it was written with: no schema-inference job. Spark reads
        every file-source field as nullable, as Parquet stores it, so the
        result's schema equals an inferred one."""
        return spark.read.schema(self.schemas[table]).parquet(f"{self.path}/{table}")


def _int_key_hex(v) -> F.Column:
    """Order-preserving hex encoding of a signed 64-bit key: '1' + 16-char
    hex for v ≥ 0, '0' + 16-char hex of (v + 2^63) for v < 0 (computed as
    ``v - LONG_MIN`` to stay inside bigint). Lexicographic order of the
    encoding == numeric order over the FULL signed range — raw
    ``hex(cast bigint)`` yields two's-complement for negatives, which
    sorts after positives and breaks the rowkey contract."""
    v = v.cast("bigint")
    long_min = F.lit(-(2**63))
    return F.when(
        v < 0, F.concat(F.lit("0"), F.lpad(F.hex(v - long_min), 16, "0"))
    ).otherwise(F.concat(F.lit("1"), F.lpad(F.hex(v), 16, "0")))


def bulk_put(
    df: DataFrame,
    target: HBaseTarget,
    table: str,
    key_cols: list[str],
    num_regions: int | None = None,
    salt_buckets: int = 0,
) -> None:
    """A5 bulk load, connector-shaped: compose the row key, pre-split into
    ``num_regions`` contiguous key ranges, sort within each, and hand the
    result to the target's writer.

    - ``key_cols`` compose the row key in order (the reference's
      sample/contig/position key — SURVEY §2A A3); a ``__rowkey``
      hex-padded string column is added so lexicographic HBase order equals
      the logical key order. Signed integers are sign-split ('0' prefix +
      2^63-biased hex for negatives, '1' prefix + plain hex otherwise) —
      raw two's-complement hex would sort negatives AFTER positives.
    - ``salt_buckets > 0`` prepends a deterministic hash-salt prefix — the
      standard HBase hot-spotting fix for monotonically increasing keys
      (sequential writes otherwise all land on one region). The prefix is
      zero-padded to the bucket count's digit width, so lexicographic
      bucket grouping survives any ``salt_buckets``, not just ≤ 100.
      Scans fan out over the buckets; range scans within a salt bucket
      stay contiguous.
    - ``repartitionByRange`` + ``sortWithinPartitions`` is exactly the
      HFile contract: each output partition owns a contiguous key range and
      is written in key order, so a real connector can stream HFiles with
      zero re-sorting.
    """
    parts = [_int_key_hex(F.col(c)) if t.startswith(("bigint", "int", "long"))
             else F.col(c).cast("string")
             for c, t in ((c, dict(df.dtypes)[c]) for c in key_cols)]
    key = F.concat_ws("#", *parts)
    if salt_buckets > 0:
        pad = len(str(salt_buckets - 1))
        salt = F.lpad(
            F.pmod(F.xxhash64(*key_cols), F.lit(salt_buckets)).cast("string"), pad, "0"
        )
        key = F.concat_ws("#", salt, key)
    keyed = df.withColumn("__rowkey", key)
    out = (
        keyed.repartitionByRange(num_regions, "__rowkey")
        if num_regions
        else keyed.repartitionByRange("__rowkey")
    )
    target.write(out.sortWithinPartitions("__rowkey"), table)


@register(
    "sink_bulk_put",
    oracle="""
        SELECT concat(
                 CASE WHEN user_id < 0
                      THEN concat('0', lpad(upper(to_hex(user_id - (-9223372036854775808))), 16, '0'))
                      ELSE concat('1', lpad(upper(to_hex(user_id)), 16, '0')) END,
                 '#',
                 CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) < 0
                      THEN concat('0', lpad(upper(to_hex(epoch_us(CAST(ts AS TIMESTAMP)) - (-9223372036854775808))), 16, '0'))
                      ELSE concat('1', lpad(upper(to_hex(epoch_us(CAST(ts AS TIMESTAMP)))), 16, '0')) END)
                 AS __rowkey,
               event_id, user_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us_long, value
        FROM events
        """,
    tags=("sink", "gvcf"),
)
def sink_bulk_put(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 bulk load, oracle-checked end-to-end: bulk_put the events
    table keyed on (user_id, ts_us_long) into the offline backend,
    then read the written layout back. The oracle recomputes the
    rowkey with independent string SQL, so key composition (zero-pad
    hex concat — lexicographic == logical order), pre-split delivery,
    and losslessness are all hash-verified. The physical contract
    (range partitioning + in-partition key order) is asserted in
    tests/test_plans.py."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts_us_long", "value"
    )
    target = HBaseTarget(scratch_dir("bulk_put"))
    bulk_put(ev, target, "events_by_user_time", ["user_id", "ts_us_long"], num_regions=4)
    return target.read(spark, "events_by_user_time").select(
        "__rowkey", "event_id", "user_id", "ts_us_long", "value"
    )


@register(
    "sink_hive_partitioned",
    oracle="""
        SELECT lang, min(doc_id) AS min_id, max(doc_id) AS max_id,
               count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM documents
        WHERE lang IN ('en', 'de')
        GROUP BY lang
        """,
    tags=("sink", "layout"),
)
def sink_hive_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12 partition pruning end-to-end: write documents hive-
    partitioned by lang (the coarse pruning axis), read back with a
    partition filter, and aggregate — losslessness of the partitioned
    write AND the pruned read are hash-verified against the plain
    table. Plan-level proof that the filter lands as PartitionFilters
    (zero I/O on other langs) is in tests/test_plans.py."""
    d = load_table(spark, sf_dir, "documents")
    out = scratch_dir("hive_part")
    write_hive_partitioned(d, out, ["lang"], sort_keys=["doc_id"])
    back = spark.read.schema(d.schema).parquet(out).filter(F.col("lang").isin("en", "de"))
    return back.groupBy("lang").agg(
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


@register(
    "sink_bucketed_join",
    oracle="""
        SELECT o_orderpriority, count(*) AS n_items,
               round(sum(l_quantity), 2) AS total_qty
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY o_orderpriority
        """,
    tags=("sink", "join", "layout"),
)
def sink_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/A5 co-located join end-to-end: bucket both fact tables on
    the join key at write time, then join the bucketed tables — the
    write-once shuffle amortized across every later join. The oracle
    is the PLAIN join aggregate: bucketing must not change a row,
    which is what the hash-match proves. Zero-Exchange planning of
    the bucketed join is asserted in tests/test_plans.py."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    base = scratch_dir("bucketed")
    write_bucketed(spark, o, "gq_orders_bucketed", f"{base}/o", ["o_orderkey"], 8)
    write_bucketed(spark, li, "gq_lineitem_bucketed", f"{base}/li", ["l_orderkey"], 8)
    ob = spark.table("gq_orders_bucketed")
    lb = spark.table("gq_lineitem_bucketed")
    return (
        ob.join(lb, ob.o_orderkey == lb.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum("l_quantity"), 2).alias("total_qty"),
        )
    )


@register(
    "join_dpp_partitioned",
    oracle="""
        SELECT event_type, count(*) AS n_events, round(sum(value), 4) AS total_value
        FROM events
        WHERE event_type IN ('purchase', 'signup')
        GROUP BY event_type
        """,
    tags=("join", "layout"),
)
def join_dpp_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning end-to-end (A12's runtime half): the
    fact table is hive-partitioned on the join key; the dimension is
    filtered on an attribute the fact side can't see statically
    (``category`` lives only in the dim), so partition pruning can
    only happen at RUNTIME — Catalyst injects a dynamic-pruning
    subquery that reuses the broadcast dim to skip non-matching fact
    partitions entirely (zero I/O, like never scanning the HBase
    regions outside the key range). The oracle is the plain filtered
    aggregate: pruning must not change a row. The plan-level proof
    (``dynamicpruningexpression`` in the fact scan's
    PartitionFilters) is asserted in tests/test_plans.py.

    Two measured preconditions for the rule to fire (probe-verified
    on this Spark build): the dim must be a real scan, not a literal
    LocalRelation (the filter constant-folds away otherwise), and the
    dim predicate must pass Catalyst's ``isLikelySelective`` test —
    a string equality qualifies, a bare boolean attribute does NOT.

    At 100 TB this is the difference between scanning 2/5 and 5/5 of
    a date/type-partitioned fact for a dimension-driven slice."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    base = scratch_dir("dpp")
    write_hive_partitioned(ev, f"{base}/events_by_type", ["event_type"])
    fact = spark.read.schema(ev.schema).parquet(f"{base}/events_by_type")
    # the dim must be a REAL scan: a literal createDataFrame would
    # constant-fold its filter into a smaller LocalRelation, and with
    # no Filter node left the DPP rule sees no selective predicate to
    # reuse — exactly the production shape anyway (dims live in
    # storage, not driver literals)
    dim_schema = "event_type string, category string"
    spark.createDataFrame(
        [
            ("purchase", "conv"),
            ("signup", "conv"),
            ("view", "browse"),
            ("click", "browse"),
            ("error", "noise"),
        ],
        dim_schema,
    ).write.mode("overwrite").parquet(f"{base}/dim")
    dim = spark.read.schema(dim_schema).parquet(f"{base}/dim")
    joined = fact.join(
        F.broadcast(dim.filter(F.col("category") == "conv")), "event_type"
    )
    return joined.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )


@register(
    "sink_partition_stats",
    oracle="""
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(min(event_id) AS BIGINT) AS min_event_id,
               CAST(max(event_id) AS BIGINT) AS max_event_id,
               CAST(min(epoch_us(CAST(ts AS TIMESTAMP))) AS BIGINT) AS min_ts_us,
               CAST(max(epoch_us(CAST(ts AS TIMESTAMP))) AS BIGINT) AS max_ts_us,
               CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents
        FROM events GROUP BY event_type
        """,
    tags=("sink", "layout"),
)
def sink_partition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-style partition statistics, computed FROM the written
    layout: write events hive-partitioned by event_type, read the
    layout back, and aggregate per-partition min/max/count/checksum —
    the metadata an Iceberg/Delta manifest (or HBase region catalog)
    keeps so a planner can prune without opening data files. The
    oracle recomputes the same stats from the PLAIN table, so the
    hash-match proves the partitioned write is lossless AND the stats
    are exactly the prune-safe bounds (a min/max that drifted would
    admit wrong pruning decisions downstream).

    Scale: the stats aggregate is one collapsing shuffle over the
    layout scan — #partitions rows out. In a real deployment this
    runs incrementally per written partition at commit time; the
    full-table form here is the bootstrap/repair path."""
    ev = load_table(spark, sf_dir, "events")
    out = scratch_dir("pstats")
    write_hive_partitioned(ev, out, ["event_type"], sort_keys=["ts_us_long"])
    back = spark.read.schema(ev.schema).parquet(out)
    return back.groupBy("event_type").agg(
        F.count("*").alias("n_rows"),
        F.min("event_id").alias("min_event_id"),
        F.max("event_id").alias("max_event_id"),
        F.min("ts_us_long").alias("min_ts_us"),
        F.max("ts_us_long").alias("max_ts_us"),
        F.sum(F.round(F.col("value") * 100, 0).cast("bigint")).alias("sum_cents"),
    )


@register(
    "sink_secondary_index",
    oracle="""
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_purchases,
               array_to_string(list(CAST(event_id AS VARCHAR) ORDER BY event_id), ',')
                 AS event_ids
        FROM events
        WHERE event_type = 'purchase'
        GROUP BY user_id
        HAVING count(*) >= 3
        """,
    tags=("sink", "layout"),
)
def sink_secondary_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HBase secondary-index pattern end-to-end: the reference's row
    key serves ONE access path (A6 range scans); any query entering by
    a different column needs an index TABLE mapping that column to the
    row keys — maintained as data, not as a storage feature. Build the
    (user_id → sorted purchase event_ids) index, bulk-write it
    range-sorted on the index key (the same A5 layout, so index range
    scans are file-skipping scans too), read it back, and answer an
    index-only query — users with ≥3 purchases — WITHOUT touching the
    fact table again. The oracle recomputes from the base table:
    losslessness of the index build and the posting-list order are
    both in the hash. The STORED index keeps the posting list as a
    real array column; only the oracle-checked OUTPUT flattens it to
    a comma-joined string (driver hashable-output rule, §5.4).

    Scale: the index build is one filtered collapsing aggregate (the
    posting list per key); hot keys are bounded by per-key activity,
    not corpus size. Index maintenance composes with
    stream_foreach_batch_upsert for the incremental path."""
    ev = load_table(spark, sf_dir, "events")
    idx = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_purchases"),
            F.sort_array(F.collect_list("event_id")).alias("event_ids"),
        )
    )
    path = scratch_dir("secidx")
    bulk_write_range_sorted(idx, path, ["user_id"], num_partitions=4)
    back = spark.read.schema(idx.schema).parquet(path)
    return back.filter(F.col("n_purchases") >= 3).select(
        "user_id",
        "n_purchases",
        F.array_join(
            F.transform("event_ids", lambda x: x.cast("string")), ","
        ).alias("event_ids"),
    )


@register(
    "sink_compact_small_files",
    oracle="""
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars,
               CAST(sum(doc_id) AS BIGINT) AS id_checksum
        FROM documents GROUP BY lang
        """,
    tags=("sink", "layout"),
)
def sink_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the maintenance job every streaming or
    highly-parallel writer eventually owes the table. Simulate the
    pathology (documents scattered over 64 shards), then rewrite at a
    byte-budget-derived partition count computed from the actual
    listed size (scan_size_bytes — no count() job), read the compacted
    layout back, and aggregate. The oracle is the plain table: a
    compaction that loses, duplicates, or mutates one row fails the
    hash. The file-count collapse itself is asserted in
    tests/test_plans.py (64 shards → the computed handful).

    Scale: compaction cost is one full read+write of the target
    partitions — at 100 TB it runs per-partition (compact yesterday's
    date dir, never the whole table), which is exactly how the
    partition argument here is meant to be scoped. Target size is the
    same 128 MB–1 GB file band every layout writer in this module
    aims for; AQE handles the read-side coalescing until compaction
    catches up."""
    d = load_table(spark, sf_dir, "documents")
    base = scratch_dir("compact")
    d.repartition(64).write.mode("overwrite").parquet(f"{base}/fragmented")
    frag = spark.read.schema(d.schema).parquet(f"{base}/fragmented")
    target_bytes = 128 * 1024 * 1024
    total = scan_size_bytes(frag) or target_bytes
    n_out = max(1, -(-total // target_bytes))  # ceil-div
    frag.repartition(n_out).write.mode("overwrite").parquet(f"{base}/compacted")
    back = spark.read.schema(d.schema).parquet(f"{base}/compacted")
    return back.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.sum("doc_id").cast("bigint").alias("id_checksum"),
    )


@register(
    "sink_merge_upsert",
    oracle="""
        WITH updates AS (
          SELECT user_id,
                 CAST(round(sum(value) * 100, 0) AS BIGINT) AS balance_cents,
                 CAST(count(*) AS BIGINT) AS n_events
          FROM events
          WHERE event_type IN ('purchase', 'signup')
          GROUP BY user_id
        ),
        base AS (
          SELECT CAST(c_custkey AS BIGINT) AS user_id,
                 CAST(round(c_acctbal * 100, 0) AS BIGINT) AS balance_cents,
                 CAST(0 AS BIGINT) AS n_events
          FROM customer
        )
        SELECT user_id, balance_cents, n_events,
               CAST((user_id IN (SELECT user_id FROM updates)) AS INT) AS updated
        FROM updates
        UNION ALL
        SELECT user_id, balance_cents, n_events, 0 AS updated
        FROM base b WHERE user_id NOT IN (SELECT user_id FROM updates)
        """,
    tags=("sink", "cdc"),
)
def sink_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch MERGE (SCD1 upsert) without a table format: new per-user
    aggregates overwrite matching base rows, unmatched base rows
    survive — ``WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT``
    compiled to updates ∪ (base ⟕anti updates). The anti-join
    formulation beats the full-outer-join MERGE shape when updates
    are a small fraction of the base (the overwhelmingly common
    case): the base side streams through one anti probe against the
    broadcast update keys — no base-side shuffle at all — where a
    full outer join would shuffle the entire base on user_id. The
    batch twin of ``stream_foreach_batch_upsert``; swap the final
    write for a Delta/Iceberg MERGE INTO where a table format is
    available.

    The ``updated`` flag rides into the hash so a row surviving from
    the wrong side (stale base row shadowing its update) cannot
    cancel out."""
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer")
    updates = (
        ev.filter(F.col("event_type").isin("purchase", "signup"))
        .groupBy("user_id")
        .agg(
            F.round(F.sum("value") * 100, 0).cast("bigint").alias("balance_cents"),
            F.count("*").alias("n_events"),
        )
        .withColumn("updated", F.lit(1))
    )
    base = cust.select(
        F.col("c_custkey").cast("bigint").alias("user_id"),
        F.round(F.col("c_acctbal") * 100, 0).cast("bigint").alias("balance_cents"),
        F.lit(0).cast("bigint").alias("n_events"),
        F.lit(0).alias("updated"),
    )
    kept = base.join(F.broadcast(updates.select("user_id")), "user_id", "left_anti")
    return updates.unionByName(kept)


def bulk_write_range_sorted(
    df: DataFrame, path: str, keys: list[str], num_partitions: int | None = None
) -> None:
    """A5 analog: write ``df`` as range-partitioned, key-sorted Parquet."""
    out = (
        df.repartitionByRange(num_partitions, *keys)
        if num_partitions
        else df.repartitionByRange(*keys)
    )
    out.sortWithinPartitions(*keys).write.mode("overwrite").parquet(path)


def write_hive_partitioned(
    df: DataFrame, path: str, partition_cols: list[str], sort_keys: list[str] | None = None
) -> None:
    """Hive-style directory partitioning (``path/col=value/...``): the
    coarse pruning axis that range-sorting alone can't give. A filter on a
    partition column never opens non-matching directories — Catalyst turns
    it into ``PartitionFilters`` at plan time (zero I/O, not even footer
    reads), the exact analog of scanning only the HBase regions whose key
    range matches (A12).

    Layout contract at 100 TB: partition on the low-cardinality pruning
    axis (date, contig/chromosome), range-sort WITHIN partitions on the
    fine key so row-group stats handle the rest. Over-partitioning
    (millions of tiny dirs) kills the file listing — keep partitions
    ≥ ~1 GB and let row-group stats do the fine-grained work."""
    w = df.repartition(*partition_cols)
    if sort_keys:
        w = w.sortWithinPartitions(*partition_cols, *sort_keys)
    w.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def write_bucketed(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    path: str,
    keys: list[str],
    n_buckets: int,
) -> None:
    """Bucketed, sorted table: the co-located-join layout. Both sides of a
    recurring large-large join bucketed by the join key into the same
    bucket count hash-place matching keys into matching files, so the join
    compiles to a zero-Exchange SortMergeJoin — the shuffle is paid ONCE
    at write time and amortized over every subsequent join/aggregation on
    that key. This is the Spark-native analog of the reference pre-
    splitting regions so scans never re-distribute (A4/A5/A12).

    Scale: pick n_buckets so each bucket file is 128 MB–1 GB at target
    volume (100 TB / 1 GB ≈ 10⁵ buckets); bucket counts on the two sides
    must match (or divide evenly, AQE-era Spark can coalesce)."""
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    (
        df.write.mode("overwrite")
        .option("path", path)
        .bucketBy(n_buckets, *keys)
        .sortBy(*keys)
        .saveAsTable(table)
    )


_Z_BITS = 16
_Z_BUCKETS = 16

# Bit-interleave as pure integer arithmetic (sum of disjoint powers of
# two) — the one formulation Spark and DuckDB evaluate identically with
# no bitwise-operator dialect differences.
_Z_SQL = " + ".join(
    f"(((l_partkey & 65535) >> {b}) & 1) * {1 << (2 * b + 1)}"
    f" + (((l_suppkey & 65535) >> {b}) & 1) * {1 << (2 * b)}"
    for b in range(_Z_BITS)
)


def _zvalue_col():
    import functools
    import operator

    def bit(col, b, shift):
        masked = F.col(col).bitwiseAND(65535)
        return F.shiftright(masked, b).bitwiseAND(1).cast("bigint") * (1 << shift)

    return functools.reduce(
        operator.add,
        [
            bit("l_partkey", b, 2 * b + 1) + bit("l_suppkey", b, 2 * b)
            for b in range(_Z_BITS)
        ],
    )


@register(
    "sink_zorder_layout",
    oracle=f"""
        WITH z AS (
          SELECT l_partkey, l_suppkey, CAST({_Z_SQL} AS BIGINT) AS zval
          FROM lineitem
        ),
        m AS (SELECT max(zval) AS zmax FROM z)
        SELECT CAST(zval * {_Z_BUCKETS} // (zmax + 1) AS BIGINT) AS bucket,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(min(l_partkey) AS BIGINT) AS min_part,
               CAST(max(l_partkey) AS BIGINT) AS max_part,
               CAST(min(l_suppkey) AS BIGINT) AS min_supp,
               CAST(max(l_suppkey) AS BIGINT) AS max_supp,
               CAST(min(zval) AS BIGINT) AS min_z,
               CAST(max(zval) AS BIGINT) AS max_z
        FROM z CROSS JOIN m
        GROUP BY 1
        """,
    tags=("sink", "layout"),
)
def sink_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) clustered write: interleave the low 16
    bits of (l_partkey, l_suppkey) into a z-value, range-bucket rows
    by it, write the layout bucket-partitioned and z-sorted within
    each file, then read the layout back and report per-bucket
    min/max bounds for BOTH dimensions — the multi-column data-
    skipping layout Delta OPTIMIZE ZORDER / Iceberg sort orders
    produce, and the 2-D generalization of the reference's
    single-key range-sorted HFile layout (`sink_bulk_put`). The
    payoff the stats exhibit: every bucket bounds part AND supplier
    ranges simultaneously, so a predicate on EITHER key prunes
    buckets (a 1-D sort bounds only its own key).

    The z-value is a codegen'd integer expression (sum of disjoint
    powers of two — identical arithmetic in the DuckDB oracle, no
    bitwise-dialect traps); bucketing divides by the max z from a
    broadcast 1-row aggregate; the write is one range shuffle, the
    same cost as any sorted sink. The oracle recomputes the stats
    from the plain table, proving the clustered write lossless and
    the bucket bounds exact — wrong bounds would admit wrong prunes
    downstream."""
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    z = li.withColumn("zval", _zvalue_col())
    zmax = z.agg(F.max("zval").alias("zmax"))
    bucketed = z.crossJoin(F.broadcast(zmax)).select(
        "l_partkey",
        "l_suppkey",
        "zval",
        (F.col("zval") * _Z_BUCKETS / (F.col("zmax") + 1))
        .cast("bigint")
        .alias("bucket"),
    )
    out = scratch_dir("zorder")
    write_hive_partitioned(bucketed, out, ["bucket"], sort_keys=["zval"])
    back = spark.read.schema(bucketed.schema).parquet(out)
    return back.groupBy(F.col("bucket").cast("bigint").alias("bucket")).agg(
        F.count("*").alias("n_rows"),
        F.min("l_partkey").alias("min_part"),
        F.max("l_partkey").alias("max_part"),
        F.min("l_suppkey").alias("min_supp"),
        F.max("l_suppkey").alias("max_supp"),
        F.min("zval").alias("min_z"),
        F.max("zval").alias("max_z"),
    )


@register(
    "sink_write_audit_publish",
    oracle="""
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
                 AS total_cents
        FROM orders
        WHERE o_orderkey % 3 <> 0
        GROUP BY o_orderpriority
        """,
    tags=("sink", "layout"),
)
def sink_write_audit_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-Audit-Publish (the Iceberg/Delta WAP pattern without a
    table format): the new snapshot lands in an UNPUBLISHED staging
    dir, an AUDIT pass validates it (row count + key checksum
    recomputed from the staged files must equal the expectation
    computed from the source — a corrupt or partial write never
    publishes), and only then an atomic pointer swap (os.replace of
    a one-line manifest) makes readers see it. Readers resolve the
    pointer first, so they observe the old or the new snapshot,
    never a mix — the isolation a bare directory overwrite cannot
    give. Final read-back through the pointer is hash-verified
    against the source-side oracle (losslessness of the whole
    write→audit→publish→read cycle).

    Scale: audit is one aggregate over the staged files (count +
    xor-ish sum of keys); publish is O(1) metadata. Same posture as
    production WAP: data volume touches the cluster, the commit is
    a pointer."""
    snap = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 3 != 0
    ).select("o_orderkey", "o_orderpriority", "o_totalprice")

    root = scratch_dir("wap")
    version = "v2"
    staging = f"{root}/{version}"
    snap.write.mode("overwrite").parquet(staging)

    # AUDIT: recompute from the STAGED FILES and compare to the source
    expect = snap.agg(
        F.count("*").alias("n"), F.sum("o_orderkey").alias("ksum")
    ).collect()[0]
    staged = spark.read.schema(snap.schema).parquet(staging)
    got = staged.agg(
        F.count("*").alias("n"), F.sum("o_orderkey").alias("ksum")
    ).collect()[0]
    if (got.n, got.ksum) != (expect.n, expect.ksum):
        raise RuntimeError(
            f"WAP audit failed: staged ({got.n},{got.ksum}) "
                f"!= expected ({expect.n},{expect.ksum}) — not publishing"
        )

    # PUBLISH: atomic pointer swap
    ptr_tmp = f"{root}/.ptr.{os.getpid()}"
    with open(ptr_tmp, "w", encoding="utf-8") as fh:
        fh.write(version)
    os.replace(ptr_tmp, f"{root}/CURRENT")

    # READ path: resolve pointer, then read the published snapshot
    with open(f"{root}/CURRENT", encoding="utf-8") as fh:
        published = fh.read().strip()
    back = spark.read.schema(snap.schema).parquet(f"{root}/{published}")
    return back.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
        ).cast("bigint").alias("total_cents"),
    )
