"""Real Structured Streaming operators (SURVEY §2B.10): availableNow
micro-batch runs over the same parquet, memory sink, returned as a
DataFrame. These are the rows-only ``queries()`` entries (their semantics
aren't batch-SQL-expressible); the oracle-checked twins live in
batch_twins.py and tests assert batch ≡ stream.

At scale the same plans run with a real trigger: state (windows, dedup
keys, per-user carry-forward) lives in the executor-local RocksDB state
store keyed by group — the Spark-native replacement for the reference's
partition-local open-block iterator state (SURVEY §2A A9 / §3.2).
"""

from __future__ import annotations

import os
import uuid

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from gvcf_hbase_spark.operators.analytics import _KLEENE_ORACLE
from gvcf_hbase_spark.registry import register
from gvcf_hbase_spark.sources.tables import (
    fixture_copy,
    load_table,
    scratch_dir,
    table_schema,
    with_event_time,
)
from gvcf_hbase_spark.streaming.batch_twins import tumbling_agg

# Observability for the multi-micro-batch soak: number of micro-batches the
# most recent run_available_now drain executed (from the query's progress
# history). Single-file availableNow runs report 1; the soak asserts > 1.
last_batch_count: int = 0


def _stream_split() -> int:
    return int(os.environ.get("SPARK_GRAFT_STREAM_SPLIT", "1") or "1")


def _events_stream_dir(sf_dir: str) -> str:
    """FileStreamSource requires a *directory*; expose the events parquet
    through a directory that symlinks it, a fixture copy
    (sources.tables.fixture_copy) per events version and split.

    Soak mode (r09, the rate-limited multi-micro-batch path): when
    ``SPARK_GRAFT_STREAM_SPLIT=N`` (N > 1) the events table is rewritten
    as N EVENT-TIME-ORDERED chunk files with increasing mtimes, so that
    with ``maxFilesPerTrigger=1`` (which the split implies, see
    :func:`read_events_stream`) each chunk becomes its own micro-batch
    arriving in event-time order — the daily-ingest shape, where the
    watermark advances between batches but drops nothing (chunk k+1's
    min ts ≥ chunk k's max ts). Out-of-order/late-file semantics are
    exercised separately (tests/test_streaming.py watermark tests)."""
    split = _stream_split()

    def write(d: str) -> None:
        if split <= 1:
            os.symlink(os.path.abspath(f"{sf_dir}/events.parquet"), f"{d}/events.parquet")
        else:
            import duckdb

            con = duckdb.connect()
            # sort ONCE into a row-numbered temp table; each chunk is then
            # a cheap rn-range filter instead of its own full-table sort
            con.execute(
                "CREATE TEMP TABLE ev AS "
                "SELECT row_number() OVER (ORDER BY ts, event_id) AS rn, * "
                f"FROM read_parquet('{sf_dir}/events.parquet')"
            )
            n = con.execute("SELECT count(*) FROM ev").fetchone()[0]
            per = (n + split - 1) // split
            now = None
            for i in range(split):
                con.execute(
                    f"COPY (SELECT * EXCLUDE (rn) FROM ev "
                    f"WHERE rn > {i * per} AND rn <= {(i + 1) * per} ORDER BY rn) "
                    f"TO '{d}/chunk_{i:03d}.parquet' (FORMAT PARQUET)"
                )
                # strictly increasing mtimes pin the FileStreamSource
                # pickup order to the event-time order
                if now is None:
                    now = os.stat(f"{d}/chunk_{i:03d}.parquet").st_mtime
                os.utime(f"{d}/chunk_{i:03d}.parquet", (now + i, now + i))
            con.close()

    return fixture_copy(sf_dir, "events", f"events_stream_{split}", write)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming source over the events parquet. Event-time columns come
    from the same dtype-branching helper as the batch loader
    (sources.tables.with_event_time), plus ``ts_evt`` — the µs TIMESTAMP
    (with timezone) form watermarks require (session tz is UTC, so its
    wall values equal the NTZ twin's). Soak mode (a split above 1) picks
    up one file per trigger (availableNow honors source rate limits, so N
    chunk files become N micro-batches); without a split a many-file
    events directory is not cut into one micro-batch per file."""
    reader = spark.readStream.schema(table_schema(spark, sf_dir, "events"))
    if _stream_split() > 1:
        reader = reader.option("maxFilesPerTrigger", 1)
    raw = reader.parquet(_events_stream_dir(sf_dir))
    return with_event_time(raw).withColumn(
        "ts_evt", F.timestamp_micros(F.col("ts_us_long"))
    )


def run_available_now(stream_df: DataFrame, output_mode: str = "append") -> DataFrame:
    """Drain a streaming DataFrame with trigger(availableNow) into a memory
    sink and return the materialized result."""
    name = f"mem_{uuid.uuid4().hex[:12]}"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    global last_batch_count
    try:
        last_batch_count = sum(1 for p in q.recentProgress if p.get("numInputRows", 0) > 0)
    except Exception:
        last_batch_count = 0
    spark = stream_df.sparkSession
    return spark.table(name)


_WATERMARK_ORACLE = """
    WITH wm AS (
      SELECT max(CAST(ts AS TIMESTAMP)) - INTERVAL '10 minutes' AS w FROM events
    )
    SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS window_start,
           event_type, count(*) AS cnt
    FROM events GROUP BY 1, 2
    HAVING window_start + INTERVAL '1 hour' <= (SELECT w FROM wm)
"""


@register("stream_watermark_late", oracle=_WATERMARK_ORACLE, tags=("streaming",))
def stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark + tumbling window in append mode: a window emits only
    once the 10-minute watermark passes its end; data later than the
    watermark is dropped.

    Oracle-checked even though watermarking is stateful: under
    availableNow over a finite source the final watermark is exactly
    max(ts) - 10min, so the emitted set is precisely the windows whose
    END <= that bound — expressible as a HAVING against the batch
    aggregate. Late-row dropping is additionally asserted in tests."""
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts_evt", "10 minutes")
        .groupBy(F.window("ts_evt", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"))
        # ltz->ntz cast is exact under the UTC session tz and makes the
        # column comparable with the oracle's naive timestamps
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "cnt",
        )
    )
    return run_available_now(agg, "append")


@register(
    "stream_dedup",
    oracle="""
    SELECT event_id, user_id, event_type, value FROM events
    """,
    tags=("streaming",),
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup on event_id within the watermark horizon
    (dropDuplicatesWithinWatermark) — the streaming face of dedup_exact.
    State holds one key per id inside the horizon, then ages out.
    Oracle-checked: event_id is unique in the fixture, so the exact
    contract is 'every event passes through exactly once' — any dropped
    or duplicated row hash-fails against the plain batch scan."""
    ev = read_events_stream(spark, sf_dir)
    dedup = ev.withWatermark("ts_evt", "1 hour").dropDuplicatesWithinWatermark(["event_id"])
    return run_available_now(
        dedup.select("event_id", "user_id", "event_type", "value"), "append"
    )


def _signup_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Static dimension: each user's first signup time, computed batch-side.
    At scale this is the offline-maintained dim table a stream enriches
    against; small by construction -> broadcast into every micro-batch."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("signup_ts"))
    )


@register(
    "stream_join_static",
    oracle="""
    SELECT e.event_id, e.user_id, s.signup_ts,
           CAST(CAST(e.ts AS TIMESTAMP) AS DATE) AS purchase_day
    FROM events e
    JOIN (
        SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS signup_ts
        FROM events WHERE event_type = 'signup' GROUP BY user_id
    ) s ON e.user_id = s.user_id
    WHERE e.event_type = 'purchase'
    """,
    tags=("streaming", "join"),
)
def stream_join_static(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: enrich the purchase stream with a broadcast
    static dimension (per-user first signup). The static side is re-read
    per micro-batch; no state store involved, so this is watermark-free
    and the output is exactly the batch join — hence a full oracle (the
    one streaming entry where that's sound)."""
    dim = F.broadcast(_signup_dim(spark, sf_dir))
    ev = read_events_stream(spark, sf_dir).filter(F.col("event_type") == "purchase")
    joined = ev.join(dim, "user_id").select(
        "event_id",
        "user_id",
        "signup_ts",
        F.to_date("ts_us").alias("purchase_day"),
    )
    return run_available_now(joined, "append")


def _click_purchase_join(spark: SparkSession, sf_dir: str, how: str) -> DataFrame:
    """Clicks joined to the same user's purchases within 1 hour after
    (inclusive band), both sides watermarked 2 hours so the state store
    evicts a row once the band can no longer match."""
    base = read_events_stream(spark, sf_dir)
    clicks = (
        base.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts_evt").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        base.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts_evt").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    return clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
        how,
    )


@register(
    "stream_join_stream",
    oracle="""
    SELECT e1.event_id AS click_id, e2.event_id AS purchase_id, e1.user_id
    FROM events e1 JOIN events e2
      ON e1.user_id = e2.user_id
     AND e1.event_type = 'click' AND e2.event_type = 'purchase'
     AND epoch_us(e2.ts) >= epoch_us(e1.ts)
     AND epoch_us(e2.ts) <= epoch_us(e1.ts) + 3600000000
    """,
    tags=("streaming", "join"),
)
def stream_join_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with a time-range condition: purchases
    within 1 hour after a click by the same user. Both sides carry
    watermarks so the state store can evict rows once the range condition
    can no longer match (click state lives <=1h + watermark).
    Oracle-checked: an INNER stream-stream join emits exactly the
    predicate's matches — the watermark governs state eviction, not the
    result set — so under availableNow the output equals the batch
    theta join with the identical (inclusive) band predicate."""
    joined = _click_purchase_join(spark, sf_dir, "inner").select(
        "click_id", "purchase_id", F.col("c_user").alias("user_id")
    )
    return run_available_now(joined, "append")


def batch_click_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of stream_join_stream (same predicate on the batch
    DataFrame) — the equivalence check lives in tests."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts_us").alias("click_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts_us").alias("purchase_ts"),
    )
    return clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select("click_id", "purchase_id", F.col("c_user").alias("user_id"))


def _carry_batch(pdf: pd.DataFrame, last: float | None):
    """Vectorized per-key carry-forward over one micro-batch: sort by
    event time, mask ``value`` where the row is a purchase, ``ffill``,
    seed the leading gap with the state value. Returns ``(event_ids,
    carried_values, new_last)`` — no per-row Python; this is the hot path
    of both stateful processors and runs as three pandas column ops per
    (key, batch)."""
    pdf = pdf.sort_values(["ts_us_long", "event_id"])
    purchases = pdf["value"].astype("float64").where(pdf["event_type"].eq("purchase"))
    carried = purchases.ffill()
    if last is not None:
        carried = carried.fillna(last)
    tail = carried.iloc[-1] if len(carried) else float("nan")
    new_last = float(tail) if pd.notna(tail) else last
    return (
        pdf["event_id"].astype("int64").to_numpy(),
        carried.to_numpy(dtype="float64"),
        new_last,
    )


# transformWithStateInPandas speaks protobuf to the JVM state server; the
# module is importable without it, but any run crashes the driver worker.
# Gate registration on the runtime dependency (environment rule: no pip).
try:
    from google.protobuf import descriptor as _pb_descriptor  # noqa: F401

    HAS_TWS_RUNTIME = True
except ImportError:  # pragma: no cover - depends on environment
    HAS_TWS_RUNTIME = False


def _register_tws(fn):
    if HAS_TWS_RUNTIME:
        return register("stream_stateful_tws", oracle=None, tags=("streaming", "gvcf"))(fn)
    return fn


@_register_tws
def stream_stateful_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same A9-descended per-user carry-forward as stream_stateful, on the
    Spark 4 ``transformWithStateInPandas`` StatefulProcessor API (the
    successor to applyInPandasWithState: typed value/list/map state in the
    executor state store, timers, TTL). Rows-only; tests assert equality
    with the applyInPandasWithState twin. Registered only when the
    protobuf runtime TWS needs is importable."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    ev = read_events_stream(spark, sf_dir).select(
        "user_id", "ts_us_long", "event_id", "event_type", "value"
    )
    out_schema = "event_id bigint, user_id bigint, last_purchase_value double"

    class CarryForward(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._last = handle.getValueState("last", "last double")

        def handleInputRows(self, key, rows, timerValues):
            (user_id,) = key
            last = self._last.get()[0] if self._last.exists() else None
            ids, vals, last = _carry_batch(pd.concat(list(rows)), last)
            self._last.update((last,))
            yield pd.DataFrame(
                {
                    "event_id": ids,
                    "user_id": user_id,
                    "last_purchase_value": vals,
                }
            )

        def close(self) -> None:
            pass

    result = ev.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=CarryForward(),
        outputStructType=out_schema,
        outputMode="append",
        timeMode="None",
    )
    return run_available_now(result, "append")


def carry_forward_stateful(ev: DataFrame) -> DataFrame:
    """The A9 carry-forward as an applyInPandasWithState pipeline over any
    (user_id, ts_us_long, event_id, event_type, value) stream. The state
    value (last purchase seen per user) persists across micro-batches in
    the executor state store — correctness does NOT depend on all of a
    user's events arriving in one batch, only on batches arriving in
    event-time order per key (guaranteed here by time-ordered source
    files; at scale by the upstream log's per-key ordering). The
    multi-batch equivalence test drives this with maxFilesPerTrigger=1."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "event_id bigint, user_id bigint, last_purchase_value double"
    state_schema = "last double"

    def carry(key, pdfs, state: GroupState):
        (user_id,) = key
        last = state.get[0] if state.exists else None
        ids, vals, last = _carry_batch(pd.concat(list(pdfs)), last)
        state.update((last,))
        yield pd.DataFrame(
            {
                "event_id": ids,
                "user_id": user_id,
                "last_purchase_value": vals,
            }
        )

    return ev.select(
        "user_id", "ts_us_long", "event_id", "event_type", "value"
    ).groupBy("user_id").applyInPandasWithState(
        carry,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def kleene_stateful(ev: DataFrame) -> DataFrame:
    """``view click+ purchase`` CEP as a streaming NFA over any
    (user_id, ts_us_long, event_id, event_type) stream — the variable-
    length pattern the lead()-compiled fixed-length matcher
    (`analytics_pattern_match`) cannot express, run incrementally. State
    per user is the NFA register: phase (0 idle / 1 view seen / 2 in
    click run) + the open match's start context + click count — four
    scalars in the executor state store, surviving micro-batches, so a
    run that starts in batch N and completes in batch N+3 still emits.

    The transition loop is per-row Python over the batch BY DESIGN: a
    Kleene NFA is inherently sequential per key (each transition reads
    the previous state — no vectorization exists; Flink-CEP executes the
    same way), the loop body is four scalar ops over pre-extracted numpy
    arrays, and the vectorized twin for batch data is
    `analytics_pattern_kleene`'s gaps-and-islands form. Correctness
    needs per-key event-time-ordered batch arrival (same contract as
    `carry_forward_stateful`; rows are sorted within each batch)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "start_event_id bigint, user_id bigint, n_clicks bigint, "
        "start_us bigint, span_us bigint"
    )
    state_schema = "phase int, start_eid long, start_us long, n_clicks long"

    def nfa(key, pdfs, state: GroupState):
        (user_id,) = key
        phase, start_eid, start_us, n_clicks = (
            state.get if state.exists else (0, 0, 0, 0)
        )
        pdf = pd.concat(list(pdfs)).sort_values(["ts_us_long", "event_id"])
        out = []
        for eid, us, et in zip(
            pdf["event_id"].to_numpy(),
            pdf["ts_us_long"].to_numpy(),
            pdf["event_type"].to_numpy(),
        ):
            if et == "view":
                phase, start_eid, start_us, n_clicks = 1, int(eid), int(us), 0
            elif et == "click":
                if phase == 1:
                    phase, n_clicks = 2, 1
                elif phase == 2:
                    n_clicks += 1
            elif et == "purchase":
                if phase == 2 and int(us) - start_us <= 172_800_000_000:
                    out.append(
                        (start_eid, user_id, n_clicks, start_us, int(us) - start_us)
                    )
                phase = 0
            else:
                phase = 0
        state.update((phase, start_eid, start_us, n_clicks))
        if out:
            yield pd.DataFrame(
                out,
                columns=["start_event_id", "user_id", "n_clicks", "start_us", "span_us"],
            )

    return (
        ev.select("user_id", "ts_us_long", "event_id", "event_type")
        .groupBy("user_id")
        .applyInPandasWithState(
            nfa,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


@register("stream_pattern_kleene", oracle=_KLEENE_ORACLE, tags=("streaming", "cep"))
def stream_pattern_kleene(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `analytics_pattern_kleene` (see
    :func:`kleene_stateful`). Oracle-checked like `stream_stateful`: the
    NFA pass is deterministic for any batching that respects per-key
    time order, so its output must equal the batch gaps-and-islands SQL
    row for row; tests additionally force 4 micro-batches through the
    state store and assert the same equality."""
    result = kleene_stateful(read_events_stream(spark, sf_dir))
    return run_available_now(result, "append")


_CARRY_ORACLE = """
    SELECT event_id, user_id,
           last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase_value
    FROM events
"""


@register("stream_stateful", oracle=_CARRY_ORACLE, tags=("streaming", "gvcf"))
def stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9-descended custom stateful operator: per-user carry-forward of
    the last purchase value, via applyInPandasWithState (see
    :func:`carry_forward_stateful`). Oracle-checked against the batch
    window form of the same semantics: the stateful pass is deterministic
    for any batching that respects per-key time order (proven across 4
    forced micro-batches in tests), so its output must equal the window
    twin row for row."""
    result = carry_forward_stateful(read_events_stream(spark, sf_dir))
    return run_available_now(result, "append")


_TUMBLING_ORACLE = """
    SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS window_start,
           event_type,
           count(*) AS cnt,
           round(sum(value), 4) AS total_value
    FROM events GROUP BY 1, 2
"""


@register("stream_foreach_batch_upsert", oracle=_TUMBLING_ORACLE, tags=("streaming",))
def stream_foreach_batch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch upsert sink — the production pattern for streaming
    into a keyed table: the tumbling aggregation runs in update mode, and
    each micro-batch OVERWRITES exactly the partitions of the keys it
    updated (dynamic partition overwrite, partition = update key). Batch
    replay is idempotent — rewriting a key's partition with its new total
    is a no-op on retry — which is what makes the sink exactly-once
    end-to-end on top of at-least-once batch delivery.

    Unusually for a streaming-only entry this one IS oracle-checked: the
    final upserted table must equal the batch tumbling aggregation,
    whatever the micro-batching was.

    At 100 TB: swap the parquet dir for a transactional table format's
    MERGE (the partition-overwrite trick is the format-free equivalent);
    state store holds one running agg per (window, type) key.
    """
    out_dir = scratch_dir("upsert_sink")
    ckpt_dir = scratch_dir("upsert_ckpt")

    agg = tumbling_agg(read_events_stream(spark, sf_dir)).withColumn(
        "wpart", F.date_format("window_start", "yyyy-MM-dd-HH")
    )

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("wpart", "event_type")
            .parquet(out_dir)
        )

    q = (
        agg.writeStream.foreachBatch(upsert)
        .outputMode("update")
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out_dir).select(
        "window_start", "event_type", "cnt", "total_value"
    )


@register("stream_join_stream_outer", oracle=None, tags=("streaming", "join"))
def stream_join_stream_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream join: every click, with its within-1-hour
    purchase where one exists, NULL otherwise — the attribution query
    where unconverted clicks matter as much as converted ones.

    Unlike the inner form (``stream_join_stream``), the outer result is
    NOT batch-SQL-expressible under a finite run: a NULL row is emitted
    only when the click's join state is EVICTED (the watermark proves no
    matching purchase can still arrive), so clicks near the end of the
    available data are withheld, pending more input — correct streaming
    semantics, unrepresentable as a DuckDB query over the finished table.
    Measured on this build (availableNow, 2 h watermark, 1 h band): the
    no-data final batch emits all NULLs except clicks in the trailing
    ~4–8 h eviction horizon. Hence rows-only registration; the strong
    checks live in tests/test_streaming.py: matched output ≡ the batch
    inner join exactly, NULL output ⊆ the batch left-join's NULL set,
    and every sufficiently-old unmatched click IS emitted.

    State cost at scale: both sides keyed by user in the state store;
    click state lives (band + watermark) and is dropped by the same
    eviction that triggers NULL emission — state is bounded by the
    traffic of the horizon, never the stream's history."""
    joined = _click_purchase_join(spark, sf_dir, "left_outer").select(
        "click_id", F.col("c_user").alias("user_id"), "purchase_id"
    )
    return run_available_now(joined, "append")


_COMPLETE_TOPK_ORACLE = """
    WITH c AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS total_cents
      FROM events GROUP BY user_id
    )
    SELECT user_id, n_events, total_cents
    FROM c ORDER BY n_events DESC, user_id LIMIT 10
"""


@register("stream_complete_topk", oracle=_COMPLETE_TOPK_ORACLE, tags=("streaming",))
def stream_complete_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complete-output-mode leaderboard: top-10 users by event count,
    maintained as a streaming aggregate — the third output mode, whose
    contract differs from append/update in kind: every trigger REWRITES
    the whole result table, which is what lets a sort+limit sit on top
    of a streaming aggregation at all (append forbids it — row set
    isn't monotone; a user can leave the top 10).

    After the availableNow drain the memory sink holds the LAST rewrite
    = the aggregate over the full fixture, so the batch top-k SQL is an
    exact oracle (with the (n_events desc, user_id) tiebreak pinned so
    the cut at rank 10 is deterministic). No watermark: complete-mode
    aggregates keep all group state forever — correct and bounded here
    (state = #users), the documented cost at 100 TB: complete mode fits
    leaderboard-sized cardinalities, not raw-key ones; for unbounded
    keys use update mode + an external upsert sink
    (`stream_foreach_batch_upsert`).
    """
    base = read_events_stream(spark, sf_dir)
    agg = base.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum(F.round(F.col("value") * 100, 0).cast("bigint")).alias("total_cents"),
    )
    top = agg.orderBy(F.col("n_events").desc(), "user_id").limit(10)
    return run_available_now(top, "complete")
