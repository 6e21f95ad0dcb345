"""Batch ≡ stream equivalence (SURVEY §5.3): every windowed aggregation
must produce identical results through the batch plan and through
Structured Streaming with trigger(availableNow), plus semantic checks for
the streaming-only operators (watermark drop, dedup, stateful).
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from tests.conftest import SF_DIR, canon_rows
from gvcf_hbase_spark.registry import load_all
from gvcf_hbase_spark.streaming.batch_twins import session_agg, sliding_agg, tumbling_agg
from gvcf_hbase_spark.streaming.stream_ops import read_events_stream, run_available_now

SPECS = load_all()


def _assert_same(batch_df, stream_df, key):
    b_cols, b_rows = canon_rows(batch_df.toPandas())
    s_cols, s_rows = canon_rows(stream_df.toPandas())
    assert b_cols == s_cols, key
    assert b_rows == s_rows, f"{key}: batch and stream outputs differ"


def test_tumbling_batch_equals_stream(spark):
    batch = SPECS["stream_tumbling"].fn(spark, SF_DIR)
    stream = run_available_now(tumbling_agg(read_events_stream(spark, SF_DIR)), "complete")
    _assert_same(batch, stream, "tumbling")


def test_sliding_batch_equals_stream(spark):
    batch = SPECS["stream_sliding"].fn(spark, SF_DIR)
    stream = run_available_now(sliding_agg(read_events_stream(spark, SF_DIR)), "complete")
    _assert_same(batch, stream, "sliding")


def test_session_batch_equals_stream(spark):
    batch = SPECS["stream_session"].fn(spark, SF_DIR)
    stream = run_available_now(session_agg(read_events_stream(spark, SF_DIR)), "complete")
    _assert_same(batch, stream, "session")


def test_stateful_apis_agree(spark):
    """The applyInPandasWithState and transformWithStateInPandas
    implementations of the per-user carry-forward must produce identical
    results (same semantics, two state APIs). Skipped where the TWS
    protobuf runtime is unavailable (this container lacks protobuf)."""
    import pytest

    from gvcf_hbase_spark.streaming.stream_ops import HAS_TWS_RUNTIME, stream_stateful_tws

    if not HAS_TWS_RUNTIME:
        pytest.skip("transformWithStateInPandas needs google.protobuf at runtime")
    a = SPECS["stream_stateful"].fn(spark, SF_DIR)
    b = stream_stateful_tws(spark, SF_DIR)
    _assert_same(a, b, "stateful APIs")


def test_time_rollup_equals_direct_aggregation(spark):
    """The hypertable rollup contract: re-aggregating the 5-minute fine
    tier to 1 hour must equal aggregating the raw events to 1 hour
    directly (count/sum are mergeable)."""
    _assert_same(
        SPECS["stream_tumbling"].fn(spark, SF_DIR),
        SPECS["agg_time_rollup"].fn(spark, SF_DIR),
        "rollup",
    )


def test_watermark_output_is_subset_of_batch(spark):
    batch = {
        (r.window_start, r.event_type): r.cnt
        for r in SPECS["stream_tumbling"].fn(spark, SF_DIR).collect()
    }
    late = SPECS["stream_watermark_late"].fn(spark, SF_DIR).collect()
    assert late, "append-mode windowed agg should finalize windows below the watermark"
    for r in late:
        assert (r.window_start, r.event_type) in batch
        assert r.cnt == batch[(r.window_start, r.event_type)]


def test_stream_dedup_unique_ids(spark):
    out = SPECS["stream_dedup"].fn(spark, SF_DIR)
    total = out.count()
    assert total == out.select("event_id").distinct().count()
    assert total > 0


def test_stateful_carry_forward_equals_batch_twin(spark):
    """The applyInPandasWithState carry-forward must equal the batch
    window twin (win_carry_forward) row for row."""
    stream = SPECS["stream_stateful"].fn(spark, SF_DIR)
    batch = SPECS["win_carry_forward"].fn(spark, SF_DIR).withColumnRenamed(
        "last_purchase_value", "last_purchase_value"
    )
    s = {(r.event_id): r.last_purchase_value for r in stream.collect()}
    b = {(r.event_id): r.last_purchase_value for r in batch.collect()}
    assert len(s) == len(b)
    assert s == b


def test_kleene_nfa_equals_batch_islands(spark):
    """The streaming NFA and the batch gaps-and-islands matcher are two
    implementations of the same pattern semantics — every match, click
    count, start, and span must agree."""
    stream = SPECS["stream_pattern_kleene"].fn(spark, SF_DIR)
    batch = SPECS["analytics_pattern_kleene"].fn(spark, SF_DIR)
    _assert_same(batch, stream, "kleene")


def test_kleene_state_survives_micro_batches(spark, tmp_path):
    """A click run opened in one micro-batch and closed in a later one
    must still match: split events into 4 time-ordered files, force
    maxFilesPerTrigger=1, and the NFA output must equal the batch form."""
    import uuid

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gvcf_hbase_spark.sources.tables import load_table, with_event_time
    from gvcf_hbase_spark.streaming.stream_ops import kleene_stateful

    ev = load_table(spark, SF_DIR, "events")
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    pdf = ev.select(*cols).orderBy("ts_us_long", "event_id").toPandas()
    d = tmp_path / "events_4files_kleene"
    d.mkdir()
    for i, q in enumerate(np.array_split(pdf, 4)):
        pq.write_table(
            pa.Table.from_pandas(q.reset_index(drop=True), preserve_index=False),
            str(d / f"{i:02d}.parquet"),
        )

    schema = spark.read.parquet(str(d)).schema
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    result = kleene_stateful(with_event_time(raw))
    name = f"mbk_{uuid.uuid4().hex[:10]}"
    q = (
        result.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n_batches = sum(1 for p in q.recentProgress if p["numInputRows"] > 0)
    assert n_batches >= 4, f"expected >=4 micro-batches, got {n_batches}"
    _assert_same(
        SPECS["analytics_pattern_kleene"].fn(spark, SF_DIR),
        spark.table(name),
        "kleene-4batch",
    )


def test_stateful_state_survives_micro_batches(spark, tmp_path):
    """The claim that per-key state persists across micro-batches is only
    tested if there ARE multiple micro-batches — availableNow over the
    single fixture file runs exactly one. Split events into 4 time-ordered
    files, force maxFilesPerTrigger=1 (4 real batches through the state
    store), and the carry-forward must still equal the batch window twin;
    the tumbling agg in complete mode must also merge across batches."""
    import uuid

    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gvcf_hbase_spark.sources.tables import load_table, with_event_time
    from gvcf_hbase_spark.streaming.stream_ops import carry_forward_stateful

    ev = load_table(spark, SF_DIR, "events")
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    pdf = ev.select(*cols).orderBy("ts_us_long", "event_id").toPandas()
    d = tmp_path / "events_4files"
    d.mkdir()
    for i, q in enumerate(np.array_split(pdf, 4)):
        pq.write_table(
            pa.Table.from_pandas(q.reset_index(drop=True), preserve_index=False),
            str(d / f"{i:02d}.parquet"),
        )

    schema = spark.read.parquet(str(d)).schema
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    result = carry_forward_stateful(with_event_time(raw))
    name = f"mb_{uuid.uuid4().hex[:10]}"
    q = (
        result.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n_batches = sum(1 for p in q.recentProgress if p["numInputRows"] > 0)
    assert n_batches >= 4, f"expected >=4 micro-batches, got {n_batches}"

    stream = {r.event_id: r.last_purchase_value for r in spark.table(name).collect()}
    batch = {
        r.event_id: r.last_purchase_value
        for r in SPECS["win_carry_forward"].fn(spark, SF_DIR).collect()
    }
    assert len(stream) == len(batch)
    assert stream == batch

    # windowed agg state must merge across the same 4 batches
    agg = tumbling_agg(with_event_time(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(str(d))
    ))
    name2 = f"mb_{uuid.uuid4().hex[:10]}"
    q2 = (
        agg.writeStream.format("memory")
        .queryName(name2)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
    _assert_same(
        SPECS["stream_tumbling"].fn(spark, SF_DIR), spark.table(name2), "tumbling-4batch"
    )


def test_stream_stream_join_equals_batch_theta(spark):
    """Stream-stream time-range join must equal the batch theta join with
    the identical predicate (availableNow drains everything, so no rows
    are lost to watermark eviction in this run)."""
    from gvcf_hbase_spark.streaming.stream_ops import batch_click_purchase_join

    batch = batch_click_purchase_join(spark, SF_DIR)
    stream = SPECS["stream_join_stream"].fn(spark, SF_DIR)
    _assert_same(batch, stream, "stream-stream join")


@pytest.mark.mirror  # slow e2e (r10: default-suite budget; runs in the -m mirror tier)
def test_checkpoint_restart_exactly_once(spark, tmp_path):
    """Restart-with-checkpoint contract: run the upsert sink over an
    initial file set, STOP, let new files arrive, restart from the SAME
    checkpoint — the aggregation state must resume (not recount run-1
    files, not lose run-1 contributions) and the final upserted table
    must equal the batch aggregate over everything. This is the
    exactly-once-across-job-restarts property a production streaming
    pipeline actually relies on."""
    import pyspark.sql.functions as _F
    from gvcf_hbase_spark.sources.tables import load_table, with_event_time

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    ts_us = _F.unix_micros(_F.col("ts").cast("timestamp"))
    mid = ev.select(
        _F.expr("percentile(unix_micros(cast(ts as timestamp)), 0.5)").alias("m")
    ).collect()[0]["m"]
    src = tmp_path / "src"
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    # time-ordered arrival: earlier half first, so run-2 data is never
    # behind run-1's watermark
    ev.filter(ts_us <= mid).coalesce(1).write.parquet(str(src / "batch1"))

    schema = ev.schema

    def run_once():
        raw = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "*.parquet")
            .parquet(f"{src}/*")
        )
        stream = with_event_time(raw).withColumn(
            "ts_evt", _F.timestamp_micros(_F.col("ts_us_long"))
        )
        agg = tumbling_agg(stream).withColumn(
            "wpart", _F.date_format("window_start", "yyyy-MM-dd-HH")
        )

        def upsert(batch_df, batch_id):
            (
                batch_df.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("wpart", "event_type")
                .parquet(str(out))
            )

        q = (
            agg.writeStream.foreachBatch(upsert)
            .outputMode("update")
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    n_after_first = spark.read.parquet(str(out)).agg(_F.sum("cnt")).collect()[0][0]
    assert n_after_first < ev.count()  # only half processed so far
    ev.filter(ts_us > mid).coalesce(1).write.parquet(str(src / "batch2"))
    run_once()

    final = (
        spark.read.parquet(str(out))
        .select("window_start", "event_type", "cnt", "total_value")
    )
    batch = tumbling_agg(load_table(spark, SF_DIR, "events"))
    _assert_same(batch, final, "checkpoint-restart")


def test_stream_outer_join_containment_and_inner_exactness(spark):
    """Left-outer stream-stream join: (a) its matched rows must equal the
    batch INNER join exactly — outer-ness must not perturb matches; (b)
    its NULL rows must be a subset of the batch left join's NULL set —
    no spurious NULLs for clicks that DID convert; (c) completeness up to
    the eviction horizon: every unmatched click older than 12 h before
    the stream's max event time must have its NULL emitted (the measured
    horizon is ~4-8 h; 12 h is the contract's safe bound)."""
    import pyspark.sql.functions as _F
    from gvcf_hbase_spark.sources.tables import load_table
    from gvcf_hbase_spark.streaming.stream_ops import batch_click_purchase_join

    out = SPECS["stream_join_stream_outer"].fn(spark, SF_DIR)
    matched = {(r.click_id, r.purchase_id) for r in out.collect() if r.purchase_id is not None}
    nulls = {r.click_id for r in out.collect() if r.purchase_id is None}

    inner = batch_click_purchase_join(spark, SF_DIR)
    inner_pairs = {(r.click_id, r.purchase_id) for r in inner.collect()}
    assert matched == inner_pairs

    ev = load_table(spark, SF_DIR, "events")
    clicks = ev.filter(_F.col("event_type") == "click").select(
        _F.col("event_id").alias("click_id"), _F.col("ts_us_long").alias("cts")
    )
    unmatched_batch = {
        r.click_id: r.cts
        for r in clicks.join(
            inner.select("click_id"), "click_id", "left_anti"
        ).collect()
    }
    assert nulls <= set(unmatched_batch)

    mx = ev.agg(_F.max("ts_us_long").alias("m")).collect()[0].m
    horizon_us = 12 * 3600 * 1_000_000
    overdue = {cid for cid, cts in unmatched_batch.items() if cts < mx - horizon_us}
    assert overdue <= nulls, f"withheld beyond horizon: {sorted(overdue - nulls)[:5]}"


def test_complete_mode_topk_across_micro_batches(spark, tmp_path):
    """Complete mode must REWRITE the leaderboard each trigger: drive the
    top-10 aggregate through 4 forced micro-batches and the final memory
    table must equal the batch top-10 over everything — no leftover rows
    from earlier rewrites (a user who ranked top-10 mid-stream but not at
    the end must be gone)."""
    import uuid

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pyspark.sql.functions as _F

    from gvcf_hbase_spark.sources.tables import load_table, with_event_time

    ev = load_table(spark, SF_DIR, "events")
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    pdf = ev.select(*cols).orderBy("ts_us_long", "event_id").toPandas()
    d = tmp_path / "events_4files_topk"
    d.mkdir()
    for i, q in enumerate(np.array_split(pdf, 4)):
        pq.write_table(
            pa.Table.from_pandas(q.reset_index(drop=True), preserve_index=False),
            str(d / f"{i:02d}.parquet"),
        )

    schema = spark.read.parquet(str(d)).schema
    raw = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(str(d))
    )
    agg = with_event_time(raw).groupBy("user_id").agg(
        _F.count("*").alias("n_events"),
        _F.sum(_F.round(_F.col("value") * 100, 0).cast("bigint")).alias("total_cents"),
    )
    top = agg.orderBy(_F.col("n_events").desc(), "user_id").limit(10)
    name = f"topk_{uuid.uuid4().hex[:10]}"
    q = (
        top.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n_batches = sum(1 for p in q.recentProgress if p["numInputRows"] > 0)
    assert n_batches >= 4, f"expected >=4 micro-batches, got {n_batches}"

    stream = [(r.user_id, r.n_events, r.total_cents) for r in spark.table(name).collect()]
    batch = [
        (r.user_id, r.n_events, r.total_cents)
        for r in ev.groupBy("user_id")
        .agg(
            _F.count("*").alias("n_events"),
            _F.sum(_F.round(_F.col("value") * 100, 0).cast("bigint")).alias("total_cents"),
        )
        .orderBy(_F.col("n_events").desc(), "user_id")
        .limit(10)
        .collect()
    ]
    assert sorted(stream) == sorted(batch)
    assert len(stream) == 10


@pytest.mark.continuous_trigger
@pytest.mark.mirror  # slow e2e (r10: default-suite budget; runs in the -m mirror tier)
def test_processing_time_trigger_rocksdb_state_recovery(spark, tmp_path):
    """A REAL continuous run (r04 verdict action 6): processingTime
    trigger + RocksDB state store, started, stopped mid-stream, and
    restarted from the same checkpoint. availableNow proves batch≡stream
    semantics; this proves the operational story — offsets and per-key
    state must survive a stop/restart through the RocksDB provider, so
    a purchase seen before the restart carries forward to events that
    only arrive after it. Assertions: (1) the restarted run emits only
    the new files' rows (offsets recovered, no reprocessing), (2) the
    union of both runs equals the batch twin row for row (state
    recovered — values cross the restart boundary), (3) the checkpoint
    holds RocksDB-format state artifacts (.zip/.changelog), not the
    default HDFS provider's .delta files."""
    import uuid

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gvcf_hbase_spark.sources.tables import load_table, with_event_time
    from gvcf_hbase_spark.streaming.stream_ops import carry_forward_stateful

    ev = load_table(spark, SF_DIR, "events")
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    pdf = ev.select(*cols).orderBy("ts_us_long", "event_id").toPandas()
    src = tmp_path / "events_continuous"
    src.mkdir()
    parts = np.array_split(pdf, 4)

    def write_part(i):
        pq.write_table(
            pa.Table.from_pandas(parts[i].reset_index(drop=True), preserve_index=False),
            str(src / f"{i:02d}.parquet"),
        )

    write_part(0)
    write_part(1)
    ckpt = str(tmp_path / "ckpt")
    schema = spark.read.parquet(str(src)).schema
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    rocksdb = (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
    old = spark.conf.get(provider_key, None)
    spark.conf.set(provider_key, rocksdb)
    # memory sink cannot recover from a checkpoint; the parquet file sink
    # is the exactly-once sink a real deployment restarts against.
    out = str(tmp_path / "out")

    def read_out():
        return {
            r.event_id: r.last_purchase_value
            for r in spark.read.parquet(out).collect()
        }

    try:
        def start():
            raw = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(str(src))
            )
            return (
                carry_forward_stateful(with_event_time(raw))
                .writeStream.format("parquet")
                .option("path", out)
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .trigger(processingTime="250 milliseconds")
                .start()
            )

        q1 = start()
        q1.processAllAvailable()
        q1.stop()
        q1.awaitTermination()
        run1 = read_out()
        assert len(run1) == len(parts[0]) + len(parts[1])

        # new data lands while the query is DOWN; restart from checkpoint
        write_part(2)
        write_part(3)
        q2 = start()
        q2.processAllAvailable()
        q2.stop()
        q2.awaitTermination()
        both = read_out()
        run2 = {k: v for k, v in both.items() if k not in run1}
    finally:
        if old is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, old)

    # (1) offsets recovered: the restart emits exactly the new files' rows
    # (no reprocessing — run-1 event_ids appear once, with run-1 values)
    assert len(both) == len(pdf)
    assert len(run2) == len(parts[2]) + len(parts[3])
    assert {k: both[k] for k in run1} == run1

    # (2) state recovered: union equals the batch twin (carry-forward
    # values for run-2 events depend on purchases seen only in run 1)
    batch = {
        r.event_id: r.last_purchase_value
        for r in SPECS["win_carry_forward"].fn(spark, SF_DIR).collect()
    }
    assert both == batch

    # (3) the state store on disk is RocksDB-format
    import glob

    arts = glob.glob(f"{ckpt}/state/**/*", recursive=True)
    assert any(p.endswith((".zip", ".changelog")) for p in arts), arts
    assert not any(p.endswith(".delta") for p in arts), "HDFS provider leaked in"


@pytest.mark.mirror  # slow e2e (r10: default-suite budget; runs in the -m mirror tier)
def test_soak_multi_micro_batch_equals_single_drain(monkeypatch):
    """Rate-limited soak pin (r09): with the events table split into 4
    event-time-ordered chunk files and maxFilesPerTrigger=1, the
    registered streaming ops run as REAL multi-micro-batch streams —
    state crosses batch boundaries, the watermark advances between
    batches — and must produce exactly the single-drain output. The
    full oracled-family soak is scripts/stream_soak.py (committed as
    STREAM_SOAK_r{N}.json); this test pins the mechanism in-suite for
    two state-heavy representatives and asserts the split actually
    produced multiple micro-batches."""
    from gvcf_hbase_spark import session as S
    from gvcf_hbase_spark.streaming import stream_ops as so

    spark = S.get_spark()
    sf = "/root/testdata/sf0.001"
    for key in ("stream_stateful", "stream_watermark_late"):
        single = canon_rows(SPECS[key].fn(spark, sf).toPandas())
        monkeypatch.setenv("SPARK_GRAFT_STREAM_SPLIT", "4")
        multi = canon_rows(SPECS[key].fn(spark, sf).toPandas())
        assert so.last_batch_count > 1, f"{key}: soak ran a single micro-batch"
        monkeypatch.delenv("SPARK_GRAFT_STREAM_SPLIT")
        assert single == multi, f"{key}: multi-micro-batch output differs"
