"""Fixture-table reads resolve each table's schema once per table version:
a warm ``load_table`` launches no Spark job, a rewritten table is
re-inferred, and the bulk-put read-back uses the schema it wrote. The
``spread_heavy`` size probe lists its scan once."""

from __future__ import annotations

import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq

from gvcf_hbase_spark.plans import layout
from gvcf_hbase_spark.registry import load_all
from gvcf_hbase_spark.sources import tables
from gvcf_hbase_spark.sources.tables import TABLES, load_table
from tests.conftest import SF_DIR

SF_SMALL = os.path.join(os.path.dirname(SF_DIR), "sf0.001")


def _group_jobs(spark, group: str) -> list[int]:
    """Job ids launched under ``group``, once the listener bus has caught up."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return sorted(sc.statusTracker().getJobIdsForGroup(group))


def _new_group(spark) -> str:
    group = f"test-{uuid.uuid4().hex}"
    spark.sparkContext.setJobGroup(group, group)
    return group


def _clear_group(spark) -> None:
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)


def test_warm_load_table_launches_no_job(spark):
    """After one read per table, reading every table again launches zero
    jobs, and each schema equals a plain ``spark.read.parquet`` schema."""
    for name in TABLES:
        load_table(spark, SF_SMALL, name)
    group = _new_group(spark)
    try:
        dfs = {name: load_table(spark, SF_SMALL, name) for name in TABLES}
    finally:
        _clear_group(spark)
    assert _group_jobs(spark, group) == []
    for name, df in dfs.items():
        plain = spark.read.parquet(f"{SF_SMALL}/{name}.parquet").schema
        derived = 2 if name == "events" else 0  # with_event_time's ts_us_long, ts_us
        assert len(df.schema.fields) == len(plain.fields) + derived, name
        assert df.schema[: len(plain.fields)] == plain, name


def test_rewritten_table_is_reinferred(spark, tmp_path):
    """A table rewritten at the same path with an extra column changes its
    fingerprint, so ``load_table`` re-infers and the memo keeps one entry."""
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert load_table(spark, str(tmp_path), "t").columns == ["a"]
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b"]
    assert df.schema == spark.read.parquet(str(path)).schema
    assert sum(k[:2] == (str(tmp_path), "t") for k in tables._SCHEMA_MEMO) == 1


def test_bulk_put_read_back_infers_nothing(spark, monkeypatch):
    """``sink_bulk_put`` reads its layout back with the schema it wrote:
    before the query's action, the only jobs are the write's own."""
    write = layout.HBaseTarget.write
    written, write_groups = [], []

    def write_in_own_group(self, df, table):
        write_groups.append(_new_group(spark))
        try:
            write(self, df, table)
        finally:
            spark.sparkContext.setJobGroup(build, build)
        written.append(f"{self.path}/{table}")

    monkeypatch.setattr(layout.HBaseTarget, "write", write_in_own_group)
    load_table(spark, SF_SMALL, "events")
    build = _new_group(spark)
    try:
        df = load_all()["sink_bulk_put"].fn(spark, SF_SMALL)
    finally:
        _clear_group(spark)
    assert _group_jobs(spark, build) == []
    assert _group_jobs(spark, write_groups[0])  # sample, shuffle and write
    (out,) = written
    plain = spark.read.parquet(out).select(*df.columns).schema
    assert [(f.name, f.dataType) for f in df.schema] == [
        (f.name, f.dataType) for f in plain
    ]
    df.write.format("noop").mode("overwrite").save()


def _count_calls(monkeypatch, owner, name: str) -> list[int]:
    """Wrap ``owner.name`` so each call bumps the returned one-item counter."""
    real = getattr(owner, name)
    n = [0]

    def counted(*args, **kwargs):
        n[0] += 1
        return real(*args, **kwargs)

    monkeypatch.setattr(owner, name, counted)
    return n


def test_spread_heavy_lists_scan_once(spark, tmp_path, monkeypatch):
    """spread_heavy lists its scan once and stops reading footers at the
    raw-byte floor; the real floor keeps a small table unspread."""
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

    docs = load_table(spark, SF_SMALL, "documents")
    assert tables.spread_heavy(docs) is docs

    monkeypatch.setattr(tables, "_SPREAD_HEAVY_MIN_RAW_BYTES", 1)
    listings = _count_calls(monkeypatch, ClassicDataFrame, "inputFiles")
    spread = tables.spread_heavy(docs)
    assert listings[0] == 1
    assert "RoundRobinPartitioning" in spread._jdf.queryExecution().executedPlan().toString()

    d = tmp_path / "three_files"
    d.mkdir()
    for i in range(3):
        pq.write_table(pa.table({"k": list(range(i * 10, i * 10 + 10))}), d / f"part-{i}.parquet")
    three = spark.read.parquet(str(d))
    footers = _count_calls(monkeypatch, pq, "ParquetFile")
    tables.spread_heavy(three)
    assert footers[0] == 1
