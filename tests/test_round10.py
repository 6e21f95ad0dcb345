"""Round-10 focused tests: the one-compute boundary's plan shape, the
soft-conf honor rule, and the segment-dedup NULL-text contract (ADVICE r09)."""

from __future__ import annotations

import os

import pyspark.sql.functions as F

from gvcf_hbase_spark.registry import load_all
from gvcf_hbase_spark.session import apply_runtime_confs, one_compute_boundary


def test_boundary_default_is_local_checkpoint(spark):
    """The boundary must keep the r09 plan shape: it shows up as a scanned
    ExistingRDD/LogicalRDD, NOT an InMemoryRelation — the plan-ledger
    digests depend on this."""
    df = spark.range(10).withColumn("x", F.col("id") * 2)
    out = one_compute_boundary(df)
    logical = out._jdf.queryExecution().logical().toString()
    assert "LogicalRDD" in logical or "ExistingRDD" in logical, logical
    assert "InMemoryRelation" not in logical
    assert out.storageLevel.useMemory is False and out.storageLevel.useDisk is False


def test_soft_conf_honors_user_value(spark):
    """apply_runtime_confs must not clobber an explicitly user-set
    cteRecursionRowLimit (ADVICE r09: the relaxed guard leaked globally)."""
    key = "spark.sql.cteRecursionRowLimit"
    original = spark.conf.get(key)
    try:
        spark.conf.set(key, "54321")
        apply_runtime_confs(spark)
        assert spark.conf.get(key) == "54321"
    finally:
        spark.conf.set(key, original)
    # ...but a hard conf is (re)applied unconditionally
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"


def test_segment_dedup_null_text_dropped(spark, tmp_path):
    """NULL-text docs are ABSENT from curate_segment_dedup output — the
    oracle's `JOIN n_all USING (doc_id)` semantics (ADVICE r09: the r09
    spine rewrite would have emitted an n_segs=NULL row; fixtures carry no
    NULL text so only this test pins the contract)."""
    src = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    fix_dir = str(tmp_path / "nulltext")
    os.makedirs(fix_dir, exist_ok=True)
    one_null = src.limit(3).withColumn(
        "text", F.when(F.col("doc_id") == src.limit(1).collect()[0].doc_id, None).otherwise(F.col("text"))
    )
    one_null.coalesce(1).write.parquet(os.path.join(fix_dir, "documents.parquet"))
    null_id = one_null.filter(F.col("text").isNull()).collect()[0].doc_id
    out = load_all()["curate_segment_dedup"].fn(spark, fix_dir).toPandas()
    assert null_id not in set(out["doc_id"])
    assert len(out) == 2
    assert not out["n_dropped"].isna().any()
