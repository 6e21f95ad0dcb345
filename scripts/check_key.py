"""Spot-check ONE registered key against its DuckDB oracle.

Same comparator discipline as scripts/driver_mirror.py (row count +
sorted-column schema + order-insensitive value hash) but for a single
key, so an operator edit can be verified in seconds instead of re-running
the full mirror. Usage:

    python scripts/check_key.py <key> [sf_dir ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    if len(sys.argv) < 2:
        print("usage: python scripts/check_key.py <key> [sf_dir ...]", file=sys.stderr)
        return 2

    import duckdb
    from pyspark.sql import SparkSession

    key = sys.argv[1]
    sf_dirs = sys.argv[2:] or ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]

    # Validate the key BEFORE paying the SparkSession startup cost.
    from gvcf_hbase_spark.registry import load_all as _load_all

    if key not in _load_all():
        print(f"unknown key: {key!r} (not in the registry)", file=sys.stderr)
        return 2

    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
        .appName(f"check-{key}")
        .config("spark.driver.memory", os.environ.get("SPARK_MIRROR_DRIVER_MEM", "4g"))
        .config("spark.sql.shuffle.partitions", "32")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from gvcf_hbase_spark.registry import load_all
    from gvcf_hbase_spark.sources.tables import TABLES

    spec = load_all()[key]
    rc = 0
    for sf_dir in sf_dirs:
        t0 = time.time()
        sdf = spec.fn(spark, sf_dir).toPandas()
        t_spark = time.time() - t0
        if spec.oracle is None:
            print(f"{key} @ {sf_dir}: rows={len(sdf)} spark={t_spark:.2f}s (rows-only op)")
            continue
        con = duckdb.connect()
        for t in TABLES:
            p = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(p):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        t0 = time.time()
        odf = con.execute(spec.oracle).fetchdf()
        t_oracle = time.time() - t0

        # THE mirror comparator (tests/conftest.canon_rows) — not a
        # hand-rolled lookalike, so a spot-check can never disagree with
        # the driver mirror on the same key and fixture
        from tests.conftest import canon_rows

        s_cols, s_rows = canon_rows(sdf)
        o_cols, o_rows = canon_rows(odf)
        ok = s_cols == o_cols and s_rows == o_rows
        status = "MATCH" if ok else "FAIL"
        print(
            f"{key} @ {sf_dir}: {status} rows={len(s_rows)}/{len(o_rows)} "
            f"cols_ok={s_cols == o_cols} spark={t_spark:.2f}s oracle={t_oracle:.2f}s"
        )
        if not ok:
            rc = 1
            print("  spark cols:", s_cols)
            print("  oracle cols:", o_cols)
            for i, (s, o) in enumerate(zip(s_rows, o_rows)):
                if s != o:
                    print(f"  first diff @sortedrow {i}: spark={s} oracle={o}")
                    break
    spark.stop()
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
