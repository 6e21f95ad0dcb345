"""Shared fixtures: one SparkSession, one DuckDB oracle connection, and a
compare() that mirrors the driver's t2 check (row-count + column names +
order-insensitive value comparison) but stricter: exact value equality
after canonicalization, with readable diffs on failure.
"""

from __future__ import annotations

import datetime
import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gvcf_hbase_spark.session import get_spark  # noqa: E402
from gvcf_hbase_spark.sources.tables import TABLES  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("gvcf-hbase-spark-tests")
    yield s


@pytest.fixture(scope="session")
def oracle():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


EVENTS = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
DOCUMENTS = "doc_id long, text string, lang string, source string, n_chars long"


def write_table(spark, tmp_path, name, rows, schema) -> str:
    """Write ``rows`` as fixture table ``name`` (one parquet file) under
    ``tmp_path`` and return ``tmp_path`` as the sf_dir to build keys on."""
    df = spark.createDataFrame(rows, schema)
    df.coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/{name}.parquet")
    return str(tmp_path)


def write_events(spark, tmp_path, rows, props="{}") -> str:
    """The events table from ``(event_id, seconds, user_id, event_type,
    value[, props])`` tuples, seconds counted from 2024-01-01. A tuple
    without props gets ``props``: a string, or a function of event_id."""
    base = datetime.datetime(2024, 1, 1)
    full = [
        (eid, base + datetime.timedelta(seconds=s), uid, et, val,
         own[0] if own else props if isinstance(props, str) else props(eid))
        for eid, s, uid, et, val, *own in rows
    ]
    return write_table(spark, tmp_path, "events", full, EVENTS)


def write_documents(spark, tmp_path, rows) -> str:
    """The documents table from ``(text, lang, source)`` tuples; doc_id is
    the tuple's position."""
    full = [(i, text, lang, src, len(text)) for i, (text, lang, src) in enumerate(rows)]
    return write_table(spark, tmp_path, "documents", full, DOCUMENTS)


def write_embeddings(spark, tmp_path, vecs, labels) -> str:
    """The embeddings table; vec_id is the vector's position."""
    full = [(i, [float(x) for x in v], int(lab)) for i, (v, lab) in enumerate(zip(vecs, labels))]
    return write_table(spark, tmp_path, "embeddings", full, "vec_id long, embedding array<float>, label int")


def canon_cell(v):
    """Canonical (type-family, string) for one cell. Type families are part
    of the comparison: an int on one side and a float on the other is a
    schema bug we want to catch locally (the driver compares schemas too)."""
    import numpy as np
    import pandas as pd

    if v is None or (isinstance(v, float) and math.isnan(v)) or v is pd.NaT:
        return ("null", "")
    if isinstance(v, (np.floating, float)):
        f = float(v)
        if math.isnan(f):
            return ("null", "")
        return ("float", repr(f))
    if isinstance(v, (bool, np.bool_)):
        return ("bool", str(bool(v)))
    if isinstance(v, (int, np.integer)):
        return ("int", str(int(v)))
    if isinstance(v, pd.Timestamp):
        return ("datetime", v.isoformat())
    if isinstance(v, datetime.datetime):
        return ("datetime", v.isoformat())
    if isinstance(v, datetime.date):
        return ("datetime", datetime.datetime(v.year, v.month, v.day).isoformat())
    if isinstance(v, (bytes, bytearray)):
        return ("bytes", v.hex())
    if isinstance(v, str):
        return ("str", v)
    if isinstance(v, (list, tuple, np.ndarray)):
        return ("list", "[" + ",".join("%s:%s" % canon_cell(x) for x in v) + "]")
    import decimal

    if isinstance(v, decimal.Decimal):
        # Deliberately a distinct family: a Decimal from DuckDB means the
        # oracle SQL is missing a CAST — fix the SQL, don't paper over it.
        return ("decimal", str(v))
    return (type(v).__name__, str(v))


def canon_rows(pdf):
    cols = sorted(pdf.columns)
    rows = [
        tuple(canon_cell(row[c]) for c in cols)
        for row in pdf[cols].to_dict("records")
    ]
    rows.sort()
    return cols, rows


def compare_frames(spark_df, con, sql, key=""):
    spdf = spark_df.toPandas()
    odf = con.execute(sql).df()
    s_cols, s_rows = canon_rows(spdf)
    o_cols, o_rows = canon_rows(odf)
    assert s_cols == o_cols, f"[{key}] column mismatch: spark={s_cols} oracle={o_cols}"
    assert len(s_rows) == len(o_rows), (
        f"[{key}] row count mismatch: spark={len(s_rows)} oracle={len(o_rows)}"
    )
    if s_rows != o_rows:
        diffs = [
            (i, s, o)
            for i, (s, o) in enumerate(zip(s_rows, o_rows))
            if s != o
        ][:5]
        msg = "\n".join(
            f"  row {i}:\n    spark : {s}\n    oracle: {o}" for i, s, o in diffs
        )
        raise AssertionError(f"[{key}] value mismatch ({len(diffs)}+ rows differ):\n{msg}")


@pytest.fixture(scope="session")
def compare(oracle):
    def _cmp(spark_df, sql, key=""):
        compare_frames(spark_df, oracle, sql, key)

    return _cmp
