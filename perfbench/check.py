"""Output checks for the benchmark.

Two levels, so that the per-run check stays cheap:

* ``verify`` compares each key's full output with its DuckDB oracle through
  ``tests.conftest.canon_rows`` (column names, row count, order-insensitive
  canonical values). Keys in ``scripts/driver_mirror.py``'s
  ``SF01_ORACLE_DEMOTE`` set, or without an oracle, get a rows-only check
  (the key runs and returns at least one row). It also records each key's
  ``digest``. It runs once per program version and fixture set; the result
  is cached by ``run.py``.
* ``digest`` is an order-insensitive fingerprint of a DataFrame computed by
  Spark itself: the row count, plus for oracle-matched keys the xor and the
  sum of the high halves of a per-row ``xxhash64``. Every run recomputes it
  on its untimed pass and compares it with the verified one.

Run as a script it verifies the keys named on the command line and writes
the JSON result:

    python3 perfbench/check.py <fixture_dir> <out.json> <key> [<key> ...]
"""

from __future__ import annotations

import importlib.util
import json
import os
import sys
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def demoted_keys() -> set[str]:
    """``SF01_ORACLE_DEMOTE`` from ``scripts/driver_mirror.py``: oracles
    that are DuckDB-side resource blowups at sf0.1."""
    path = os.path.join(ROOT, "scripts", "driver_mirror.py")
    spec = importlib.util.spec_from_file_location("driver_mirror", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return set(mod.SF01_ORACLE_DEMOTE)


def digest(df, full: bool) -> list[int]:
    """``[rows]`` or, with ``full``, ``[rows, xor(h), sum(h >> 32)]`` where
    ``h = xxhash64(all columns)``."""
    from pyspark.sql import functions as F

    if not full:
        return [df.count()]
    h = F.xxhash64(*[F.col(f"`{c}`") for c in df.columns])
    row = df.agg(
        F.count(F.lit(1)), F.bit_xor(h), F.sum(F.shiftright(h, 32))
    ).collect()[0]
    return [int(v or 0) for v in row]


def verify(spark, specs, keys, fixture_dir: str, demote: set[str]) -> dict:
    """Check every key against its oracle; returns ``{key: {"ok", "how",
    "detail", "digest"}}``. A key that raises is a failed check."""
    import duckdb

    from gvcf_hbase_spark.sources.tables import TABLES
    from tests.conftest import canon_rows

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(fixture_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    out = {}
    try:
        for key in keys:
            spec = specs[key]
            oracle = spec.oracle is not None and key not in demote
            rec = {"ok": False, "how": "oracle" if oracle else "rows-only", "detail": "", "digest": None}
            try:
                df = spec.fn(spark, fixture_dir)
                if oracle:
                    s_cols, s_rows = canon_rows(df.toPandas())
                    o_cols, o_rows = canon_rows(con.execute(spec.oracle).df())
                    if s_cols != o_cols:
                        rec["detail"] = f"schema: spark={s_cols} oracle={o_cols}"
                    elif len(s_rows) != len(o_rows):
                        rec["detail"] = f"rows: spark={len(s_rows)} oracle={len(o_rows)}"
                    elif s_rows != o_rows:
                        rec["detail"] = "values differ"
                    else:
                        rec["ok"] = True
                rec["digest"] = digest(df, full=oracle)
                if not oracle:
                    rec["ok"] = rec["digest"][0] > 0
                    rec["detail"] = f"rows={rec['digest'][0]}"
            except Exception as e:  # a failing key is a failed check; go on
                traceback.print_exc(limit=3, file=sys.stderr)
                rec["detail"] = f"{type(e).__name__}: {str(e)[:200]}"
            out[key] = rec
    finally:
        con.close()
    return out


def main(argv: list[str]) -> int:
    fixture_dir, out_path, keys = argv[0], argv[1], argv[2:]
    sys.path.insert(0, ROOT)
    from gvcf_hbase_spark.registry import load_all
    from gvcf_hbase_spark.session import get_spark
    from layers import stop_spark

    spark = get_spark("perfbench-verify")
    try:
        result = verify(spark, load_all(), keys, fixture_dir, demoted_keys())
    finally:
        stop_spark(spark)
    with open(out_path, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
