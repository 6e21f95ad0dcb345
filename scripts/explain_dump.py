"""Dump `.explain("formatted")` for registered keys to one file per key.

Used by the optimization rounds to snapshot before/after physical plans
(plans/r{N}/<key>_before.txt / _after.txt). The returned plans are not
run, but building a key runs its eager probes and the upstream stages its
lineage cuts materialize (see session.one_compute_boundary).

Usage: python scripts/explain_dump.py <out_dir> [suffix] [key ...]
  out_dir  directory to write <key><suffix>.txt files into
  suffix   e.g. "_before" / "_after" (default "")
  key ...  keys to dump (default: every non-streaming key)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gvcf_hbase_spark.registry import load_all
from gvcf_hbase_spark.session import get_spark


def main() -> None:
    out_dir = sys.argv[1]
    suffix = sys.argv[2] if len(sys.argv) > 2 else ""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(out_dir, exist_ok=True)
    specs = load_all()
    keys = sys.argv[3:] or [k for k, s in specs.items() if "streaming" not in s.tags]
    spark = get_spark("explain-dump")
    for k in keys:
        spec = specs[k]
        try:
            df = spec.fn(spark, sf_dir)
            text = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # pragma: no cover - diagnostic path
            text = f"ERROR planning {k}: {e}"
        with open(os.path.join(out_dir, f"{k}{suffix}.txt"), "w") as f:
            f.write(text)
        print(k, flush=True)


if __name__ == "__main__":
    main()
