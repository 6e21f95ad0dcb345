"""The rehearsal fixture's replication scheme: facts grow by the factor
with unique, offset keys and intact foreign keys, dims are copied once,
and the hot-key events table sits on a single user."""

from __future__ import annotations

import filecmp
import importlib.util
import os

import duckdb

from tests.conftest import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_SMALL = os.path.join(os.path.dirname(SF_DIR), "sf0.001")
FACTOR = 3
# the replica-offset key of each fact table; all but lineitem's are unique
FACT_KEYS = {
    "customer": "c_custkey",
    "orders": "o_orderkey",
    "lineitem": "l_orderkey",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}


def _rehearse():
    spec = importlib.util.spec_from_file_location(
        "rehearse", os.path.join(REPO, "scripts", "rehearse.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_build_dataset_replicates_with_integrity(tmp_path):
    rehearse = _rehearse()
    out = rehearse.build_dataset(FACTOR, src=SF_SMALL, out=str(tmp_path / "sf"))
    con = duckdb.connect()

    def q(sql):
        return con.execute(sql).fetchone()[0]

    def rows(path):
        return q(f"SELECT count(*) FROM read_parquet('{path}')")

    def keys(path, key):
        return q(f"SELECT count(DISTINCT {key}) FROM read_parquet('{path}')")

    assert set(FACT_KEYS) == set(rehearse.FACTS)
    for t, key in FACT_KEYS.items():
        path, src = f"{out}/{t}.parquet", f"{SF_SMALL}/{t}.parquet"
        assert rows(path) == FACTOR * rows(src), t
        assert keys(path, key) == FACTOR * keys(src, key), f"{t}: replicas share a {key}"
        if t != "lineitem":
            assert keys(path, key) == rows(path), f"{t}: duplicate {key}"
    for t in rehearse.DIMS:
        assert filecmp.cmp(f"{out}/{t}.parquet", f"{SF_SMALL}/{t}.parquet", shallow=False), t

    for child, fk, parent, pk in (
        ("orders", "o_custkey", "customer", "c_custkey"),
        ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ):
        dangling = q(
            f"SELECT count(*) FROM read_parquet('{out}/{child}.parquet') "
            f"WHERE {fk} NOT IN (SELECT {pk} FROM read_parquet('{out}/{parent}.parquet'))"
        )
        assert dangling == 0, f"{child}.{fk} outside {parent}.{pk}"

    hot = f"{out}hot/events.parquet"
    assert rows(hot) == FACTOR * rows(f"{SF_SMALL}/events.parquet")
    assert q(f"SELECT count(DISTINCT user_id) FROM read_parquet('{hot}')") == 1
    con.close()
