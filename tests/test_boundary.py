"""The engine's one lineage cut: every materialization goes through
``session.one_compute_boundary`` (a lazy ``localCheckpoint``), and none
leaves a CacheManager entry behind in a long-lived session."""

from __future__ import annotations

import ast
import os

from gvcf_hbase_spark.registry import load_all
from tests.conftest import SF_DIR

SF_SMALL = os.path.join(os.path.dirname(SF_DIR), "sf0.001")
PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "gvcf_hbase_spark")
CUT_METHODS = {"persist", "cache", "checkpoint", "localCheckpoint"}


def test_only_session_cuts_lineage():
    """Outside session.py no module calls persist/cache/checkpoint/
    localCheckpoint directly: a direct cut bypasses the boundary (and a
    persist pins a CacheManager entry for the session's life)."""
    found = []
    for root, _, files in os.walk(PKG):
        for name in files:
            path = os.path.join(root, name)
            if not name.endswith(".py") or path == os.path.join(PKG, "session.py"):
                continue
            with open(path) as f:
                tree = ast.parse(f.read(), path)
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in CUT_METHODS
                ):
                    found.append(f"{os.path.relpath(path, PKG)}:{node.lineno} .{node.func.attr}(")
    assert not found, "direct lineage cuts outside session.py:\n" + "\n".join(found)


def test_dedup_keys_leave_no_cache_entry(spark):
    """Running the shingle-sharing dedup keys in one session leaves the
    CacheManager empty after each of them."""
    specs = load_all()
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    for key in ("dedup_near_minhash", "dedup_minhash_recall", "dedup_minhash_band_sweep"):
        specs[key].fn(spark, SF_SMALL).write.format("noop").mode("overwrite").save()
        assert cache.isEmpty(), f"{key} left a cached relation behind"
