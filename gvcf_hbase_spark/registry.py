"""Query registry — the single source of truth for the engine's operator
inventory (SURVEY §2B).

Each operator module registers its queries with :func:`register`; the
driver contract file ``__spark_entry__.py`` re-exports the registry as
``queries()`` / ``oracle_sql()``. Keeping the Spark plan and its DuckDB
oracle SQL side by side in the operator module is deliberate: the §5.4
determinism rules (identical aliases, identical rounding, µs-or-coarser
timestamps) are much easier to hold when both sides are written together.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    key: str
    fn: QueryFn
    oracle: str | None  # None => driver does a rows-only check
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""


QUERIES: dict[str, QuerySpec] = {}

# Operator modules that register queries on import, in SURVEY §7.1
# milestone order.
_MODULES = [
    "gvcf_hbase_spark.operators.relational",
    "gvcf_hbase_spark.operators.joins",
    "gvcf_hbase_spark.operators.windows",
    "gvcf_hbase_spark.operators.setops",
    "gvcf_hbase_spark.operators.subqueries",
    "gvcf_hbase_spark.operators.scalar_fns",
    "gvcf_hbase_spark.operators.dedup",
    "gvcf_hbase_spark.operators.similarity",
    "gvcf_hbase_spark.operators.text",
    "gvcf_hbase_spark.operators.multimodal",
    "gvcf_hbase_spark.operators.curation",
    "gvcf_hbase_spark.operators.analytics",
    "gvcf_hbase_spark.operators.stats",
    "gvcf_hbase_spark.operators.features",
    "gvcf_hbase_spark.operators.timeseries",
    "gvcf_hbase_spark.operators.linkage",
    "gvcf_hbase_spark.operators.cdc",
    "gvcf_hbase_spark.operators.graphs",
    "gvcf_hbase_spark.operators.sketches",
    "gvcf_hbase_spark.operators.geo",
    "gvcf_hbase_spark.operators.udfs",
    "gvcf_hbase_spark.streaming.batch_twins",
    "gvcf_hbase_spark.streaming.stream_ops",
    "gvcf_hbase_spark.sources.gvcf_text",
    "gvcf_hbase_spark.sources.gvcf_datasource",
    "gvcf_hbase_spark.sources.binary_files",
    "gvcf_hbase_spark.plans.layout",
]


def register(key: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Decorator: add ``fn(spark, sf_dir) -> DataFrame`` to the inventory."""

    def deco(fn: QueryFn) -> QueryFn:
        if key in QUERIES:
            raise ValueError(f"duplicate query key: {key}")
        QUERIES[key] = QuerySpec(key=key, fn=fn, oracle=oracle, tags=tags, doc=fn.__doc__ or "")
        return fn

    return deco


# Driver-facing enumeration order. The correctness harness verifies only a
# 50-key PREFIX of the inventory per round.
#
# STANDING ROTATION POLICY (r08 verdict action 1 -- permanent; every round
# self-rotates by this rule):
#   1. changed-since-verdict first: any key whose implementation or oracle
#      changed AFTER its newest driver verdict goes in slots 1..c, so the
#      hard signal never describes code that no longer exists;
#   2. never-driver-verified next (new keys added this round);
#   3. oldest-verdict-first fills the remaining slots (ties broken by key
#      name for determinism), keeping the cumulative 381/381 coverage
#      fresh instead of letting the oldest tail go stale.
# Slots 51+ stage the NEXT-oldest tail so the next rotation is mechanical.
#
# Round-10 window: slots 1-3 are this round's changed-since-verdict set
# (dedup_containment [r10 bitmap/sgemm third path], graph_pagerank [r10
# lean iterative round], curate_segment_dedup [r10 NULL-text spine
# filter]); slots 4-13 are the r09-verdict gate caveat — the keys the r09
# optimization touched that the rotated r09 sample missed, which the
# verdict ordered sampled FIRST this round (multimodal_phash_neardup,
# multimodal_cdc_chunk_dedup, profile_drift_psi, dedup_simhash_recall,
# sim_pq_recall, and the five gvcf cohort ops; curate_segment_dedup of
# that list is already in slot 3). Slots 14-50: the staged next-oldest
# tail from the r09 rotation, in its staged order.
_PRIORITY = [
    # ===== round-10 window: slots 1-3 changed-since-verdict =====
    "dedup_containment",
    "graph_pagerank",
    "curate_segment_dedup",
    # ===== slots 4-13: r09-optimizer-touched, missed by the r09 sample =====
    "multimodal_phash_neardup",
    "multimodal_cdc_chunk_dedup",
    "profile_drift_psi",
    "dedup_simhash_recall",
    "sim_pq_recall",
    "gvcf_genotype_concordance",
    "gvcf_relatedness_ibs",
    "gvcf_mendelian_violations",
    "gvcf_phase_by_transmission",
    "gvcf_singleton_share",
    # ===== slots 14-50: staged next-oldest (r09 stage list, in order) =====
    "scan_project",
    "scan_range_key",
    "sort_multi",
    "source_csv_inline",
    "source_json_props",
    "topk_global",
    "topk_keyset_page",
    "win_expand_blocks",
    "win_frame_rows",
    "win_lag_lead",
    "win_ntile_pct",
    "win_rank",
    "win_topk_group",
    "agg_approx_percentile",
    "agg_collect",
    "agg_time_rollup",
    "curate_pack_batches",
    "curate_pipeline_e2e",
    "dedup_embedding_cosine",
    "dedup_exact",
    "dedup_near_minhash",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "gvcf_combine",
    "gvcf_encode_roundtrip",
    "join_asof",
    "join_asof_forward",
    "join_theta",
    "multimodal_features",
    "multimodal_frame_sample",
    "multimodal_join",
    "multimodal_resize",
    "set_union_all",
    "sim_cosine_pairs",
    "sim_knn_topk",
    "sink_bucketed_join",
    "sink_bulk_put",
    "sink_hive_partitioned",
    "source_gvcf_lines",
    "stream_dedup",
    "stream_foreach_batch_upsert",
]
# Slots 51-54 stage the tail of the r09 stage list (sink_hive_partitioned,
# source_gvcf_lines, stream_dedup, stream_foreach_batch_upsert land just
# past the 50-key window; they lead the r11 rotation together with
# whatever r11 changes). Keys NOT listed above (including the full
# r09 window, which now carries the freshest verdicts) are appended by
# load_all() after the window in _MODULES order (registration order within
# a module), whatever order the process imported the modules in. Every key
# in the inventory has a driver verdict from some round; the rotation keeps
# the oldest ones cycling through the 50-key sample.

_loaded = False


def load_all() -> dict[str, QuerySpec]:
    """Import every operator module (idempotent), reorder the inventory to
    the driver-facing priority order, and return it."""
    global _loaded
    if not _loaded:
        for mod in _MODULES:
            importlib.import_module(mod)
        ordered = {k: QUERIES[k] for k in _PRIORITY if k in QUERIES}
        rank = {m: i for i, m in enumerate(_MODULES)}
        rest = [v for k, v in QUERIES.items() if k not in ordered]
        rest.sort(key=lambda v: rank.get(v.fn.__module__, len(_MODULES)))
        ordered.update({v.key: v for v in rest})
        QUERIES.clear()
        QUERIES.update(ordered)
        _loaded = True
    return QUERIES
