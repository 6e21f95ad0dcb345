"""Scale rehearsal: replicate the sf0.1 fixtures ``--factor`` times and run
the heavy keys against the result, one decade of scale evidence per step.

Every decade jump so far found real engine bugs (int64 overflow at sf0.1,
-0.0 hash drift, driver-heap sizing; r5: 2, r6: 1, r8: 6), so 100x claims
get rehearsed, not extrapolated. ``--factor 10`` builds ~sf1 in /tmp/sf1,
``--factor 100`` builds ~sf10 in /tmp/sf10 (~60M-row lineitem, 10M events,
500k docs each with 99 exact clones, 500k embedding vectors). There is no
new generator: DuckDB union-replicates the committed fixtures. Keys run
ENGINE-SIDE ONLY (noop sink, no oracle): DuckDB brute-force oracles are
exactly what blows up first at this scale; the oracle-checked gates live
at sf0.001/0.01/0.1.

Replication scheme (referential integrity preserved, OFF=1e6 clears every
sf0.1 key range; the max synthetic key at factor 100 is ~1e8):
  - facts get replica-offset keys: customer.c_custkey, orders.o_orderkey/
    o_custkey, lineitem.l_orderkey, events.event_id, documents.doc_id,
    embeddings.vec_id
  - events keeps user_id UNCHANGED and nudges ts by +i microseconds: the
    per-user history grows ``factor``x (the hot-key direction windows care
    about) and stays duplicate-timestamp-free
  - documents keeps text identical across replicas: every doc gains
    ``factor - 1`` exact/near clones, the worst-case dedup stress
  - dims (region/nation/supplier/part) copy once: replicating a dim's PK
    would multiply every dim join
Additionally ``<out>hot`` (/tmp/sf1hot, /tmp/sf10hot) holds an events table
with the whole replicated stream on ONE user_id: the single-hot-key stress
for the two-heap running median, run as ``win_percentile_running_full@hotkey``.

Key lists: factor <= 10 runs SF1_KEYS, the heaviest shape of each family;
larger factors run SF10_KEYS, the keys whose engine cost class stays
linear / n log n / banded along the fixture's growth directions. EXCLUDED
from SF10_KEYS (documented, not silent):
  - ngram-SSJoin-truth engine paths over the replicated corpus
    (dedup_containment, dedup_ngram_jaccard, dedup_cluster_cc,
    dedup_canonical_select, curate_segment_dedup, dedup_minhash_recall /
    band_sweep truth sides): shared-gram fanout Σdf² is clone-quadratic,
    x10^4 vs sf0.1 by construction of the fixture (measured 290-330 s at
    sf1, so ~8 h at sf10). Production runs EXACT dedup first (the engine's
    own `dedup_exact` is in the list and is linear), which collapses the
    clones these fixtures deliberately inject; the un-collapsed quadratic
    is exercised at sf1 (MIRROR_sf1_r09).
  - join_geo_grid: radius-join output pairs grow with point density², from
    66.3M pairs at sf1 to ~6.6B at sf10; the grid plan is the scale answer
    but materializing the pair count IS the workload. Exercised at sf1.
  - sim brute-force tiers (sim_cosine_pairs*, sim_knn_topk/blocked,
    dedup_embedding_cosine, dedup_semantic_centroid): the small-side tiers
    of the dispatch ladder; the celled/ANN tiers that own this scale run.

Process model: each key runs in its OWN subprocess (a fresh JVM, driver
memory from SPARK_GRAFT_DRIVER_MEM) under a hard wall timeout, so one heap
death or runaway stage cannot void the rest of the evidence, and either is
recorded as a result, not a crash.

Usage:
    python scripts/rehearse.py --factor N [--rebuild] [--keys k1,k2] [--timeout S]
Factor 100 needs a large driver heap: export SPARK_GRAFT_DRIVER_MEM=48g.
Writes /tmp/sf<N/10>_rehearsal.json and per-key JSONL progress at
/tmp/sf<N/10>_rehearsal.progress.jsonl, and prints one JSON line per key.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF01 = "/root/testdata/sf0.1"
OFF = 1_000_000

# (table, select-list template; {i} = replica index)
FACTS = {
    "customer": "c_custkey + {i} * %d AS c_custkey, * EXCLUDE (c_custkey)" % OFF,
    "orders": (
        "o_orderkey + {i} * %d AS o_orderkey, o_custkey + {i} * %d AS o_custkey, "
        "* EXCLUDE (o_orderkey, o_custkey)" % (OFF, OFF)
    ),
    "lineitem": "l_orderkey + {i} * %d AS l_orderkey, * EXCLUDE (l_orderkey)" % OFF,
    "events": (
        "event_id + {i} * %d AS event_id, ts + to_microseconds({i}) AS ts, "
        "* EXCLUDE (event_id, ts)" % OFF
    ),
    "documents": "doc_id + {i} * %d AS doc_id, * EXCLUDE (doc_id)" % OFF,
    "embeddings": "vec_id + {i} * %d AS vec_id, * EXCLUDE (vec_id)" % OFF,
}
DIMS = ["region", "nation", "supplier", "part"]
# hot-key variant: the whole replicated event stream on ONE user (the
# two-heap running median's worst case: a single-partition window)
HOT_EVENTS = (
    "event_id + {i} * %d AS event_id, ts + to_microseconds({i}) AS ts, "
    "CAST(0 AS BIGINT) AS user_id, event_type, value, props" % OFF
)

# The heaviest shapes by family plus the iteratives: every key that a
# 100 TB deployment would worry about first.
SF1_KEYS = [
    "dedup_containment", "dedup_near_minhash", "curate_segment_dedup",
    "multimodal_cdc_chunk_dedup", "graph_bipartite_projection", "graph_pagerank",
    "graph_kcore_bounded", "gvcf_genotype_concordance", "curate_ccnet_buckets",
    "win_percentile_running_full", "sim_knn_topk",
    # the LSH confusion gauge (its SSJoin truth side is the worst-case
    # grower under exact-clone replication: every doc gains 9 clones, so
    # shared-gram rows scale ~100x vs sf0.1), and the BPE merge round
    # (expected ~FLAT vs sf0.1: pair extraction rides the vocabulary,
    # which clone-replication leaves unchanged)
    "dedup_minhash_recall", "text_bpe_merge_step",
    # the SemDeDup threshold sweep (embeddings gain 10x exact clones, so
    # each centroid cell grows 10x and the cell-local matmul 100x: the
    # documented oversized-cell hazard, exercised) and the modularity
    # gauge (rides the LPA label dataflow at 10x nodes)
    "sim_semdedup_eps_sweep", "graph_modularity",
    # incremental near-dup (banded index vs the clone-exploded batch:
    # candidate rows scale ~100x like the other SSJoin-truth ops) and the
    # payload-heavy VAD segmentation (one Arrow pass over 10x binary frames)
    "dedup_minhash_incremental", "multimodal_audio_vad_segments",
]

# Heavy-family keys whose ENGINE cost class is linear / n log n / banded at
# this fixture's growth directions (exclusions in the module docstring).
SF10_KEYS = [
    # relational / agg backbone at 60M lineitem rows
    "agg_group", "q9_product_profit", "q5_nation_revenue", "agg_median_twophase",
    "agg_quantiles_multi", "agg_heavy_hitters", "agg_grouping_sets", "join_shuffle",
    "join_skew_salted", "join_asof", "join_point_in_time", "topk_global",
    # window family at 10M events / 100x-deep per-user history
    "win_percentile_running_full", "win_interval_merge", "win_session_rollup",
    "win_frame_time_range", "win_carry_forward", "win_drawdown_max",
    "win_gaps_islands",
    # timeseries at 10M events
    "ts_downsample_lttb", "ts_downsample_m4", "ts_holt_winters",
    "ts_resample_interpolate", "anomaly_seasonal_residual",
    # streaming batch twins
    "stream_tumbling", "stream_session",
    # LLM pipeline: the banded/celled/linear tiers that own 100 TB
    "dedup_exact", "dedup_near_minhash", "dedup_minhash_incremental",
    "dedup_simhash", "sim_knn_ivf", "sim_ann_ivf", "sim_ann_lsh", "sim_pq_adc_topk",
    "sim_ann_hnsw", "text_bpe_merge_step", "text_tfidf", "curate_ccnet_buckets",
    "curate_pack_batches", "curate_pipeline_e2e", "multimodal_cdc_chunk_dedup",
    "multimodal_audio_vad_segments",
    # graph / gvcf iterative + self-join families
    "graph_pagerank", "graph_bipartite_projection", "graph_lpa_communities",
    "gvcf_combine", "gvcf_genotype_concordance", "gvcf_relatedness_ibs",
]


def sf_name(factor: int) -> str:
    """The scale the replicated fixture stands for: factor 10 -> 'sf1'."""
    return "sf%g" % (factor / 10)


def _replicate(con, src_file: str, sel: str, factor: int, dest: str) -> None:
    parts = " UNION ALL ".join(
        f"SELECT {sel.format(i=i)} FROM read_parquet('{src_file}')" for i in range(factor)
    )
    con.execute(f"COPY ({parts}) TO '{dest}' (FORMAT PARQUET, ROW_GROUP_SIZE 100000)")


def build_dataset(factor: int, src: str = SF01, out: str | None = None) -> str:
    """Union-replicate the fixtures under ``src`` ``factor`` times into
    ``out`` (default /tmp/sf<factor/10>) and the hot-key events table into
    ``out + "hot"``. Returns ``out``."""
    import duckdb

    out = out or f"/tmp/{sf_name(factor)}"
    hot = out + "hot"
    con = duckdb.connect()
    for d in (out, hot):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    for t in DIMS:
        shutil.copy(f"{src}/{t}.parquet", f"{out}/{t}.parquet")
    for t, sel in FACTS.items():
        _replicate(con, f"{src}/{t}.parquet", sel, factor, f"{out}/{t}.parquet")
    _replicate(con, f"{src}/events.parquet", HOT_EVENTS, factor, f"{hot}/events.parquet")
    con.close()
    return out


def run_one(key: str, sf_dir: str) -> None:
    """Subprocess entry: run one key engine-only against sf_dir."""
    from gvcf_hbase_spark.registry import load_all
    from gvcf_hbase_spark.session import get_spark

    specs = load_all()
    spark = get_spark("rehearsal")
    t0 = time.perf_counter()
    specs[key].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    print(json.dumps({"key": key, "s": round(time.perf_counter() - t0, 2)}))


def run_key(key: str, sf_dir: str, timeout: int) -> float | str:
    """Run one key in a fresh JVM; seconds, or an error/timeout string."""
    try:
        p = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--run-key", key, sf_dir],
            capture_output=True, text=True, timeout=timeout,
        )
    except subprocess.TimeoutExpired:
        return f"TIMEOUT >{timeout}s"
    if p.returncode == 0:
        return json.loads(p.stdout.strip().splitlines()[-1])["s"]
    tail = (p.stderr or p.stdout).strip().splitlines()[-8:]
    return "ERR rc=%d: %s" % (p.returncode, " | ".join(tail)[:300])


def main() -> int:
    if "--run-key" in sys.argv:
        i = sys.argv.index("--run-key")
        run_one(sys.argv[i + 1], sys.argv[i + 2])
        return 0

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--factor", type=int, required=True)
    ap.add_argument("--rebuild", action="store_true")
    ap.add_argument("--keys", help="comma-separated keys (default: the factor's list)")
    ap.add_argument("--timeout", type=int, default=1800, help="per-key wall seconds")
    args = ap.parse_args()

    name = sf_name(args.factor)
    out = f"/tmp/{name}"
    if args.rebuild or not os.path.exists(f"{out}/lineitem.parquet"):
        t0 = time.perf_counter()
        build_dataset(args.factor)
        print(json.dumps({"build_s": round(time.perf_counter() - t0, 1)}), flush=True)

    if args.keys:
        keys = args.keys.split(",")
    else:
        keys = SF1_KEYS if args.factor <= 10 else SF10_KEYS
    runs = [(k, out) for k in keys]
    if "win_percentile_running_full" in keys:
        runs.append(("win_percentile_running_full@hotkey", out + "hot"))
    results: dict[str, float | str] = {}
    with open(f"/tmp/{name}_rehearsal.progress.jsonl", "w", buffering=1) as progress:
        for label, sf in runs:
            t0 = time.perf_counter()
            results[label] = run_key(label.split("@")[0], sf, args.timeout)
            progress.write(json.dumps({label: results[label]}) + "\n")
            print(json.dumps({label: results[label],
                              "wall": round(time.perf_counter() - t0, 1)}), flush=True)
    summary = {
        "sf": args.factor / 10,
        "replicas": args.factor,
        "mode": "engine-only (noop sink), one subprocess per key",
        "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),  # get_spark's default
        "timeout_s": args.timeout,
        "errors": {k: v for k, v in results.items() if isinstance(v, str)},
        "times_s": {k: v for k, v in results.items() if not isinstance(v, str)},
    }
    with open(f"/tmp/{name}_rehearsal.json", "w") as f:
        json.dump(summary, f, indent=1)
    print(json.dumps(summary))
    return 1 if summary["errors"] else 0


if __name__ == "__main__":
    raise SystemExit(main())
