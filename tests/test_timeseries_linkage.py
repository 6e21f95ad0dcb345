"""Semantic tests for the round-3 additions: time-series resample/
interpolate arithmetic, z-score flagging, running-distinct ordering,
fuzzy-linkage blocking rules, sliding chunk boundaries, bigram counting,
and PageRank invariants — all on hand-built micro fixtures where the
expected output is known in closed form (the sf0.01 oracle comparison
runs separately in test_queries.py).
"""

from __future__ import annotations

import datetime
import hashlib

import pyspark.sql.functions as F

from tests.conftest import SF_DIR, DOCUMENTS, write_events, write_table
from gvcf_hbase_spark.registry import load_all

SPECS = load_all()

_US_PER_HOUR = 3_600_000_000


# ---------------------------------------------------------------- timeseries


def test_resample_linear_interpolation_exact(spark, tmp_path):
    """Observed hour-buckets 0→1.0 and 3→4.0 must interpolate hours 1,2
    to exactly 2.0, 3.0; a leading/trailing gap carries the one-sided
    neighbor; observed buckets average their events and flag 0."""
    sf = write_events(
        spark,
        tmp_path,
        [
            (1, 0, 1, "a", 0.5),
            (2, 60, 1, "a", 1.5),  # hour 0 avg = 1.0
            (3, 3 * 3600, 1, "a", 4.0),  # hour 3
            # series b: single point -> 1-row grid, no interpolation
            (4, 7200, 1, "b", 9.0),
        ],
    )
    base_h = int(datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc).timestamp()) * 1_000_000 // _US_PER_HOUR
    out = {
        (r.event_type, r.bucket_us // _US_PER_HOUR - base_h): r
        for r in SPECS["ts_resample_interpolate"].fn(spark, sf).collect()
    }
    assert out[("a", 0)].value_1e4 == 10000 and out[("a", 0)].interpolated == 0
    assert out[("a", 1)].value_1e4 == 20000 and out[("a", 1)].interpolated == 1
    assert out[("a", 2)].value_1e4 == 30000 and out[("a", 2)].interpolated == 1
    assert out[("a", 3)].value_1e4 == 40000 and out[("a", 3)].interpolated == 0
    assert out[("b", 2)].value_1e4 == 90000 and out[("b", 2)].interpolated == 0
    assert len(out) == 5  # no grid beyond each series' own [min, max]


def test_zscore_flags_constructed_outlier(spark, tmp_path):
    """19 values at ~10 plus one at 100: only the spike exceeds 2.5σ."""
    rows = [(i, i, 1, "a", 10.0 + (i % 3) * 0.1) for i in range(19)]
    rows.append((99, 99, 1, "a", 100.0))
    sf = write_events(spark, tmp_path, rows)
    out = SPECS["anomaly_zscore"].fn(spark, sf).collect()
    assert [r.event_id for r in out] == [99]
    assert out[0].z > 2.5


def test_running_distinct_orders_by_event_time(spark, tmp_path):
    """Types a,b,a,c in time order → running distinct 1,2,2,3; second
    user independent."""
    sf = write_events(
        spark,
        tmp_path,
        [
            (1, 0, 1, "a", 0.0),
            (2, 10, 1, "b", 0.0),
            (3, 20, 1, "a", 0.0),
            (4, 30, 1, "c", 0.0),
            (5, 0, 2, "c", 0.0),
        ],
    )
    out = {r.event_id: r.n_types_seen for r in SPECS["win_distinct_running"].fn(spark, sf).collect()}
    assert out == {1: 1, 2: 2, 3: 2, 4: 3, 5: 1}


# ------------------------------------------------------------------- linkage


def test_fuzzy_join_respects_blocking(spark):
    """Every emitted pair shares a nation (blocking is semantic, not
    just physical), identity pairs (same 9-digit suffix) appear iff
    co-located, and all distances are ≤ 1."""
    out = SPECS["join_fuzzy_levenshtein"].fn(spark, SF_DIR)
    c = spark.read.parquet(f"{SF_DIR}/customer.parquet").select(
        "c_custkey", "c_nationkey"
    )
    s = spark.read.parquet(f"{SF_DIR}/supplier.parquet").select(
        "s_suppkey", "s_nationkey"
    )
    joined = out.join(c, "c_custkey").join(s, "s_suppkey")
    assert joined.filter(F.col("c_nationkey") != F.col("s_nationkey")).count() == 0
    assert out.filter(F.col("name_dist") > 1).count() == 0
    # same-key same-nation pairs must be found with distance 0
    expected0 = (
        c.join(s, c.c_custkey == s.s_suppkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .count()
    )
    assert out.filter(F.col("name_dist") == 0).count() == expected0


def test_best_match_is_argmin_with_threshold(spark):
    """linkage_best_match emits ≤1 row per customer; each row's distance
    equals the true block minimum (cross-checked by brute force), and a
    customer whose best distance exceeds 3 is absent entirely."""
    out = SPECS["linkage_best_match"].fn(spark, SF_DIR)
    assert out.groupBy("c_custkey").count().filter("count > 1").count() == 0
    c = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    s = spark.read.parquet(f"{SF_DIR}/supplier.parquet")
    brute = (
        c.join(s, c.c_nationkey == s.s_nationkey)
        .groupBy("c_custkey")
        .agg(
            F.min(
                F.levenshtein(F.substring("c_name", 10, 100), F.substring("s_name", 10, 100))
            ).alias("true_min")
        )
    )
    chk = out.join(brute, "c_custkey", "right")
    assert chk.filter(F.col("name_dist") != F.col("true_min")).count() == 0
    assert chk.filter(F.col("name_dist").isNull() & (F.col("true_min") <= 3)).count() == 0


# ---------------------------------------------------------------------- text


def test_chunk_boundaries_and_payload_hash(spark, tmp_path):
    """100 tokens at W=64/S=48 → chunks [0:64] and [48:100]; exactly 64
    tokens → one chunk; 65 → two (second holds 17). Chunk md5 must equal
    the hash of the exact token slice."""
    toks = [f"t{i}" for i in range(100)]
    docs = [(1, " ".join(toks)), (2, " ".join(toks[:64])), (3, " ".join(toks[:65]))]
    sf = write_table(
        spark, tmp_path, "documents", [(i, t, "en", "unit", len(t)) for i, t in docs], DOCUMENTS
    )
    out = {
        (r.doc_id, r.chunk_idx): r
        for r in SPECS["text_chunk_sliding"].fn(spark, sf).collect()
    }
    assert {k[0] for k in out} == {1, 2, 3}
    assert sum(1 for k in out if k[0] == 1) == 2
    assert sum(1 for k in out if k[0] == 2) == 1
    assert sum(1 for k in out if k[0] == 3) == 2
    assert out[(1, 0)].n_tokens == 64 and out[(1, 1)].n_tokens == 52
    assert out[(3, 1)].n_tokens == 17
    exp = hashlib.md5(" ".join(toks[48:100]).encode()).hexdigest()
    assert out[(1, 1)].chunk_md5 == exp


def test_bigram_counts_known_corpus(spark, tmp_path):
    """'a b a b' + 'b c' → bigrams: 'a b'×2, 'b a'×1, 'b c'×1; a
    1-token doc contributes nothing."""
    docs = [(1, "a b a b"), (2, "b c"), (3, "x")]
    sf = write_table(
        spark, tmp_path, "documents", [(i, t, "en", "unit", len(t)) for i, t in docs], DOCUMENTS
    )
    out = {r.bigram: r.n for r in SPECS["text_ngram_counts"].fn(spark, sf).collect()}
    assert out == {"a b": 2, "b a": 1, "b c": 1}


# --------------------------------------------------------------------- graph


def test_pagerank_mass_and_shape(spark):
    """Ranks are a probability distribution (Σ rank = 1 ⇒ Σ scaled = n),
    everything ≥ the teleport floor 0.15, and the funnel target (node 0,
    which receives from n-1, 1, and — transitively — the whole low range)
    outranks the ring-only median node."""
    rows = SPECS["graph_pagerank"].fn(spark, "/root/testdata/sf0.001").collect()
    n = len(rows)
    # rank_scaled_1e6 is the fixed-point n-scaled rank in 1e-6 units (r09)
    ranks = {r.id: r.rank_scaled_1e6 / 1e6 for r in rows}
    assert abs(sum(ranks.values()) - n) < 1e-3 * n
    assert min(ranks.values()) >= 0.15 - 1e-5
    assert ranks[0] > ranks[n // 2 + 1]
    assert ranks[1] > 1.0  # node 1 receives from 0, 2 and 3


def test_corr_matrix_bounds(spark):
    out = SPECS["agg_corr_matrix"].fn(spark, SF_DIR).collect()
    assert len(out) == 6
    assert all(-1.0 <= r.r <= 1.0 for r in out)


# ------------------------------------------------- interval merge / source


def test_interval_merge_handles_nested_intervals(spark, tmp_path):
    """The running-max formulation must merge a short interval nested
    inside an earlier long one (plain lag(e) would split it): intervals
    [Jan1,Jan11], [Jan3,Jan4] (nested), [Jan5,Jan13] chain into one
    island; [Feb1,Feb6] stands alone. Covered = 12 + 5."""
    # (suppkey, shipdate, quantity); win_interval_merge reads only these
    # three, the other lineitem columns are constants
    ships = [
        (1, "2024-01-01", 10),
        (1, "2024-01-03", 1),
        (1, "2024-01-05", 8),
        (1, "2024-02-01", 5),
        (2, "2024-01-01", 1),
    ]
    sf = write_table(
        spark,
        tmp_path,
        "lineitem",
        [
            (1, 1, sk, 1, float(q), 1.0, 0.0, 0.0, "N", "O", datetime.datetime.fromisoformat(d))
            for sk, d, q in ships
        ],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber long, "
        "l_quantity double, l_extendedprice double, l_discount double, l_tax double, "
        "l_returnflag string, l_linestatus string, l_shipdate timestamp",
    )
    out = {r.l_suppkey: r for r in SPECS["win_interval_merge"].fn(spark, sf).collect()}
    assert out[1].n_merged == 2 and out[1].covered_days == 17
    assert out[2].n_merged == 1 and out[2].covered_days == 1


def test_event_transitions_probabilities(spark, tmp_path):
    """a→b, b→a, a→b for one user: P(b|a)=1, P(a|b)=1; counts exact;
    first event contributes no transition."""
    sf = write_events(
        spark,
        tmp_path,
        [
            (1, 0, 1, "a", 0.0),
            (2, 10, 1, "b", 0.0),
            (3, 20, 1, "a", 0.0),
            (4, 30, 1, "b", 0.0),
            (5, 0, 2, "a", 0.0),  # lone event: no transition
        ],
    )
    out = {
        (r.prev_type, r.next_type): r
        for r in SPECS["analytics_event_transitions"].fn(spark, sf).collect()
    }
    assert out[("a", "b")].n == 2 and out[("a", "b")].p == 1.0
    assert out[("b", "a")].n == 1 and out[("b", "a")].p == 1.0
    assert len(out) == 2


def test_binary_files_roundtrip_fidelity(spark):
    """Every materialized file must come back with a recovered doc_id,
    the exact byte length, and no duplicate ids (path parsing is total
    and injective)."""
    out = SPECS["source_binary_files"].fn(spark, "/root/testdata/sf0.001").toPandas()
    assert len(out) > 0
    assert out["doc_id"].notna().all()
    assert out["doc_id"].is_unique
    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", F.length("text").alias("n"))
        .toPandas()
        .set_index("doc_id")["n"]
    )
    got = out.set_index("doc_id")["n_bytes"]
    assert got.sort_index().equals(docs.sort_index().astype(got.dtype))


def test_lttb_keeps_endpoints_and_one_point_per_bucket(spark):
    """Exactly one selected point per (series, day); the first/last
    buckets keep the series' exact first/last points; selected points
    exist in the raw series."""
    import pyspark.sql.functions as F
    from gvcf_hbase_spark.sources.tables import load_table

    out = SPECS["ts_downsample_lttb"].fn(spark, SF_DIR).collect()
    seen = {}
    for r in out:
        assert (r.event_type, r.day) not in seen
        seen[(r.event_type, r.day)] = r
    kinds = {}
    for r in out:
        kinds.setdefault(r.event_type, []).append(r.kind)
    ev = load_table(spark, SF_DIR, "events").select(
        "event_type", "ts_us_long",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("v"),
    )
    firsts = {
        r.event_type: (r.t, r.v)
        for r in ev.groupBy("event_type")
        .agg(F.min_by(F.struct("ts_us_long", "v"), "ts_us_long").alias("s"))
        .select("event_type", F.col("s.ts_us_long").alias("t"), F.col("s.v").alias("v"))
        .collect()
    }
    for et, ks in kinds.items():
        assert ks.count("first") == 1 and ks.count("last") == 1
        fr = next(r for r in out if r.event_type == et and r.kind == "first")
        assert (fr.sel_t_us, fr.sel_v_cents) == firsts[et]
