"""Property-based + invariant tests (SURVEY §5.3): the statistical and
algebraic properties the operator implementations promise, checked beyond
the single-fixture oracle comparisons.

The hypothesis tests run the production minhash constants (dedup._MINHASH_A
/_B/_P) through a numpy re-execution over arbitrary shingle-hash sets —
fast enough for many examples. Spark-level invariants (idempotence, top-k
shape, split stability) run once per property on the sf0.01 fixture.
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
from hypothesis import given, settings, strategies as st

from gvcf_hbase_spark.operators.dedup import (
    _MINHASH_A,
    _MINHASH_B,
    _P,
    minhash_premix_np,
)
from gvcf_hbase_spark.registry import load_all
from gvcf_hbase_spark.sources.tables import load_table
from tests.conftest import SF_DIR, DOCUMENTS, write_events, write_table

SPECS = load_all()

_A = np.array(_MINHASH_A, dtype=np.uint64)
_B = np.array(_MINHASH_B, dtype=np.uint64)


def _sig(hashes: set[int]) -> np.ndarray:
    h = minhash_premix_np(np.array(sorted(hashes), dtype=np.uint64))[:, None]
    return ((_A[None, :] * h + _B[None, :]) % np.uint64(_P)).min(axis=0)


hash_sets = st.sets(st.integers(min_value=0, max_value=2**32 - 1), min_size=1, max_size=60)


@given(hash_sets)
@settings(max_examples=200, deadline=None)
def test_minhash_identical_sets_estimate_one(s):
    """J(A, A) = 1 must be estimated exactly (same permutations, same min)."""
    assert (_sig(s) == _sig(set(s))).all()


@given(hash_sets, hash_sets)
@settings(max_examples=200, deadline=None)
def test_minhash_estimate_tracks_jaccard(a, b):
    """P(minhash collision) = J(A,B); with 32 permutations the estimator's
    std is sqrt(J(1-J)/32) <= 0.089, so a 6-sigma band never flakes while
    still catching a broken permutation family (which decorrelates the
    estimate entirely)."""
    est = float((_sig(a) == _sig(b)).mean())
    exact = len(a & b) / len(a | b)
    assert abs(est - exact) <= 0.55
    if a == b:
        assert est == 1.0


@given(hash_sets, hash_sets, hash_sets)
@settings(max_examples=100, deadline=None)
def test_minhash_signature_of_union_is_elementwise_min(a, b, c):
    """sig(A ∪ B) = min(sig(A), sig(B)) — the mergeability property that
    lets signatures build map-side (partial min-agg) in any partitioning."""
    del c  # reserved: keeps the strategy cache warm across the suite
    u = _sig(a | b)
    assert (u == np.minimum(_sig(a), _sig(b))).all()


def test_dedup_exact_idempotent(spark):
    """dedup(dedup(X)) = dedup(X): applying the fingerprint-keep-min rule
    to its own survivors keeps every row (all fingerprints now unique)."""
    out = SPECS["dedup_exact"].fn(spark, SF_DIR).cache()
    n1 = out.count()
    again = (
        out.groupBy("fingerprint")
        .agg(F.min("keep_id").alias("keep_id"), F.count("*").alias("n"))
    )
    assert again.count() == n1
    assert again.filter(F.col("n") > 1).count() == 0
    out.unpersist()


def test_knn_topk_shape_invariants(spark):
    """Per query vector: no self-neighbor, exactly k rows (corpus >> k),
    contiguous ranks 1..k, and scores non-increasing in rank."""
    out = SPECS["sim_knn_topk"].fn(spark, SF_DIR).cache()
    assert out.filter(F.col("vec_id") == F.col("neighbor_id")).count() == 0
    per = out.groupBy("vec_id").agg(
        F.count("*").alias("n"),
        F.min("rn").alias("lo"),
        F.max("rn").alias("hi"),
    )
    k = per.agg(F.max("n")).first()[0]
    bad = per.filter((F.col("n") != k) | (F.col("lo") != 1) | (F.col("hi") != k))
    assert bad.count() == 0
    from pyspark.sql import Window

    w = Window.partitionBy("vec_id").orderBy("rn")
    drops = out.withColumn("prev", F.lag("cos_sim").over(w)).filter(
        F.col("prev").isNotNull() & (F.col("cos_sim") > F.col("prev") + 1e-9)
    )
    assert drops.count() == 0
    out.unpersist()


def test_hash_split_stable_under_subset(spark):
    """A doc's train/val assignment must not depend on what else is in the
    corpus (the property randomSplit lacks): splitting half the corpus
    assigns every common doc identically to splitting all of it."""
    full = SPECS["curate_hash_split"].fn(spark, SF_DIR)
    d = load_table(spark, SF_DIR, "documents").filter(F.col("doc_id") % 2 == 0)
    half = (
        d.select("doc_id")
        .join(full, "doc_id")
        .withColumnRenamed("split", "split_half")
    )
    diff = half.join(full, "doc_id").filter(F.col("split") != F.col("split_half"))
    assert diff.count() == 0


def test_topk_group_ranks_contiguous(spark):
    """win_topk_group: every group's ranks are exactly 1..n with n <= k."""
    out = SPECS["win_topk_group"].fn(spark, SF_DIR)
    rank_col = next(c for c in out.columns if c in ("rn", "rank", "rnk"))
    per = out.groupBy(out.columns[0]).agg(
        F.count("*").alias("n"), F.min(rank_col).alias("lo"), F.max(rank_col).alias("hi")
    )
    assert per.filter((F.col("lo") != 1) | (F.col("hi") != F.col("n"))).count() == 0


# ---------------------------------------------------------------------------
# Randomized reference cross-checks for the round-3 additions: an
# independent numpy/pandas implementation recomputes the whole answer on a
# randomized fixture — a different failure surface than the DuckDB oracle
# (which shares SQL semantics) and than the closed-form micro tests.


def _rand_events(spark, tmp_path, rng, n=400, users=7, types=4, span_s=5 * 3600):
    rows = [
        (
            i,
            int(rng.integers(0, span_s)),
            int(rng.integers(1, users + 1)),
            f"t{int(rng.integers(0, types))}",
            float(np.round(rng.normal(10, 3), 3)),
        )
        for i in range(n)
    ]
    return write_events(spark, tmp_path, rows)


def test_running_distinct_matches_pandas_reference(spark, tmp_path):
    rng = np.random.default_rng(7)
    sf = _rand_events(spark, tmp_path, rng)
    got = (
        SPECS["win_distinct_running"].fn(spark, sf).toPandas().set_index("event_id")
    )
    ev = spark.read.parquet(f"{sf}/events.parquet").toPandas()
    ev = ev.sort_values(["user_id", "ts", "event_id"])
    ref = (
        ev.assign(
            first=~ev.duplicated(subset=["user_id", "event_type"], keep="first")
        )
        .assign(n=lambda d: d.groupby("user_id")["first"].cumsum())
        .set_index("event_id")["n"]
    )
    assert (got["n_types_seen"] == ref.reindex(got.index)).all()


def test_interval_merge_matches_python_reference(spark, tmp_path):
    import datetime as _dt

    rng = np.random.default_rng(11)
    rows = [
        (
            int(rng.integers(1, 9)),
            (_dt.date(2024, 1, 1) + _dt.timedelta(days=int(rng.integers(0, 60)))).isoformat(),
            int(rng.integers(1, 15)),
        )
        for _ in range(300)
    ]
    write_table(
        spark,
        tmp_path,
        "lineitem",
        [
            (1, 1, sk, 1, float(q), 1.0, 0.0, 0.0, "N", "O",
             _dt.datetime.fromisoformat(d))
            for sk, d, q in rows
        ],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber long, "
        "l_quantity double, l_extendedprice double, l_discount double, l_tax double, "
        "l_returnflag string, l_linestatus string, l_shipdate timestamp",
    )
    got = {
        r.l_suppkey: (r.n_merged, r.covered_days)
        for r in SPECS["win_interval_merge"].fn(spark, str(tmp_path)).collect()
    }
    # reference: classic sort-and-sweep merge per key
    from collections import defaultdict

    ivs = defaultdict(list)
    for sk, d, q in rows:
        s = _dt.date.fromisoformat(d)
        ivs[sk].append((s, s + _dt.timedelta(days=q)))
    for sk, spans in ivs.items():
        spans.sort()
        merged = []
        for s, e in spans:
            if merged and s <= merged[-1][1]:
                merged[-1] = (merged[-1][0], max(merged[-1][1], e))
            else:
                merged.append((s, e))
        exp = (len(merged), sum((e - s).days for s, e in merged))
        assert got[sk] == exp, f"suppkey {sk}: {got[sk]} != {exp}"


def test_weighted_median_matches_numpy_reference(spark):
    got = {
        r.l_returnflag: r.weighted_median
        for r in SPECS["agg_weighted_median"].fn(spark, SF_DIR).collect()
    }
    li = (
        load_table(spark, SF_DIR, "lineitem")
        .select("l_returnflag", "l_extendedprice", "l_quantity", "l_orderkey", "l_linenumber")
        .toPandas()
    )
    for flag, g in li.groupby("l_returnflag"):
        g = g.sort_values(["l_extendedprice", "l_orderkey", "l_linenumber"])
        cw = g["l_quantity"].cumsum()
        ref = float(g.loc[cw >= g["l_quantity"].sum() / 2, "l_extendedprice"].iloc[0])
        assert got[flag] == round(ref, 2), flag


def test_pagerank_matches_numpy_power_iteration(spark):
    rows = SPECS["graph_pagerank"].fn(spark, "/root/testdata/sf0.001").collect()
    n = len(rows)
    got = np.zeros(n)
    for r in rows:
        got[r.id] = r.rank_scaled_1e6 / 1e6
    # independent dense power iteration on the same fixture graph
    edges = set()
    for i in range(n):
        for j in ((i + 1) % n, i // 2):
            if i != j:
                edges.add((i, j))
    M = np.zeros((n, n))
    out = np.zeros(n)
    for s, _d in edges:
        out[s] += 1
    for s, d in edges:
        M[d, s] = 1.0 / out[s]
    r = np.full(n, 1.0 / n)
    for _ in range(3):
        r = 0.15 / n + 0.85 * (M @ r)
    # fixed-point (1e-12 mass units, floor division) vs float power
    # iteration: floor losses bound the gap well under 1e-5 on the
    # n-scaled rank — this pins that the r09 integer recurrence still IS
    # PageRank, not a drifted variant
    assert np.abs(got - r * n).max() <= 1e-5


def test_chunking_reconstructs_token_stream(spark, tmp_path):
    """Sliding chunks must cover every token: chunk k starts at k*S, so
    the union of [k*S, k*S+len_k) ranges is exactly [0, n) — checked via
    the per-chunk token counts summing to n + overlap * (n_chunks - 1)."""
    rng = np.random.default_rng(3)
    texts = [
        (i, " ".join(f"w{int(x)}" for x in rng.integers(0, 50, size=int(ln))))
        for i, ln in enumerate(rng.integers(1, 200, size=20))
    ]
    write_table(
        spark, tmp_path, "documents", [(i, t, "en", "unit", len(t)) for i, t in texts], DOCUMENTS
    )
    out = SPECS["text_chunk_sliding"].fn(spark, str(tmp_path)).toPandas()
    W, S = 64, 48
    for i, t in texts:
        n = len(t.split(" "))
        chunks = out[out.doc_id == i].sort_values("chunk_idx")
        k = len(chunks)
        assert k == (1 if n <= W else -((-(n - W)) // S) + 1)
        # every chunk but possibly the last is full-width; starts advance by S
        sizes = list(chunks.n_tokens)
        assert all(sz == W for sz in sizes[:-1]) or n <= W
        assert sizes[-1] == n - (k - 1) * S


# ---------------------------------------------------------------------------
# round-4 families
# ---------------------------------------------------------------------------

import hashlib


def _cms_cells(item: int, d: int = 4, w: int = 512) -> list[int]:
    """Python re-execution of the production count-min hash family: ONE
    md5 digest of str(item), its d 8-hex-char slices mod w."""
    h = hashlib.md5(str(item).encode()).hexdigest()
    return [int(h[j * 8 : j * 8 + 8], 16) % w for j in range(d)]


@given(st.lists(st.integers(min_value=0, max_value=10**6), min_size=1, max_size=300))
@settings(max_examples=100, deadline=None)
def test_countmin_never_undercounts(items):
    """CMS one-sided error, re-executed over arbitrary multisets with the
    production hash family: min-over-d cell counts >= true frequency for
    EVERY item, with equality iff no colliding item shares all d cells."""
    from collections import Counter

    cms: Counter = Counter()
    for it in items:
        for j, c in enumerate(_cms_cells(it)):
            cms[(j, c)] += 1
    truth = Counter(items)
    for it, n in truth.items():
        est = min(cms[(j, c)] for j, c in enumerate(_cms_cells(it)))
        assert est >= n


@given(
    st.lists(st.integers(min_value=-10**6, max_value=10**6), min_size=5, max_size=5),
    st.integers(min_value=0, max_value=10**6),
)
@settings(max_examples=200, deadline=None)
def test_ols_slope_shift_invariant(ys, shift):
    """The four-sums OLS slope with ABSOLUTE x indices equals the slope
    with shifted indices — the invariance win_moving_slope relies on to
    use per-user row numbers inside every trailing frame. Exact integer
    identity, not approximate."""
    def slope_num_den(xs, ys):
        n = len(xs)
        sx, sy = sum(xs), sum(ys)
        sxy = sum(x * y for x, y in zip(xs, ys))
        sxx = sum(x * x for x in xs)
        return n * sxy - sx * sy, n * sxx - sx * sx

    x0 = list(range(1, 6))
    x1 = [x + shift for x in x0]
    n0, d0 = slope_num_den(x0, ys)
    n1, d1 = slope_num_den(x1, ys)
    assert d0 == d1 == 50
    assert n0 == n1


@given(
    st.integers(min_value=0, max_value=65535),
    st.integers(min_value=0, max_value=65535),
)
@settings(max_examples=300, deadline=None)
def test_zorder_interleave_is_bijective(p, s):
    """The Morton interleave used by sink_zorder_layout round-trips: both
    16-bit keys are recoverable from the z-value, so z-clustering loses
    no key information (the de-interleave is the pruning decoder)."""
    z = sum((((p >> b) & 1) << (2 * b + 1)) + (((s >> b) & 1) << (2 * b)) for b in range(16))
    p_back = sum(((z >> (2 * b + 1)) & 1) << b for b in range(16))
    s_back = sum(((z >> (2 * b)) & 1) << b for b in range(16))
    assert (p_back, s_back) == (p, s)


def test_autocorr_matches_float_reference(spark):
    """ts_autocorr's exact-integer form (multiply through by n) must agree
    with the standard float ACF definition r_k = sum((x_t-mu)(x_{t-k}-mu))
    / sum((x_t-mu)^2) to within one 1e-6 quantum on real fixture data."""
    import duckdb

    rows = SPECS["ts_autocorr"].fn(spark, SF_DIR).collect()
    series = {}
    for uid, c in duckdb.sql(
        f"""SELECT user_id, list(CAST(round(value*100,0) AS BIGINT)
                 ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id)
            FROM read_parquet('{SF_DIR}/events.parquet') GROUP BY user_id"""
    ).fetchall():
        series[uid] = np.asarray(c, dtype=np.float64)
    checked = 0
    for r in rows[:50]:
        x = series[r.user_id]
        mu = x.mean()
        den = ((x - mu) ** 2).sum()
        for k, got in ((1, r.acf1_1e6), (2, r.acf2_1e6), (3, r.acf3_1e6)):
            ref = ((x[k:] - mu) * (x[:-k] - mu)).sum() / den
            assert abs(got - round(ref * 1e6)) <= 1, (r.user_id, k, got, ref)
            checked += 1
    assert checked > 0


# ---- r05: two-phase rank / ntile arithmetic (functions/ranks.py) ----
# The bucket machinery is Spark-level (tested in test_round5_ops); the
# ntile-from-rank ARITHMETIC is pure and must equal the SQL-standard
# definition for every (n, tiles, rank) — hypothesis sweeps it.


@given(
    n=st.integers(min_value=1, max_value=10_000),
    tiles=st.integers(min_value=1, max_value=64),
)
@settings(max_examples=200, deadline=None)
def test_ntile_arithmetic_matches_sql_standard(n, tiles):
    q, r = divmod(n, tiles)
    # SQL standard: first r tiles get q+1 rows, the rest get q
    expect = []
    for tile in range(1, tiles + 1):
        size = q + 1 if tile <= r else q
        expect.extend([tile] * size)

    def tile_of(rk):  # mirror of ranks.ntile_from_rank, scalar form
        thr = r * (q + 1)
        if rk <= thr:
            return (rk - 1) // (q + 1) + 1
        return r + (rk - thr - 1) // q + 1

    got = [tile_of(rk) for rk in range(1, n + 1)]
    assert got == expect
