"""Semantic micro-tests for the round-3c additions: EWMA weighting,
lag-feature frames, entropy bounds, int8 quantization, label centroids,
normalization idempotence, all-match extraction, and degree-histogram
conservation. Oracle hash comparison runs in test_queries.py; these pin
the closed-form behaviors a hash match alone wouldn't localize.
"""

from __future__ import annotations

import math

import numpy as np

from tests.conftest import SF_DIR, write_documents, write_embeddings, write_events, write_table
from gvcf_hbase_spark.registry import load_all

SPECS = load_all()


def test_ewma_closed_form(spark, tmp_path):
    """Three values 1, 2, 4 one second apart: adjust=True EWMA with
    α=0.5 gives 1, (2·1+1·1)/1.5? — no: weights (0.5)^(n-1-i):
    t3 = (1·0.25 + 2·0.5 + 4·1)/(0.25+0.5+1) = 5.25/1.75 = 3.0."""
    sf = write_events(spark, tmp_path, [(1, 0, 7, "a", 1.0), (2, 1, 7, "a", 2.0), (3, 2, 7, "a", 4.0)])
    out = {r.event_id: r.ewma_1e4 for r in SPECS["ts_ewma"].fn(spark, sf).collect()}
    assert out[1] == 10000
    assert out[2] == int((1 * 0.5 + 2 * 1) / 1.5 * 10000 + 0.5)
    assert out[3] == 30000


def test_ewma_window_truncates_at_10(spark, tmp_path):
    """Row 12's EWMA must ignore rows 1–2 entirely: make them huge and
    check the result equals the EWMA of rows 3–12 alone."""
    rows = [(i, i, 7, "a", 1e6 if i <= 2 else 1.0) for i in range(1, 13)]
    sf = write_events(spark, tmp_path, rows)
    out = {r.event_id: r.ewma_1e4 for r in SPECS["ts_ewma"].fn(spark, sf).collect()}
    assert out[12] == 10000  # all-ones window, poison rows aged out


def test_lag_features_frame_edges(spark, tmp_path):
    sf = write_events(
        spark, tmp_path,
        [(1, 0, 7, "a", 1.0), (2, 10, 7, "a", 2.0), (3, 30, 7, "a", 6.0), (4, 0, 8, "a", 9.0)],
    )
    out = {r.event_id: r for r in SPECS["ts_lag_features"].fn(spark, sf).collect()}
    assert out[1].lag1_c is None and out[1].dt_us is None
    assert out[2].lag1_c == 100 and out[2].dt_us == 10_000_000
    assert out[3].lag1_c == 200 and out[3].lag2_c == 100
    # trailing-3 mean of (1, 2, 6) = 3.0
    assert out[3].roll3_1e4 == 30000
    # user boundary: user 8's first row sees no user-7 history
    assert out[4].lag1_c is None and out[4].roll3_1e4 == 90000


def test_entropy_uniform_and_degenerate(spark, tmp_path):
    """4 docs over 2 sources evenly → 1 bit, norm 1.0; single-source
    language → 0 bits and norm NULL-free 0/log2(1) guarded by engine
    (log2(1)=0 → norm is NULL? no: count(*)=1 ⇒ log2=0 ⇒ div by 0 →
    NULL in both engines — assert that identically)."""
    sf = write_documents(
        spark, tmp_path,
        [("a", "en", "s1"), ("b", "en", "s1"), ("c", "en", "s2"), ("d", "en", "s2"),
         ("e", "de", "s9")],
    )
    out = {r.lang: r for r in SPECS["agg_entropy"].fn(spark, sf).collect()}
    assert out["en"].entropy_bits == 1.0 and out["en"].entropy_norm == 1.0
    assert out["de"].entropy_bits == -0.0 or out["de"].entropy_bits == 0.0
    assert out["de"].entropy_norm is None  # 0/log2(1): undefined, not faked


def test_quantize_range_and_reconstruction(spark, tmp_path):
    vecs = [[0.5, -1.0, 0.25, 0.0], [2.0, 2.0, -2.0, 1.0]]
    sf = write_embeddings(spark, tmp_path, vecs, [0, 1])
    rows = {r.vec_id: r for r in SPECS["sim_embed_quantize"].fn(spark, sf).collect()}
    for vid, v in enumerate(vecs):
        # q is comma-joined (driver hashable-output rule); parse it back
        q = [int(x) for x in rows[vid].q.split(",")]
        scale = max(abs(x) for x in v) / 127  # exact scale, not the 1e9-quantized report
        assert rows[vid].scale_1e9 == math.floor(scale * 1e9 + 0.5)
        assert max(abs(x) for x in q) == 127
        assert all(abs(x) <= 127 for x in q)
        # dequantization error bounded by scale/2 per component (half-up
        # rounding puts midpoints exactly at the bound)
        for orig, qi in zip(v, q):
            assert abs(orig - qi * scale) <= scale / 2 + 1e-12
        assert rows[vid].l1_q == sum(abs(x) for x in q)


def test_centroid_matches_numpy(spark, tmp_path):
    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(20, 8)).astype("float32")
    labels = [i % 3 for i in range(20)]
    sf = write_embeddings(spark, tmp_path, vecs, labels)
    rows = SPECS["sim_centroid_label"].fn(spark, sf).collect()
    got = {(r.label, r.pos): r for r in rows}
    for lab in range(3):
        members = np.floor(vecs[[i for i in range(20) if labels[i] == lab]].astype("float64") * 1e6 + 0.5)
        mean = members.sum(axis=0) / len(members)
        for pos in range(8):
            r = got[(lab, pos)]
            assert r.n == len(members)
            assert r.mean_1e6 == math.floor(mean[pos] + 0.5)


def test_normalize_contract(spark, tmp_path):
    sf = write_documents(spark, tmp_path, [("  Héllo,   WORLD!! x9 ", "en", "s")])
    r = SPECS["text_normalize"].fn(spark, sf).collect()[0]
    # é is non-[a-z0-9] → space; runs collapse; ends trimmed
    assert r.norm == "h llo world x9"
    assert r.n_toks == 4


def test_regexp_extract_all_matches(spark, tmp_path):
    sf = write_documents(
        spark, tmp_path,
        [("seventy short lengthy ok worthwhile", "en", "s"), ("tiny", "en", "s")],
    )
    rows = {r.doc_id: r for r in SPECS["fn_regexp_extract_all"].fn(spark, sf).collect()}
    # ≥6 lowercase letters: seventy(7), lengthy(7), worthwhile(10)
    # long_words is comma-joined (driver hashable-output rule)
    assert rows[0].long_words == "seventy,lengthy,worthwhile"
    assert rows[0].n_long == 3 and rows[0].first_long == "seventy"
    assert rows[1].long_words == "" and rows[1].first_long == ""


def test_degree_histogram_conservation(spark):
    """Σ degree·n_nodes over the histogram must equal the distinct edge
    count, and Σ n_nodes the distinct supplier count — mass conservation
    through both aggregates."""
    import pyspark.sql.functions as F
    from gvcf_hbase_spark.sources.tables import load_table

    hist = SPECS["graph_degree_histogram"].fn(spark, SF_DIR).collect()
    li = load_table(spark, SF_DIR, "lineitem")
    edges = li.select("l_suppkey", "l_partkey").distinct().count()
    supps = li.select("l_suppkey").distinct().count()
    assert sum(r.degree * r.n_nodes for r in hist) == edges
    assert sum(r.n_nodes for r in hist) == supps


def test_merge_upsert_semantics(spark, tmp_path):
    """A user with purchase events must appear exactly once with the
    aggregated balance (updated=1); a customer with no qualifying events
    keeps the base balance (updated=0); no row appears twice."""
    import pyspark.sql.functions as F

    sf = write_events(
        spark, tmp_path,
        [(1, 0, 1, "purchase", 10.0), (2, 1, 1, "purchase", 2.5), (3, 0, 2, "view", 9.9)],
    )
    write_table(
        spark, tmp_path, "customer", [(1, 100.0), (2, 55.0), (3, 7.0)],
        "c_custkey long, c_acctbal double",
    )
    out = SPECS["sink_merge_upsert"].fn(spark, str(tmp_path))
    rows = {r.user_id: r for r in out.collect()}
    assert out.count() == 3 and len(rows) == 3
    assert rows[1].balance_cents == 1250 and rows[1].updated == 1 and rows[1].n_events == 2
    assert rows[2].balance_cents == 5500 and rows[2].updated == 0  # view doesn't qualify
    assert rows[3].balance_cents == 700 and rows[3].updated == 0


def test_secondary_index_posting_lists_sorted(spark):
    rows = SPECS["sink_secondary_index"].fn(spark, SF_DIR).collect()
    assert rows, "fixture must produce at least one >=3-purchase user"
    for r in rows:
        # event_ids is comma-joined (driver hashable-output rule)
        ids = [int(x) for x in r.event_ids.split(",")]
        assert ids == sorted(ids)
        assert r.n_purchases == len(ids) >= 3


def test_rolling_corr_perfect_and_constant(spark, tmp_path):
    """A strictly linear series (x_t = t) has lag-1 autocorrelation
    exactly 1 once ≥5 pairs exist; a constant series has zero variance
    and must yield NULL, not a 0/0 artifact."""
    rows = [(i, i, 1, "a", float(i)) for i in range(1, 12)]
    rows += [(100 + i, i, 2, "a", 5.0) for i in range(1, 12)]
    sf = write_events(spark, tmp_path, rows)
    out = {r.event_id: r.corr_1e6 for r in SPECS["win_rolling_corr"].fn(spark, sf).collect()}
    assert out[11] == 1_000_000  # linear ⇒ corr = 1
    assert out[6] == 1_000_000  # exactly 5 pairs: first defined frame
    assert out[5] is None  # only 4 pairs: below min_periods
    assert out[111] is None  # constant series: zero variance ⇒ NULL


def test_bipartite_projection_closed_form(spark, tmp_path):
    """Suppliers {1,2} share parts {10,11}; supplier 3 shares only part
    10 with them → edge (1,2) weight 2 survives, (1,3)/(2,3) weight 1
    are cut by HAVING ≥ 2."""
    rows = []
    for p, s in [(10, 1), (10, 2), (10, 3), (11, 1), (11, 2)]:
        rows.append((1, p, s))
    write_table(spark, tmp_path, "lineitem", rows, "l_orderkey long, l_partkey long, l_suppkey long")
    out = [(r.s1, r.s2, r.weight) for r in
           SPECS["graph_bipartite_projection"].fn(spark, str(tmp_path)).collect()]
    assert out == [(1, 2, 2)]
