"""The exact pair scorer that LSH buckets (`sim_ann_lsh`) and IVF cells
(`sim_ann_ivf`) both run, called directly on numpy data — no Spark session.

1500 vectors make the scorer's chunk 1024 rows, so two chunks run and the
upper-triangle bookkeeping across the chunk boundary is exercised; the
500-embedding fixtures never reach it."""

from __future__ import annotations

import numpy as np
import pandas as pd

from gvcf_hbase_spark.operators.similarity import _COS_PAIR_THRESHOLD, _pair_scorer

N, DIM, CHUNK = 1500, 16, 1024


def _group(n: int, seed: int = 7) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    ids = rng.choice(10**6, size=n, replace=False).astype("int64")  # shuffled
    x = rng.standard_normal((n, DIM))
    return pd.DataFrame({"vec_id": ids, "emb": list(x)})


def _brute_force(pdf: pd.DataFrame, threshold: float) -> dict[tuple[int, int], float]:
    ids = pdf["vec_id"].to_numpy()
    x = np.stack(pdf["emb"].to_list())
    xn = x / np.linalg.norm(x, axis=1, keepdims=True)
    s = np.round(xn @ xn.T, 6)
    out = {}
    for i in range(len(ids)):
        for j in np.nonzero(s[i] >= threshold)[0]:
            if ids[i] < ids[j]:
                out[(int(ids[i]), int(ids[j]))] = float(s[i, j])
    return out


def test_pair_scorer_matches_brute_force_across_chunks():
    pdf = _group(N)
    got = _pair_scorer(_COS_PAIR_THRESHOLD)(pdf)
    ref = _brute_force(pdf, _COS_PAIR_THRESHOLD)

    assert list(got.columns) == ["id_a", "id_b", "cos_sim"]
    assert (got["id_a"] < got["id_b"]).all()
    pairs = list(zip(got["id_a"].tolist(), got["id_b"].tolist()))
    assert len(pairs) == len(set(pairs)), "a pair was emitted twice"
    assert set(pairs) == set(ref)
    want = np.array([ref[p] for p in pairs])
    np.testing.assert_allclose(got["cos_sim"].to_numpy(), want, rtol=0, atol=1e-6)

    # both chunks and the pairs that straddle their boundary are present
    rank = {v: r for r, v in enumerate(np.sort(pdf["vec_id"].to_numpy()))}
    ra = np.array([rank[a] for a, _ in pairs])
    rb = np.array([rank[b] for _, b in pairs])
    assert ((ra < CHUNK) & (rb >= CHUNK)).any()
    assert ((ra >= CHUNK) & (rb >= CHUNK)).any()
    assert (rb < CHUNK).any()


def test_pair_scorer_small_groups_return_typed_empty():
    scorer = _pair_scorer(_COS_PAIR_THRESHOLD)
    for n in (0, 1):
        out = scorer(_group(n))
        assert out.empty
        assert list(out.columns) == ["id_a", "id_b", "cos_sim"]
        assert [str(t) for t in out.dtypes] == ["int64", "int64", "float64"]
