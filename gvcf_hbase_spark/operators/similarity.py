"""Similarity search over the ``embeddings`` table (north-star surface):
exact cosine pairs, top-k nearest neighbors, LSH/IVF-bucketed ANN, and
embedding-based near-dup pruning.

Execution design — every EXACT operator has two physical strategies with
identical results, chosen by a file-listing size estimate (never a
``count()`` action):

- **broadcast brute force** (corpus ≤ ~5M×64-dim vectors): the corpus
  matrix is broadcast once (L2-normalized float64) and scorers run numpy
  matmuls inside Arrow-batched ``mapInPandas`` over the spread-out query
  side — measured ~100× faster than JVM higher-order-function folds
  (96 s → <1 s for sf0.1 knn).
- **blocked matmul** (beyond broadcast): vectors are hash-assigned to B
  blocks sized to task memory; all (i ≤ j) block pairs (for pairs) or
  (query-block × corpus-block) groups (for top-k) are scored with the
  same chunked numpy matmul inside ``applyInPandas``. Nothing is ever
  driver-resident; the only shuffle replicates each vector ~B times.
  Arithmetic stays quadratic — that is what EXACT all-pairs means — but
  memory per task is bounded and the job is embarrassingly parallel.

The APPROXIMATE operators (``sim_ann_lsh``, ``sim_ann_ivf``,
``sim_knn_ivf``) are separate registered keys so callers opt into
approximation explicitly — no exact-registered query ever silently
degrades to approximate output. Their bucketize stages need no corpus
broadcast (fixed hyperplanes / sample-trained centroids), and candidate
verification fetches vectors by id-join, so the whole family is
broadcast-free.

Scores are rounded to 6dp *before* thresholding / ranking so both engines
make identical keep/rank decisions. Thresholds are calibrated to the
fixture (max pairwise cosine ≈ 0.51, probe-verified).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from gvcf_hbase_spark.functions.vectors import as_double, corpus_broadcast
from gvcf_hbase_spark.operators.dedup import _confusion_row
from gvcf_hbase_spark.registry import register
from gvcf_hbase_spark.session import one_compute_boundary
from gvcf_hbase_spark.sources.tables import load_table, scan_size_bytes, spread

_COS_PAIR_THRESHOLD = 0.4
_NEARDUP_THRESHOLD = 0.45
_KNN_K = 5

# Random-hyperplane LSH: 10 tables × 3 planes (fixed seed). For cos≈0.4
# pairs, P(shared bucket in ≥1 table) ≈ 1-(1-0.63^3)^10 ≈ 0.94.
_LSH_TABLES = 10
_LSH_PLANES = 3  # floor (and the shipped value at every oracle-gate SF)
# Adaptive depth (r09, same sf10-rehearsal finding as the IVF cell count):
# with a STATIC 3 planes, buckets hold n/8 vectors and the per-bucket pair
# work grows quadratically with the corpus. Planes per table scale as
# log2(n / target-bucket), so bucket size stays ~8k and candidate cost
# stays linear; gate SFs (n ≤ 50k ⇒ 3 planes) keep their exact historical
# behavior. Hyperplanes are pregenerated at max depth from the fixed seed,
# and a table's first p planes are the SAME at every depth, so deeper
# bucketing is a refinement of the shipped buckets.
_LSH_MAX_PLANES = 16
_LSH_BUCKET_TARGET = 8192
_planes_base = np.random.RandomState(7).normal(
    size=(_LSH_TABLES * _LSH_PLANES, 64)
)  # the original seed-7 draw — depth-3 buckets stay bit-identical
_planes_all = np.concatenate(
    [
        _planes_base.reshape(_LSH_TABLES, _LSH_PLANES, 64),
        np.random.RandomState(11).normal(
            size=(_LSH_TABLES, _LSH_MAX_PLANES - _LSH_PLANES, 64)
        ),
    ],
    axis=1,
)


def _lsh_planes_for(n: int) -> int:
    if n <= 0:
        return _LSH_PLANES
    import math

    return int(
        min(_LSH_MAX_PLANES, max(_LSH_PLANES, math.ceil(math.log2(max(1, n / _LSH_BUCKET_TARGET)))))
    )


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return e.select("vec_id", "label", as_double("embedding").alias("emb"))


# Broadcast ceiling for the brute-force strategies, in SCAN bytes (file
# listing — ~4 ms, no job). 2 GB of parquet float32 ≈ 5M 64-dim vectors
# ≈ 5 GB broadcast as float64, the practical executor-memory ceiling.
# Unknown size (non-file source) counts as "large": the blocked path is
# always correct, only slower on small inputs.
_BRUTE_FORCE_MAX_BYTES = 2_000_000_000

# Blocked-matmul tuning: ~64 MB of raw vector payload per block keeps one
# block's matrix comfortably in task memory; queries score against a block
# in chunks of 256 rows so the transient score matrix stays ~256 MB even
# at the largest block size.
_BLOCK_BYTES = 64 << 20
_SCORE_CHUNK = 256


def _fits_broadcast(e: DataFrame) -> bool:
    sz = scan_size_bytes(e)
    return sz is not None and sz <= _BRUTE_FORCE_MAX_BYTES


def _pick_blocks(e: DataFrame) -> int:
    """Block count for the blocked strategies: scan bytes ×2 (float32 on
    disk → float64 in memory), ÷ the per-block budget. Floor 2 so the
    blocked code path is always exercised when chosen; cap 1024 keeps the
    block-pair fan-out (B(B+1)/2 groups) within shuffle-partition sanity."""
    sz = scan_size_bytes(e) or _BRUTE_FORCE_MAX_BYTES
    return max(2, min(1024, -(-sz * 2 // _BLOCK_BYTES)))


def _to_matrix(col: pd.Series) -> np.ndarray:
    m = np.stack([np.asarray(v, dtype="float64") for v in col])
    return m / np.linalg.norm(m, axis=1, keepdims=True)


def _pairs_above_blocked(e: DataFrame, threshold: float, blocks: int) -> DataFrame:
    """Exact cosine pairs ≥ threshold WITHOUT any corpus broadcast — the
    beyond-5M-vectors strategy. Vectors are hash-assigned to ``blocks``
    blocks; every unordered block pair (i ≤ j) becomes one applyInPandas
    group scoring block i against block j with chunked numpy matmuls, so
    per-task memory is bounded by the block size regardless of corpus
    size. Each vector is shuffled ~B times (its block appears in B pair
    groups); only surviving pairs leave a task. Results are identical to
    the broadcast scorer: same 6dp rounding before the threshold."""
    spark = e.sparkSession
    b = blocks
    pairs = spark.createDataFrame(
        [(i, j) for i in range(b) for j in range(i, b)], "bi int, bj int"
    )
    tagged = spread(e).withColumn(
        "blk", F.pmod(F.xxhash64(F.col("vec_id")), F.lit(b)).cast("int")
    )
    left = tagged.join(F.broadcast(pairs), F.col("blk") == F.col("bi")).select(
        "bi", "bj", F.lit("a").alias("side"), "vec_id", "emb"
    )
    right = (
        tagged.join(
            F.broadcast(pairs.filter(F.col("bi") != F.col("bj"))),
            F.col("blk") == F.col("bj"),
        )
        .select("bi", "bj", F.lit("b").alias("side"), "vec_id", "emb")
    )
    both = left.unionByName(right)

    def score(key, pdf):
        bi, bj = key
        a = pdf[pdf["side"] == "a"]
        if a.empty:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos_sim": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cos_sim": "float64"}
            )
        ids_a = a["vec_id"].to_numpy(dtype="int64")
        ma = _to_matrix(a["emb"])
        if bi == bj:
            ids_b, mb = ids_a, ma
        else:
            bb = pdf[pdf["side"] == "b"]
            if bb.empty:
                return pd.DataFrame({"id_a": [], "id_b": [], "cos_sim": []}).astype(
                    {"id_a": "int64", "id_b": "int64", "cos_sim": "float64"}
                )
            ids_b = bb["vec_id"].to_numpy(dtype="int64")
            mb = _to_matrix(bb["emb"])
        lo_all, hi_all, cs_all = [], [], []
        for s0 in range(0, len(ids_a), _SCORE_CHUNK):
            s1 = min(s0 + _SCORE_CHUNK, len(ids_a))
            s = np.round(ma[s0:s1] @ mb.T, 6)
            mask = s >= threshold
            if bi == bj:
                # Diagonal group: both sides are the same block, so the
                # upper triangle (id_a < id_b) de-duplicates mirrored and
                # self pairs. Cross-block pairs exist in exactly ONE group
                # (min_block, max_block) and must NOT be id-filtered here —
                # id order is independent of block assignment; they are
                # oriented min/max below instead.
                mask &= ids_a[s0:s1, None] < ids_b[None, :]
            ii, jj = np.nonzero(mask)
            ia, ib = ids_a[s0 + ii], ids_b[jj]
            lo_all.append(np.minimum(ia, ib))
            hi_all.append(np.maximum(ia, ib))
            cs_all.append(s[ii, jj])
        return pd.DataFrame(
            {
                "id_a": np.concatenate(lo_all) if lo_all else np.array([], "int64"),
                "id_b": np.concatenate(hi_all) if hi_all else np.array([], "int64"),
                "cos_sim": np.concatenate(cs_all) if cs_all else np.array([], "float64"),
            }
        )

    return both.groupBy("bi", "bj").applyInPandas(
        score, "id_a bigint, id_b bigint, cos_sim double"
    )


def cosine_pairs(e: DataFrame, threshold: float) -> DataFrame:
    """Exact pairs ≥ threshold with the size-dispatched physical strategy:
    broadcast matmul when the corpus fits, blocked matmul beyond. Both
    are exact — dispatch never changes results, only the plan."""
    if _fits_broadcast(e):
        return _pairs_above(e, threshold)
    return _pairs_above_blocked(e, threshold, _pick_blocks(e))


def _pairs_above(e: DataFrame, threshold: float) -> DataFrame:
    """All ordered pairs (id_a < id_b) with 6dp-rounded cosine ≥ threshold.
    Broadcast corpus × mapInPandas matmul; emits only surviving pairs, so
    nothing quadratic ever hits a shuffle."""
    bc = corpus_broadcast(e)

    def gen(batches):
        ids_all, mn = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            q = np.stack([np.asarray(v, dtype="float64") for v in pdf["emb"]])
            qn = q / np.linalg.norm(q, axis=1, keepdims=True)
            s = np.round(qn @ mn.T, 6)
            out_a, out_b, out_c = [], [], []
            for i, qid in enumerate(pdf["vec_id"].to_numpy(dtype="int64")):
                keep = np.flatnonzero((ids_all > qid) & (s[i] >= threshold))
                out_a.append(np.full(len(keep), qid, dtype="int64"))
                out_b.append(ids_all[keep])
                out_c.append(s[i][keep])
            yield pd.DataFrame(
                {
                    "id_a": np.concatenate(out_a),
                    "id_b": np.concatenate(out_b),
                    "cos_sim": np.concatenate(out_c),
                }
            )

    return spread(e).mapInPandas(gen, "id_a bigint, id_b bigint, cos_sim double")


_PAIR_ORACLE = f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 6) AS cos_sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                       CAST(b.embedding AS DOUBLE[])), 6) >= {_COS_PAIR_THRESHOLD}
"""


@register("sim_cosine_pairs", oracle=_PAIR_ORACLE, tags=("similarity",))
def sim_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pairwise cosine ≥ 0.4 — the baseline the ANN paths
    approximate. Size-dispatched: broadcast matmul while the corpus fits
    executor memory, blocked matmul (no broadcast, bounded task memory)
    beyond; both strategies produce identical pairs."""
    return cosine_pairs(_emb(spark, sf_dir), _COS_PAIR_THRESHOLD)


_KNN_ORACLE = f"""
    WITH scored AS (
      SELECT a.vec_id, b.vec_id AS neighbor_id,
             round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                          CAST(b.embedding AS DOUBLE[])), 6) AS cos_sim
      FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY vec_id
                                   ORDER BY cos_sim DESC, neighbor_id) AS rn
      FROM scored
    )
    SELECT vec_id, neighbor_id, cos_sim, rn FROM ranked WHERE rn <= {_KNN_K}
"""


@register("sim_knn_topk", oracle=_KNN_ORACLE, tags=("similarity",))
def sim_knn_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 neighbors per vector: one matmul row per query against
    the broadcast corpus, top-k selected inside the Python worker — only
    n×k rows ever leave the scorer (no quadratic pair materialization).
    Ranking uses the rounded score + neighbor_id tiebreak so both engines
    rank identically.

    Scale guard: beyond the broadcast ceiling (file-listing size estimate,
    no count() action) the operator dispatches to :func:`knn_topk_blocked`
    — still EXACT, just broadcast-free with bounded task memory. Callers
    who want the cheaper approximate search at scale choose
    ``sim_knn_ivf`` explicitly; an exact-registered query never silently
    degrades to approximate results."""
    e = _emb(spark, sf_dir)
    if not _fits_broadcast(e):
        return knn_topk_blocked(e, k=_KNN_K)
    bc = corpus_broadcast(e)

    def topk(batches):
        ids_all, mn = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            q = np.stack([np.asarray(v, dtype="float64") for v in pdf["emb"]])
            qn = q / np.linalg.norm(q, axis=1, keepdims=True)
            s = np.round(qn @ mn.T, 6)
            cols = {"vec_id": [], "neighbor_id": [], "cos_sim": [], "rn": []}
            for i, qid in enumerate(pdf["vec_id"].to_numpy(dtype="int64")):
                idx = np.flatnonzero(ids_all != qid)
                # lexsort: primary = -score (desc), secondary = neighbor id
                best = idx[np.lexsort((ids_all[idx], -s[i][idx]))][:_KNN_K]
                cols["vec_id"].append(np.full(len(best), qid, dtype="int64"))
                cols["neighbor_id"].append(ids_all[best])
                cols["cos_sim"].append(s[i][best])
                cols["rn"].append(np.arange(1, len(best) + 1, dtype="int32"))
            yield pd.DataFrame({k: np.concatenate(v) for k, v in cols.items()})

    return spread(e).mapInPandas(
        topk, "vec_id bigint, neighbor_id bigint, cos_sim double, rn int"
    )


@register(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH dup AS (
      SELECT DISTINCT b.vec_id
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                         CAST(b.embedding AS DOUBLE[])), 6) >= {_NEARDUP_THRESHOLD}
    )
    SELECT e.vec_id, e.label FROM embeddings e
    WHERE e.vec_id NOT IN (SELECT vec_id FROM dup)
    """,
    tags=("similarity", "dedup"),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pruning: drop any vector that has a lower-id
    neighbor with cosine ≥ 0.45; survivors form the deduplicated corpus
    (greedy keep-first — deterministic, order-independent). Pair finding
    rides :func:`cosine_pairs`, so it inherits the broadcast/blocked size
    dispatch and stays exact at any corpus size."""
    e = _emb(spark, sf_dir)
    dups = (
        cosine_pairs(e, _NEARDUP_THRESHOLD)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
    )
    return e.join(dups, "vec_id", "left_anti").select("vec_id", "label")


@register("sim_ann_lsh", oracle=None, tags=("similarity", "lsh"))
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate nearest-neighbor pairs via random-hyperplane LSH:
    10 tables × depth fixed hyperplanes → per-table sign-pattern buckets
    → per-bucket exact cosine ≥ 0.4.

    Fully broadcast-free, and both scale knobs adapt (r09, sf10-rehearsal
    findings shared with the IVF tier): table depth grows as
    log2(n / 8192) so bucket size — and with it the quadratic per-bucket
    work — stays bounded as the corpus grows (3 planes at the gate SFs,
    bit-identical to the shipped buckets; deeper tables refine them),
    and scoring is per-bucket chunked BLAS via applyInPandas instead of
    a bucket equi-join that materialized one row per candidate pair
    (~2×10¹⁰ rows at 500k vectors with the static depth). Each bucket
    task sorts members by id, scores ≤1024-row chunks against the
    id-later remainder, and emits exactly the τ-survivors.

    Rows-only check (candidate recall is probabilistic by design); tests
    assert output ⊆ sim_cosine_pairs and recall ≥ 0.7 on the fixture.
    """
    e = _emb(spark, sf_dir)
    depth = _lsh_planes_for(e.count())  # 1-row scalar probe (dispatch posture)
    planes = _planes_all[:, :depth, :]

    def bucketize(batches):
        flat = planes.reshape(-1, planes.shape[2])
        for pdf in batches:
            if pdf.empty:
                continue
            q = np.stack([np.asarray(v, dtype="float64") for v in pdf["emb"]])
            signs = (q @ flat.T) > 0  # (batch, tables*depth)
            ids = pdf["vec_id"].to_numpy(dtype="int64")
            frames = []
            for t in range(_LSH_TABLES):
                bits = signs[:, t * depth : (t + 1) * depth]
                bucket = (bits * (1 << np.arange(depth))).sum(axis=1)
                frames.append(
                    pd.DataFrame(
                        {
                            "vec_id": ids,
                            "t": np.int32(t),
                            "bucket": bucket.astype("int32"),
                            "emb": list(pdf["emb"]),
                        }
                    )
                )
            yield pd.concat(frames)

    banded = spread(e).mapInPandas(
        bucketize, "vec_id bigint, t int, bucket int, emb array<double>"
    )
    return (
        banded.groupBy("t", "bucket")
        .applyInPandas(
            _pair_scorer(_COS_PAIR_THRESHOLD), "id_a bigint, id_b bigint, cos_sim double"
        )
        .dropDuplicates(["id_a", "id_b"])
    )


def _pair_scorer(threshold: float):
    """applyInPandas scorer for one LSH bucket or IVF cell of
    (vec_id, emb) rows: every id-ordered pair (id_a < id_b) whose 6dp
    cosine is ≥ ``threshold``, as (id_a, id_b, cos_sim). Members sort by
    id and ≤1024-row chunks score against the id-later remainder, so task
    memory stays bounded however large the group. A factory, not a
    module-level function, so cloudpickle ships the scorer by value and
    the Python workers import no package module."""
    empty = pd.DataFrame(
        {
            "id_a": pd.Series(dtype="int64"),
            "id_b": pd.Series(dtype="int64"),
            "cos_sim": pd.Series(dtype="float64"),
        }
    )

    def pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return empty
        ids = pdf["vec_id"].to_numpy(dtype="int64")
        m = np.stack([np.asarray(v, dtype="float64") for v in pdf["emb"]])
        order = np.argsort(ids)  # id-ascending: row i pairs only with j > i
        ids, m = ids[order], m[order]
        mn = m / np.linalg.norm(m, axis=1, keepdims=True)
        out_a, out_b, out_s = [], [], []
        chunk = max(1, min(1024, 8_000_000 // len(ids)))
        for st in range(0, len(ids) - 1, chunk):
            en = min(st + chunk, len(ids))
            s = np.round(mn[st:en] @ mn[st + 1 :].T, 6)
            # upper triangle: row i (global st+i) pairs with cols st+1+j
            # where j >= i  <=>  col index >= row's own position
            ii, jj = np.nonzero(s >= threshold)
            keep = jj >= ii
            ii, jj = ii[keep], jj[keep]
            out_a.append(ids[st + ii])
            out_b.append(ids[st + 1 + jj])
            out_s.append(s[ii, jj])
        if not out_a:
            return empty
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a),
                "id_b": np.concatenate(out_b),
                "cos_sim": np.concatenate(out_s),
            }
        )

    return pairs


def _pair_cos_np(va: pd.Series, vb: pd.Series) -> pd.Series:
    a = np.stack([np.asarray(v, dtype="float64") for v in va])
    b = np.stack([np.asarray(v, dtype="float64") for v in vb])
    an = a / np.linalg.norm(a, axis=1, keepdims=True)
    bn = b / np.linalg.norm(b, axis=1, keepdims=True)
    return pd.Series(np.round((an * bn).sum(axis=1), 6))


def _arr_cos(a, b):
    """6dp-rounded cosine of two array<double> columns (Arrow-batched,
    row-aligned numpy — the verify-stage scorer). The pandas UDF is built
    per call: decorating at module import would require a live
    SparkSession before one exists."""
    return F.pandas_udf(_pair_cos_np, "double")(a, b)


# (The id-join verify helper `_verify_pairs` was removed in r09: its last
# two callers, sim_ann_lsh and sim_ann_ivf, score candidates with
# per-bucket/per-cell chunked BLAS now.)


# IVF: data-adaptive cell count (r09 — found by the sf10 rehearsal: a
# STATIC 16 cells meant ~60k-vector cells at 500k vectors, and the
# per-cell candidate work grew quadratically with corpus size; the "IVF
# owns >5M vectors" dispatch claim was false with a fixed k). The rule is
# a fixed TARGET CELL SIZE: k = clamp(n // 4096, 16, 1024), so candidate
# cost stays ~n × 4096 — linear in the corpus — and the gate SFs
# (n ≤ 50k ⇒ k = 16) keep their exact historical behavior. Every vector
# is assigned to its nearest cells (multi-probe makes near-boundary pairs
# share a cell). Fixed Lloyd config — deterministic, no runtime RNG
# (SURVEY §5.4 rule 6).
_IVF_CELLS = 16  # floor (and the shipped value at every oracle-gate SF)
_IVF_PROBE = 2
_IVF_ITERS = 8
_IVF_TRAIN_SAMPLE = 4096
_IVF_TARGET_CELL = 4096  # adaptive rule: ~4k vectors per cell
_IVF_MAX_CELLS = 1024  # keeps the training sample >= 4x cells


def _ivf_cell_count(n: int) -> int:
    return int(min(_IVF_MAX_CELLS, max(_IVF_CELLS, n // _IVF_TARGET_CELL)))


def _ivf_centroids(e: DataFrame) -> np.ndarray:
    """Train IVF cells with driver-side Lloyd iterations on a bounded,
    deterministic sample (lowest vec_ids) — the standard ANN recipe: the
    index trains on a sample, assignment/search run distributed. Cell
    count adapts to the corpus (see _ivf_cell_count; the count() is a
    1-row scalar probe, the containment-dispatch posture). Init = first
    k sample vectors; empty cells keep their previous centroid."""
    k = min(_ivf_cell_count(e.count()), _IVF_TRAIN_SAMPLE)
    pdf = e.orderBy("vec_id").limit(_IVF_TRAIN_SAMPLE).select("emb").toPandas()
    x = np.stack([np.asarray(v, dtype="float64") for v in pdf["emb"]])
    x = x / np.linalg.norm(x, axis=1, keepdims=True)
    k = min(k, len(x))
    cent = x[:k].copy()
    for _ in range(_IVF_ITERS):
        assign = (x @ cent.T).argmax(axis=1)
        for c in range(k):
            members = x[assign == c]
            if len(members):
                m = members.mean(axis=0)
                cent[c] = m / np.linalg.norm(m)
    return cent


@register("sim_ann_ivf", oracle=None, tags=("similarity", "ann"))
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate nearest-neighbor pairs via IVF (inverted-file) cells:
    k-means centroids trained on a deterministic sample → every vector
    assigned to its 2 nearest cells → per-cell equi-join candidates →
    exact cosine verify ≥ 0.4.

    Same broadcast-free scale shape as sim_ann_lsh but data-adaptive:
    cells follow the corpus density instead of fixed random hyperplanes,
    which typically buys higher recall per candidate at the price of a
    training pass (bounded driver sample — the standard ANN recipe).
    Scoring is per-cell chunked BLAS (r09 — the sf10 rehearsal timed out
    the previous cell-equi-JOIN shape, which materialized one row per
    candidate pair before the cosine verify: ~4×10⁹ rows at 500k
    vectors; the identical arithmetic as one upper-triangle matmul per
    cell is seconds of dgemm, and only the τ-survivors ever become
    rows). Each cell task sorts members by id, scores ≤1024-row chunks
    against the id-later remainder (bounds task memory however large the
    cell), and emits exactly the pairs with rounded cosine ≥ τ — the
    same candidate set, scores, and threshold as the join shape.
    Rows-only check; tests assert output ⊆ sim_cosine_pairs and
    recall ≥ 0.7.
    """
    e = _emb(spark, sf_dir)
    cent = _ivf_centroids(e)
    assigned = spread(e).mapInPandas(
        _cell_assigner(cent, _IVF_PROBE), "vec_id bigint, cell int, emb array<double>"
    )
    return (
        assigned.groupBy("cell")
        .applyInPandas(
            _pair_scorer(_COS_PAIR_THRESHOLD), "id_a bigint, id_b bigint, cos_sim double"
        )
        .dropDuplicates(["id_a", "id_b"])
    )


def _cell_assigner(cent: np.ndarray, n_probe: int):
    """mapInPandas generator: (vec_id, cell, emb) — each vector replicated
    to its n_probe nearest IVF cells, payload carried along so downstream
    joins are already co-partitioned by cell (no second vector shuffle)."""

    def gen(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            q = np.stack([np.asarray(v, dtype="float64") for v in pdf["emb"]])
            qn = q / np.linalg.norm(q, axis=1, keepdims=True)
            order = np.argsort(-(qn @ cent.T), axis=1)[:, :n_probe]
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(dtype="int64"), n_probe),
                    "cell": order.ravel().astype("int32"),
                    "emb": [v for v in pdf["emb"] for _ in range(n_probe)],
                }
            )

    return gen


def knn_topk_ivf(
    e: DataFrame, k: int, probe: int = 4, corpus_probe: int = 2
) -> DataFrame:
    """Approximate top-k neighbors, the 100 TB path: NO corpus broadcast.

    - centroids train on a bounded driver sample (standard ANN recipe);
    - the corpus side lands in its ``corpus_probe`` nearest cells, the
      query side probes its ``probe`` nearest cells — both via one
      Arrow-batched pass that carries the vector payload, so the candidate
      equi-join on ``cell`` is the ONLY shuffle that moves vectors;
    - exact cosine on co-located candidate pairs (vectorized pandas UDF),
      then per-query window top-k over (score desc, neighbor_id).

    Cost ~ Σ_cell |queries_probing(cell)| × |cell| instead of n², and the
    scoring is per-cell BLAS (r09 — the sf10 rehearsal timed out the
    previous shape, a cell equi-JOIN scoring one ROW per (query,
    candidate): ~8×10⁹ joined rows at 500k vectors even with adaptive
    cells. The same arithmetic as one chunked matmul per cell is ~10¹²
    flops of dgemm, seconds of CPU): each cell's task takes its queries ×
    corpus block, scores a ≤1024-row query chunk at a time (bounds task
    memory at ~64 MB however large the cell), keeps each query's
    in-cell top-k — lossless for the global top-k, the
    sim_ivf_nprobe_sweep prune argument — and only those bounded rows
    ever cross a shuffle. Recall is governed by (cells, corpus_probe,
    probe): the fixture embeddings are near-random (max pairwise cos ≈
    0.51, essentially unclusterable), so the defaults are deliberately
    wide — measured recall 0.78 at sf0.01 while scanning ~50% of the pair
    space; real embedding corpora cluster, buying the usual 10-100×
    candidate cut at the same recall with narrower probes.
    """
    cent = _ivf_centroids(e)
    schema = "vec_id bigint, cell int, emb array<double>"
    corpus = spread(e).mapInPandas(_cell_assigner(cent, corpus_probe), schema)
    queries = spread(e).mapInPandas(_cell_assigner(cent, probe), schema)
    both = corpus.withColumn("role", F.lit("c")).unionByName(
        queries.withColumn("role", F.lit("q"))
    )
    empty = pd.DataFrame(
        {
            "vec_id": pd.Series(dtype="int64"),
            "neighbor_id": pd.Series(dtype="int64"),
            "cos_sim": pd.Series(dtype="float64"),
        }
    )

    def cell_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        qp = pdf[pdf["role"] == "q"]
        cp = pdf[pdf["role"] == "c"]
        if qp.empty or cp.empty:
            return empty
        cid = cp["vec_id"].to_numpy(dtype="int64")
        cm = np.stack([np.asarray(v, dtype="float64") for v in cp["emb"]])
        ordc = np.argsort(cid)  # id-ascending so ties break like the window
        cid, cm = cid[ordc], cm[ordc]
        cn = cm / np.linalg.norm(cm, axis=1, keepdims=True)
        qid = qp["vec_id"].to_numpy(dtype="int64")
        qm = np.stack([np.asarray(v, dtype="float64") for v in qp["emb"]])
        qn = qm / np.linalg.norm(qm, axis=1, keepdims=True)
        rows_q, rows_n, rows_s = [], [], []
        chunk = max(1, min(1024, 8_000_000 // max(1, len(cid))))
        for st in range(0, len(qid), chunk):
            s = np.round(qn[st : st + chunk] @ cn.T, 6)
            ids = qid[st : st + chunk]
            s[ids[:, None] == cid[None, :]] = -np.inf  # self-exclusion
            kk = min(k, s.shape[1])
            # (score desc, neighbor_id asc) selection, exact under the
            # heavy score TIES identical clones produce: columns are
            # id-ascending, so a STABLE argsort on -s is the composite
            # order (argpartition would pick an arbitrary subset of a
            # tie run crossing the k boundary)
            part = np.argsort(-s, axis=1, kind="stable")[:, :kk]
            for i in range(s.shape[0]):
                cand = part[i]
                cand = cand[s[i][cand] > -np.inf]
                rows_q.append(np.full(len(cand), ids[i], dtype="int64"))
                rows_n.append(cid[cand])
                rows_s.append(s[i][cand])
        if not rows_q:
            return empty
        return pd.DataFrame(
            {
                "vec_id": np.concatenate(rows_q),
                "neighbor_id": np.concatenate(rows_n),
                "cos_sim": np.concatenate(rows_s),
            }
        )

    local = both.groupBy("cell").applyInPandas(
        cell_topk, "vec_id bigint, neighbor_id bigint, cos_sim double"
    )
    from pyspark.sql import Window

    scored = local.groupBy("vec_id", "neighbor_id").agg(
        F.max("cos_sim").alias("cos_sim")  # pair-determined; max dedupes cells
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= k)
    )


def knn_topk_blocked(
    e: DataFrame, k: int, blocks: int | None = None, normalize: bool = True
) -> DataFrame:
    """EXACT top-k neighbors without any corpus broadcast — what
    ``sim_knn_topk`` dispatches to beyond the broadcast ceiling.
    ``normalize=False`` scores raw inner products (MIPS) instead of
    cosine; the merge logic is identical because top-k under
    (score desc, id) is monotone for any score.

    The corpus is hash-assigned to B blocks; every query is replicated to
    all B blocks (one broadcast of a B-row block list, then a shuffle of
    n×B query vectors), each (block) group computes its LOCAL top-k per
    query with the chunked matmul, and a global window merges the B×k
    candidates per query down to the true top-k. Exact because the union
    of blocks covers the whole corpus and top-k selection is a monotone
    merge under the (score desc, neighbor_id) order the oracle uses.

    Per-task memory is one block's matrix plus a _SCORE_CHUNK-row score
    slab; intermediate volume is n×B×k rows — linear in the corpus for
    fixed B, never quadratic."""
    spark = e.sparkSession
    b = blocks or _pick_blocks(e)
    blocks_df = spark.createDataFrame([(i,) for i in range(b)], "tblk int")
    corpus = spread(e).select(
        F.pmod(F.xxhash64(F.col("vec_id")), F.lit(b)).cast("int").alias("tblk"),
        F.lit("c").alias("side"),
        "vec_id",
        "emb",
    )
    queries = (
        spread(e)
        .crossJoin(F.broadcast(blocks_df))
        .select("tblk", F.lit("q").alias("side"), "vec_id", "emb")
    )

    def local_topk(pdf):
        c = pdf[pdf["side"] == "c"]
        q = pdf[pdf["side"] == "q"]
        empty = pd.DataFrame(
            {
                "vec_id": np.array([], "int64"),
                "neighbor_id": np.array([], "int64"),
                "cos_sim": np.array([], "float64"),
            }
        )
        if c.empty or q.empty:
            return empty
        ids_c = c["vec_id"].to_numpy(dtype="int64")
        ids_q = q["vec_id"].to_numpy(dtype="int64")
        if normalize:
            mc, mq = _to_matrix(c["emb"]), _to_matrix(q["emb"])
        else:
            mc = np.stack([np.asarray(v, dtype="float64") for v in c["emb"]])
            mq = np.stack([np.asarray(v, dtype="float64") for v in q["emb"]])
        frames = []
        for s0 in range(0, len(ids_q), _SCORE_CHUNK):
            s1 = min(s0 + _SCORE_CHUNK, len(ids_q))
            s = np.round(mq[s0:s1] @ mc.T, 6)
            for i in range(s1 - s0):
                qid = ids_q[s0 + i]
                idx = np.flatnonzero(ids_c != qid)
                best = idx[np.lexsort((ids_c[idx], -s[i][idx]))][:k]
                frames.append(
                    pd.DataFrame(
                        {
                            "vec_id": np.full(len(best), qid, dtype="int64"),
                            "neighbor_id": ids_c[best],
                            "cos_sim": s[i][best],
                        }
                    )
                )
        return pd.concat(frames) if frames else empty

    local = (
        corpus.unionByName(queries)
        .groupBy("tblk")
        .applyInPandas(local_topk, "vec_id bigint, neighbor_id bigint, cos_sim double")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("vec_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return local.withColumn("rn", F.row_number().over(w).cast("int")).filter(
        F.col("rn") <= k
    )


@register("sim_cosine_pairs_blocked", oracle=_PAIR_ORACLE, tags=("similarity",))
def sim_cosine_pairs_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The blocked exact-pairs strategy registered standalone (forced
    4-way blocking regardless of corpus size), against the SAME oracle
    as sim_cosine_pairs: driver-grade evidence that the beyond-broadcast
    physical plan is hash-identical to the brute-force one, not just
    locally equivalence-tested."""
    return _pairs_above_blocked(_emb(spark, sf_dir), _COS_PAIR_THRESHOLD, blocks=4)


@register("sim_knn_blocked", oracle=_KNN_ORACLE, tags=("similarity",))
def sim_knn_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The blocked exact top-k strategy registered standalone (forced
    4-way blocking), against the SAME oracle as sim_knn_topk — the
    broadcast-free exact path earns its own driver hash-verdict."""
    return knn_topk_blocked(_emb(spark, sf_dir), k=_KNN_K, blocks=4)


@register("sim_knn_ivf", oracle=None, tags=("similarity", "ann"))
def sim_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The approximate broadcast-free top-k path, its own registered key:
    callers at scale trade exactness for the IVF candidate cut EXPLICITLY
    by choosing this over ``sim_knn_topk`` (which stays exact at any size
    via its blocked dispatch). Rows-only (approximate by design); tests
    assert shape invariants and recall ≥ 0.6 against the exact scorer."""
    return knn_topk_ivf(_emb(spark, sf_dir), k=_KNN_K)


_QUANTIZE_ORACLE = """
    WITH s AS (
      SELECT vec_id,
             list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))
               / 127.0 AS scale
      FROM embeddings
    )
    SELECT e.vec_id,
           CAST(floor(s.scale * 1e9 + 0.5) AS BIGINT) AS scale_1e9,
           array_to_string(list_transform(
             e.embedding,
             x -> CAST(CAST(floor(CAST(x AS DOUBLE) / s.scale + 0.5) AS INT) AS VARCHAR)
           ), ',') AS q,
           CAST(list_sum(list_transform(
             e.embedding,
             x -> abs(CAST(floor(CAST(x AS DOUBLE) / s.scale + 0.5) AS BIGINT))
           )) AS BIGINT) AS l1_q
    FROM embeddings e JOIN s USING (vec_id)
    WHERE s.scale > 0
"""


@register("sim_embed_quantize", oracle=_QUANTIZE_ORACLE, tags=("similarity", "embedding"))
def sim_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column — the 4×
    shrink (float32 → int8 + one scale per vector) an embedding store
    applies before shipping vectors into an ANN index or a training
    shard. scale = max|x|/127; qᵢ = round(xᵢ/scale) ∈ [-127, 127].

    Entirely per-row JVM expression work (transform/aggregate over the
    array column): no shuffle, no Python boundary, trivially parallel at
    any corpus size — the plan is scan → project. The quantized vector
    is emitted as a comma-joined string (driver hashable-output rule,
    §5.4 — an int8 array column would ERR the canonicalizer), so the
    hash is sensitive to every component; the l1_q checksum double-
    covers it. Determinism: both engines cast the
    float32 element to double first (identical values), divide by the
    same double scale, and quantize via floor(x+0.5) — one IEEE op
    sequence, no round() convention in play. All-zero vectors (scale=0)
    are filtered identically on both sides rather than emitting NULL
    arrays into the hash.
    """
    e = load_table(spark, sf_dir, "embeddings")
    amax = F.array_max(F.transform("embedding", lambda x: F.abs(x.cast("double"))))
    scale = (amax / 127.0).alias("scale")
    qi = lambda x: F.floor(x.cast("double") / F.col("scale") + F.lit(0.5))  # noqa: E731
    return (
        e.select("vec_id", "embedding", scale)
        .filter(F.col("scale") > 0)
        .select(
            "vec_id",
            F.floor(F.col("scale") * 1e9 + F.lit(0.5)).cast("bigint").alias("scale_1e9"),
            F.array_join(
                F.transform("embedding", lambda x: qi(x).cast("int").cast("string")), ","
            ).alias("q"),
            F.aggregate(
                F.transform("embedding", lambda x: F.abs(qi(x).cast("bigint"))),
                F.lit(0).cast("bigint"),
                lambda acc, x: acc + x,
            ).alias("l1_q"),
        )
    )


_CENTROID_ORACLE = """
    SELECT label,
           i AS pos,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(CAST(embedding[i + 1] AS DOUBLE) * 1e6 + 0.5)
                         AS BIGINT)) AS BIGINT) AS sum_1e6,
           CAST(floor(CAST(sum(CAST(floor(CAST(embedding[i + 1] AS DOUBLE) * 1e6
                                          + 0.5) AS BIGINT)) AS DOUBLE)
                      / count(*) + 0.5) AS BIGINT) AS mean_1e6
    FROM embeddings,
         unnest(generate_series(0, len(embedding) - 1)) AS t(i)
    GROUP BY label, i
"""


@register("sim_centroid_label", oracle=_CENTROID_ORACLE, tags=("similarity", "embedding"))
def sim_centroid_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean embedding (class prototype / nearest-centroid
    classifier training, and exactly the centroid update step an IVF
    index build or one k-means iteration runs at scale), laid out as
    (label, pos) rows rather than re-assembled arrays.

    posexplode → one hash aggregate on (label, pos): the shuffle carries
    one partial sum per (task, label, dim) — map-side combine collapses
    the 64× explode expansion before it moves, so the exchange is
    #labels × dim × #tasks rows no matter how many vectors the corpus
    holds. The row layout (not collect_list-to-array) is deliberate:
    re-assembly would need a second shuffle-and-sort per label for a
    cosmetic win. Float sums are order-dependent, so elements are
    floor-quantized to exact 1e-6 integers FIRST; the integer sum is
    order-free and both engines then perform one identical division.
    """
    e = load_table(spark, sf_dir, "embeddings")
    q = F.floor(F.col("x").cast("double") * 1e6 + F.lit(0.5)).cast("bigint")
    return (
        e.select("label", F.posexplode("embedding").alias("pos", "x"))
        .select("label", "pos", q.alias("c"))
        .groupBy("label", "pos")
        .agg(
            F.count("*").alias("n"),
            F.sum("c").alias("sum_1e6"),
            F.floor(F.sum("c").cast("double") / F.count("*") + F.lit(0.5))
            .cast("bigint")
            .alias("mean_1e6"),
        )
    )


_SEMDEDUP_K = 8
_SEMDEDUP_TAU = _NEARDUP_THRESHOLD  # same near-dup bar as dedup_embedding_cosine


def _q6(a):
    """Half-up 6dp quantization: floor(x*1e6 + 0.5) / 1e6 — the repo's
    §5.4 convention for any float that faces a cross-engine compare. Used
    instead of np.round (banker's half-to-even) for the SemDeDup scores so
    the DuckDB oracle, which applies the IDENTICAL floor formula, can
    never quantize a 5e-7 tie differently (r07 ADVICE)."""
    return np.floor(a * 1e6 + 0.5) / 1e6


def _semdedup_assign(e: DataFrame) -> DataFrame:
    """SemDeDup's centroid assignment, shared by the dedup op and its
    threshold sweep: each vector joins the cell of its nearest of the
    ``_SEMDEDUP_K`` lowest-id vectors (collected once), by `_q6` cosine."""
    cent = sorted(
        e.filter(F.col("vec_id") < _SEMDEDUP_K).select("vec_id", "emb").collect(),
        key=lambda r: r.vec_id,
    )
    cids = np.array([r.vec_id for r in cent], dtype="int64")
    cm = np.stack([np.asarray(r.emb, dtype="float64") for r in cent])
    cmn = cm / np.linalg.norm(cm, axis=1, keepdims=True)

    def assign(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            q = np.stack([np.asarray(v, dtype="float64") for v in pdf["emb"]])
            qn = q / np.linalg.norm(q, axis=1, keepdims=True)
            cs = _q6(qn @ cmn.T)
            # argmax returns the FIRST max; columns are cid-ascending, so
            # ties break to the lowest centroid id — same as the oracle's
            # ORDER BY cs DESC, cid.
            best = cs.argmax(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(dtype="int64"),
                    "cluster": cids[best],
                    "emb": pdf["emb"],
                }
            )

    return spread(e).mapInPandas(
        assign, "vec_id bigint, cluster bigint, emb array<double>"
    )


_SEMDEDUP_ORACLE = f"""
    WITH cent AS (
      SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce
      FROM embeddings WHERE vec_id < {_SEMDEDUP_K}
    ),
    scored AS (
      SELECT e.vec_id, c.cid,
             floor(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.ce) * 1e6 + 0.5) / 1e6 AS cs
      FROM embeddings e CROSS JOIN cent c
    ),
    assigned AS (
      SELECT vec_id, cid AS cluster FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rn
        FROM scored
      ) WHERE rn = 1
    ),
    dropped AS (
      SELECT DISTINCT b.vec_id AS id_b
      FROM assigned a JOIN assigned b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      JOIN embeddings ea ON ea.vec_id = a.vec_id
      JOIN embeddings eb ON eb.vec_id = b.vec_id
      WHERE floor(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                         CAST(eb.embedding AS DOUBLE[])) * 1e6 + 0.5) / 1e6
            >= {_SEMDEDUP_TAU}
    )
    SELECT a.vec_id, CAST(a.cluster AS BIGINT) AS cluster
    FROM assigned a LEFT JOIN dropped d ON d.id_b = a.vec_id
    WHERE d.id_b IS NULL
"""


@register("dedup_semantic_centroid", oracle=_SEMDEDUP_ORACLE, tags=("dedup", "embedding"))
def dedup_semantic_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication: partition the corpus into
    k centroid cells, then near-dup (cosine ≥ 0.45) ONLY within each
    cell, keeping the lowest id of each similar pair's members. The
    cluster step is what makes embedding dedup feasible at corpus scale
    — pairwise work drops from O(n²) to Σ|cell|², and each cell's
    comparison runs as one local BLAS matmul instead of a pair join.

    Centroids here are the k lowest-id vectors (deterministic medoids —
    a production run plugs in k-means centroids from `sim_ann_ivf`'s
    trainer without changing this dataflow; 8 rows collected once,
    the bounded fixture-prep pattern). Assignment is an Arrow-batched
    mapInPandas against the broadcast k×64 centroid matrix — map-side,
    no shuffle. The dedup is ONE shuffle on cluster, then per-cell
    numpy: rows sorted by vec_id, upper-triangular cos ≥ τ mask, drop
    any row with a lower-id neighbor — identical keep semantics to
    `dedup_embedding_cosine`, restricted to cells. Oversized cells are
    the documented hazard (bound k so max |cell| fits task memory;
    SemDeDup uses k ≈ n/1000). Scores are quantized half-up to 6dp
    (`_q6`, the §5.4 floor(x·1e6+0.5) convention — r07 ADVICE replaced
    banker's np.round) before every decision so the oracle — which
    replays assignment and cell-local pairs in pure SQL with the
    IDENTICAL floor formula — makes identical choices even at ties. Zero-norm vectors
    (padding rows) would NaN the normalize on both engines — the family
    fixture contract excludes them (same posture as `cosine_pairs`);
    a padded corpus pre-filters `dot(v,v) > 0` before this op."""
    assigned = _semdedup_assign(_emb(spark, sf_dir))

    def dedup_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id")
        m = np.stack([np.asarray(v, dtype="float64") for v in pdf["emb"]])
        mn = m / np.linalg.norm(m, axis=1, keepdims=True)
        s = _q6(mn @ mn.T)
        has_lower_neighbor = np.triu(s >= _SEMDEDUP_TAU, 1).any(axis=0)
        return pdf.loc[~has_lower_neighbor, ["vec_id", "cluster"]]

    return assigned.groupBy("cluster").applyInPandas(
        dedup_cell, "vec_id bigint, cluster bigint"
    )


_SEMDEDUP_EPS_1E2 = (45, 60, 75, 90)

_SEMDEDUP_SWEEP_ORACLE = f"""
    WITH cent AS (
      SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce
      FROM embeddings WHERE vec_id < {_SEMDEDUP_K}
    ),
    scored AS (
      SELECT e.vec_id, c.cid,
             floor(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.ce) * 1e6 + 0.5) / 1e6 AS cs
      FROM embeddings e CROSS JOIN cent c
    ),
    assigned AS (
      SELECT vec_id, cid AS cluster FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rn
        FROM scored
      ) WHERE rn = 1
    ),
    pairs AS (
      SELECT b.vec_id AS ib,
             floor(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                          CAST(eb.embedding AS DOUBLE[])) * 1e6 + 0.5) / 1e6 AS cs
      FROM assigned a JOIN assigned b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      JOIN embeddings ea ON ea.vec_id = a.vec_id
      JOIN embeddings eb ON eb.vec_id = b.vec_id
    )
    SELECT e.e2 AS eps_1e2,
           CAST(count(*) FILTER (WHERE p.cs >= e.e2 / 100.0) AS BIGINT) AS n_pairs,
           CAST(count(DISTINCT CASE WHEN p.cs >= e.e2 / 100.0 THEN p.ib END)
                AS BIGINT) AS n_pruned,
           CAST((SELECT count(*) FROM assigned)
                - count(DISTINCT CASE WHEN p.cs >= e.e2 / 100.0 THEN p.ib END)
                AS BIGINT) AS n_kept
    FROM (VALUES {", ".join(f"({e})" for e in _SEMDEDUP_EPS_1E2)}) e(e2)
    LEFT JOIN pairs p ON TRUE
    GROUP BY e.e2
"""


@register(
    "sim_semdedup_eps_sweep",
    oracle=_SEMDEDUP_SWEEP_ORACLE,
    tags=("dedup", "embedding", "calibration"),
)
def sim_semdedup_eps_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-calibration sweep for `dedup_semantic_centroid`: for a
    grid of cosine thresholds ε, how many cell-local pairs qualify, how
    many docs would be pruned, how many survive — the retention curve a
    user reads BEFORE committing a τ to a 100 TB SemDeDup run (the same
    calibration-as-a-query pattern as `dedup_simhash_recall` and the
    ANN recall gauges: tuning knobs deserve first-class queries, not
    notebook one-offs).

    ONE pass serves every threshold: the same centroid assignment and
    the same Σ|cell|² cell-local matmul as the dedup op, but each cell
    emits one (ε, n_pairs, n_pruned, n_docs) row per grid point from a
    single scored upper-triangular matrix — sweeping ε is a mask over
    an already-computed score matrix, not a re-run. The final rollup is
    a #cells × #ε aggregate, input-size independent. Scores half-up 6dp-quantized (`_q6`)
    before every compare (the family convention), so both engines make
    identical boundary choices; all outputs exact integers."""
    assigned = _semdedup_assign(_emb(spark, sf_dir))

    def sweep_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id")
        m = np.stack([np.asarray(v, dtype="float64") for v in pdf["emb"]])
        mn = m / np.linalg.norm(m, axis=1, keepdims=True)
        s = _q6(mn @ mn.T)
        n = len(pdf)
        rows = []
        for e2 in _SEMDEDUP_EPS_1E2:
            hit = np.triu(s >= e2 / 100.0, 1)
            rows.append(
                {
                    "eps_1e2": e2,
                    "n_pairs": int(hit.sum()),
                    "n_pruned": int(hit.any(axis=0).sum()),
                    "n_docs": n,
                }
            )
        return pd.DataFrame(rows)

    per_cell = assigned.groupBy("cluster").applyInPandas(
        sweep_cell, "eps_1e2 int, n_pairs bigint, n_pruned bigint, n_docs bigint"
    )
    return per_cell.groupBy("eps_1e2").agg(
        F.sum("n_pairs").alias("n_pairs"),
        F.sum("n_pruned").alias("n_pruned"),
        (F.sum("n_docs") - F.sum("n_pruned")).alias("n_kept"),
    )


_MIPS_K = 5

_MIPS_ORACLE = f"""
    WITH scored AS (
      SELECT a.vec_id, b.vec_id AS neighbor_id,
             round(list_inner_product(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[])), 6) AS dot
      FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY vec_id
                                   ORDER BY dot DESC, neighbor_id) AS rn
      FROM scored
    )
    SELECT vec_id, neighbor_id, dot, rn FROM ranked WHERE rn <= {_MIPS_K}
"""


@register("sim_mips_topk", oracle=_MIPS_ORACLE, tags=("similarity",))
def sim_mips_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact maximum-inner-product top-5 per vector (MIPS — the
    retrieval objective when magnitudes carry signal: recommendation
    scores, unnormalized two-tower embeddings), as the ground-truth
    twin of `sim_knn_topk`'s cosine ranking.

    Same physical strategies as the cosine op — broadcast matmul under
    the size ceiling, blocked exact merge beyond — with normalization
    OFF (`knn_topk_blocked(normalize=False)`): top-k selection is
    monotone under any (score desc, id) order, so the blocked merge
    stays exact. The approximate scale path for MIPS is the standard
    norm-augmentation reduction — append sqrt(M² − ‖x‖²) to each corpus
    vector (M = max norm) and 0 to queries, making cosine order equal
    inner-product order, then reuse `sim_ann_lsh`/`sim_ann_ivf`
    unchanged; this exact op is the recall oracle for that path."""
    e = _emb(spark, sf_dir)
    if not _fits_broadcast(e):
        return (
            knn_topk_blocked(e, k=_MIPS_K, normalize=False)
            .withColumnRenamed("cos_sim", "dot")
        )
    bc = corpus_broadcast(e, normalize=False)

    def topk(batches):
        ids_all, m = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            q = np.stack([np.asarray(v, dtype="float64") for v in pdf["emb"]])
            s = np.round(q @ m.T, 6)
            cols = {"vec_id": [], "neighbor_id": [], "dot": [], "rn": []}
            for i, qid in enumerate(pdf["vec_id"].to_numpy(dtype="int64")):
                idx = np.flatnonzero(ids_all != qid)
                best = idx[np.lexsort((ids_all[idx], -s[i][idx]))][:_MIPS_K]
                cols["vec_id"].append(np.full(len(best), qid, dtype="int64"))
                cols["neighbor_id"].append(ids_all[best])
                cols["dot"].append(s[i][best])
                cols["rn"].append(np.arange(1, len(best) + 1, dtype="int32"))
            yield pd.DataFrame({k: np.concatenate(v) for k, v in cols.items()})

    return spread(e).mapInPandas(
        topk, "vec_id bigint, neighbor_id bigint, dot double, rn int"
    )


def _rp_signs(k: int = 16, dim: int = 64) -> list[list[int]]:
    """Deterministic ±1 projection matrix: sign of md5("rp_{j}_{i}")
    parity. Pure function of the (j, i) labels — reproducible anywhere,
    embedded as literals in both the Spark expression and the oracle's
    VALUES table (same constant-synthesis idiom as the geo hubs)."""
    import hashlib

    return [
        [
            1 if int(hashlib.md5(f"rp_{j}_{i}".encode()).hexdigest()[:8], 16) % 2 == 0 else -1
            for i in range(dim)
        ]
        for j in range(k)
    ]


_RP_K = 16
_RP_DIM = 64
_RP_SIGNS = _rp_signs(_RP_K, _RP_DIM)

_RP_VALUES_SQL = ", ".join(
    f"({j}, {i}, {_RP_SIGNS[j][i]})" for j in range(_RP_K) for i in range(_RP_DIM)
)

_RP_ORACLE = f"""
    WITH signs AS (SELECT * FROM (VALUES {_RP_VALUES_SQL}) AS t(j, i, s)),
    q AS (
      SELECT vec_id, i.i AS i,
             CAST(floor(CAST(embedding[i.i + 1] AS DOUBLE) * 1e6 + 0.5)
                  AS BIGINT) AS qv
      FROM embeddings,
           unnest(generate_series(0, len(embedding) - 1)) AS i(i)
    )
    SELECT q.vec_id, CAST(signs.j AS BIGINT) AS dim_j,
           CAST(sum(signs.s * q.qv) AS BIGINT) AS y_1e6
    FROM q JOIN signs ON signs.i = q.i
    GROUP BY q.vec_id, signs.j
"""


@register("sim_rp_projection", oracle=_RP_ORACLE, tags=("similarity", "embedding"))
def sim_rp_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-projection dimensionality reduction (Achlioptas ±1
    Johnson–Lindenstrauss): 64-dim float embeddings → 16 components
    y_j = Σᵢ s_ji·xᵢ against a deterministic ±1 sign matrix — the cheap
    distance-preserving shrink that feeds LSH tables (`sim_ann_lsh`
    thresholds these very sums at 0) and coarse ANN indexes.

    Per-row JVM expression work ONLY: elements quantize to 1e-6 ints
    once, then each component is a zip_with/aggregate fold against a
    sign LITERAL array — so the projection is an EXACT int64 dot
    product, no float accumulation in either engine and no shuffle at
    all on the Spark side (scan → project → explode to the flattened
    (vec_id, dim_j, y) layout). The oracle rebuilds it relationally
    (unnest × VALUES join + group) — n·64 rows and a shuffle, which is
    precisely the work the in-row fold avoids at 100 TB."""
    e = load_table(spark, sf_dir, "embeddings")
    qarr = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * 1e6 + F.lit(0.5)).cast("long"),
    )
    comps = F.array(
        *[
            F.struct(
                F.lit(j).cast("bigint").alias("dim_j"),
                F.aggregate(
                    F.zip_with(
                        F.col("q"),
                        F.array(*[F.lit(s).cast("long") for s in _RP_SIGNS[j]]),
                        lambda a, b: a * b,
                    ),
                    F.lit(0).cast("bigint"),
                    lambda acc, x: acc + x,
                ).alias("y_1e6"),
            )
            for j in range(_RP_K)
        ]
    )
    return (
        e.select("vec_id", qarr.alias("q"))
        .select("vec_id", F.explode(comps).alias("c"))
        .select("vec_id", F.col("c.dim_j").alias("dim_j"), F.col("c.y_1e6").alias("y_1e6"))
    )


_KM_K = 8
_KM_DIM = 64
# Deterministic initial centroids on a 0.01 grid: component (c, i) =
# ((c*131 + i*17) % 200 - 100) / 100 ∈ [-1, 1). Stored as EXACT 1e6-scaled
# ints so distances below are pure integer arithmetic.
_KM_CENTROIDS_1E6 = [
    [((c * 131 + i * 17) % 200 - 100) * 10_000 for i in range(_KM_DIM)]
    for c in range(_KM_K)
]

_KM_VALUES_SQL = ", ".join(
    f"({c}, {i}, {_KM_CENTROIDS_1E6[c][i]})"
    for c in range(_KM_K)
    for i in range(_KM_DIM)
)

_KMEANS_ORACLE = f"""
    WITH cent AS (SELECT * FROM (VALUES {_KM_VALUES_SQL}) AS t(c, i, v)),
    q AS (
      SELECT vec_id, i.i AS i,
             CAST(floor(CAST(embedding[i.i + 1] AS DOUBLE) * 1e6 + 0.5)
                  AS BIGINT) AS qv
      FROM embeddings,
           unnest(generate_series(0, len(embedding) - 1)) AS i(i)
    ),
    dist AS (
      SELECT q.vec_id, cent.c,
             sum((q.qv - cent.v) * (q.qv - cent.v)) AS d2
      FROM q JOIN cent ON cent.i = q.i
      GROUP BY q.vec_id, cent.c
    ),
    assign AS (
      SELECT vec_id, c, d2,
             row_number() OVER (PARTITION BY vec_id ORDER BY d2, c) AS rk
      FROM dist
    )
    SELECT a.c AS centroid, q.i AS dim_i,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(sum(q.qv) AS BIGINT) AS sum_1e6,
           CAST(floor(CAST(sum(q.qv) AS DOUBLE) / count(*) + 0.5) AS BIGINT)
             AS mean_1e6
    FROM assign a JOIN q ON q.vec_id = a.vec_id
    WHERE a.rk = 1
    GROUP BY a.c, q.i
"""


@register("sim_kmeans_step", oracle=_KMEANS_ORACLE, tags=("similarity", "embedding"))
def sim_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exact Lloyd iteration of k-means (k=8) over the embedding
    corpus from deterministic grid-initialized centroids: assign every
    vector to its nearest centroid, then emit the updated per-(centroid,
    dimension) means — the IVF index build / k-means training step
    (`sim_centroid_label` is the same update keyed by given labels; this
    op computes the assignment too). Iterate by feeding the means back
    in as the next centroid literals.

    The assignment is ENTIRELY in-row JVM work: embeddings quantize to
    1e-6 ints once, each of the 8 squared distances is an exact-int
    zip_with/aggregate fold against centroid LITERALS (no join against a
    centroid table, no shuffle), and argmin is array_sort of (d², c)
    structs — deterministic centroid-id tiebreak. Only the update
    shuffles: explode to (centroid, dim) and ONE map-side-combining
    aggregate with exact int sums. The oracle rebuilds assignment
    relationally (unnest × VALUES, n·64·8 rows) — the work the in-row
    fold avoids. At 100 TB: broadcast-free, skew-free (the agg key space
    is k×dim = 512), the canonical mapInPandas-free k-means step."""
    e = load_table(spark, sf_dir, "embeddings")
    qarr = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * 1e6 + F.lit(0.5)).cast("long"),
    )
    dists = F.array(
        *[
            F.struct(
                F.aggregate(
                    F.zip_with(
                        F.col("q"),
                        F.array(*[F.lit(v).cast("long") for v in _KM_CENTROIDS_1E6[c]]),
                        lambda a, b: (a - b) * (a - b),
                    ),
                    F.lit(0).cast("bigint"),
                    lambda acc, x: acc + x,
                ).alias("d2"),
                F.lit(c).cast("bigint").alias("c"),
            )
            for c in range(_KM_K)
        ]
    )
    assigned = e.select("vec_id", qarr.alias("q")).select(
        "vec_id",
        "q",
        F.array_sort(dists).getItem(0).getField("c").alias("centroid"),
    )
    exploded = assigned.select(
        "centroid", F.posexplode("q").alias("dim_i", "qv")
    )
    return (
        exploded.groupBy("centroid", F.col("dim_i").cast("int").alias("dim_i"))
        .agg(
            F.count("*").alias("n_members"),
            F.sum("qv").cast("bigint").alias("sum_1e6"),
        )
        .select(
            "centroid",
            "dim_i",
            "n_members",
            "sum_1e6",
            F.floor(F.col("sum_1e6").cast("double") / F.col("n_members") + F.lit(0.5))
            .cast("bigint")
            .alias("mean_1e6"),
        )
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) with asymmetric distance computation — the
# memory-compression half of a modern ANN index (FAISS's IVF-PQ pairs this
# with the IVF cells above): vectors compress 64 float64 → 8 bytes of
# centroid codes; queries stay full-precision and score codes through a
# per-query lookup table.
# ---------------------------------------------------------------------------

_PQ_M = 16  # subspaces (64-dim → 16 × 4-dim)
_PQ_K = 128  # centroids per subspace → 7-bit codes, 14 bytes per vector
# (synthetic iid vectors are PQ's WORST case — distances concentrate, so
# neighbor margins are tiny; 16×128 measures recall@5 ≈ 0.7 here where
# 8×16 gives 0.22. Real embedding corpora have cluster structure and do
# far better at coarser settings.)
_PQ_ITERS = 4
_PQ_TRAIN = 4096  # bounded deterministic training sample (lowest vec_ids)
_PQ_NQ = 10  # query vectors (lowest vec_ids)
_PQ_TOPK = 5


def _pq_codebooks(e: DataFrame) -> np.ndarray:
    """Per-subspace Lloyd k-means on a bounded deterministic sample —
    same train-on-sample recipe as `_ivf_centroids`. Returns (m, k,
    d/m) float64 codebooks; empty clusters keep their previous
    centroid."""
    pdf = e.orderBy("vec_id").limit(_PQ_TRAIN).select("emb").toPandas()
    x = np.stack([np.asarray(v, dtype="float64") for v in pdf["emb"]])
    dsub = x.shape[1] // _PQ_M
    books = []
    for mi in range(_PQ_M):
        xs = x[:, mi * dsub : (mi + 1) * dsub]
        cent = xs[:_PQ_K].copy()
        for _ in range(_PQ_ITERS):
            d2 = ((xs[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(_PQ_K):
                members = xs[assign == c]
                if len(members):
                    cent[c] = members.mean(axis=0)
        books.append(cent)
    return np.stack(books)


@register("sim_pq_adc_topk", oracle=None, tags=("similarity", "ann"))
def sim_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-compressed top-k search with asymmetric distance (ADC):
    every corpus vector encodes to m=16 sub-codes (argmin centroid per
    subspace — ~14 bytes instead of 512); each query precomputes an
    (m × k) table of exact query-to-centroid distances; a code's
    approximate distance is then m table lookups, never a float-vector
    read. Rows-only by design (quantization is lossy); the recall test
    bounds fidelity against exact L2 top-k.

    Scale: codes are the ONLY thing that moves — encode is a map stage
    (Arrow-batched, codebooks in the task closure), scoring streams the
    code table once per query batch with a per-partition local top-k
    inside the Python worker, and the global window ranks just
    (#partitions × nq × k) survivors. At 100 TB the ~32× payload
    compression is the point: the full code table for 10⁹ vectors is
    ~16 GB — cacheable where raw vectors are not."""
    e = _emb(spark, sf_dir)
    books = _pq_codebooks(e)
    dsub = books.shape[2]

    code_schema = "vec_id bigint, " + ", ".join(f"c{m} int" for m in range(_PQ_M))

    def encode(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            x = np.stack([np.asarray(v, dtype="float64") for v in pdf["emb"]])
            out = {"vec_id": pdf["vec_id"].to_numpy(dtype="int64")}
            for mi in range(_PQ_M):
                xs = x[:, mi * dsub : (mi + 1) * dsub]
                d2 = ((xs[:, None, :] - books[mi][None, :, :]) ** 2).sum(axis=2)
                out[f"c{mi}"] = d2.argmin(axis=1).astype("int32")
            yield pd.DataFrame(out)

    codes = spread(e).mapInPandas(encode, code_schema)

    qpdf = e.orderBy("vec_id").limit(_PQ_NQ).select("vec_id", "emb").toPandas()
    q_ids = qpdf["vec_id"].to_numpy(dtype="int64")
    q = np.stack([np.asarray(v, dtype="float64") for v in qpdf["emb"]])
    # (nq, m, k) exact query-to-centroid squared distances
    lut = np.stack(
        [
            ((q[:, mi * dsub : (mi + 1) * dsub][:, None, :] - books[mi][None, :, :]) ** 2).sum(
                axis=2
            )
            for mi in range(_PQ_M)
        ],
        axis=1,
    )

    def score(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf["vec_id"].to_numpy(dtype="int64")
            c = np.stack([pdf[f"c{m}"].to_numpy() for m in range(_PQ_M)], axis=1)
            # adc[qi, row] = Σ_m lut[qi, m, c[row, m]]
            nq = len(q_ids)
            adc = lut[
                np.arange(nq)[:, None, None],
                np.arange(_PQ_M)[None, None, :],
                c[None, :, :],
            ].sum(axis=2)
            rows = []
            for qi in range(len(q_ids)):
                d = adc[qi]
                mask = ids != q_ids[qi]
                cand_ids, cand_d = ids[mask], d[mask]
                # local top-k: only k survivors per partition cross the wire
                top = np.argsort(cand_d, kind="stable")[: _PQ_TOPK]
                for t in top:
                    rows.append((int(q_ids[qi]), int(cand_ids[t]),
                                 int(np.floor(cand_d[t] * 1e6 + 0.5))))
            yield pd.DataFrame(rows, columns=["q_id", "vec_id", "adc_1e6"])

    scored = codes.mapInPandas(score, "q_id bigint, vec_id bigint, adc_1e6 bigint")
    w = Window.partitionBy("q_id").orderBy("adc_1e6", "vec_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _PQ_TOPK)
        .select("q_id", F.col("rk").cast("bigint").alias("rk"), "vec_id", "adc_1e6")
    )


# ---------------------------------------------------------------------------
# ANN calibration ops (r06 verdict action 5): the recall/precision gauge a
# production vector pipeline runs BEFORE trusting an approximate tier —
# registered queries (same confusion-row shape as dedup_simhash_recall),
# not pytest constants, so a user can re-measure on THEIR corpus.
# ---------------------------------------------------------------------------


@register("sim_ann_ivf_recall", oracle=None, tags=("similarity", "ann", "eval"))
def sim_ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k calibration: recall@k (and precision) of the
    broadcast-free approximate path (``sim_knn_ivf`` / knn_topk_ivf,
    16 cells, corpus in 2 / queries probing 4) against the EXACT top-k
    (``sim_knn_topk``'s scorer — broadcast or blocked, identical
    results), in ONE output row. This is the query that tunes (cells,
    probe) on a new corpus: the ANN tier is the documented ≥5M-vector
    path, and its quality gauge should be runnable where the data is,
    not a test-suite constant. Rows-only by design (sample-trained
    centroids are not SQL-expressible); tests bound recall at two SFs.

    Scale: both sides are the already-scale-shaped operators; the
    confusion reduce adds three scalar aggregates and a semi join on
    (vec_id, neighbor_id) — nothing new shuffles vectors."""
    truth = sim_knn_topk(spark, sf_dir).select("vec_id", "neighbor_id")
    pred = knn_topk_ivf(_emb(spark, sf_dir), k=_KNN_K).select("vec_id", "neighbor_id")
    return _confusion_row(truth, pred, ["vec_id", "neighbor_id"])


_NPROBE_GRID = (1, 2, 4, 8)


@register("sim_ivf_nprobe_sweep", oracle=None, tags=("similarity", "ann", "eval"))
def sim_ivf_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall-vs-nprobe curve for the IVF tier in ONE scored pass — the
    tuning table a user reads before fixing nprobe on a 100 TB corpus
    (completes the calibration suite: `sim_ann_ivf_recall` is one grid
    point, `sim_semdedup_eps_sweep` is the same idea for SemDeDup's τ).
    One row per nprobe ∈ {1,2,4,8}: n_truth/n_pred/n_hit and quantized
    recall/precision@k against the EXACT top-k.

    The sweep costs ONE candidate scoring, not four: queries are
    assigned once to their max(grid) nearest cells WITH the probe rank
    attached, candidates score once per (query, neighbor) (min rank
    kept when a pair is reachable via several cells), and each grid
    point is then a rank-mask + per-query top-k + three scalar
    aggregates over the SAME localCheckpointed candidate table —
    sweeping nprobe is a filter over an already-scored relation, not a
    re-run of the index. Rows-only by design (sample-trained centroids
    are not SQL-expressible); tests pin recall monotonicity in nprobe
    and agreement with `sim_ann_ivf_recall` at the shared grid point
    (probe=4, corpus_probe=2, same k)."""
    e = _emb(spark, sf_dir)
    cent = _ivf_centroids(e)
    maxp = max(_NPROBE_GRID)

    def ranked_assign(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            q = np.stack([np.asarray(v, dtype="float64") for v in pdf["emb"]])
            qn = q / np.linalg.norm(q, axis=1, keepdims=True)
            order = np.argsort(-(qn @ cent.T), axis=1)[:, :maxp]
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(dtype="int64"), maxp),
                    "cell": order.ravel().astype("int32"),
                    "prank": np.tile(
                        np.arange(1, maxp + 1, dtype="int32"), len(pdf)
                    ),
                    "emb": [v for v in pdf["emb"] for _ in range(maxp)],
                }
            )

    queries = spread(e).mapInPandas(
        ranked_assign, "vec_id bigint, cell int, prank int, emb array<double>"
    ).alias("q")
    corpus = spread(e).mapInPandas(
        _cell_assigner(cent, 2), "vec_id bigint, cell int, emb array<double>"
    ).alias("c")
    cand = (
        queries.join(
            corpus,
            (F.col("q.cell") == F.col("c.cell"))
            & (F.col("q.vec_id") != F.col("c.vec_id")),
        )
        .select(
            F.col("q.vec_id").alias("vec_id"),
            F.col("c.vec_id").alias("neighbor_id"),
            F.col("q.prank").alias("prank"),
            _arr_cos(F.col("q.emb"), F.col("c.emb")).alias("cos_sim"),
        )
        # LOSSLESS per-(query, probed-cell) top-k prune (r08, added after
        # the sf1 gate lost a task materializing the unpruned ~400M-pair
        # candidate relation): for any nprobe mask p, a pair is a
        # candidate only via cells with prank <= p, and if >= k cell-mates
        # beat it inside one such cell, those mates are candidates at
        # every mask that admits the pair — so it can never enter the
        # global per-query top-k. Keeping only each cell's top-k therefore
        # preserves every grid point bit-for-bit (pinned by the
        # sweep-vs-sim_ann_ivf_recall agreement test) while bounding the
        # checkpointed relation to nq x maxp x k rows. prank identifies
        # the probed cell per query, so (vec_id, prank) == (query, cell);
        # per-window groups are cell-sized (bounded). Embeddings are
        # projected away BEFORE this shuffle — only scalars cross it.
        .withColumn(
            "crn",
            F.row_number().over(
                Window.partitionBy("vec_id", "prank").orderBy(
                    F.col("cos_sim").desc(), F.col("neighbor_id")
                )
            ),
        )
        .filter(F.col("crn") <= _KNN_K)
        .drop("crn")
        # same pair reachable via several probed cells: keep the earliest
        # SURVIVING probe rank (a copy pruned in its earliest cell was
        # provably outside that mask's top-k); cos_sim is pair-determined
        .groupBy("vec_id", "neighbor_id")
        .agg(F.min("prank").alias("prank"), F.max("cos_sim").alias("cos_sim"))
        .transform(one_compute_boundary)  # consumed once per grid point
    )
    truth = (
        sim_knn_topk(spark, sf_dir)
        .select("vec_id", "neighbor_id")
        .transform(one_compute_boundary)
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    out = None
    for p in _NPROBE_GRID:
        pred = (
            cand.filter(F.col("prank") <= p)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= _KNN_K)
            .select("vec_id", "neighbor_id")
        )
        row = _confusion_row(truth, pred, ["vec_id", "neighbor_id"]).select(
            F.lit(p).cast("int").alias("nprobe"),
            "n_truth",
            "n_pred",
            "n_hit",
            "recall_1e6",
            "precision_1e6",
        )
        out = row if out is None else out.unionByName(row)
    return out


@register("sim_pq_recall", oracle=None, tags=("similarity", "ann", "eval"))
def sim_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC calibration: recall@k of ``sim_pq_adc_topk``'s compressed
    search against the EXACT L2 top-k for the same query set, one output
    row. n_pred = n_truth = nq·k by construction, so recall = precision
    here; both are still reported so the schema matches the other
    calibration ops. Rows-only by design (lossy quantization); tests
    bound recall at two SFs.

    The exact side streams the corpus ONCE per partition with a
    vectorized squared-L2 against the 10 broadcast query vectors
    (|q|² + |x|² − 2·q@xᵀ — no (nq × rows × dim) temp), keeps a local
    top-k per partition, and ranks the (#partitions × nq × k) survivors
    in one tiny global window — the same local-top-k-then-rank shape as
    the ADC scorer, so at 100 TB the exact pass costs one corpus scan,
    which is exactly what a calibration run budgets."""
    e = _emb(spark, sf_dir)
    qpdf = e.orderBy("vec_id").limit(_PQ_NQ).select("vec_id", "emb").toPandas()
    q_ids = qpdf["vec_id"].to_numpy(dtype="int64")
    q = np.stack([np.asarray(v, dtype="float64") for v in qpdf["emb"]])
    qsq = (q * q).sum(axis=1)

    def exact_score(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf["vec_id"].to_numpy(dtype="int64")
            x = np.stack([np.asarray(v, dtype="float64") for v in pdf["emb"]])
            d2 = qsq[:, None] + (x * x).sum(axis=1)[None, :] - 2.0 * (q @ x.T)
            rows = []
            for qi in range(len(q_ids)):
                mask = ids != q_ids[qi]
                cand_ids, cand_d = ids[mask], d2[qi][mask]
                # batch-local selection must use the SAME (quantized d2,
                # vec_id) order as the global window below, or a
                # quantization-tie at the local top-k boundary makes the
                # truth set depend on Arrow batch boundaries
                q6 = np.floor(cand_d * 1e6 + 0.5).astype("int64")
                top = np.lexsort((cand_ids, q6))[:_PQ_TOPK]
                for t in top:
                    rows.append((int(q_ids[qi]), int(cand_ids[t]), int(q6[t])))
            yield pd.DataFrame(rows, columns=["q_id", "vec_id", "d2_1e6"])

    scored = spread(e).mapInPandas(exact_score, "q_id bigint, vec_id bigint, d2_1e6 bigint")
    w = Window.partitionBy("q_id").orderBy("d2_1e6", "vec_id")
    truth = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _PQ_TOPK)
        .select("q_id", "vec_id")
    )
    pred = sim_pq_adc_topk(spark, sf_dir).select("q_id", "vec_id")
    return _confusion_row(truth, pred, ["q_id", "vec_id"])


# ---------------------------------------------------------------------------
# HNSW (hierarchical navigable small world) — the serving-index ANN tier
# (r09, completes the documented dispatch ladder: LSH / IVF / PQ / HNSW).
# Spark-first decomposition: the GRAPH BUILD is the distributed part — the
# corpus hash-shards to ~8k-vector partitions and each shard's graph is
# constructed independently inside one applyInPandas task (HNSW insertion
# is inherently sequential WITHIN an index; sharding is how every
# production system distributes it) — while SEARCH fans a bounded query
# set out to every shard (queries ride the closure; per-shard beam search
# is ef-bounded) and a global window merges the per-shard top-k, which is
# exact over the shard results by construction. Same bounded-query-set
# posture as sim_pq_adc_topk (_PQ_NQ): HNSW is the low-latency SERVING
# tier, not a bulk self-join — the bulk-pairs path at scale is the
# IVF/LSH family above.
#
# Determinism (SURVEY §5.4 rule 6): no runtime RNG anywhere — node levels
# come from an md5(vec_id) uniform (the standard floor(-ln(U)·mL) draw),
# insertion order is vec_id-ascending, and every candidate selection
# breaks score ties by vec_id, so the graph and results are a pure
# function of the shard contents.
# ---------------------------------------------------------------------------

_HNSW_M = 8  # max out-degree on upper layers; layer 0 keeps 2M
_HNSW_EFC = 48  # beam width during construction
_HNSW_EFS = 48  # beam width during search
_HNSW_NQ = 32  # bounded query set (lowest vec_ids) — serving shape
_HNSW_SHARD_TARGET = 8192


def _hnsw_level(vec_id: int) -> int:
    import hashlib
    import math

    h = int.from_bytes(hashlib.md5(str(int(vec_id)).encode()).digest()[:8], "big")
    u = (h + 1) / float(2**64)
    return int(-math.log(u) / math.log(_HNSW_M))


def _hnsw_beam(
    q: np.ndarray, start: int, ef: int, lev: int, adj, xn, ids
) -> list[tuple[float, int]]:
    """Best-first search at one level of a shard graph (``adj`` as built
    by :func:`_hnsw_build`); returns [(sim, row)] sorted (sim desc, id
    asc), at most ef entries."""
    import heapq

    visited = {start}
    s0 = float(q @ xn[start])
    # candidates: max-heap by sim (store negative); results: the ef best
    cand = [(-s0, int(ids[start]), start)]
    res = [(s0, int(ids[start]), start)]
    worst = s0
    while cand:
        negs, _, c = heapq.heappop(cand)
        if -negs < worst and len(res) >= ef:
            break
        nbrs = adj.get(lev, {}).get(c, ())
        fresh = [b for b in nbrs if b not in visited]
        if not fresh:
            continue
        visited.update(fresh)
        sims = xn[fresh] @ q
        for b, s in zip(fresh, sims):
            s = float(s)
            if len(res) < ef or s > worst:
                heapq.heappush(cand, (-s, int(ids[b]), int(b)))
                res.append((s, int(ids[b]), int(b)))
                # keep res as the ef best (sim desc, id asc)
                res.sort(key=lambda t: (-t[0], t[1]))
                del res[ef:]
                worst = res[-1][0] if len(res) >= ef else -2.0
    return [(s, b) for s, _, b in res]


def _hnsw_build(ids: np.ndarray, xn: np.ndarray):
    """Sequential HNSW construction over one shard (ids ASCENDING for
    determinism; xn L2-normalized). Returns (levels, adj, entry) where
    adj[level][i] is an int-array of neighbor ROW indices."""
    n = len(ids)
    levels = np.array([_hnsw_level(i) for i in ids], dtype="int32")
    adj: dict[int, dict[int, np.ndarray]] = {}
    empty = np.empty(0, dtype="int64")
    entry, entry_lev = 0, int(levels[0])
    for lev in range(entry_lev + 1):
        adj.setdefault(lev, {})[0] = empty

    for i in range(1, n):
        q = xn[i]
        li = int(levels[i])
        for lev in range(li + 1):
            adj.setdefault(lev, {}).setdefault(i, empty)
        cur = entry
        for lev in range(entry_lev, li, -1):  # greedy descent above li
            if lev in adj:
                cur = _hnsw_beam(q, cur, 1, lev, adj, xn, ids)[0][1]
        for lev in range(min(li, entry_lev), -1, -1):
            found = _hnsw_beam(q, cur, _HNSW_EFC, lev, adj, xn, ids)
            mmax = _HNSW_M * 2 if lev == 0 else _HNSW_M
            chosen = [b for _, b in found[:_HNSW_M]]
            adj[lev][i] = np.array(chosen, dtype="int64")
            for b in chosen:  # bidirectional, degree-capped by similarity
                cur_nbrs = adj[lev].get(b, empty)
                merged = np.append(cur_nbrs, i)
                if len(merged) > mmax:
                    sims = xn[merged] @ xn[b]
                    order = np.lexsort((ids[merged], -sims))[:mmax]
                    merged = merged[order]
                adj[lev][b] = merged
            cur = found[0][1]
        if li > entry_lev:
            entry, entry_lev = i, li
    return levels, adj, entry, entry_lev


def _hnsw_search(
    q: np.ndarray, ids, xn, adj, entry: int, entry_lev: int, k: int
) -> list[tuple[float, int]]:
    """Greedy descent + layer-0 beam; returns [(sim, row)] top-k."""
    empty = np.empty(0, dtype="int64")

    def greedy(cur: int, lev: int) -> int:
        while True:
            nbrs = adj.get(lev, {}).get(cur, empty)
            if len(nbrs) == 0:
                return cur
            sims = xn[nbrs] @ q
            b = int(nbrs[np.lexsort((ids[nbrs], -sims))[0]])
            if float(xn[b] @ q) > float(xn[cur] @ q):
                cur = b
            else:
                return cur

    cur = entry
    for lev in range(entry_lev, 0, -1):
        cur = greedy(cur, lev)
    return _hnsw_beam(q, cur, max(_HNSW_EFS, k), 0, adj, xn, ids)[:k]


@register("sim_ann_hnsw", oracle=None, tags=("similarity", "ann"))
def sim_ann_hnsw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HNSW top-k, sharded: distributed graph build (one ~8k-vector HNSW
    per hash shard inside applyInPandas), bounded query set searched
    against every shard (beam ef=48), global window merges shard top-k.
    Rows-only (graph search is approximate by design); tests pin
    determinism and recall ≥ 0.8 @5 against the exact scorer. See the
    section comment above for the scale posture."""
    e = _emb(spark, sf_dir)
    k = _KNN_K
    n = e.count()
    # floor 2: the shard fan-out + merge path is always exercised (the
    # _pick_blocks precedent); cap 64 bounds the query fan-out
    shards = int(min(64, max(2, n // _HNSW_SHARD_TARGET)))
    qpdf = e.orderBy("vec_id").limit(_HNSW_NQ).select("vec_id", "emb").toPandas()
    q_ids = qpdf["vec_id"].to_numpy(dtype="int64")
    qm = np.stack([np.asarray(v, dtype="float64") for v in qpdf["emb"]])
    qn = qm / np.linalg.norm(qm, axis=1, keepdims=True)

    sharded = e.select(
        "vec_id", "emb", (F.col("vec_id") % shards).cast("int").alias("shard")
    )
    empty = pd.DataFrame(
        {
            "q_id": pd.Series(dtype="int64"),
            "neighbor_id": pd.Series(dtype="int64"),
            "cos_sim": pd.Series(dtype="float64"),
        }
    )

    def shard_search(pdf: pd.DataFrame) -> pd.DataFrame:
        if pdf.empty:
            return empty
        ids = pdf["vec_id"].to_numpy(dtype="int64")
        order = np.argsort(ids)
        ids = ids[order]
        x = np.stack([np.asarray(v, dtype="float64") for v in pdf["emb"]])[order]
        xn = x / np.linalg.norm(x, axis=1, keepdims=True)
        levels, adj, entry, entry_lev = _hnsw_build(ids, xn)
        rows = []
        for qi in range(len(q_ids)):
            for s, b in _hnsw_search(qn[qi], ids, xn, adj, entry, entry_lev, k + 1):
                if ids[b] == q_ids[qi]:
                    continue  # self
                rows.append((int(q_ids[qi]), int(ids[b]), round(float(s), 6)))
        if not rows:
            return empty
        return pd.DataFrame(rows, columns=["q_id", "neighbor_id", "cos_sim"])

    local = sharded.groupBy("shard").applyInPandas(
        shard_search, "q_id bigint, neighbor_id bigint, cos_sim double"
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        local.dropDuplicates(["q_id", "neighbor_id"])
        .withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= k)
    )
