"""Deduplication operators (north-star training-data-pipeline surface):
exact, MinHash+LSH near-dup, SimHash, n-gram Jaccard.

Determinism contract (SURVEY §5.4): no runtime RNG anywhere — MinHash
permutation constants come from a fixed-seed numpy RandomState evaluated
at import. Hash choice per path: SimHash signatures use the engine-portable
md5-prefix 32-bit hash (the signature TABLE is oracle-compared, so DuckDB
must reproduce it bit-for-bit); MinHash signatures use codegen-native
xxhash64 (the oracle verifies via brute-force shingle Jaccard, so the only
contract is Spark-side determinism — measured 2x cheaper at sf0.1).

Scale notes (100 TB):
- ``dedup_exact`` is one hash aggregate on a 16-byte fingerprint — the
  shuffle carries (fingerprint, doc_id), not text.
- ``dedup_near_minhash`` is the linear-time path: signatures are a single
  explode+groupBy (32 min-aggregates, one shuffle), LSH banding turns the
  O(n²) pair space into per-bucket joins; only candidates (a tiny
  fraction) pay the exact-Jaccard verify. This is the operator that
  replaces ``dedup_ngram_jaccard``'s all-pairs join beyond ~10^5 docs.
- Band-bucket skew (a degenerate bucket with thousands of docs) is the
  known hazard: AQE skew-join splitting handles moderate skew; extreme
  skew calls for dropping over-full buckets (standard practice).
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from gvcf_hbase_spark.functions.textfns import normalize_text, shingles, stable_hash32, tokens
from gvcf_hbase_spark.registry import register
from gvcf_hbase_spark.session import one_compute_boundary
from gvcf_hbase_spark.sources.tables import content_memo, load_table, spread

# ---------------------------------------------------------------------------
# MinHash constants (fixed seed — SURVEY §5.4 rule 6)
# ---------------------------------------------------------------------------

_P = 4_294_967_311  # smallest prime > 2^32
_N_HASHES = 32
_BAND_ROWS = 2  # 16 bands × 2 rows: P(candidate | j) = 1-(1-j^2)^16
_rng = np.random.RandomState(42)
# a in [1, 2^31): a*h < 2^63 for 32-bit h — no BIGINT overflow on either engine
_MINHASH_A = _rng.randint(1, 2**31 - 1, size=_N_HASHES).tolist()
_MINHASH_B = _rng.randint(0, 2**31 - 1, size=_N_HASHES).tolist()

_JACCARD_THRESHOLD = 0.8

# Pre-mix constant (2-round multiply-xorshift avalanche). The linear family
# (a*h + b) mod p alone degenerates when h is small: a*h + b < p never wraps,
# every permutation is monotone in h, and all 32 minima collapse onto the
# same element — fully correlated estimators. Mixing h to full 32-bit spread
# first restores pairwise-independence in practice. Production inputs are
# md5-prefix hashes (already well spread), so this guards the family itself,
# not just the fixture path.
_MIX_C = 0x45D9F3B
_MASK32 = 0xFFFFFFFF


def minhash_premix(h: "F.Column") -> "F.Column":
    """JVM-side 32-bit avalanche mix: stays in [0, 2^32), exact in BIGINT
    (max intermediate product < 2^58)."""
    x = h.bitwiseXOR(F.shiftright(h, 16))
    x = (x * F.lit(_MIX_C)).bitwiseAND(F.lit(_MASK32))
    x = x.bitwiseXOR(F.shiftright(x, 16))
    x = (x * F.lit(_MIX_C)).bitwiseAND(F.lit(_MASK32))
    return x.bitwiseXOR(F.shiftright(x, 16))


def minhash_premix_np(h: np.ndarray) -> np.ndarray:
    """Exact numpy twin of :func:`minhash_premix` (uint64 arithmetic; the
    property tests re-execute the production family through this)."""
    h = h.astype(np.uint64)
    c, m = np.uint64(_MIX_C), np.uint64(_MASK32)
    x = h ^ (h >> np.uint64(16))
    x = (x * c) & m
    x = x ^ (x >> np.uint64(16))
    x = (x * c) & m
    return x ^ (x >> np.uint64(16))


def _shingle_sets(d: DataFrame, k: int = 3) -> DataFrame:
    """doc_id + distinct k-token shingle set ``sh`` of the normalized text.

    Two deliberate physical choices (both measured ~5× apiece at sf0.1):
    spread first (documents arrives as ONE input split — see
    sources.tables.spread), and materialize the token array in its own
    projection before shingling — an expression passed into a transform
    lambda is inlined and re-evaluated per element (CSE does not reach
    inside lambda bodies), so shingling over the raw split() expression
    re-splits the text k times per shingle."""
    norm = normalize_text(F.col("text"))
    return (
        spread(d)
        .select("doc_id", tokens(norm).alias("toks"))
        .select("doc_id", F.array_distinct(shingles(F.col("toks"), k=k)).alias("sh"))
    )


def _jaccard_pairs(sets_df: DataFrame, t: float) -> DataFrame:
    """The exact (id_a < id_b) pairs of ``sets_df`` (doc_id, shingle set
    ``sh``) with shingle Jaccard ≥ ``t``, and that ``jaccard``, through
    the `dedup_ngram_jaccard` SSJoin inverted-index shape: postings ship
    (shingle, id, size) ints, the size-ratio bound prunes before the
    count, never an all-pairs join."""
    ex = sets_df.select("doc_id", F.size("sh").alias("sz"), F.explode("sh").alias("s"))
    a = ex.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("sz_a"), "s")
    b = ex.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("sz_b"), "s")
    shared = a.join(b, "s").filter(
        (F.col("id_a") < F.col("id_b"))
        & (F.col("sz_a") >= t * F.col("sz_b"))
        & (F.col("sz_b") >= t * F.col("sz_a"))
    )
    counts = shared.groupBy("id_a", "id_b", "sz_a", "sz_b").agg(
        F.count("*").alias("c")
    )
    jac = F.col("c") / (F.col("sz_a") + F.col("sz_b") - F.col("c"))
    return counts.filter(jac >= t).select("id_a", "id_b", jac.alias("jaccard"))


def minhash_signatures(d: DataFrame, sets: DataFrame | None = None) -> DataFrame:
    """32 minhash values per doc: explode shingles once, hash once, then
    32 min-aggregates in a single shuffle. Pass a (cached) ``sets``
    DataFrame to share the shingle computation with a verify stage."""
    ex = (sets if sets is not None else _shingle_sets(d)).select(
        "doc_id", F.explode("sh").alias("s")
    )
    # Signature-path hash: xxhash64 mod 2^32, NOT the md5-prefix portable
    # hash. The signatures never face a cross-engine comparison (the
    # oracle verifies via brute-force Jaccard on the shingle STRINGS), so
    # the only contract is Spark-side determinism — and xxhash64 is
    # codegen-native while md5+conv(hex,16,10) costs ~0.6 s at sf0.1
    # (measured, cached shingles). Materialize the mixed hash in its OWN
    # projection before the 32 min-aggs: an expression passed into
    # aggregate functions is inlined into each of them (no CSE across
    # aggregateExpressions), so the hash would otherwise run 32x per row.
    # A Project below an Aggregate is NOT collapsed into it.
    h32 = F.pmod(F.xxhash64(F.col("s")), F.lit(2**32))
    hashed = ex.select("doc_id", minhash_premix(h32).alias("h"))
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(_P)).alias(f"m{j}")
        for j, (a, b) in enumerate(zip(_MINHASH_A, _MINHASH_B))
    ]
    return hashed.groupBy("doc_id").agg(*aggs)


def lsh_bands(sigs: DataFrame) -> DataFrame:
    """Band a signature table (16 bands × 2 rows) into (doc_id, band,
    bucket) rows — the LSH index relation. Shared by the self-join
    candidate path and the incremental batch-vs-index path."""
    n_bands = _N_HASHES // _BAND_ROWS
    # bucket id = xxhash64 of the band's rows: a long, not a 32-char md5
    # string — cheaper to compute and 4x less shuffle bytes per band row
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    *[F.col(f"m{b * _BAND_ROWS + r}") for r in range(_BAND_ROWS)]
                ).alias("bucket"),
            )
            for b in range(n_bands)
        ]
    )
    return sigs.select("doc_id", F.explode(bands).alias("bb")).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def lsh_candidate_pairs(sigs: DataFrame) -> DataFrame:
    """Band the signatures (16 bands × 2 rows) and emit distinct doc pairs
    sharing any band bucket. The self-join is per (band, bucket) — an
    equi-join, never a cross join."""
    banded = lsh_bands(sigs)
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# queries() entries
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    oracle="""
    SELECT md5(lower(trim(regexp_replace(text, ' +', ' ', 'g')))) AS fingerprint,
           min(doc_id) AS keep_id,
           count(*) AS n_dups
    FROM documents
    GROUP BY 1
    """,
    tags=("dedup",),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: normalize → md5 fingerprint → keep min doc_id per
    group. One hash aggregate; the canonical first pass of any pipeline."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.md5(normalize_text(F.col("text"))).alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_dups"))
    )


@register(
    "dedup_near_minhash",
    oracle=f"""
    WITH d AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(l) - 2, 0) + 1),
               i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS sh
      FROM (SELECT doc_id, string_split(lower(trim(regexp_replace(text, ' +', ' ', 'g'))), ' ') AS l
            FROM documents)
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) AS jaccard
    FROM d a JOIN d b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
          / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= {_JACCARD_THRESHOLD}
    """,
    tags=("dedup", "lsh"),
)
def dedup_near_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup detection, the scale path: 3-shingles → 32 seeded minhashes
    → 16×2 LSH banding → candidate pairs → exact shingle-Jaccard verify
    (≥ 0.8). The oracle computes ground truth by brute force; they agree
    because 16×2 banding misses a j≥0.8 pair with P=(1-0.64)^16 ≈ 1e-7 —
    and deterministically not on this corpus (asserted in tests at two SFs).
    """
    d = load_table(spark, sf_dir, "documents")
    # One boundary: the shingle sets feed BOTH the signature pipeline and
    # both sides of the verify join (3 evaluations otherwise — measured
    # 9s→2s at sf0.1). Not persist: its CacheManager entry outlives the
    # query for the session's life, and a warm rerun reusing it saved at
    # most 0.12 s (1.22 s after clearCache vs 1.10–1.22 s warm).
    sets_df = _shingle_sets(d).transform(one_compute_boundary)
    cands = lsh_candidate_pairs(minhash_signatures(d, sets=sets_df))
    a = sets_df.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sets_df.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size("sh_a") + F.size("sh_b") - F.size(F.array_intersect("sh_a", "sh_b"))
    jac = inter / union
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .filter(jac >= _JACCARD_THRESHOLD)
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
    )


# SimHash: 32-bit, bit i set iff the token-hash population leans 1 at bit i.
_SIMHASH_BITS = 32

_SIMHASH_ORACLE = f"""
    WITH tok AS (
      SELECT doc_id,
             unnest(list_transform(
               string_split(lower(trim(regexp_replace(text, ' +', ' ', 'g'))), ' '),
               x -> CAST(concat('0x', substr(md5(x), 1, 8)) AS BIGINT))) AS h
      FROM documents
    ),
    bits AS (
      SELECT doc_id,
{",".join(f"             CAST(sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS b{i}" for i in range(_SIMHASH_BITS))}
      FROM tok GROUP BY doc_id
    )
    SELECT doc_id,
           {" + ".join(f"(CASE WHEN b{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(_SIMHASH_BITS))} AS simhash
    FROM bits
"""


def simhash_signatures(d: DataFrame) -> DataFrame:
    """32-bit SimHash per document: token-multiset weighted bit vote over
    the portable md5-prefix token hash. Single explode + one 32-column
    aggregate; shared by `dedup_simhash` (the signature table) and
    `dedup_simhash_recall` (the calibration op)."""
    ex = spread(d).select(
        "doc_id", F.explode(tokens(normalize_text(F.col("text")))).alias("tok")
    ).select("doc_id", stable_hash32(F.col("tok")).alias("h"))
    votes = [
        F.sum(
            F.when(F.shiftright("h", i).bitwiseAND(1) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(_SIMHASH_BITS)
    ]
    bits = ex.groupBy("doc_id").agg(*votes)
    sim = None
    for i in range(_SIMHASH_BITS):
        term = F.when(F.col(f"b{i}") > 0, F.lit(1 << i)).otherwise(0)
        sim = term if sim is None else sim + term
    return bits.select("doc_id", sim.cast("bigint").alias("simhash"))


@register("dedup_simhash", oracle=_SIMHASH_ORACLE, tags=("dedup", "hash"))
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash signature per document (token-multiset weighted bit
    vote). Near-dup pairs are then hamming-distance ≤ k over signatures —
    see tests for the pairing; the signature table is the oracle-checked
    artifact. Single explode + one 32-column aggregate."""
    return simhash_signatures(load_table(spark, sf_dir, "documents"))


def simhash_near_pairs(sigs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Pairs of docs whose simhashes differ in ≤ max_hamming bits. At scale,
    block on bit-bands first (pigeonhole) instead of this all-pairs join."""
    a = sigs.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("sh_a"))
    b = sigs.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("sh_b"))
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .filter(ham <= max_hamming)
        .select("id_a", "id_b", ham.alias("hamming"))
    )


@register(
    "dedup_ngram_jaccard",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(l) - 1, 0) + 1),
               i -> l[i] || ' ' || l[i+1])) AS grams
      FROM (SELECT doc_id, string_split(lower(trim(regexp_replace(text, ' +', ' ', 'g'))), ' ') AS l
            FROM documents)
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                 / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))), 6) AS jaccard
    FROM d a JOIN d b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
          / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) >= 0.6
    """,
    tags=("dedup",),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-bigram Jaccard pairs (≥ 0.6) as an **inverted-index
    set-similarity join** (the classic MapReduce SSJoin shape) instead of
    the n² pair join:

    - explode each doc's distinct bigrams (carrying the set size);
    - equi-join the postings on the gram → one row per *shared gram* per
      pair, pruned in the join by ``t·|A| ≤ |B| ≤ |A|/t`` (Jaccard ≥ t
      forces min-size ≥ t·max-size);
    - ``groupBy(pair).count()`` = exact |A∩B| (grams are distinct per
      doc), so jaccard = c / (|A|+|B|−c); pairs sharing nothing never
      appear and are correctly absent.

    Exact — the oracle is still the brute-force n² SQL. Scale shape: the
    shuffle carries only (gram, id, size) ints; work is Σ_g df(g)² shared-
    gram rows through a partial-agg groupBy, not n² array intersections.
    Hot grams (stopword bigrams) are the skew hazard — AQE skew splitting
    locally; at 100 TB add a max-df cutoff on the index side paired with a
    candidate pass for the dropped grams, or go dedup_near_minhash.

    Measured negative result (sf0.1, this corpus): a PPJoin-style prefix
    filter (index only each doc's ``sz - ceil(t*sz) + 1`` globally-rarest
    grams, then candidate-verify with array_intersect) produced identical
    output but ran 15× SLOWER (65 s vs 4.2 s). The fixture vocabulary is
    ~931 grams, so even "rare" prefix grams are dense — candidates barely
    shrink, and materializing pairs + per-pair array intersections loses
    to this count-based aggregation, which never materializes a pair
    below threshold. Prefix filtering pays off on Zipfian
    natural-language vocabularies (most grams near-unique), not here.
    """
    sets_df = _shingle_sets(load_table(spark, sf_dir, "documents"), k=2)
    return _jaccard_pairs(sets_df, 0.6).select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


@register(
    "dedup_containment",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(l) - 1, 0) + 1),
               i -> l[i] || ' ' || l[i+1])) AS toks
      FROM (SELECT doc_id, string_split(lower(trim(regexp_replace(text, ' +', ' ', 'g'))), ' ') AS l
            FROM documents)
    )
    SELECT a.doc_id AS contained_id, b.doc_id AS container_id,
           round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) / len(a.toks), 6)
             AS containment
    FROM d a JOIN d b ON a.doc_id <> b.doc_id
    WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) / len(a.toks) >= 0.8
    """,
    tags=("dedup",),
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-containment pairs: doc A is (near-)contained in
    doc B when |grams(A) ∩ grams(B)| / |grams(A)| ≥ 0.8 over distinct
    word BIGRAMS — the relation Jaccard misses when a short doc is
    embedded in a much longer one (boilerplate wrappers, quoted
    excerpts, page-in-page duplication). Bigrams, not unigrams: this
    fixture's unigram vocabulary is so small that unigram containment is
    ≥0.8 for ~60% of all ordered pairs (measured 144k/249k at sf0.01) —
    word order is what makes containment discriminative.

    COST-DISPATCHED SSJoin, r07 (same hash-identical multi-path
    discipline as `sim_cosine_pairs`' broadcast/blocked split), with
    both path costs MEASURED from the data before any pair
    materializes — because which path wins is a property of the
    vocabulary, not the corpus size:

    - DIRECT path: inverted-index postings self-join + shared-token
      groupBy; cost = exactly Σ_tok df² pair rows (from the df
      aggregate, a 1-row scalar probe). One posting shuffle, minimal
      constant factor, map-side partial aggregation.
    - PREFIX-FILTERED path: under a global token order (df ascending,
      ties by token — rarest first), if |A∩B| ≥ ⌈t·|A|⌉ then B shares
      at least one of A's first |A|−⌈t·|A|⌉+1 tokens (pigeonhole), so
      only PREFIX postings probe the index; candidates are then
      verified EXACTLY against the full bigram sets (array_intersect,
      JVM-side) — lossless. Cost = Σ over prefix postings of df
      (again exactly computable), PLUS a ~12× constant factor measured
      on this host (candidate distinct + two verify joins shipping the
      bigram arrays + the rank window).

    - BITMAP path (r10): when the df≥2 vocabulary is BOUNDED (≤ 8k
      grams), each doc's distinct-gram set packs into a v2-bit bitmap;
      blocked (i ≤ j) block pairs — the same blocked-all-pairs harness
      as `sim_cosine_pairs` — unpack to dense 0/1 float32 inside the
      applyInPandas task and score |A∩B| with one BLAS sgemm (exact:
      products are 0/1 and counts ≤ v2 « 2^24). No Σdf² pair rows ever
      exist; the only shuffle replicates each ~v2/8-byte packed
      signature ~√cells times. Exact: a df-1 gram can never be in an
      intersection (it still counts toward sz, carried separately),
      and the integer pre-filter 5c ≥ 4·sz is equivalent to the float
      threshold for t = 0.8 = 4/5. Cost = n²/2 · v2/8 byte-units — n²
      grows without bound, so a big corpus over a small vocabulary
      still self-limits back to direct/prefix via the cost model.

    Dispatch: bitmap when the vocabulary is bounded AND its byte-ops
    undercut Σdf² pair rows by the measured `_CONTAINMENT_BITMAP_FACTOR`;
    else direct when Σdf² is small (≤ `_CONTAINMENT_DIRECT_CEILING`
    — no probe beyond the df scalar needed); otherwise compute the
    exact prefix bound (linear pass) and take prefix only when it
    prunes ≥ `_CONTAINMENT_PREFIX_FACTOR`×; the probe is memoized per
    dataset content. Measured calibration (r09), direct-vs-prefix
    regimes (the r10 bitmap path now takes the first of these — see
    OPTIMIZATION_r10.md for its 26x measurement):

    - replicated sf1 fixture (931-bigram BOUNDED vocabulary — every
      token hot, the prefix filter's worst case): Σdf² = 7.3e9, prefix
      bound = 1.42e9 (5.1× pruning, under the bar) → direct, which
      completes in 290–330 s where the forced prefix path exceeds
      590 s;
    - boilerplate-heavy Zipfian corpus (30k docs sharing one hot phrase
      + unique rare tails — the real-web shape): Σdf² = 4.7e9, prefix
      bound = 2.2e5 (21000× pruning) → prefix, 15–20 s where the forced
      direct join takes 103 s.

    Both paths are exact — the oracle stays the
    brute-force n² SQL, and tests pin path-equivalence by forcing each
    on the same fixture. Containment has no symmetric size-ratio prune
    (a tiny doc may be contained in an arbitrarily large one) — the
    prefix bound is the one admissible prune, which is why this op
    carries it while `dedup_ngram_jaccard` carries the size-ratio one."""
    return _containment_pairs(spark, sf_dir, t=0.8)


# Direct-path fast-accept ceiling: the postings self-join materializes
# Σdf² pair rows (~16 B each) into a groupBy; 2e8 rows ≈ 3 GB of shuffle —
# comfortable on one stage with map-side combine, so below it the prefix
# bound isn't even worth probing (sf0.1 measures 16 s direct vs 46 s
# prefix at Σdf² = 7.3e7).
_CONTAINMENT_DIRECT_CEILING = 200_000_000

# Prefix path engages only when its candidate bound prunes at least this
# factor off Σdf²: the measured constant-factor gap between a candidate
# row (distinct + two array-shipping verify joins + rank window) and a
# direct pair row (one shuffled 16-byte tuple into a partial aggregate).
_CONTAINMENT_PREFIX_FACTOR = 12

# Bitmap path (r10, guide §1.1 first-principles + §4.2 vectorized-native):
# when the corpus-wide bigram vocabulary is BOUNDED (this engine's worst
# direct-path regime — every gram hot, Σdf² enormous, prefix filter
# useless), each doc's distinct-gram set packs into a v2-bit bitmap;
# blocked (i ≤ j) block pairs unpack to dense 0/1 float32 inside the task
# and |A∩B| is one BLAS sgemm (exact: products are 0/1, counts ≤ v2 «
# 2^24) — no Σdf² pair-row shuffle at all; only the ~v2/8-byte packed
# signatures move. Only grams with df ≥ 2 get a bit: a df-1 gram is in
# exactly ONE doc, so it can never appear in an intersection (it still
# counts toward sz, which is carried separately), keeping the bitmap at
# the effective vocabulary width. (A uint8 popcount-lookup kernel was
# measured first: 272 s at sf1 — memory-bound; the sgemm kernel replaced
# it, see OPTIMIZATION_r10.md.)
# 1 KB/doc bitmap; a 4k-doc block unpacks to 4096 × 8192 × 4 B = 128 MiB
# of float32 per side.
_CONTAINMENT_BITMAP_MAX_VOCAB = 8_192
# Cost-model constant: one shuffled Σdf² pair row through the partial
# aggregate costs about as much as this many bitmap BYTE-ops (AND +
# popcount-lookup + sum). Measured on this host (sf1 replicated fixture:
# direct 7.3e9 rows ≈ 300 s vs bitmap 1.5e11 byte-ops ≈ 12 s ⇒ ~800 —
# see OPTIMIZATION_r10.md); 64 is deliberately 10x conservative so the
# bitmap path only engages where it wins decisively.
_CONTAINMENT_BITMAP_FACTOR = 64
_CONTAINMENT_BLOCK = 4_096  # docs per block: bounds per-task memory
_CONTAINMENT_BITMAP_CHUNK_BYTES = 64 << 20  # per-chunk AND buffer bound


def _containment_bitmap_wins(fanout: int, n_docs: int, v2: int) -> bool:
    """Dispatch rule for the bitmap path: vocabulary bounded AND the n²/2
    popcount byte-ops undercut the Σdf² pair-row aggregate by the measured
    constant factor. n² grows without bound, so a huge corpus with a small
    vocabulary still falls back to direct/prefix — the model self-limits."""
    if v2 <= 0 or v2 > _CONTAINMENT_BITMAP_MAX_VOCAB or n_docs <= 0:
        return False
    nb = (v2 + 7) // 8
    byte_ops = (n_docs * n_docs // 2) * nb
    return byte_ops < fanout * _CONTAINMENT_BITMAP_FACTOR


# content_memo of the documents table: (Σdf², prefix bound, n_docs, v2).
# The probe is a data-dependent dispatch input and must run a real job;
# the memo keeps whole-inventory plan sweeps — which call this op's
# builder dozens of times per session — from re-paying it.
_CONTAINMENT_PROBE_MEMO: dict[tuple, tuple[int, int, int, int]] = {}
# content_memo of the documents table: sorted df≥2 vocabulary (bitmap bit
# order), at most _CONTAINMENT_BITMAP_MAX_VOCAB strings. A build input,
# not a query result: every action still computes from the parquet.
_CONTAINMENT_VOCAB_MEMO: dict[tuple, list] = {}


def _containment_probe(spark, sf_dir, docs, df_t, ranked) -> tuple[int, int, int, int]:
    """Exact (Σdf² fanout, Σ prefix-posting df bound, n_docs, df≥2 vocab
    size), memoized per table version (content_memo). n_docs is only
    probed when the vocabulary is bitmap-bounded, and the prefix bound only
    when the bitmap path did not already win — each probe job is paid
    exactly when its dispatch decision needs it."""

    def probe() -> tuple[int, int, int, int]:
        row = df_t.agg(
            F.sum(F.col("df") * F.col("df")),
            F.sum(F.when(F.col("df") >= 2, 1).otherwise(0)),
        ).collect()[0]
        fanout, v2 = int(row[0] or 0), int(row[1] or 0)
        n_docs = 0
        if 0 < v2 <= _CONTAINMENT_BITMAP_MAX_VOCAB:
            n_docs = docs.count()
        bound = 0
        if fanout > _CONTAINMENT_DIRECT_CEILING and not _containment_bitmap_wins(
            fanout, n_docs, v2
        ):
            # the bound pass (df join + rank window) is only needed when
            # the fast-accept ceiling is exceeded and bitmap didn't win
            bound = ranked.filter("in_prefix").agg(F.sum("df")).collect()[0][0] or 0
        return fanout, int(bound), n_docs, v2

    return content_memo(_CONTAINMENT_PROBE_MEMO, sf_dir, "documents", probe)


# PID of the worker whose OpenBLAS has been pinned to 1 thread (guide
# §4.5: heavyweight init once per process; worker reuse keeps it).
_BLAS_PINNED_PID: int | None = None


def _pin_blas_single_thread() -> None:
    """Best-effort pin of the Python worker's OpenBLAS pool to 1 thread.
    Every concurrent task spawning a full 32-thread BLAS pool
    oversubscribes the host ~32x — measured on the containment sgemm
    stage: whole-stage throughput equaled ONE saturated matmul (~40
    GFLOPS) until pinned, after which 32 single-threaded sgemms (~20
    GFLOPS each) run concurrently. Linux-only (/proc scan), silently a
    no-op elsewhere; PID-guarded so a reused worker pays it once."""
    global _BLAS_PINNED_PID
    import os

    if _BLAS_PINNED_PID == os.getpid():
        return
    try:
        import ctypes
        import re

        with open("/proc/self/maps") as f:
            text = f.read()
        for path in set(re.findall(r"/\S+openblas\S*\.so\S*", text)):
            lib = ctypes.CDLL(path)
            for fname in ("openblas_set_num_threads", "openblas_set_num_threads64_"):
                fn = getattr(lib, fname, None)
                if fn is not None:
                    fn(1)
                    break
    except Exception:  # pragma: no cover - platform-specific best effort
        pass
    _BLAS_PINNED_PID = os.getpid()


def _containment_bitmap_verified(
    spark, sf_dir, docs, df_t, n_docs: int
) -> DataFrame:
    """`verified`-shaped (id_a, id_b, c, sz_a, sz_b) candidate pairs via
    the bitmap path. EXACT: c = Σ_bit bitA·bitB = |A∩B| because
    every gram shared by ≥2 docs has a bit; the integer pre-filter
    5c ≥ 4·sz is equivalent to the float c/sz ≥ 0.8 the shared fwd/rev
    tail re-applies (t = 0.8 = 4/5 is exact in integers, and the double
    division can't cross the 1/(5·sz) rational gap for any sz < 4e15),
    so the emitted set is the same set the direct path's aggregate feeds
    into that tail — only pairs that can never pass are withheld."""
    import pandas as pd

    vocab = content_memo(
        _CONTAINMENT_VOCAB_MEMO, sf_dir, "documents",
        lambda: sorted(r[0] for r in df_t.filter(F.col("df") >= 2).select("tok").collect()),
    )
    nb = max((len(vocab) + 7) // 8, 1)
    bc = spark.sparkContext.broadcast({tok: i for i, tok in enumerate(vocab)})

    def pack(batches):
        vv = bc.value
        for pdf in batches:
            bits = np.zeros((len(pdf), nb), dtype=np.uint8)
            for r, toks in enumerate(pdf["toks"]):
                for tk in toks:
                    i = vv.get(tk)
                    if i is not None:
                        bits[r, i >> 3] |= 1 << (i & 7)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy(dtype="int64"),
                    "sz": pdf["sz"].to_numpy(dtype="int32"),
                    "bits": [b.tobytes() for b in bits],
                }
            )

    # One-compute boundary: the packed signatures feed BOTH grid sides
    # (left and right replication joins), so without it the Arrow pack
    # pass runs twice (guide §2.4 — same discipline as the phash
    # signatures). ~(nb+12) bytes per doc, the smallest relation here.
    packed = one_compute_boundary(
        docs.select("doc_id", F.size("toks").alias("sz"), "toks").mapInPandas(
            pack, "doc_id bigint, sz int, bits binary"
        )
    )

    # Blocked (i ≤ j) block-pair grid — the _pairs_above_blocked pattern:
    # per-task memory is bounded by the block size regardless of corpus
    # size; each doc's ~nb-byte signature is shuffled ~b times.
    b = max(1, -(-n_docs // _CONTAINMENT_BLOCK))
    grid = spark.createDataFrame(
        [(i, j) for i in range(b) for j in range(i, b)], "bi int, bj int"
    )
    tagged = packed.withColumn(
        "blk", F.pmod(F.xxhash64(F.col("doc_id")), F.lit(b)).cast("int")
    )
    left = tagged.join(F.broadcast(grid), F.col("blk") == F.col("bi")).select(
        "bi", "bj", F.lit("a").alias("side"), "doc_id", "sz", "bits"
    )
    right = (
        tagged.join(
            F.broadcast(grid.filter(F.col("bi") != F.col("bj"))),
            F.col("blk") == F.col("bj"),
        )
        .select("bi", "bj", F.lit("b").alias("side"), "doc_id", "sz", "bits")
    )
    both = left.unionByName(right)

    v2 = len(vocab)

    def _empty():
        return pd.DataFrame(
            {
                "id_a": np.array([], "int64"),
                "id_b": np.array([], "int64"),
                "c": np.array([], "int64"),
                "sz_a": np.array([], "int32"),
                "sz_b": np.array([], "int32"),
            }
        )

    def _unpack(col):
        """(rows, nb) packed bitmaps -> (rows, v2) dense 0/1 float32. The
        shuffle moves the ~nb-byte PACKED form; the dense form exists only
        inside the task so the intersection counts run through BLAS sgemm
        — exact, since every product is 0/1 and every count ≤ v2 « 2^24
        (float32 holds all integers below 2^24 exactly)."""
        mat = np.stack([np.frombuffer(x, dtype=np.uint8) for x in col])
        return np.unpackbits(mat, axis=1, bitorder="little")[:, :v2].astype(
            np.float32
        )

    def cell(key, pdf):
        _pin_blas_single_thread()
        bi, bj = key
        a = pdf[pdf["side"] == "a"]
        if a.empty:
            return _empty()
        ids_a = a["doc_id"].to_numpy(dtype="int64")
        sz_a = a["sz"].to_numpy(dtype="int64")
        mat_a = _unpack(a["bits"])
        if bi == bj:
            ids_b, sz_b, mat_b = ids_a, sz_a, mat_a
        else:
            bb = pdf[pdf["side"] == "b"]
            if bb.empty:
                return _empty()
            ids_b = bb["doc_id"].to_numpy(dtype="int64")
            sz_b = bb["sz"].to_numpy(dtype="int64")
            mat_b = _unpack(bb["bits"])
        mat_bt = mat_b.T.copy()  # one contiguous transpose for every chunk
        chunk = max(1, _CONTAINMENT_BITMAP_CHUNK_BYTES // max(len(ids_b) * 12, 1))
        out = {"id_a": [], "id_b": [], "c": [], "sz_a": [], "sz_b": []}
        for s0 in range(0, len(ids_a), chunk):
            s1 = min(s0 + chunk, len(ids_a))
            inter = (mat_a[s0:s1] @ mat_bt).astype(np.int64)
            qual = (5 * inter >= 4 * sz_a[s0:s1, None]) | (
                5 * inter >= 4 * sz_b[None, :]
            )
            if bi == bj:
                # Diagonal group: upper triangle de-duplicates mirrored and
                # self pairs; cross-block pairs exist in exactly ONE group
                # and are oriented min/max below instead.
                qual &= ids_a[s0:s1, None] < ids_b[None, :]
            ii, jj = np.nonzero(qual)
            if len(ii) == 0:
                continue
            ia, ib = ids_a[s0 + ii], ids_b[jj]
            sa, sb = sz_a[s0 + ii], sz_b[jj]
            swap = ia > ib
            out["id_a"].append(np.where(swap, ib, ia))
            out["id_b"].append(np.where(swap, ia, ib))
            out["c"].append(inter[ii, jj])
            out["sz_a"].append(np.where(swap, sb, sa).astype("int32"))
            out["sz_b"].append(np.where(swap, sa, sb).astype("int32"))
        if not out["id_a"]:
            return _empty()
        return pd.DataFrame({k: np.concatenate(v) for k, v in out.items()})

    # Explicit cell-keyed repartition (guide §2.5-adjacent): the cell stage
    # is CPU-heavy but byte-light (~nb bytes/doc), so AQE's advisory-size
    # coalescing collapses its exchange to 1-2 tasks and the ~b²/2 sgemm
    # cells run nearly serially (measured 29 s -> 9 s at sf1 when spread).
    # A user-specified partition count is exempt from AQE coalescing and
    # already satisfies the groupBy's clustering, so no extra exchange is
    # planned. Scale-adaptive: one partition per cell up to 8x parallelism,
    # beyond which tasks batch multiple cells (each cell's memory stays
    # bounded by the block size either way).
    n_cells = b * (b + 1) // 2
    num = max(1, min(n_cells, spark.sparkContext.defaultParallelism * 8))
    return (
        both.repartition(num, "bi", "bj")
        .groupBy("bi", "bj")
        .applyInPandas(cell, "id_a bigint, id_b bigint, c bigint, sz_a int, sz_b int")
    )


def _containment_pairs(
    spark: SparkSession, sf_dir: str, t: float, force_path: str | None = None
) -> DataFrame:
    """Shared body of `dedup_containment`; ``force_path`` ('direct' /
    'prefix') exists for the path-equivalence tests only."""
    d = load_table(spark, sf_dir, "documents")
    # One shingle materialization feeds postings AND the verify joins
    # (same truncation discipline as curate_ccnet_buckets' tok relation).
    docs = (
        spread(d)
        .select("doc_id", tokens(normalize_text(F.col("text"))).alias("words"))
        .select("doc_id", F.array_distinct(shingles(F.col("words"), k=2)).alias("toks"))
        .filter(F.size("toks") > 0)
        .transform(one_compute_boundary)
    )
    post = docs.select(
        "doc_id", F.size("toks").alias("sz"), F.explode("toks").alias("tok")
    )
    df_t = post.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))

    # prefix length = sz - ceil(t*sz) + 1; t=0.8 exact in int math:
    # ceil(4*sz/5) = (4*sz + 4) DIV 5. Window is per-doc (bounded).
    w = Window.partitionBy("doc_id").orderBy("df", "tok")
    pref_len = (
        F.col("sz") - ((F.lit(4) * F.col("sz") + F.lit(4)) / 5).cast("bigint") + 1
    )
    ranked = post.join(df_t, "tok").select(
        "doc_id",
        "tok",
        "df",
        (F.row_number().over(w) <= pref_len).alias("in_prefix"),
    )

    if t != 0.8:
        # ValueError, not assert: an assert strips under `python -O`, and a
        # wrong prefix length silently DROPS true containment pairs. The
        # generic length is sz - ceil(t*sz) + 1; only t=0.8 has the exact
        # integer form above.
        raise ValueError(f"prefix math specialized to t=0.8, got {t}")
    n_docs_probed = 0
    if force_path is None:
        probe = _containment_probe(spark, sf_dir, docs, df_t, ranked)
        fanout, bound, n_docs_probed, v2 = probe
        if _containment_bitmap_wins(fanout, n_docs_probed, v2):
            path = "bitmap"
        elif fanout <= _CONTAINMENT_DIRECT_CEILING:
            path = "direct"
        else:
            path = (
                "prefix"
                if bound * _CONTAINMENT_PREFIX_FACTOR < fanout
                else "direct"
            )
    else:
        path = force_path

    if path == "bitmap":
        if n_docs_probed <= 0:  # forced path (tests): probe the block count
            n_docs_probed = docs.count()
        # One-compute boundary on the candidate set: `verified` feeds BOTH
        # the fwd and rev orientation branches below, and the expensive
        # sgemm cell stage ends in a FlatMapGroupsInPandas — NOT an
        # exchange, so AQE's runtime exchange-reuse cannot dedupe it the
        # way it dedupes the direct path's duplicated aggregate subtree.
        # The relation is the qualifying-pair set (tiny by construction).
        verified = one_compute_boundary(
            _containment_bitmap_verified(spark, sf_dir, docs, df_t, n_docs_probed)
        )
    elif path == "direct":
        a = post.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("sz_a"), "tok")
        b = post.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("sz_b"), "tok")
        verified = (
            a.join(b, "tok")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b", "sz_a", "sz_b")
            .agg(F.count(F.lit(1)).alias("c"))
        )
    else:
        # PREFIX postings on one side, FULL postings on the other — the
        # prune must live in the JOIN INPUT, not in a post-join filter:
        # a disjunctive (pre_a OR pre_b) predicate after a plain tok
        # equi-join cannot be pushed to either side, so the join would
        # still enumerate every Σdf² pair match before discarding. Two
        # asymmetric joins of Σ_prefix df rows each, unioned, IS the
        # claimed candidate bound.
        pref = ranked.filter("in_prefix")
        pa = pref.select(F.col("doc_id").alias("id_a"), "tok")
        pb = pref.select(F.col("doc_id").alias("id_b"), "tok")
        fa = ranked.select(F.col("doc_id").alias("id_a"), "tok")
        fb = ranked.select(F.col("doc_id").alias("id_b"), "tok")
        cand = (
            pa.join(fb, "tok")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .union(
                fa.join(pb, "tok")
                .filter(F.col("id_a") < F.col("id_b"))
                .select("id_a", "id_b")
            )
            .distinct()
        )
        verified = (
            cand.join(
                docs.select(F.col("doc_id").alias("id_a"), F.col("toks").alias("toks_a")),
                "id_a",
            )
            .join(
                docs.select(F.col("doc_id").alias("id_b"), F.col("toks").alias("toks_b")),
                "id_b",
            )
            .select(
                "id_a",
                "id_b",
                F.size(F.array_intersect("toks_a", "toks_b")).alias("c"),
                F.size("toks_a").alias("sz_a"),
                F.size("toks_b").alias("sz_b"),
            )
        )

    fwd = verified.filter(F.col("c") / F.col("sz_a") >= t).select(
        F.col("id_a").alias("contained_id"),
        F.col("id_b").alias("container_id"),
        F.round(F.col("c") / F.col("sz_a"), 6).alias("containment"),
    )
    rev = verified.filter(F.col("c") / F.col("sz_b") >= t).select(
        F.col("id_b").alias("contained_id"),
        F.col("id_a").alias("container_id"),
        F.round(F.col("c") / F.col("sz_b"), 6).alias("containment"),
    )
    return fwd.unionByName(rev)


@register(
    "dedup_incremental",
    oracle="""
    WITH fp AS (
      SELECT doc_id,
             md5(lower(trim(regexp_replace(text, ' +', ' ', 'g')))) AS fingerprint
      FROM documents
    ),
    hist AS (SELECT DISTINCT fingerprint FROM fp WHERE doc_id < 400),
    new_batch AS (SELECT * FROM fp WHERE doc_id >= 400)
    SELECT fingerprint, min(doc_id) AS keep_id, count(*) AS n_in_batch
    FROM new_batch
    WHERE fingerprint NOT IN (SELECT fingerprint FROM hist)
    GROUP BY fingerprint
    """,
    tags=("dedup",),
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup — the daily-ingest shape: a NEW batch (doc_id ≥
    400 stands in for today's crawl) is deduplicated against the
    HISTORICAL fingerprint index (doc_id < 400) with an anti-join, then
    within itself with the usual min-id group. Only fingerprints cross
    the shuffle (16 bytes/doc); the history side is index-only (no text
    column ever read from it — column pruning reaches the scan), which
    is what makes the daily job O(batch + index) instead of re-running
    exact dedup over the full corpus. In production the index is the
    persisted fingerprint table this query's output appends to."""
    d = load_table(spark, sf_dir, "documents")
    fp = d.select(
        "doc_id", F.md5(normalize_text(F.col("text"))).alias("fingerprint")
    )
    hist = fp.filter(F.col("doc_id") < 400).select("fingerprint").distinct()
    new_batch = fp.filter(F.col("doc_id") >= 400)
    return (
        new_batch.join(hist, "fingerprint", "left_anti")
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_in_batch"))
    )


# dedup_minhash_incremental is registered below (after the portable-hash
# SQL fragments it shares with dedup_minhash_recall are defined) -- see
# _register_minhash_incremental().


_RECALL_MAX_HAMMING = 3
_SIMHASH_BANDS = 4  # 8-bit bands; pigeonhole: hamming <= 3 => >= 1 clean band


def simhash_banded_pairs(sigs: DataFrame, max_hamming: int = _RECALL_MAX_HAMMING) -> DataFrame:
    """Scale path for simhash pairing: split each 32-bit signature into
    4 disjoint 8-bit bands; by pigeonhole, any pair within hamming
    <= 3 agrees EXACTLY on at least one band, so a per-(band, value)
    equi-self-join produces a candidate superset and the bit_count
    verify keeps exactly the true pairs — same recall as the all-pairs
    join (`simhash_near_pairs`), candidate cost Σ per-bucket |b|²
    instead of n². Identical to `multimodal_phash_neardup`'s banding,
    applied to the text signature."""
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright("simhash", 8 * b).bitwiseAND(255).alias("v"),
            )
            for b in range(_SIMHASH_BANDS)
        ]
    )
    banded = sigs.select("doc_id", "simhash", F.explode(bands).alias("bb")).select(
        "doc_id", "simhash", F.col("bb.band").alias("band"), F.col("bb.v").alias("v")
    )
    a = banded.select(
        F.col("doc_id").alias("id_a"), F.col("simhash").alias("sh_a"), "band", "v"
    )
    b = banded.select(
        F.col("doc_id").alias("id_b"), F.col("simhash").alias("sh_b"), "band", "v"
    )
    cand = (
        a.join(b, ["band", "v"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return cand.filter(ham <= max_hamming).select("id_a", "id_b", ham.alias("hamming"))

_SIMHASH_RECALL_ORACLE = f"""
    WITH sims AS ({_SIMHASH_ORACLE}),
    d AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(l) - 2, 0) + 1),
               i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS sh
      FROM (SELECT doc_id, string_split(lower(trim(regexp_replace(text, ' +', ' ', 'g'))), ' ') AS l
            FROM documents)
    ),
    truth AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM d a JOIN d b ON a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
            / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= {_JACCARD_THRESHOLD}
    ),
    pred AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sims a JOIN sims b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= {_RECALL_MAX_HAMMING}
    ),
    hit AS (
      SELECT CAST(count(*) AS BIGINT) AS n_hit
      FROM truth t JOIN pred p ON p.id_a = t.id_a AND p.id_b = t.id_b
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
           (SELECT CAST(count(*) AS BIGINT) FROM pred) AS n_pred,
           n_hit,
           CAST(n_hit * 1000000 // NULLIF((SELECT count(*) FROM truth), 0) AS BIGINT)
             AS recall_1e6,
           CAST(n_hit * 1000000 // NULLIF((SELECT count(*) FROM pred), 0) AS BIGINT)
             AS precision_1e6
    FROM hit
"""


def _confusion_row(truth: DataFrame, pred: DataFrame, keys: list[str]) -> DataFrame:
    """One-row recall/precision report: three scalar aggregates reduced
    independently and cross-joined as 1-row broadcasts (never a driver
    collect), ratios integer-quantized so no float reaches the hash.

    Each side is consumed TWICE (its own count + the hit semi-join), and
    both sides are typically the expensive halves of a gauge (an SSJoin
    truth, an exact-KNN pass) — without a boundary here the optimizer
    plans each subtree twice and broadcast subtrees dodge AQE exchange
    reuse, so every gauge paid ~2x its real cost (r09 measured:
    dedup_minhash_recall 2.7 s -> 0.7 s at sf0.1). The pair sets are
    id-pair rows — tiny relative to what produced them — so one lazy
    localCheckpoint per side bounds the extra storage while cutting the
    recompute; a side that is already checkpointed (nprobe sweep) just
    re-scans its RDD."""
    truth = truth.transform(one_compute_boundary)
    pred = pred.transform(one_compute_boundary)
    nt = truth.agg(F.count("*").cast("bigint").alias("n_truth"))
    npred = pred.agg(F.count("*").cast("bigint").alias("n_pred"))
    nh = truth.join(pred, keys, "left_semi").agg(
        F.count("*").cast("bigint").alias("n_hit")
    )
    return (
        nh.crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(npred))
        .select(
            "n_truth",
            "n_pred",
            "n_hit",
            F.floor(F.col("n_hit") * 1_000_000 / F.nullif(F.col("n_truth"), F.lit(0)))
            .cast("bigint")
            .alias("recall_1e6"),
            F.floor(F.col("n_hit") * 1_000_000 / F.nullif(F.col("n_pred"), F.lit(0)))
            .cast("bigint")
            .alias("precision_1e6"),
        )
    )


@register("dedup_simhash_recall", oracle=_SIMHASH_RECALL_ORACLE, tags=("dedup", "eval"))
def dedup_simhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch calibration as a first-class op: how well does the
    32-bit SimHash (hamming ≤ 3, banded) RECALL the exact 3-shingle-Jaccard
    ≥ 0.8 near-dup pairs, and at what precision? This is the QA
    query every production dedup pipeline runs before trusting a
    sketch tier — thresholds are tuned on exactly this confusion
    table, and a corpus-distribution shift shows up here first.

    Truth side reuses `dedup_near_minhash`'s verified pairs (exact
    Jaccard, banding-complete on this corpus — the oracle recomputes
    truth by brute force independently); predicted side is the
    simhash pair set. Counts reduce to ONE row via three scalar
    aggregates cross-joined as broadcasts (the 1-row-cross pattern);
    ratios are integer-quantized so no float reaches the hash. The
    simhash pairing runs the SCALE path (`simhash_banded_pairs`:
    4×8-bit pigeonhole bands, exact for hamming ≤ 3), so this op's
    own plan is the one you would ship — measured 12.9 s → ~2 s at
    sf0.1 vs the all-pairs join."""
    d = load_table(spark, sf_dir, "documents")
    truth = dedup_near_minhash(spark, sf_dir).select("id_a", "id_b")
    pred = simhash_banded_pairs(
        simhash_signatures(d), _RECALL_MAX_HAMMING
    ).select("id_a", "id_b")
    # shared 1-row confusion reduce (r09): identical arithmetic to the
    # hand-rolled block this replaces, plus the helper's one-compute
    # boundary per side — truth here is the FULL near-minhash pipeline,
    # which the old inline reduce evaluated twice.
    return _confusion_row(truth, pred, ["id_a", "id_b"])


# ---------------------------------------------------------------------------
# MinHash-LSH calibration gauge (r07; completes the recall-gauge family:
# dedup_simhash_recall / sim_ann_ivf_recall / sim_pq_recall)
# ---------------------------------------------------------------------------

# Portable premix twin of minhash_premix, as DuckDB SQL over a BIGINT h.
_PREMIX_SQL = (
    "xor((xor((xor({h}, {h} >> 16) * %d) & %d, "
    "((xor({h}, {h} >> 16) * %d) & %d) >> 16) * %d) & %d, "
    "((xor((xor({h}, {h} >> 16) * %d) & %d, "
    "((xor({h}, {h} >> 16) * %d) & %d) >> 16) * %d) & %d) >> 16)"
) % ((_MIX_C, _MASK32) * 6)

_MH_RECALL_SHINGLES = """
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(l) - 2, 0) + 1),
               i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS sh
      FROM (SELECT doc_id, string_split(lower(trim(regexp_replace(text, ' +', ' ', 'g'))), ' ') AS l
            FROM documents)
"""

_MH_N_BANDS = _N_HASHES // _BAND_ROWS

# Rep-collapsed shared prefix for the two confusion-gauge oracles (r09,
# lifts their sf0.1/sf1 cost demotes). The brute-force truth CTE paired
# ALL docs — O(docs²) list_intersect. This form is exactly equivalent on
# any corpus and two cost classes cheaper:
#   1. exact-normalized-text clone groups collapse to their min-doc_id
#      representative (docs in a group have identical shingle sets, so
#      the j≥t pair graph AND the band-candidate graph factor through
#      representatives; a non-empty-gram group is a clique on both sides,
#      an under-3-word group has EMPTY shingles — never a pair on either
#      side — and keeps a per-doc key);
#   2. rep-level truth is the SSJoin inverted index with the lossless
#      size-ratio prune (the ENGINE's own truth shape: j ≥ t requires a
#      shared shingle and t·|B| ≤ |A| ≤ |B|/t), never an all-pairs join.
# Confusion COUNTS over all docs then expand through group sizes:
# cross-pair terms Σ gsz_a·gsz_b over rep pairs, plus the within-group
# clique term w = Σ C(gsz,2) — identical clones are truth AND candidate
# pairs at every banding, so w adds to n_truth, n_pred and n_hit alike.
_MH_REP_CTES = f"""norm AS (
      SELECT doc_id, lower(trim(regexp_replace(text, ' +', ' ', 'g'))) AS nt
      FROM documents
    ),
    grp AS (
      SELECT doc_id, nt, nw,
             min(doc_id) OVER (PARTITION BY gk) AS rep,
             count(*) OVER (PARTITION BY gk) AS gsz
      FROM (SELECT doc_id, nt, len(string_split(nt, ' ')) AS nw,
                   CASE WHEN len(string_split(nt, ' ')) < 3
                        THEN 'E' || CAST(doc_id AS VARCHAR) ELSE nt END AS gk
            FROM norm)
    ),
    d AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(l) - 2, 0) + 1),
               i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS sh
      FROM (SELECT doc_id, string_split(nt, ' ') AS l FROM grp
            WHERE doc_id = rep)
    ),
    gs AS (SELECT rep, max(gsz) AS gsz FROM grp WHERE nw >= 3 GROUP BY rep),
    ex AS (SELECT doc_id, len(sh) AS sz, unnest(sh) AS s FROM d),
    shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.sz AS sz_a, b.sz AS sz_b,
             count(*) AS c
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      WHERE a.sz >= {_JACCARD_THRESHOLD} * b.sz
        AND b.sz >= {_JACCARD_THRESHOLD} * a.sz
      GROUP BY 1, 2, 3, 4
    ),
    truth AS (
      SELECT id_a, id_b FROM shared
      WHERE CAST(c AS DOUBLE) / (sz_a + sz_b - c) >= {_JACCARD_THRESHOLD}
    ),
    wv AS (SELECT COALESCE(SUM(gsz * (gsz - 1) // 2), 0) AS w FROM gs)
"""

_MINHASH_RECALL_ORACLE = f"""
    WITH {_MH_REP_CTES},
    hashed AS (
      SELECT doc_id,
             {_PREMIX_SQL.format(h="CAST(concat('0x', substr(md5(s), 1, 8)) AS BIGINT)")} AS h
      FROM (SELECT doc_id, unnest(sh) AS s FROM d)
    ),
    sigs AS (
      SELECT doc_id,
{",".join(f"             min(({a} * h + {b}) % {_P}) AS m{j}" for j, (a, b) in enumerate(zip(_MINHASH_A, _MINHASH_B)))}
      FROM hashed GROUP BY doc_id
    ),
    bands AS (
{" UNION ALL ".join(f"      SELECT doc_id, {b} AS band, m{b * _BAND_ROWS} AS r0, m{b * _BAND_ROWS + 1} AS r1 FROM sigs" for b in range(_MH_N_BANDS))}
    ),
    pred AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.r0 = b.r0 AND a.r1 = b.r1
       AND a.doc_id < b.doc_id
    ),
    tots AS (
      SELECT
        (SELECT COALESCE(SUM(ga.gsz * gb.gsz), 0) FROM truth t
           JOIN gs ga ON ga.rep = t.id_a JOIN gs gb ON gb.rep = t.id_b) AS ct,
        (SELECT COALESCE(SUM(ga.gsz * gb.gsz), 0) FROM pred p
           JOIN gs ga ON ga.rep = p.id_a JOIN gs gb ON gb.rep = p.id_b) AS cp,
        (SELECT COALESCE(SUM(ga.gsz * gb.gsz), 0) FROM truth t
           JOIN pred p ON p.id_a = t.id_a AND p.id_b = t.id_b
           JOIN gs ga ON ga.rep = t.id_a JOIN gs gb ON gb.rep = t.id_b) AS ch,
        (SELECT w FROM wv) AS w
    )
    SELECT CAST(ct + w AS BIGINT) AS n_truth,
           CAST(cp + w AS BIGINT) AS n_pred,
           CAST(ch + w AS BIGINT) AS n_hit,
           CAST((ch + w) * 1000000 // NULLIF(ct + w, 0) AS BIGINT)
             AS recall_1e6,
           CAST((ch + w) * 1000000 // NULLIF(cp + w, 0) AS BIGINT)
             AS precision_1e6
    FROM tots
"""


def minhash_signatures_portable(sets: DataFrame) -> DataFrame:
    """Engine-portable twin of :func:`minhash_signatures`: same premix and
    (a·h+b) mod p family, but over the md5-prefix 32-bit shingle hash so a
    DuckDB oracle reproduces every signature bit-for-bit. Production keeps
    the xxhash64 path (2× cheaper); this portable family exists for the
    calibration gauge, where the PREDICTED side itself must cross engines.
    """
    ex = sets.select("doc_id", F.explode("sh").alias("s"))
    hashed = ex.select("doc_id", minhash_premix(stable_hash32(F.col("s"))).alias("h"))
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(_P)).alias(f"m{j}")
        for j, (a, b) in enumerate(zip(_MINHASH_A, _MINHASH_B))
    ]
    return hashed.groupBy("doc_id").agg(*aggs)


def lsh_candidate_pairs_raw(sigs: DataFrame) -> DataFrame:
    """Band the signatures like :func:`lsh_candidate_pairs` but join on the
    RAW band-row values instead of their xxhash64 bucket id — removes even
    the theoretical bucket-collision false-candidate, making the candidate
    set a pure function of the signatures (what the oracle reproduces).
    Same join shape and cost class: per-(band, values) equi-join."""
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.col(f"m{b * _BAND_ROWS}").alias("r0"),
                F.col(f"m{b * _BAND_ROWS + 1}").alias("r1"),
            )
            for b in range(_MH_N_BANDS)
        ]
    )
    banded = sigs.select("doc_id", F.explode(bands).alias("bb")).select(
        "doc_id", "bb.band", "bb.r0", "bb.r1"
    )
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.r0") == F.col("b.r0"))
            & (F.col("a.r1") == F.col("b.r1"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )


@register("dedup_minhash_recall", oracle=_MINHASH_RECALL_ORACLE, tags=("dedup", "eval"))
def dedup_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-layer calibration as a first-class op: of the exact
    3-shingle-Jaccard ≥ 0.8 near-dup pairs, how many does the 16×2
    MinHash banding even NOMINATE as candidates, and at what
    precision? `dedup_simhash_recall` grades a sketch's final verdict;
    this gauge grades the CANDIDATE layer — the number that moves when
    you tune bands × rows, and the one that silently decays when the
    corpus' similarity distribution shifts (the production reason to
    run it on every ingest batch).

    Whole confusion table is oracle-checked: signatures use the
    engine-portable md5-prefix hash + the same premix/linear family as
    production (`minhash_signatures_portable`), and banding joins on
    raw band-row values (`lsh_candidate_pairs_raw`) so the candidate
    set is bit-reproducible in DuckDB. Truth is exact Jaccard via the
    `dedup_ngram_jaccard` SSJoin inverted-index shape (postings ship
    (shingle, id, size) ints; never an all-pairs join), so the gauge's
    own plan is 100 TB-shaped on BOTH sides. One shingle-set relation
    feeds truth and signatures (one boundary — 2 consumers); counts
    collapse to one row via the 1-row-broadcast-cross pattern; ratios
    integer-quantized (§5.4)."""
    d = load_table(spark, sf_dir, "documents")
    sets_df = _shingle_sets(d).transform(one_compute_boundary)
    pred = lsh_candidate_pairs_raw(minhash_signatures_portable(sets_df))
    truth = _jaccard_pairs(sets_df, _JACCARD_THRESHOLD).select("id_a", "id_b")
    # shared 1-row confusion reduce — one implementation for every
    # calibration gauge (was a hand-kept copy of this block)
    return _confusion_row(truth, pred, ["id_a", "id_b"])


def _minhash_incremental_oracle() -> str:
    """DuckDB twin of the incremental screen that reproduces the 16×2
    banding EXACTLY (r08 verdict action 4): portable md5-prefix signatures
    (same CTEs as `_MINHASH_RECALL_ORACLE`), band join restricted to
    batch×history, exact-Jaccard verify on the candidates. The old oracle
    was banding-blind brute force, leaving a p≈(1-j²)^16 flake window on
    borderline pairs; this one is a deterministic function of the corpus at
    every SF."""
    sig_cols = ",\n".join(
        f"             min(({a} * h + {b}) % {_P}) AS m{j}"
        for j, (a, b) in enumerate(zip(_MINHASH_A, _MINHASH_B))
    )
    band_union = " UNION ALL ".join(
        f"      SELECT doc_id, {b} AS band, m{b * _BAND_ROWS} AS r0,"
        f" m{b * _BAND_ROWS + 1} AS r1 FROM sigs"
        for b in range(_MH_N_BANDS)
    )
    jac = (
        "CAST(len(list_intersect(n.sh, h.sh)) AS DOUBLE)"
        " / (len(n.sh) + len(h.sh) - len(list_intersect(n.sh, h.sh)))"
    )
    return f"""
    WITH d AS ({_MH_RECALL_SHINGLES}),
    hashed AS (
      SELECT doc_id,
             {_PREMIX_SQL.format(h="CAST(concat('0x', substr(md5(s), 1, 8)) AS BIGINT)")} AS h
      FROM (SELECT doc_id, unnest(sh) AS s FROM d)
    ),
    sigs AS (
      SELECT doc_id,
{sig_cols}
      FROM hashed GROUP BY doc_id
    ),
    bands AS (
{band_union}
    ),
    cand AS (
      SELECT DISTINCT b.doc_id AS new_id, a.doc_id AS hist_id
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.r0 = b.r0 AND a.r1 = b.r1
      WHERE a.doc_id < 400 AND b.doc_id >= 400
    )
    SELECT c.new_id, c.hist_id, round({jac}, 6) AS jaccard
    FROM cand c
    JOIN d n ON n.doc_id = c.new_id
    JOIN d h ON h.doc_id = c.hist_id
    WHERE {jac} >= {_JACCARD_THRESHOLD}
    """


@register(
    "dedup_minhash_incremental",
    oracle=_minhash_incremental_oracle(),
    tags=("dedup", "lsh", "incremental"),
)
def dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup — the daily-ingest shape `dedup_incremental`
    covers for exact fingerprints, upgraded to Jaccard ≥ 0.8: today's
    batch (doc_id ≥ 400 stands in for the new crawl) is screened
    against the HISTORICAL corpus's LSH band index (doc_id < 400),
    emitting each (new doc, history near-dup, jaccard) hit. This is the
    op that makes near-dedup O(batch) per day instead of re-running the
    O(corpus) self-join: the history side's signatures/bands are a
    standing index a production pipeline materializes once and appends
    to (here derived in-plan from the same table — the dataflow from
    the bands join on is identical), and ONLY matching (band, row
    values) postings meet in the candidate join, so a batch with no
    near-dups touches nothing but its own band keys. Exact
    shingle-Jaccard verify on candidates.

    Deterministic oracle gate (r08 verdict action 4; supersedes the
    r07 accepted-risk posture): signatures use the engine-portable
    md5-prefix family (`minhash_signatures_portable`) and candidates
    join on raw band-row values (`lsh_candidate_pairs_raw`), so the
    DuckDB oracle reproduces the 16×2 banding bit-for-bit — a
    borderline pair the bands miss is now missed by BOTH engines, and
    the hash gate is exact at every SF instead of p≈1-(1-j²)^16
    lossy. Production keeps the xxhash64 signature path for ingest
    (2× cheaper); the screen's dataflow is identical either way."""
    d = load_table(spark, sf_dir, "documents")
    # One shingle materialization serves signatures AND both verify
    # sides. The boundary is lazy, so nothing executes at build time
    # and the bench clocks the real screen per run.
    sets_df = _shingle_sets(d).transform(one_compute_boundary)
    sigs = minhash_signatures_portable(sets_df)
    # batch×history restriction: the helper's id_a < id_b self-join
    # plus one pushable filter per side (hist ids < 400 < batch ids,
    # so id_a is always the history doc).
    cands = (
        lsh_candidate_pairs_raw(sigs)
        .filter((F.col("id_a") < 400) & (F.col("id_b") >= 400))
        .select(
            F.col("id_b").alias("new_id"), F.col("id_a").alias("hist_id")
        )
    )
    n = sets_df.select(F.col("doc_id").alias("new_id"), F.col("sh").alias("sh_n"))
    h = sets_df.select(F.col("doc_id").alias("hist_id"), F.col("sh").alias("sh_h"))
    inter = F.size(F.array_intersect("sh_n", "sh_h")).cast("double")
    union = (
        F.size("sh_n") + F.size("sh_h") - F.size(F.array_intersect("sh_n", "sh_h"))
    )
    jac = inter / union
    return (
        cands.join(n, "new_id")
        .join(h, "hist_id")
        .filter(jac >= _JACCARD_THRESHOLD)
        .select("new_id", "hist_id", F.round(jac, 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# MinHash banding-grid gauge (r08; r07 verdict action 5 — the (bands × rows)
# sweep is the one knob a 100 TB dedup run actually tunes, and until now the
# gauge family covered only the shipped 16×2 point)
# ---------------------------------------------------------------------------

# Every point uses ALL 32 hash rows (b·r = _N_HASHES), so the sweep is a
# pure re-grouping of ONE signature matrix: band boundaries nest for
# powers of two, hence pred(4×8) ⊆ pred(8×4) ⊆ pred(16×2) ⊆ pred(32×1) —
# asserted in tests, and the reason one pass serves the whole grid.
_BAND_SWEEP_GRID = ((32, 1), (16, 2), (8, 4), (4, 8))


def _band_sweep_oracle() -> str:
    """Generate the DuckDB twin: same portable signatures as
    `dedup_minhash_recall`'s oracle, one bands/pred CTE pair per grid
    point, one confusion row each, UNION ALL'd."""
    sig_cols = ",\n".join(
        f"             min(({a} * h + {b}) % {_P}) AS m{j}"
        for j, (a, b) in enumerate(zip(_MINHASH_A, _MINHASH_B))
    )
    parts = [
        f"""
    WITH {_MH_REP_CTES},
    hashed AS (
      SELECT doc_id,
             {_PREMIX_SQL.format(h="CAST(concat('0x', substr(md5(s), 1, 8)) AS BIGINT)")} AS h
      FROM (SELECT doc_id, unnest(sh) AS s FROM d)
    ),
    sigs AS (
      SELECT doc_id,
{sig_cols}
      FROM hashed GROUP BY doc_id
    )"""
    ]
    for nb, r in _BAND_SWEEP_GRID:
        band_sel = " UNION ALL ".join(
            "SELECT doc_id, concat_ws(',', '{bi}', {cols}) AS bk FROM sigs".format(
                bi=bi, cols=", ".join(f"m{bi * r + j}" for j in range(r))
            )
            for bi in range(nb)
        )
        # rep-level pred per grid point, expanded through group sizes like
        # the recall oracle (see _MH_REP_CTES): within-group clone pairs
        # are candidates at EVERY banding (identical signatures), so the
        # same w term joins every confusion row.
        parts.append(
            f""",
    bands_{nb}_{r} AS ({band_sel}),
    pred_{nb}_{r} AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands_{nb}_{r} a JOIN bands_{nb}_{r} b
        ON a.bk = b.bk AND a.doc_id < b.doc_id
    ),
    conf_{nb}_{r} AS (
      SELECT CAST({nb} AS INTEGER) AS n_bands,
             CAST({r} AS INTEGER) AS rows_per_band,
             (SELECT COALESCE(SUM(ga.gsz * gb.gsz), 0) FROM truth t
                JOIN gs ga ON ga.rep = t.id_a
                JOIN gs gb ON gb.rep = t.id_b) AS ct,
             (SELECT COALESCE(SUM(ga.gsz * gb.gsz), 0) FROM pred_{nb}_{r} p
                JOIN gs ga ON ga.rep = p.id_a
                JOIN gs gb ON gb.rep = p.id_b) AS cp,
             (SELECT COALESCE(SUM(ga.gsz * gb.gsz), 0) FROM truth t
                JOIN pred_{nb}_{r} p
                  ON p.id_a = t.id_a AND p.id_b = t.id_b
                JOIN gs ga ON ga.rep = t.id_a
                JOIN gs gb ON gb.rep = t.id_b) AS ch,
             (SELECT w FROM wv) AS w
    )"""
        )
    union = "\n    UNION ALL\n    ".join(
        f"SELECT * FROM conf_{nb}_{r}" for nb, r in _BAND_SWEEP_GRID
    )
    parts.append(
        f"""
    SELECT n_bands, rows_per_band,
           CAST(ct + w AS BIGINT) AS n_truth,
           CAST(cp + w AS BIGINT) AS n_pred,
           CAST(ch + w AS BIGINT) AS n_hit,
           CAST((ch + w) * 1000000 // NULLIF(ct + w, 0) AS BIGINT) AS recall_1e6,
           CAST((ch + w) * 1000000 // NULLIF(cp + w, 0) AS BIGINT) AS precision_1e6
    FROM ({union})"""
    )
    return "".join(parts)


@register(
    "dedup_minhash_band_sweep",
    oracle=_band_sweep_oracle(),
    tags=("dedup", "eval", "calibration"),
)
def dedup_minhash_band_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash banding-grid calibration: recall/precision of the LSH
    CANDIDATE layer against exact 3-shingle-Jaccard ≥ 0.8 truth, at
    every (bands × rows) configuration of the same 32-hash signature
    budget — (32×1, 16×2, 8×4, 4×8). `dedup_minhash_recall` grades
    the single shipped 16×2 point; this sweep is the query a tuner
    actually runs, because bands × rows IS the knob that moves the
    S-curve (P(candidate | j) = 1-(1-j^r)^b) and the right setting
    is corpus-dependent. One scored pass serves the grid (the
    `sim_semdedup_eps_sweep` pattern): signatures are computed ONCE
    from one materialized shingle relation, and each grid point is a
    re-grouping of the signature columns — band boundaries nest for
    powers of two, so pred sets are provably monotone across the
    grid (asserted in tests; the 16×2 row equals
    `dedup_minhash_recall`'s confusion row by construction).

    Scale: signatures are the portable md5-prefix family
    (`minhash_signatures_portable`) so the WHOLE grid is
    oracle-checked; banding joins meet on composite band-key strings
    (injective ','-concat of the band's row values) — per-(band,key)
    equi-joins, Σ per-bucket |b|² cost like every LSH tier, never
    all-pairs. Truth is the `dedup_ngram_jaccard` SSJoin inverted
    index with the size-ratio prune, computed once behind a boundary
    (reused by all four confusion reduces). Counts collapse via the
    1-row-broadcast-cross pattern; ratios integer-quantized (§5.4)."""
    d = load_table(spark, sf_dir, "documents")
    sets_df = _shingle_sets(d).transform(one_compute_boundary)
    sigs = minhash_signatures_portable(sets_df).transform(one_compute_boundary)
    truth = one_compute_boundary(
        _jaccard_pairs(sets_df, _JACCARD_THRESHOLD).select("id_a", "id_b")
    )

    out = None
    for nb, r in _BAND_SWEEP_GRID:
        keys = F.array(
            *[
                F.concat_ws(
                    ",",
                    F.lit(str(bi)),
                    *[F.col(f"m{bi * r + j}").cast("string") for j in range(r)],
                )
                for bi in range(nb)
            ]
        )
        banded = sigs.select("doc_id", F.explode(keys).alias("bk"))
        pa = banded.select(F.col("doc_id").alias("id_a"), "bk")
        pb = banded.select(F.col("doc_id").alias("id_b"), "bk")
        pred = (
            pa.join(pb, "bk")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
        row = _confusion_row(truth, pred, ["id_a", "id_b"]).select(
            F.lit(nb).cast("int").alias("n_bands"),
            F.lit(r).cast("int").alias("rows_per_band"),
            "n_truth",
            "n_pred",
            "n_hit",
            "recall_1e6",
            "precision_1e6",
        )
        out = row if out is None else out.unionByName(row)
    return out
