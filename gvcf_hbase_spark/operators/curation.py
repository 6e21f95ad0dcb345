"""Training-data curation operators (beyond-reference mandate, SURVEY §2B.9
family): the operations a large-scale LLM data pipeline runs after dedup —
deterministic train/val splitting, per-source caps, scrubbing, token-budget
batch packing, mixture weighting, and near-dup *clustering* (connected
components over the verified pair graph).

Scale notes (100 TB):
- Every op here is a pure DataFrame composition — hash splits and scrubbing
  are embarrassingly parallel map work; caps are a bounded per-key window;
  packing uses the two-phase distributed prefix-sum (below) instead of a
  single-partition global window; components use large-star/small-star
  (O(log n) rounds, where min-label propagation needs O(diameter)).
- Determinism: splits and packs key on md5/doc_id, never on RNG or
  partition ids (SURVEY §5.4 rule 6).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from gvcf_hbase_spark.functions.textfns import normalize_text, shingles, tokens
from gvcf_hbase_spark.operators.dedup import dedup_ngram_jaccard
from gvcf_hbase_spark.registry import register
from gvcf_hbase_spark.session import one_compute_boundary
from gvcf_hbase_spark.sources.tables import load_table, spread, spread_heavy

# 12 of 16 first-hex-char buckets => deterministic ~75/25 split.
_TRAIN_BUCKETS = list("0123456789ab")

_PACK_BUDGET = 4096  # tokens per training batch
_PACK_BUCKET_WIDTH = 100  # docs per prefix-sum bucket (tune to ~1 task each)

_DOMAIN_CAP = 5


@register(
    "curate_hash_split",
    oracle=f"""
    SELECT doc_id,
           substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS bucket,
           CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                     IN ({",".join(f"'{b}'" for b in _TRAIN_BUCKETS)})
                THEN 'train' ELSE 'val' END AS split
    FROM documents
    """,
    tags=("curation",),
)
def curate_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val split by hashing the stable document key:
    first hex char of md5(doc_id) -> 16 buckets, 12 train / 4 val (~75/25).
    Hash-based splits survive re-runs, repartitions, and incremental
    appends (a new doc always lands in the same split) — unlike
    ``df.randomSplit``, which is seed- and partitioning-dependent.
    Embarrassingly parallel: no shuffle, pure map stage."""
    d = load_table(spark, sf_dir, "documents")
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    return d.select(
        "doc_id",
        bucket.alias("bucket"),
        F.when(bucket.isin(_TRAIN_BUCKETS), "train").otherwise("val").alias("split"),
    )


@register(
    "curate_domain_cap",
    oracle=f"""
    SELECT doc_id, source, n_chars, rn
    FROM (
      SELECT doc_id, source, n_chars,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id) AS rn
      FROM documents
    )
    WHERE rn <= {_DOMAIN_CAP}
    """,
    tags=("curation", "window"),
)
def curate_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap (web-data curation: no domain may dominate
    the corpus): keep the top-N docs per source by length, deterministic
    tiebreak on doc_id. One shuffle on ``source``; rank state per key is
    O(1). Skewed domains (one source = half the corpus) are exactly the
    rows this op deletes, so the skew reduces itself as it runs; for the
    scan-side skew use AQE skew-join handling or pre-aggregate counts."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.col("n_chars").desc(), "doc_id")
    return (
        d.select("doc_id", "source", "n_chars", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= _DOMAIN_CAP)
    )


@register(
    "curate_pii_scrub",
    oracle="""
    SELECT event_id,
           regexp_replace(props, '[0-9]+', '<NUM>', 'g') AS scrubbed,
           CAST(len(regexp_extract_all(props, '[0-9]+')) AS BIGINT) AS n_hits
    FROM events
    """,
    tags=("curation", "text"),
)
def curate_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pattern scrubbing (the PII-redaction shape: emails/phones/ids ->
    placeholder tokens), demonstrated on the digit runs in ``events.props``
    since the synthetic corpus carries no PII. JVM-side regex, no UDF; at
    100 TB this is the map stage fused into whatever scan precedes it.
    Keep patterns POSIX-simple — both engines must agree (SURVEY §2B.8)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.regexp_replace("props", "[0-9]+", "<NUM>").alias("scrubbed"),
        F.regexp_count("props", F.lit("[0-9]+")).cast("long").alias("n_hits"),
    )


@register(
    "curate_pack_batches",
    oracle=f"""
    SELECT doc_id, n_tokens,
           CAST(floor(CAST(cum - n_tokens AS DOUBLE) / {_PACK_BUDGET}) AS BIGINT)
             AS batch_id
    FROM (
      SELECT doc_id, n_tokens,
             sum(n_tokens) OVER (ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM (
        SELECT doc_id,
               CAST(len(string_split(lower(trim(regexp_replace(text, ' +', ' ', 'g'))), ' '))
                    AS BIGINT) AS n_tokens
        FROM documents
      )
    )
    """,
    tags=("curation", "window"),
)
def curate_pack_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget batch packing: lay documents out in doc_id order and
    assign each to the training batch in which its token span *begins*
    (budget is a soft cap — a straddling doc stays with the batch it
    started in).

    The naive formulation is ``sum() OVER (ORDER BY doc_id)`` — a single-
    partition window, dead at scale. This is the distributed two-phase
    prefix sum instead: bucket docs by ``doc_id div W``, cumsum within
    each bucket (parallel, one window partition per bucket), then add the
    bucket-prefix offsets (a window over ONE ROW PER BUCKET — thousands of
    rows at 100 TB, trivially cheap). Result is bit-identical to the
    global window; the oracle uses the naive form to prove it."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.size(F.split(normalize_text(F.col("text")), " ")).cast("long").alias("n_tokens"),
        (F.col("doc_id") / _PACK_BUCKET_WIDTH).cast("long").alias("bkt"),
    )
    in_bkt = Window.partitionBy("bkt").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    local = toks.withColumn("local_cum", F.sum("n_tokens").over(in_bkt))
    # one row per bucket -> exclusive running offset of everything before it
    bkt_tot = toks.groupBy("bkt").agg(F.sum("n_tokens").alias("bkt_sum"))
    off_w = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    offsets = bkt_tot.select(
        "bkt", F.coalesce(F.sum("bkt_sum").over(off_w), F.lit(0)).alias("bkt_off")
    )
    return (
        local.join(F.broadcast(offsets), "bkt")
        .select(
            "doc_id",
            "n_tokens",
            F.floor(
                (F.col("bkt_off") + F.col("local_cum") - F.col("n_tokens"))
                .cast("double") / _PACK_BUDGET
            ).cast("long").alias("batch_id"),
        )
    )


@register(
    "curate_mix_weights",
    oracle="""
    SELECT lang, count(*) AS n_docs,
           round((CAST(t.total AS DOUBLE) / t.n_langs) / count(*), 6) AS weight
    FROM documents
    CROSS JOIN (SELECT count(*) AS total, count(DISTINCT lang) AS n_langs
                FROM documents) t
    GROUP BY lang, t.total, t.n_langs
    """,
    tags=("curation", "agg"),
)
def curate_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture re-weighting: per-language sampling weight that would flatten
    the corpus to a uniform language mix (weight = target share / actual
    share). Two tiny aggregates + a broadcast cross join — the per-group
    counts are the only shuffle, and the totals row is one row."""
    d = load_table(spark, sf_dir, "documents")
    totals = d.agg(
        F.count("*").alias("total"), F.countDistinct("lang").alias("n_langs")
    )
    return (
        d.groupBy("lang")
        .agg(F.count("*").alias("n_docs"))
        .crossJoin(F.broadcast(totals))
        .select(
            "lang",
            "n_docs",
            F.round(
                (F.col("total").cast("double") / F.col("n_langs")) / F.col("n_docs"), 6
            ).alias("weight"),
        )
    )


# Shared doc-level near-dup labeling CTEs for the three CC-family oracles
# (r08 verdict action 3). The brute-force form paired ALL docs —
# O(docs²) list_intersect, unrunnable over the 10×-clone-replicated sf1
# corpus. This form collapses exact-normalized-text clone groups to their
# min-doc_id representative FIRST, pairs only representatives
# (O(distinct²)), then expands labels back through the groups. It is
# exactly equivalent on ANY corpus, not just replicated fixtures: docs in
# one group have identical gram sets, so (a) within a non-empty-gram group
# j = 1 ≥ 0.6 — a clique — and (b) j(u, w) = j(rep(u), rep(w)) for every
# cross pair, so the pair graph factors through representatives and the
# component minimum equals the minimum representative (each rep IS its
# group's min doc_id). One-word docs have EMPTY gram sets — j is NULL even
# against an identical clone, never an edge — so they keep a per-doc group
# key and stay singletons, exactly as the brute-force form treated them.
_CC_LABELS_CTES = """
    WITH RECURSIVE norm AS (
      SELECT doc_id, lower(trim(regexp_replace(text, ' +', ' ', 'g'))) AS nt
      FROM documents
    ),
    grp AS (
      SELECT doc_id, nt,
             min(doc_id) OVER (PARTITION BY gk) AS rep,
             count(*) OVER (PARTITION BY gk) AS gsz
      FROM (SELECT doc_id, nt,
                   CASE WHEN len(string_split(nt, ' ')) < 2
                        THEN 'E' || CAST(doc_id AS VARCHAR)
                        ELSE nt END AS gk
            FROM norm)
    ),
    d AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(l) - 1, 0) + 1),
               i -> l[i] || ' ' || l[i+1])) AS grams
      FROM (SELECT doc_id, string_split(nt, ' ') AS l FROM grp
            WHERE doc_id = rep)
    ),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM d a JOIN d b ON a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
            / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) >= 0.6
    ),
    edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION
      SELECT id_b AS u, id_a AS v FROM pairs
    ),
    reach(u, v) AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    rlabels AS (
      SELECT u AS rep, least(u, min(v)) AS cluster_id FROM reach GROUP BY u
    ),
    labels AS (
      SELECT g.doc_id, coalesce(rl.cluster_id, g.rep) AS cluster_id
      FROM grp g LEFT JOIN rlabels rl ON rl.rep = g.rep
      WHERE g.gsz > 1 OR rl.rep IS NOT NULL
    )
"""

_CC_ORACLE = _CC_LABELS_CTES + "\n    SELECT doc_id, cluster_id FROM labels\n"


@register(
    "dedup_cluster_cc",
    oracle=_CC_ORACLE,
    tags=("curation", "dedup", "iterative"),
)
def dedup_cluster_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate *clustering*: connected components over the verified
    ngram-Jaccard pair graph (dedup gives pairs; curation needs whole
    groups so exactly one representative per group survives). cluster_id
    = min doc_id in the component, computed by
    :func:`connected_components_lss` (O(log n) rounds; it raises rather
    than return a partial clustering). The DuckDB oracle is the
    recursive-CTE transitive closure — brute force, viable only at test
    SF, but an exact independent check."""
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("id_a", "id_b")
    return connected_components_lss(pairs)


def connected_components_lss(pairs: DataFrame, max_rounds: int = 30) -> DataFrame:
    """Connected components by alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    the O(log n)-round algorithm, where min-label propagation needs
    O(diameter) rounds (chains, 10⁹+-edge near-dup graphs).

    Each round:
    - large-star: per node u with m = min(Γ(u) ∪ {u}), re-point every
      LARGER neighbor at m — long chains collapse geometrically;
    - small-star: per node u, re-point every smaller-or-equal neighbor
      (and u) at m — flattens the remaining two-level trees into stars.

    Both steps are one groupBy + one join over the edge list; the edge
    set shrinks toward (node → component-min) star edges, detected via a
    commutative xxhash fingerprint (one scalar per round crosses the
    driver). Returns (node, cluster_id = component min) for every node
    incident to an edge.
    """
    e = (
        pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .distinct()
        .transform(one_compute_boundary)
    )  # stored as (bigger u, smaller v) — already the star orientation

    def _sym(edges: DataFrame) -> DataFrame:
        # unionByName: plain union is POSITIONAL and would silently no-op
        # the column swap
        return edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )

    prev_fp, prev_e = None, None
    for _ in range(max_rounds):
        both = _sym(e)
        nb = both.groupBy("u").agg(F.min("v").alias("nmin"))
        m = F.least(F.col("u"), F.col("nmin"))
        ls = (
            both.join(nb, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("nu"), m.alias("nv"))
            .filter(F.col("nu") != F.col("nv"))
            .select(F.col("nu").alias("u"), F.col("nv").alias("v"))
            .distinct()
        )
        nb2 = ls.groupBy("u").agg(F.min("v").alias("nmin"))
        m2 = F.least(F.col("u"), F.col("nmin"))
        part1 = (
            ls.join(nb2, "u")
            .filter((F.col("v") <= F.col("u")) & (F.col("v") != m2))
            .select(F.col("v").alias("nu"), m2.alias("nv"))
            .filter(F.col("nu") != F.col("nv"))
            .select(F.col("nu").alias("u"), F.col("nv").alias("v"))
        )
        part2 = nb2.select("u", F.least(F.col("u"), F.col("nmin")).alias("v")).filter(
            F.col("u") != F.col("v")
        )
        e = one_compute_boundary(part1.union(part2).distinct())
        # commutative fingerprint; per-row hash bounded to 2^30 so the sum
        # stays in BIGINT for up to ~2^33 edges (ANSI overflow otherwise)
        fp_row = e.agg(
            F.sum(F.pmod(F.xxhash64("u", "v"), F.lit(1 << 30))).alias("fp"),
            F.count("*").alias("n"),
        ).collect()[0]
        fp = (fp_row.fp, fp_row.n)
        # fingerprint match is the fast path; an exceptAll confirm (one
        # extra job, only on the would-break round) rules out a hash
        # collision declaring a moving edge set converged
        if (
            fp == prev_fp
            and prev_e is not None
            and e.exceptAll(prev_e).limit(1).count() == 0
        ):
            break
        prev_fp, prev_e = fp, e
    else:
        # Exhausting max_rounds without a fingerprint fixpoint means the
        # labeling below may be a PARTIAL (wrong) clustering — 30 rounds
        # covers any graph the O(log n) bound admits (2^30 nodes), so
        # reaching here signals a pathological input or a fingerprint
        # anomaly. Surfacing it beats silently returning wrong clusters.
        raise RuntimeError(
            f"connected_components_lss did not converge in {max_rounds} rounds"
        )
    both = _sym(e)
    return both.groupBy("u").agg(F.min("v").alias("mn")).select(
        F.col("u").alias("doc_id"), F.least("u", "mn").alias("cluster_id")
    )


# lang -> how many of the 16 md5 first-hex-char buckets to keep.
# Downsamples the dominant language toward a more uniform mixture while
# keeping every decision a pure function of (lang, doc_id).
_STRATA_BUCKETS = {"en": 4, "zh": 8}
_STRATA_DEFAULT = 16
_HEX = "0123456789abcdef"


def _keep_chars(n: int) -> list[str]:
    return list(_HEX[:n])


@register(
    "curate_stratified_sample",
    oracle=f"""
    SELECT doc_id, lang,
           substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS bucket
    FROM documents
    WHERE CASE
            WHEN lang = 'en' THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                 IN ({",".join(f"'{b}'" for b in _keep_chars(_STRATA_BUCKETS["en"]))})
            WHEN lang = 'zh' THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                 IN ({",".join(f"'{b}'" for b in _keep_chars(_STRATA_BUCKETS["zh"]))})
            ELSE TRUE
          END
    """,
    tags=("curation",),
)
def curate_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling by language: keep the first
    ``rate``/16 md5 buckets per stratum (en -> 4/16, zh -> 8/16, rest
    kept whole). The sampling decision is a pure function of the stable
    doc key, so re-runs and incremental appends sample consistently —
    the property ``df.sampleBy`` (seeded RNG over partition order) does
    not give you. Pure map stage, no shuffle; at 100 TB this fuses into
    the scan."""
    d = load_table(spark, sf_dir, "documents")
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    keep = F.when(
        F.col("lang") == "en", bucket.isin(_keep_chars(_STRATA_BUCKETS["en"]))
    ).when(
        F.col("lang") == "zh", bucket.isin(_keep_chars(_STRATA_BUCKETS["zh"]))
    ).otherwise(F.lit(True))
    return d.select("doc_id", "lang", bucket.alias("bucket")).filter(keep)


@register(
    "agg_skew_salted",
    oracle="""
    SELECT event_type,
           count(*) AS cnt,
           round(sum(value), 1) AS total_value
    FROM events GROUP BY event_type
    """,
    tags=("curation", "agg", "skew"),
)
def agg_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation for skewed group keys (the groupBy
    face of joins.salted_join): phase 1 aggregates by (key, salt-of-16)
    so one hot key's rows spread over 16 reducers, phase 2 merges the 16
    partials per key. The oracle is the PLAIN single-phase aggregate —
    salting must be algebraically invisible, which the hash-match proves.
    Only needed when a single group key dominates (power-law event types);
    sums/counts re-aggregate losslessly, and mergeable sketches
    (agg_hll_sketch_merge) extend the same trick to distinct-counts."""
    ev = load_table(spark, sf_dir, "events")
    salted = ev.withColumn("__salt", F.pmod(F.xxhash64("event_id"), F.lit(16)))
    partial = salted.groupBy("event_type", "__salt").agg(
        F.count("*").alias("c"), F.sum("value").alias("v")
    )
    return partial.groupBy("event_type").agg(
        F.sum("c").alias("cnt"),
        F.round(F.sum("v"), 1).alias("total_value"),
    )


@register(
    "curate_pipeline_e2e",
    oracle=f"""
    WITH surv AS (
      SELECT doc_id, lang, source, n_chars
      FROM (
        SELECT doc_id, lang, source, n_chars,
               min(doc_id) OVER (
                 PARTITION BY md5(lower(trim(regexp_replace(text, ' +', ' ', 'g'))))
               ) AS keep_id
        FROM documents
      ) WHERE doc_id = keep_id
    ),
    capped AS (
      SELECT doc_id, lang, source
      FROM (
        SELECT doc_id, lang, source,
               row_number() OVER (PARTITION BY source
                                  ORDER BY n_chars DESC, doc_id) AS rn
        FROM surv
      ) WHERE rn <= {_DOMAIN_CAP}
    ),
    sampled AS (
      SELECT doc_id, lang, source
      FROM capped
      WHERE CASE
              WHEN lang = 'en' THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                   IN ('0','1','2','3')
              WHEN lang = 'zh' THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                   IN ('0','1','2','3','4','5','6','7')
              ELSE TRUE
            END
    )
    SELECT doc_id, lang, source,
           CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                     IN ('0','1','2','3','4','5','6','7','8','9','a','b')
                THEN 'train' ELSE 'val' END AS split
    FROM sampled
    """,
    tags=("curation", "composite"),
)
def curate_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole curation pipeline as ONE declarative plan: exact-dedup
    survivors → per-source cap → stratified language sample → hash split.
    Catalyst fuses the four stages into two window shuffles (fingerprint,
    source) plus map-side filters — no intermediate materialization, no
    driver round-trips; the oracle replays all four stages in one SQL
    statement. This is the shape a 100 TB curation run actually executes:
    each stage is a pure function of the row and its window, so the plan
    streams."""
    d = load_table(spark, sf_dir, "documents")
    w_fp = Window.partitionBy(F.md5(normalize_text(F.col("text"))))
    surv = (
        d.withColumn("keep_id", F.min("doc_id").over(w_fp))
        .filter(F.col("doc_id") == F.col("keep_id"))
        .select("doc_id", "lang", "source", "n_chars")
    )
    w_cap = Window.partitionBy("source").orderBy(F.col("n_chars").desc(), "doc_id")
    capped = (
        surv.withColumn("rn", F.row_number().over(w_cap))
        .filter(F.col("rn") <= _DOMAIN_CAP)
        .select("doc_id", "lang", "source")
    )
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    keep = F.when(
        F.col("lang") == "en", bucket.isin(_keep_chars(_STRATA_BUCKETS["en"]))
    ).when(
        F.col("lang") == "zh", bucket.isin(_keep_chars(_STRATA_BUCKETS["zh"]))
    ).otherwise(F.lit(True))
    sampled = capped.filter(keep)
    return sampled.select(
        "doc_id",
        "lang",
        "source",
        F.when(bucket.isin(_TRAIN_BUCKETS), "train").otherwise("val").alias("split"),
    )


_DECON_N = 13  # industry-standard n-gram length for benchmark decontamination


@register(
    "curate_decontaminate",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             string_split(lower(trim(regexp_replace(text, ' +', ' ', 'g'))), ' ') AS t
      FROM documents
    ),
    grams AS (
      SELECT doc_id, list_aggregate(t[i:i+{_DECON_N - 1}], 'string_agg', ' ') AS g
      FROM toks, unnest(range(1, len(t) - {_DECON_N - 1} + 1)) AS u(i)
    ),
    eval_grams AS (SELECT DISTINCT g FROM grams WHERE doc_id % 19 = 0),
    train_grams AS (SELECT DISTINCT doc_id, g FROM grams WHERE doc_id % 19 <> 0)
    SELECT doc_id, count(*) AS n_hits
    FROM train_grams JOIN eval_grams USING (g)
    GROUP BY doc_id
    """,
    tags=("curation",),
)
def curate_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    13-gram with the held-out eval set (the GPT-3/PaLM-style overlap rule;
    doc_id % 19 == 0 stands in for the eval corpus). Unlike dedup this is
    ASYMMETRIC — eval n-grams are a lookup set, not a join of the corpus
    against itself. Plan: eval grams deduplicate into a small build side
    that BROADCASTS onto the train-gram stream, so the 100 TB train corpus
    is never shuffled — the only aggregation shuffle carries surviving
    (doc, gram) hits, which contamination makes rare by construction.
    (Eval suites are ~1e5 docs; their distinct-gram set stays easily
    broadcastable. Were it not, the same plan degrades gracefully to a
    shuffle hash join on the gram.)"""
    from pyspark.sql.functions import broadcast

    d = spread(load_table(spark, sf_dir, "documents"))
    grams = (
        d.select("doc_id", tokens(normalize_text(F.col("text"))).alias("t"))
        .select("doc_id", F.explode(shingles(F.col("t"), k=_DECON_N)).alias("g"))
    )
    eval_grams = grams.filter(F.col("doc_id") % 19 == 0).select("g").distinct()
    train_grams = grams.filter(F.col("doc_id") % 19 != 0).dropDuplicates(["doc_id", "g"])
    return (
        train_grams.join(broadcast(eval_grams), "g")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
    )


@register(
    "curate_oversample",
    oracle="""
    WITH weighted AS (
      SELECT doc_id, lang,
             CASE lang WHEN 'fr' THEN 3 WHEN 'es' THEN 2 ELSE 1 END AS k
      FROM documents
    )
    SELECT doc_id, lang, CAST(copy AS INT) AS copy
    FROM weighted, unnest(range(0, k)) AS t(copy)
    """,
    tags=("curation",),
)
def curate_oversample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic integer oversampling for mixture re-balancing:
    replicate each under-represented language's documents k times
    (explode(sequence(0, k-1)) — generated lazily inside codegen, never
    a driver-side multiply), each copy numbered so downstream shuffles/
    splits treat copies as distinct rows. This is the epochs-per-source
    knob of a training mix made physical; fractional weights compose as
    floor(k) copies + a `curate_stratified_sample` of the remainder
    (both deterministic, documented here rather than built into one
    opaque op)."""
    d = load_table(spark, sf_dir, "documents")
    k = (
        F.when(F.col("lang") == "fr", 3)
        .when(F.col("lang") == "es", 2)
        .otherwise(1)
    )
    return d.select(
        "doc_id",
        "lang",
        F.explode(F.sequence(F.lit(0), k - 1)).alias("copy"),
    )


_N_SHARDS = 8


@register(
    "curate_shard_balance",
    oracle=f"""
    SELECT doc_id, n_tokens,
           CAST((row_number() OVER (ORDER BY n_tokens DESC, doc_id) - 1)
                % {_N_SHARDS} AS INT) AS shard
    FROM (
      SELECT doc_id,
             CAST(len(string_split(lower(trim(regexp_replace(text, ' +', ' ', 'g'))), ' '))
                  AS BIGINT) AS n_tokens
      FROM documents
    )
    """,
    tags=("curation", "window"),
)
def curate_shard_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced output sharding for training dataloaders: rank documents
    by token count (desc, doc_id tiebreak) and deal them round-robin
    into shards — the LPT greedy that bounds shard-size skew to one
    document regardless of the length distribution (a naive hash shard
    can be tokens-skewed by whole documents' variance). Deterministic:
    re-runs produce identical shards.

    Scale shape: the global rank is the TWO-PHASE distributed rank
    (same machinery as `feat_rank_bucketize` / `curate_pack_batches`'s
    prefix sum), never a single-partition window over the corpus: rows
    bucket by ``-(n_tokens div 64)`` — monotone in the (n_tokens DESC)
    sort order and constant across n_tokens ties, so value buckets are
    rank-contiguous — rank locally inside each bucket, then add the
    exclusive running count of earlier buckets (a window over ONE ROW
    PER BUCKET, broadcast back). Every sort is bounded by a bucket; the
    dealing arithmetic is unchanged."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.size(F.split(normalize_text(F.col("text")), " ")).cast("long").alias("n_tokens"),
    ).withColumn("vbkt", -F.floor(F.col("n_tokens") / F.lit(64)).cast("long"))
    in_bkt = Window.partitionBy("vbkt").orderBy(F.col("n_tokens").desc(), "doc_id")
    local = toks.withColumn("lr", F.row_number().over(in_bkt))
    counts = toks.groupBy("vbkt").agg(F.count("*").alias("c"))
    off_w = Window.orderBy("vbkt").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "vbkt", F.coalesce(F.sum("c").over(off_w), F.lit(0)).alias("off")
    )
    return (
        local.join(F.broadcast(offsets), "vbkt")
        .select(
            "doc_id",
            "n_tokens",
            ((F.col("off") + F.col("lr") - 1) % _N_SHARDS).cast("int").alias("shard"),
        )
    )


_BOILERPLATE_ORACLE = """
    WITH tok AS (
      SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents
    ),
    grams AS (
      SELECT doc_id, source,
             array_to_string(toks[i.i:i.i+4], ' ') AS gram
      FROM tok, LATERAL (
        SELECT unnest(generate_series(1, greatest(len(toks) - 4, 0))) AS i
      ) i
    ),
    df AS (
      SELECT source, gram, count(DISTINCT doc_id) AS docs_with
      FROM grams GROUP BY 1, 2
    ),
    nsrc AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
    bp AS (
      SELECT df.source, df.gram
      FROM df JOIN nsrc USING (source)
      WHERE docs_with * 10 >= n_docs * 3
    )
    SELECT g.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(count(bp.gram) AS BIGINT) AS n_boilerplate,
           CAST(floor(CAST(count(bp.gram) AS DOUBLE) / count(*) * 1e6 + 0.5) AS BIGINT)
             AS boilerplate_1e6
    FROM grams g
    LEFT JOIN bp ON g.source = bp.source AND g.gram = bp.gram
    GROUP BY g.doc_id
"""


@register("curate_boilerplate_ngrams", oracle=_BOILERPLATE_ORACLE, tags=("curation", "text"))
def curate_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate detection per source domain — the C4/RefinedWeb
    boilerplate-removal rule re-expressed at 5-gram granularity (this
    corpus has no line structure): a 5-gram occurring in ≥ 30% of a
    source's documents is template text (headers, footers, nav chrome),
    and each document reports how much of it is boilerplate — the
    upstream signal for the strip-or-drop curation decision.

    Two shuffles over gram rows, never the corpus twice: (1) the
    per-(source, gram) distinct-doc count — map-side combine collapses a
    doc's repeated grams before the exchange; (2) the gram-level join
    of each doc's grams against its source's boilerplate set, equi on
    (source, gram) so the hot template grams co-locate with the docs
    they came from (a skewed template gram is ONE key in ONE task, and
    its per-doc count collapses map-side too). The per-source doc count
    is a dimension row; the ≥30% threshold uses integer cross-multiply
    (docs_with·10 ≥ n_docs·3) — no float in the filter. Gram explosion
    is the same slice+explode machinery as `text_chunk_sliding`; output
    cardinality is one row per doc.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", "source", F.split("text", " ").alias("toks"))
    grams = toks.select(
        "doc_id",
        "source",
        # Docs with <5 tokens yield NO grams: sequence(1, size-4) would
        # count DOWN to 0 when size<=4 (Spark's sequence is bidirectional)
        # and slice(toks, 0, 5) then throws under ANSI — so short docs get
        # an explicit empty array, which explode drops, matching the
        # oracle's empty generate_series(1, 0).
        F.explode(
            F.when(
                F.size("toks") >= 5,
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - 4),
                    lambda i: F.concat_ws(" ", F.slice("toks", i, 5)),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("gram"),
    )
    # Both the frequency pass and the tagging join consume `grams`; one
    # lazy boundary materializes the explode once instead of twice.
    grams = grams.transform(one_compute_boundary)
    dfreq = grams.groupBy("source", "gram").agg(
        F.count_distinct("doc_id").alias("docs_with")
    )
    nsrc = d.groupBy("source").agg(F.count("*").alias("n_docs"))
    bp = (
        dfreq.join(nsrc, "source")
        .filter(F.col("docs_with") * 10 >= F.col("n_docs") * 3)
        .select("source", "gram", F.lit(True).alias("is_bp"))
    )
    tagged = grams.join(bp, ["source", "gram"], "left")
    return tagged.groupBy("doc_id").agg(
        F.count("*").alias("n_grams"),
        F.count("is_bp").alias("n_boilerplate"),
        F.floor(
            F.count("is_bp").cast("double") / F.count("*") * 1e6 + F.lit(0.5)
        )
        .cast("bigint")
        .alias("boilerplate_1e6"),
    )


_WINSORIZE_ORACLE = """
    WITH c AS (
      SELECT event_id, event_type,
             CAST(round(value * 100, 0) AS BIGINT) AS x
      FROM events
    ),
    q AS (
      SELECT event_type,
             percentile_cont(0.05) WITHIN GROUP (ORDER BY x) AS lo,
             percentile_cont(0.95) WITHIN GROUP (ORDER BY x) AS hi
      FROM c GROUP BY 1
    )
    SELECT c.event_id, c.event_type,
           CAST(floor(least(greatest(CAST(c.x AS DOUBLE), lo), hi) * 100 + 0.5)
                AS BIGINT) AS clipped_1e4,
           (c.x < lo OR c.x > hi) AS was_clipped
    FROM c JOIN q USING (event_type)
"""


@register("curate_winsorize", oracle=_WINSORIZE_ORACLE, tags=("curation", "agg"))
def curate_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization: clip each event's value to its type's exact
    [p05, p95] band — the outlier-capping transform feature pipelines
    apply before normalization so one fat-finger row can't set the
    scale. Flags which rows were clipped (the audit column a data-QC
    report wants).

    Two-pass shape, raw log touched twice but shuffled never: pass one
    is the per-type exact percentile aggregate (5 rows); pass two is a
    map-only broadcast join applying the clip — no exchange carries
    event rows at any point. Exact (interpolated) percentiles on
    integer-cent operands: both engines interpolate on identical
    integers, yielding identical doubles, and the ×100-scaled floor
    quantization turns the possibly-fractional interpolated bound into
    an integer output column (the §5.4 convention). At 100 TB swap
    percentile for percentile_approx and the plan is unchanged — the
    documented exact/sketch trade.
    """
    ev = load_table(spark, sf_dir, "events")
    c = ev.select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("x"),
    )
    q = c.groupBy("event_type").agg(
        F.percentile("x", F.lit(0.05)).alias("lo"),
        F.percentile("x", F.lit(0.95)).alias("hi"),
    )
    j = c.join(F.broadcast(q), "event_type")
    clipped = F.least(F.greatest(F.col("x").cast("double"), F.col("lo")), F.col("hi"))
    return j.select(
        "event_id",
        "event_type",
        F.floor(clipped * 100 + F.lit(0.5)).cast("bigint").alias("clipped_1e4"),
        ((F.col("x") < F.col("lo")) | (F.col("x") > F.col("hi"))).alias("was_clipped"),
    )


# Rides the shared clone-representative labeling CTEs (see
# _CC_LABELS_CTES above for the equivalence argument).
_CANONICAL_ORACLE = _CC_LABELS_CTES + """,
    all_docs AS (
      SELECT doc.doc_id, coalesce(l.cluster_id, doc.doc_id) AS cluster_id,
             doc.n_chars
      FROM documents doc LEFT JOIN labels l USING (doc_id)
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id
      ) AS rn FROM all_docs
    )
    SELECT doc_id, cluster_id, rn = 1 AS keep FROM ranked
"""


@register(
    "dedup_canonical_select",
    oracle=_CANONICAL_ORACLE,
    tags=("curation", "dedup", "iterative"),
)
def dedup_canonical_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup DECISION step the pair/cluster ops feed: pick one
    canonical document per near-duplicate cluster — the longest, with
    doc_id as the deterministic tiebreak (keep-longest is the standard
    heuristic: truncated copies lose to their originals) — and emit the
    full per-doc verdict table (doc, cluster, keep) that the curation
    pipeline's filter consumes downstream.

    Singletons never enter the cluster machinery: the CC labeling only
    covers docs with at least one near-dup edge (node set of the pair
    graph), so the corpus LEFT JOINs the label table — cluster-of-one ≡
    own id — and the argmax window runs per cluster, where clusters are
    near-dup-sized (tiny) and singletons are 1-row partitions. The
    expensive stages are exactly `dedup_cluster_cc`'s (SSJoin pairs +
    large-star/small-star rounds); this op adds one
    dimension-small left join against the corpus and a per-cluster
    row_number — nothing new touches the raw text.
    """
    labels = dedup_cluster_cc(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    ad = d.join(labels, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
        "n_chars",
    )
    w = Window.partitionBy("cluster_id").orderBy(F.col("n_chars").desc(), "doc_id")
    return ad.select(
        "doc_id", "cluster_id", (F.row_number().over(w) == 1).alias("keep")
    )


_PROFILE_ORACLE = """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
           CAST(count(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT) AS n_distinct_keys,
           CAST(count(*) - count(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT)
             AS n_key_dups,
           CAST(count(*) - count(l_shipdate) AS BIGINT) AS n_null_shipdate,
           CAST(count_if(l_quantity <= 0) AS BIGINT) AS n_nonpos_qty,
           CAST(count_if(l_discount < 0 OR l_discount > 1) AS BIGINT)
             AS n_bad_discount,
           CAST(min(epoch_us(CAST(l_shipdate AS TIMESTAMP))) AS BIGINT) AS min_ship_us,
           CAST(max(epoch_us(CAST(l_shipdate AS TIMESTAMP))) AS BIGINT) AS max_ship_us
    FROM lineitem
"""


@register("profile_table_quality", oracle=_PROFILE_ORACLE, tags=("curation", "agg"))
def profile_table_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass data-quality profile of the fact table — the dbt-test /
    Deequ-style assertion inputs (key uniqueness, null counts, domain
    violations, freshness bounds) computed as ONE aggregate so profiling
    a 100 TB table costs one scan, not one scan per check.

    Everything partial-aggregates: counts and count_ifs are trivial;
    the two distinct counts ride Spark's partial-distinct machinery
    (per-task dedup before the exchange). At 100 TB the exact distincts
    are the expensive checks — swap to approx_count_distinct and the
    row stays one row (the documented exact/sketch trade, same as the
    percentile family); the rest of the profile is unchanged. The
    composite key check (count − distinct(key)) is the dup-rate
    numerator a uniqueness assertion compares to 0.
    """
    li = load_table(spark, sf_dir, "lineitem")
    key = F.struct("l_orderkey", "l_linenumber")
    return li.agg(
        F.count("*").alias("n_rows"),
        F.count_distinct("l_orderkey").alias("n_orders"),
        F.count_distinct(key).alias("n_distinct_keys"),
        (F.count("*") - F.count_distinct(key)).alias("n_key_dups"),
        (F.count("*") - F.count("l_shipdate")).alias("n_null_shipdate"),
        F.count_if(F.col("l_quantity") <= 0).alias("n_nonpos_qty"),
        F.count_if((F.col("l_discount") < 0) | (F.col("l_discount") > 1)).alias(
            "n_bad_discount"
        ),
        F.min(F.unix_micros(F.col("l_shipdate").cast("timestamp"))).alias("min_ship_us"),
        F.max(F.unix_micros(F.col("l_shipdate").cast("timestamp"))).alias("max_ship_us"),
    )


_BUDGET_SELECT_ORACLE = """
    WITH q AS (
      SELECT doc_id, n_chars,
             len(string_split(text, ' ')) AS n_tokens,
             CAST(floor(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                        / len(string_split(text, ' ')) * 1e6 + 0.5) AS BIGINT)
               AS quality_1e6
      FROM documents
    ),
    r AS (
      SELECT *, sum(n_tokens) OVER (
        ORDER BY quality_1e6 DESC, doc_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
      ) AS cum_tokens
      FROM q
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, quality_1e6,
           CAST(cum_tokens AS BIGINT) AS cum_tokens,
           cum_tokens <= 10000 AS selected
    FROM r
"""


@register("curate_budget_select", oracle=_BUDGET_SELECT_ORACLE, tags=("curation", "window"))
def curate_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget data selection: fill a 10k-token training budget with
    the highest-quality documents — greedy by quality (type-token ratio
    here; any scalar score plugs in), cut where the running token total
    crosses the budget. The verdict column keeps rejected docs visible,
    so budget sweeps re-rank without recomputing scores.

    Scoring is a per-row map over the corpus (one pass, no shuffle); the
    greedy selection is the same distributed two-phase prefix sum
    `curate_pack_batches` uses — NOT a single global running-sum window.
    Docs bucket by quality band (descending bands = descending score
    order), cumsum runs within each band in parallel, and the exclusive
    band offsets come from a window over ONE ROW PER BAND (≤1001 rows
    regardless of corpus size) broadcast back. Bit-identical to the
    naive global window the oracle uses to prove it. Band skew (many
    docs sharing one score) widens one window partition, never the plan
    shape; a finer score or a secondary doc_id sub-band bounds it.
    Greedy-by-score is the industry-standard knapsack relaxation
    (items ≪ budget ⇒ within one doc of optimal).
    """
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    q = d.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.floor(
            F.size(F.array_distinct(toks)).cast("double") / F.size(toks) * 1e6
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("quality_1e6"),
    )
    # quality_1e6 ∈ [0, 1e6]; band width 1000 → ≤1001 bands, ascending
    # band = descending quality, so (band ASC, quality DESC, doc_id) is
    # exactly the global greedy order.
    q = q.withColumn("band", ((F.lit(1_000_000) - F.col("quality_1e6")) / 1000).cast("long"))
    in_band = (
        Window.partitionBy("band")
        .orderBy(F.col("quality_1e6").desc(), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = q.withColumn("local_cum", F.sum("n_tokens").over(in_band))
    band_tot = q.groupBy("band").agg(F.sum("n_tokens").alias("band_sum"))
    off_w = Window.orderBy("band").rowsBetween(Window.unboundedPreceding, -1)
    offsets = band_tot.select(
        "band", F.coalesce(F.sum("band_sum").over(off_w), F.lit(0)).alias("band_off")
    )
    r = local.join(F.broadcast(offsets), "band").withColumn(
        "cum_tokens", (F.col("band_off") + F.col("local_cum")).cast("bigint")
    )
    return r.select(
        "doc_id",
        "n_tokens",
        "quality_1e6",
        "cum_tokens",
        (F.col("cum_tokens") <= 10_000).alias("selected"),
    )


_LR_STOP = ["a", "the"]

_LR_ORACLE = """
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks,
             length(regexp_replace(lower(text), ' ', '', 'g')) AS n_alpha
      FROM documents
    ),
    f AS (
      SELECT doc_id,
             ln(1 + len(toks)) AS f_len,
             len(list_filter(toks, x -> x IN ('a', 'the'))) * 1.0 / len(toks) AS f_stop,
             n_alpha * 1.0 / len(toks) AS f_wordlen,
             len(list_distinct(toks)) * 1.0 / len(toks) AS f_distinct
      FROM t WHERE len(toks) > 0
    )
    SELECT doc_id,
           round(f_len, 6) AS f_len, round(f_stop, 6) AS f_stop,
           round(f_wordlen, 6) AS f_wordlen, round(f_distinct, 6) AS f_distinct,
           round(1.0 / (1.0 + exp(-(0.8 * f_len - 2.0 * f_stop - 0.3 * f_wordlen
                                    + 1.5 * f_distinct - 0.2))), 6) AS score,
           (0.8 * f_len - 2.0 * f_stop - 0.3 * f_wordlen
            + 1.5 * f_distinct - 0.2) >= 0 AS keep
    FROM f
"""


@register("curate_quality_score_lr", oracle=_LR_ORACLE, tags=("curation", "text"))
def curate_quality_score_lr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filter: a logistic-regression scorer with
    FIXED published weights over four cheap text features (log-length,
    stopword ratio, mean word length, distinct-token ratio) — the
    second tier of a filter stack, after the wordlist gate
    (`text_toxicity_wordlist`) and before anything neural. This is the
    exact execution shape of fastText/LR quality classifiers in
    production data pipelines: featurize + dot product + sigmoid, all
    map-side.

    The 'model' is literals compiled into the plan (a real coefficient
    vector of any width ships the same way, or via one broadcast for
    wide sparse vocab). Zero shuffles, zero UDFs — pure codegen'd
    projection, scales as a scan; keep-decision is evaluated on the
    pre-sigmoid margin (z ≥ 0) so the boundary doesn't depend on float
    sigmoid rounding on either engine."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower(F.col("text")), " "), lambda x: x != ""
    )
    t = d.select(
        "doc_id",
        toks.alias("toks"),
        F.length(F.regexp_replace(F.lower(F.col("text")), " ", "")).alias("n_alpha"),
    ).filter(F.size("toks") > 0)
    stop = F.array(*[F.lit(w) for w in _LR_STOP])
    n = F.size("toks").cast("double")
    f_len = F.log(F.lit(1.0) + n)
    f_stop = F.size(F.filter(F.col("toks"), lambda x: F.array_contains(stop, x))) / n
    f_wordlen = F.col("n_alpha") / n
    f_distinct = F.size(F.array_distinct("toks")) / n
    z = 0.8 * f_len - 2.0 * f_stop - 0.3 * f_wordlen + 1.5 * f_distinct - 0.2
    return t.select(
        "doc_id",
        F.round(f_len, 6).alias("f_len"),
        F.round(f_stop, 6).alias("f_stop"),
        F.round(f_wordlen, 6).alias("f_wordlen"),
        F.round(f_distinct, 6).alias("f_distinct"),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6).alias("score"),
        (z >= 0).alias("keep"),
    )


_INTERLEAVE_ORACLE = """
    WITH s AS (
      SELECT DISTINCT source FROM documents
    ),
    idx AS (
      SELECT source, CAST(row_number() OVER (ORDER BY source) - 1 AS BIGINT) AS sidx,
             CAST(count(*) OVER () AS BIGINT) AS n_sources
      FROM s
    ),
    r AS (
      SELECT d.doc_id, d.source, i.sidx, i.n_sources,
             CAST(row_number() OVER (PARTITION BY d.source ORDER BY d.doc_id) - 1
                  AS BIGINT) AS rk
      FROM documents d JOIN idx i USING (source)
    )
    SELECT doc_id, source, rk AS rank_in_source,
           rk * n_sources + sidx AS global_pos
    FROM r
"""


@register("curate_interleave_roundrobin", oracle=_INTERLEAVE_ORACLE, tags=("curation",))
def curate_interleave_roundrobin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic round-robin interleave across sources — the
    training-ORDER primitive that complements `curate_mix_weights`
    (which decides HOW MUCH of each source; this decides the reading
    sequence, so no source is consumed in a burst): position
    = rank_in_source × n_sources + source_index.

    The global position is ARITHMETIC, not a global sort: each doc's
    slot is computed from its within-source rank (one window per
    source — partitions by source, the natural parallel unit) and the
    broadcast source index (≤ thousands of rows). Writing the corpus
    ordered by global_pos is then a range-partitioned sort whose key is
    already computed — no single-partition window ever touches the
    data, which is what makes this the 100 TB shuffle-order recipe
    (epoch reshuffles re-key rank_in_source with a seeded hash, same
    plan). Uneven source sizes leave gaps in the position space —
    harmless for ordering, documented rather than compacted (compaction
    would need the global prefix sums `curate_pack_batches` shows)."""
    d = load_table(spark, sf_dir, "documents")
    srcs = d.select("source").distinct()
    wsrc = Window.orderBy("source")
    idx = srcs.select(
        "source",
        (F.row_number().over(wsrc) - 1).cast("bigint").alias("sidx"),
        F.count("*").over(Window.partitionBy()).cast("bigint").alias("n_sources"),
    )
    wr = Window.partitionBy("source").orderBy("doc_id")
    r = d.join(F.broadcast(idx), "source").select(
        "doc_id",
        "source",
        (F.row_number().over(wr) - 1).cast("bigint").alias("rk"),
        "sidx",
        "n_sources",
    )
    return r.select(
        "doc_id",
        "source",
        F.col("rk").alias("rank_in_source"),
        (F.col("rk") * F.col("n_sources") + F.col("sidx")).alias("global_pos"),
    )


_FRESHNESS_ORACLE = """
    WITH per AS (
      SELECT event_type,
             CAST(max(epoch_us(CAST(ts AS TIMESTAMP))) AS BIGINT) AS max_ts_us,
             CAST(count(*) AS BIGINT) AS n_rows
      FROM events GROUP BY event_type
    ),
    g AS (SELECT max(max_ts_us) AS global_max_us FROM per)
    SELECT event_type, n_rows, max_ts_us,
           CAST(g.global_max_us - max_ts_us AS BIGINT) AS lag_us,
           g.global_max_us - max_ts_us > 86400000000 AS stale
    FROM per CROSS JOIN g
"""


@register("profile_freshness_lag", oracle=_FRESHNESS_ORACLE, tags=("curation", "profile"))
def profile_freshness_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stream freshness monitor: each event type's latest event time
    against the newest event anywhere, with a >1-day staleness flag —
    the data-quality check that catches a dead upstream producer before
    a training snapshot ships with a silently-frozen stream
    (`profile_table_quality`'s temporal sibling).

    One collapsing max/count aggregate (map-side partials, #types rows
    out), the global max re-derived from the per-type result (no second
    fact-table scan), broadcast back as a 1-row cross join. At 100 TB
    this is the incremental-manifest query: real deployments fold it
    into `sink_partition_stats`' metadata instead of scanning."""
    ev = load_table(spark, sf_dir, "events")
    per = ev.groupBy("event_type").agg(
        F.max("ts_us_long").cast("bigint").alias("max_ts_us"),
        F.count("*").alias("n_rows"),
    )
    g = per.agg(F.max("max_ts_us").alias("global_max_us"))
    return per.crossJoin(F.broadcast(g)).select(
        "event_type",
        "n_rows",
        "max_ts_us",
        (F.col("global_max_us") - F.col("max_ts_us")).cast("bigint").alias("lag_us"),
        (F.col("global_max_us") - F.col("max_ts_us") > 86_400_000_000).alias("stale"),
    )


_WSAMPLE_K = 50

_WSAMPLE_ORACLE = f"""
    WITH keyed AS (
      SELECT doc_id, n_chars,
             round(ln((CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                            AS BIGINT) + 0.5) / 4294967296.0) / n_chars, 9) AS k
      FROM documents WHERE n_chars > 0
    )
    SELECT CAST(row_number() OVER (ORDER BY k DESC, doc_id) AS BIGINT) AS rnk,
           doc_id, CAST(n_chars AS BIGINT) AS n_chars
    FROM keyed
    ORDER BY k DESC, doc_id
    LIMIT {_WSAMPLE_K}
"""


@register("curate_weighted_sample", oracle=_WSAMPLE_ORACLE, tags=("curation", "sample"))
def curate_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement, deterministic and
    distributed: the Efraimidis–Spirakis exponential-key trick — each
    doc draws u ~ Uniform(0,1) (derived from the portable md5 hash, so
    the 'randomness' is reproducible and oracle-replayable) and gets
    key = ln(u)/w with w = n_chars; the k LARGEST keys are exactly a
    weight-proportional without-replacement sample. This is the
    curation primitive behind 'sample 1B tokens proportional to doc
    quality/length' — `curate_stratified_sample` fixes per-stratum
    counts, `curate_oversample` replicates; this draws one global
    weighted sample.

    Scale shape: key assignment is map-side; top-k is
    ``orderBy(...).limit(k)`` which Spark plans as
    TakeOrderedAndProject (per-partition heaps + driver merge of k
    rows — no global sort materialization, no full-corpus window).
    Only the k survivors are then ranked, so the single-partition
    window runs over exactly k rows. Keys are 9dp-rounded before
    ranking with a doc_id tiebreak so both engines select the
    identical sample (the §5.4 discipline applied to a transcendental
    key); re-keying with concat(doc_id, seed) gives fresh epochs,
    same plan. Plan shape pinned in tests/test_plans.py."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
        "long"
    )
    u = (h + F.lit(0.5)) / F.lit(4294967296.0)
    key = F.round(F.log(u) / F.col("n_chars"), 9)
    keyed = d.select("doc_id", F.col("n_chars").cast("bigint").alias("n_chars"), key.alias("k"))
    topk = keyed.orderBy(F.col("k").desc(), "doc_id").limit(_WSAMPLE_K)
    w = Window.orderBy(F.col("k").desc(), "doc_id")  # over the k survivors only
    return (
        topk.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .select("rnk", "doc_id", "n_chars")
    )


# (child_table, child_col, parent_table, parent_col) key-relationship
# probes — the profiler's config. Labels are '<child>.<col>-><parent>.<col>'.
_KEY_PROBES = [
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("orders", "o_orderkey", "lineitem", "l_orderkey"),
    ("events", "user_id", "customer", "c_custkey"),
]


def _probe_sql(ct: str, cc: str, pt: str, pc: str) -> str:
    return f"""
    SELECT '{ct}.{cc}->{pt}.{pc}' AS probe,
           CAST(sum(c.cnt) AS BIGINT) AS child_rows,
           CAST(count(*) AS BIGINT) AS child_distinct,
           CAST(count(p.k) AS BIGINT) AS matched_distinct,
           sum(c.cnt) = count(*) AS child_unique,
           CAST(floor(count(p.k) * 1000000.0 / count(*) + 0.5) AS BIGINT)
             AS containment_1e6
    FROM (SELECT {cc} AS k, count(*) AS cnt FROM {ct}
          WHERE {cc} IS NOT NULL GROUP BY 1) c
    LEFT JOIN (SELECT DISTINCT {pc} AS k FROM {pt}) p USING (k)
    """


_PK_FK_ORACLE = "\nUNION ALL\n".join(_probe_sql(*p) for p in _KEY_PROBES)


@register("profile_pk_fk_inference", oracle=_PK_FK_ORACLE, tags=("profile",))
def profile_pk_fk_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-relationship profiling: for each configured (child column →
    parent column) probe, measure uniqueness (is the child column a key
    candidate?) and referential containment (what fraction of distinct
    child values exist in the parent — 1.0 means the FK holds) — the
    schema-inference pass a catalog / data-quality layer runs on
    unfamiliar tables before trusting joins on them.

    Each probe is ONE child-key hash aggregate LEFT-joined against the
    parent's distinct keys and collapsed to a single row — uniqueness
    falls out of the same aggregate (rows == distinct), containment
    from counting non-null join hits; no count(distinct) subqueries, no
    1-row cross joins, and the four probes union into one plan Spark
    schedules in parallel. At 100 TB each probe's cost is one shuffle
    on the probed key — exactly the join it is vetting."""
    out = None
    for ct, cc, pt, pc in _KEY_PROBES:
        child = (
            load_table(spark, sf_dir, ct)
            .select(F.col(cc).alias("k"))
            .filter(F.col("k").isNotNull())
            .groupBy("k")
            .agg(F.count("*").alias("cnt"))
        )
        parent = (
            load_table(spark, sf_dir, pt)
            .select(F.col(pc).alias("k"))
            .distinct()
            .withColumn("hit", F.lit(1))
        )
        row = child.join(parent, "k", "left").agg(
            F.lit(f"{ct}.{cc}->{pt}.{pc}").alias("probe"),
            F.sum("cnt").cast("bigint").alias("child_rows"),
            F.count("*").cast("bigint").alias("child_distinct"),
            F.count("hit").cast("bigint").alias("matched_distinct"),
            (F.sum("cnt") == F.count("*")).alias("child_unique"),
            F.floor(F.count("hit") * 1_000_000.0 / F.count("*") + F.lit(0.5))
            .cast("bigint")
            .alias("containment_1e6"),
        )
        out = row if out is None else out.unionAll(row)
    return out


_DATASET_CARD_ORACLE = """
    WITH d AS (
      SELECT source, lang,
             CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_toks,
             CAST(length(text) AS BIGINT) AS n_chars
      FROM documents
    ),
    g AS (
      SELECT source, lang,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_toks) AS BIGINT) AS total_tokens,
             CAST(sum(n_chars) AS BIGINT) AS total_chars,
             CAST(min(n_toks) AS BIGINT) AS min_tokens,
             CAST(max(n_toks) AS BIGINT) AS max_tokens
      FROM d GROUP BY 1, 2
    )
    SELECT source, lang, n_docs, total_tokens, total_chars,
           min_tokens, max_tokens,
           CAST(floor(CAST(total_tokens AS DOUBLE) * 10000 / n_docs + 0.5)
                AS BIGINT) AS mean_tokens_1e4,
           CAST(floor(CAST(total_tokens AS DOUBLE) * 1000000
                      / sum(total_tokens) OVER () + 0.5) AS BIGINT)
             AS token_share_1e6
    FROM g
"""


@register("curate_dataset_card", oracle=_DATASET_CARD_ORACLE, tags=("curation", "profile"))
def curate_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset-card summary grid: per (source, lang) cell — document
    count, token/char mass, token length extremes and the cell's share
    of the whole corpus's tokens — the first table every training-data
    release publishes, and the input to `curate_mix_weights`'-style
    rebalancing decisions.

    ONE hash aggregate over the corpus (token counts are in-row size()
    arithmetic fused into the scan) followed by a single unpartitioned
    share window over #source×#lang rows — the window input is
    config-bounded, not data-bounded, so the 'global' window is a
    non-issue at any corpus size. Exact int64 masses; the two ratios
    quantize once per output row."""
    d = load_table(spark, sf_dir, "documents").select(
        "source",
        "lang",
        F.size(F.split(F.lower(F.col("text")), " ")).cast("bigint").alias("n_toks"),
        F.length("text").cast("bigint").alias("n_chars"),
    )
    g = d.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_toks").cast("bigint").alias("total_tokens"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.min("n_toks").cast("bigint").alias("min_tokens"),
        F.max("n_toks").cast("bigint").alias("max_tokens"),
    )
    total_w = Window.partitionBy()
    return g.select(
        "source",
        "lang",
        "n_docs",
        "total_tokens",
        "total_chars",
        "min_tokens",
        "max_tokens",
        F.floor(F.col("total_tokens").cast("double") * 10_000 / F.col("n_docs") + F.lit(0.5))
        .cast("bigint")
        .alias("mean_tokens_1e4"),
        F.floor(
            F.col("total_tokens").cast("double") * 1_000_000
            / F.sum("total_tokens").over(total_w)
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("token_share_1e6"),
    )


_SEG_W = 3  # tokens per segment (CCNet dedups real newline-lines; the
# synthetic corpus has no newlines, so fixed-width token segments stand in)
_SEG_MAX_OCC = 2  # segments occurring more often than this corpus-wide drop

_SEG_DEDUP_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id,
             string_split(lower(trim(regexp_replace(text, ' +', ' ', 'g'))), ' ')
               AS l
      FROM documents
    ),
    segs AS (
      SELECT doc_id, i,
             array_to_string(l[i * {_SEG_W} + 1 : i * {_SEG_W} + {_SEG_W}], ' ')
               AS seg
      FROM toks,
           unnest(range(CAST(ceil(len(l) / {_SEG_W}.0) AS BIGINT))) AS t(i)
    ),
    freq AS (SELECT md5(seg) AS fp, count(*) AS occ FROM segs GROUP BY 1),
    kept AS (
      SELECT s.doc_id, s.i, s.seg
      FROM segs s JOIN freq ON freq.fp = md5(s.seg)
      WHERE freq.occ <= {_SEG_MAX_OCC}
    ),
    rebuilt AS (
      SELECT doc_id, string_agg(seg, ' ' ORDER BY i) AS cleaned,
             count(*) AS n_kept
      FROM kept GROUP BY doc_id
    ),
    n_all AS (SELECT doc_id, count(*) AS n_segs FROM segs GROUP BY doc_id)
    SELECT d.doc_id,
           COALESCE(r.cleaned, '') AS cleaned,
           CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_kept,
           CAST(n_all.n_segs - COALESCE(r.n_kept, 0) AS BIGINT) AS n_dropped
    FROM documents d
    JOIN n_all USING (doc_id)
    LEFT JOIN rebuilt r USING (doc_id)
"""


@register("curate_segment_dedup", oracle=_SEG_DEDUP_ORACLE, tags=("curation", "dedup"))
def curate_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style sub-document dedup WITH reassembly: split every doc
    into fixed-width token segments, drop any segment whose exact
    fingerprint occurs more than K times corpus-wide (boilerplate:
    headers, footers, cookie banners), and rebuild the surviving text
    in original order. Unlike `curate_boilerplate_ngrams` (detect-only)
    this op emits the CLEANED corpus — the thing the next pipeline
    stage actually trains on.

    Scale: one explode → corpus-frequency aggregate on the 16-byte
    fingerprint (shuffle carries fingerprints, not text, for the count
    side), frequency joined back ON THE SAME fingerprint key
    (co-partitioned with the agg's exchange), and reassembly is an
    in-row array_sort over each doc's collected (idx, seg) structs —
    collect order is never trusted (SURVEY §5.4). Docs whose segments
    all drop survive as empty strings via the left join from the doc
    spine, so the output is total over the corpus."""
    d = load_table(spark, sf_dir, "documents")
    # spread (r10): the tokenize+slice+posexplode pipeline materializes at
    # the segs boundary ON THE SCAN'S partitioning — one input split at
    # fixture scale meant one core did all the segmentation (sf1 scaling
    # read ~flat 8-vs-32). No-op at scale (many splits).
    toks = spread_heavy(d).select(
        "doc_id", F.split(normalize_text(F.col("text")), " ").alias("l")
    )
    n_segs = F.ceil(F.size("l") / float(_SEG_W)).cast("long")
    # r09: the segment explode materializes ONCE (lazy checkpoint) for its
    # two consumers (frequency pass + tagging join) instead of re-running
    # normalize+split+slice per consumer; the per-doc spine no longer reads
    # the explode at all — n_segs is computable from the token array
    # directly, removing the third evaluation outright (1.74 -> 1.38 s at
    # sf0.1 under like load). The materialized relation is the segment
    # table a CCNet-style pipeline keeps on disk anyway.
    segs = toks.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_segs - 1),
                lambda i: F.array_join(
                    F.slice(F.col("l"), i * _SEG_W + 1, _SEG_W), " "
                ),
            )
        ).alias("i", "seg"),
    ).transform(one_compute_boundary)
    freq = segs.groupBy(F.md5("seg").alias("fp")).agg(F.count("*").alias("occ"))
    kept = (
        segs.withColumn("fp", F.md5("seg"))
        .join(freq, "fp")
        .filter(F.col("occ") <= _SEG_MAX_OCC)
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "seg"))),
                lambda x: x["seg"],
            ),
            " ",
        ).alias("cleaned"),
        F.count("*").alias("n_kept"),
    )
    # NULL-text contract (ADVICE r09): normalize/split of NULL text is NULL,
    # so the explode emits nothing for such docs and the oracle's
    # `JOIN n_all USING (doc_id)` drops them from the output entirely. The
    # r09 spine rewrite (n_segs from the token array instead of the explode)
    # would have emitted an (n_segs=NULL, cleaned='') row for them — the
    # shipped fixtures carry no NULL text, so the oracle gate can't see the
    # difference; this filter pins the dropped-row contract explicitly.
    spine = toks.filter(F.col("l").isNotNull()).select("doc_id", n_segs.alias("n_segs"))
    return spine.join(rebuilt, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("cleaned"), F.lit("")).alias("cleaned"),
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("bigint").alias("n_kept"),
        (F.col("n_segs") - F.coalesce(F.col("n_kept"), F.lit(0)))
        .cast("bigint")
        .alias("n_dropped"),
    )


_EPOCH_SHUFFLE_N_SHARDS = 8
_EPOCH_SHUFFLE_EPOCHS = 2

_EPOCH_SHUFFLE_ORACLE = f"""
    SELECT e.epoch, d.doc_id,
           md5(concat('ep', CAST(e.epoch AS VARCHAR), ':',
                      CAST(d.doc_id AS VARCHAR))) AS sort_key,
           CAST(concat('0x', substr(md5(concat('ep', CAST(e.epoch AS VARCHAR),
                       ':', CAST(d.doc_id AS VARCHAR))), 1, 8)) AS BIGINT)
             % {_EPOCH_SHUFFLE_N_SHARDS} AS shard
    FROM documents d
    CROSS JOIN (SELECT unnest(range({_EPOCH_SHUFFLE_EPOCHS})) AS epoch) e
"""


@register("curate_epoch_shuffle", oracle=_EPOCH_SHUFFLE_ORACLE, tags=("curation",))
def curate_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible training-epoch shuffling: epoch e orders the corpus
    by md5('ep{{e}}:' || doc_id) and shards it by the hash prefix — a
    different permutation every epoch, yet bit-reproducible on re-run,
    resume, or backfill (seeded-RNG shuffles are partitioning- and
    scheduling-dependent; hash order is a pure function of the row).
    The reader sorts within its shard by sort_key — no global sort
    exists anywhere; the shard assignment IS the distributed shuffle.

    Scale: pure map work per epoch (the epoch dim is a literal
    broadcast); at 100 TB each epoch's shards are written
    partitionBy(shard) and trainers stream shard files in sort_key
    order — the standard reshuffle-between-epochs recipe with zero
    cluster-side sorting."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    epochs = spark.range(_EPOCH_SHUFFLE_EPOCHS).select(F.col("id").cast("int").alias("epoch"))
    j = d.crossJoin(F.broadcast(epochs))
    key = F.md5(
        F.concat(
            F.lit("ep"), F.col("epoch").cast("string"), F.lit(":"),
            F.col("doc_id").cast("string"),
        )
    )
    return j.select(
        "epoch",
        "doc_id",
        key.alias("sort_key"),
        (
            F.conv(F.substring(key, 1, 8), 16, 10).cast("long")
            % _EPOCH_SHUFFLE_N_SHARDS
        ).alias("shard"),
    )


# Deterministic dirty-URL synthesis: scheme/host case noise, a default
# :80 port, and a utm tracking param in varying positions. The dirt keys
# on doc_id % 7 while the canonical identity keys on % 3/% 5/% 20 —
# 7 ∤ lcm(3,5,20,2)=60, so every canonical group contains SEVERAL raw
# spellings and the dedup genuinely collapses case/port/utm variants.
_URL_RAW_SQL = """concat(
    CASE WHEN doc_id % 7 = 0 THEN 'HTTP://WWW.Example' ELSE 'http://www.example' END,
    CAST(doc_id % 3 AS VARCHAR), '.com',
    CASE WHEN doc_id % 7 < 3 THEN ':80' ELSE '' END,
    '/path/', CAST(doc_id % 5 AS VARCHAR), '/',
    CASE WHEN doc_id % 7 = 1 THEN concat('?utm_source=news&id=', CAST(doc_id % 20 AS VARCHAR))
         WHEN doc_id % 7 = 2 THEN concat('?id=', CAST(doc_id % 20 AS VARCHAR), '&utm_campaign=x')
         ELSE concat('?id=', CAST(doc_id % 20 AS VARCHAR)) END)"""

_URL_CANON_STEPS_SQL = """
      regexp_replace(
        regexp_replace(
          regexp_replace(
            concat(lower(regexp_extract({url}, '^[^/]*//[^/]*', 0)),
                   regexp_replace({url}, '^[^/]*//[^/]*', '')),
            ':80(/|$)', '\\1'),
          'utm_[^&]*&', ''),
        '[?&]utm_[^&]*$', '')"""


def _url_canon_col(url):
    """Engine-portable URL canonicalization: lowercase the
    scheme://host prefix (path/query case is significant, host case is
    not), strip the default :80 port, drop utm_* tracking params
    whether they sit first, middle, or last — identical regexps run on
    both engines."""
    prefix = F.regexp_extract(url, r"^[^/]*//[^/]*", 0)
    rest = F.regexp_replace(url, r"^[^/]*//[^/]*", "")
    c = F.concat(F.lower(prefix), rest)
    c = F.regexp_replace(c, r":80(/|$)", r"$1")
    c = F.regexp_replace(c, r"utm_[^&]*&", "")
    return F.regexp_replace(c, r"[?&]utm_[^&]*$", "")


_URL_DEDUP_ORACLE = f"""
    WITH raw AS (SELECT doc_id, {_URL_RAW_SQL} AS url FROM documents),
    canon AS (
      SELECT doc_id, url,
             {_URL_CANON_STEPS_SQL.format(url="url")} AS canonical_url
      FROM raw
    )
    SELECT canonical_url,
           CAST(count(*) AS BIGINT) AS n_dupes,
           CAST(count(DISTINCT url) AS BIGINT) AS n_raw_forms,
           CAST(min(doc_id) AS BIGINT) AS keep_doc_id
    FROM canon
    GROUP BY canonical_url
"""


@register("curate_url_dedup", oracle=_URL_DEDUP_ORACLE, tags=("curation", "dedup"))
def curate_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + dedup — the first dedup any web-crawl
    pipeline runs (cheaper than any content hash: the KEY collapses).
    Canonical form lowercases scheme+host only (path/query case is
    significant), strips the default :80 port, and drops utm_*
    tracking params in any position; groups then count duplicates and
    pick the keeper (min doc_id). The canonicalizer works on the URL
    STRING (not by re-deriving from the synthesis), so the oracle's
    identical regexps check real string surgery.

    Scale: canonicalization is pure map work; the dedup aggregate
    shuffles canonical keys only. At 100 TB this runs BEFORE fetching
    or hashing content — the whole point of key-level dedup."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    url = F.concat(
        F.when(F.col("doc_id") % 7 == 0, F.lit("HTTP://WWW.Example")).otherwise(
            F.lit("http://www.example")
        ),
        (F.col("doc_id") % 3).cast("string"),
        F.lit(".com"),
        F.when(F.col("doc_id") % 7 < 3, F.lit(":80")).otherwise(F.lit("")),
        F.lit("/path/"),
        (F.col("doc_id") % 5).cast("string"),
        F.lit("/"),
        F.when(
            F.col("doc_id") % 7 == 1,
            F.concat(F.lit("?utm_source=news&id="), (F.col("doc_id") % 20).cast("string")),
        )
        .when(
            F.col("doc_id") % 7 == 2,
            F.concat(F.lit("?id="), (F.col("doc_id") % 20).cast("string"), F.lit("&utm_campaign=x")),
        )
        .otherwise(F.concat(F.lit("?id="), (F.col("doc_id") % 20).cast("string"))),
    )
    raw = d.select("doc_id", url.alias("url"))
    canon = raw.select("doc_id", "url", _url_canon_col(F.col("url")).alias("canonical_url"))
    return canon.groupBy("canonical_url").agg(
        F.count("*").cast("bigint").alias("n_dupes"),
        F.countDistinct("url").cast("bigint").alias("n_raw_forms"),
        F.min("doc_id").cast("bigint").alias("keep_doc_id"),
    )


_DSIR_ORACLE = """
    WITH tok AS (
      SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS term
      FROM documents
    ),
    tok_ne AS (SELECT * FROM tok WHERE term <> ''),
    counts AS (
      SELECT term,
             CAST(count(*) AS BIGINT) AS cc,
             CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS ct
      FROM tok_ne GROUP BY term
    ),
    tot AS (
      SELECT CAST(sum(cc) AS BIGINT) AS nc, CAST(sum(ct) AS BIGINT) AS nt,
             CAST(count(*) AS BIGINT) AS v
      FROM counts
    ),
    lm AS (
      SELECT term,
             ln(CAST(ct + 1 AS DOUBLE) / (nt + v))
               - ln(CAST(cc + 1 AS DOUBLE) / (nc + v)) AS lr
      FROM counts CROSS JOIN tot
    ),
    dterm AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS cnt
      FROM tok_ne GROUP BY doc_id, term
    )
    SELECT d.doc_id,
           CAST(sum(d.cnt) AS BIGINT) AS n_tokens,
           round(sum(d.cnt * lm.lr), 4) + 0.0 AS dsir_logweight
    FROM dterm d JOIN lm USING (term)
    GROUP BY d.doc_id
"""


@register("curate_dsir_weights", oracle=_DSIR_ORACLE, tags=("curation", "text"))
def curate_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, data selection via
    importance resampling): score every raw document by
    log p_target(doc) - log p_raw(doc) under two unigram LMs — the
    target here is the English slice (in production: the high-quality
    reference corpus), the raw LM is the whole pool. Feeding these
    weights to `curate_weighted_sample`'s Gumbel top-k IS importance
    resampling; this op materializes the reusable artifact (the
    per-doc weight column).

    Both LMs come from ONE token explode: a single (term)-keyed count
    aggregate carries the corpus count and the target count side by
    side (the target LM is a conditional sum, not a second scan), the
    normalizers are a 1-row broadcast, and add-one smoothing over the
    shared vocab keeps unseen-in-target terms finite. Scoring joins the
    per-(doc, term) counts to the vocab-sized LM table on the same term
    key the counts aggregate shuffled on, then rolls up per doc. No
    stage touches more than (tokens) rows; the LM table is vocab-sized.
    Float discipline: ln() on identically-constructed doubles, weights
    rounded to 4dp (the `text_unigram_logprob` precedent)."""
    d = spread(load_table(spark, sf_dir, "documents"))
    tok = d.select(
        "doc_id",
        "lang",
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("term"),
    ).filter(F.col("term") != "")
    counts = tok.groupBy("term").agg(
        F.count("*").cast("bigint").alias("cc"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).cast("bigint").alias("ct"),
    )
    tot = counts.agg(
        F.sum("cc").cast("bigint").alias("nc"),
        F.sum("ct").cast("bigint").alias("nt"),
        F.count("*").cast("bigint").alias("v"),
    )
    lm = counts.crossJoin(F.broadcast(tot)).select(
        "term",
        (
            F.log((F.col("ct") + 1).cast("double") / (F.col("nt") + F.col("v")))
            - F.log((F.col("cc") + 1).cast("double") / (F.col("nc") + F.col("v")))
        ).alias("lr"),
    )
    dterm = tok.groupBy("doc_id", "term").agg(F.count("*").cast("bigint").alias("cnt"))
    return (
        dterm.join(lm, "term")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_tokens"),
            # + 0.0 normalizes IEEE negative zero: a weight that rounds to
            # -0.0 on one engine and +0.0 on the other is the same number
            # but a different repr — found by the sf0.1 mirror
            (F.round(F.sum(F.col("cnt") * F.col("lr")), 4) + F.lit(0.0)).alias(
                "dsir_logweight"
            ),
        )
    )


_GOPHER_STOP_SQL = "'the', 'and', 'of', 'to', 'a', 'in', 'is'"  # STOPWORDS["en"]

_GOPHER_ORACLE = f"""
    WITH w AS (
      SELECT source,
             list_filter(string_split(lower(text), ' '), x -> x <> '') AS words,
             length(replace(lower(text), ' ', '')) AS nonspace_chars,
             len(regexp_extract_all(text, '#|\\.\\.\\.')) AS n_symbols
      FROM documents WHERE length(text) > 0
    ),
    r AS (
      SELECT source,
             len(words) AS wc,
             CASE WHEN len(words) BETWEEN 50 AND 100000 THEN 1 ELSE 0 END AS r_wc,
             CASE WHEN len(words) > 0
                   AND CAST(nonspace_chars AS DOUBLE) / len(words) BETWEEN 3 AND 10
                  THEN 1 ELSE 0 END AS r_wlen,
             CASE WHEN len(words) > 0
                   AND CAST(n_symbols AS DOUBLE) / len(words) <= 0.1
                  THEN 1 ELSE 0 END AS r_sym,
             CASE WHEN len(words) > 0
                   AND CAST(len(list_filter(words, x -> regexp_matches(x, '[a-z]')))
                            AS DOUBLE) / len(words) >= 0.8
                  THEN 1 ELSE 0 END AS r_alpha,
             CASE WHEN len(list_filter(words, x -> x IN ({_GOPHER_STOP_SQL}))) >= 2
                  THEN 1 ELSE 0 END AS r_stop
      FROM w
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(floor(sum(r_wc) * 1000000.0 / count(*) + 0.5) AS BIGINT) AS wc_rate_1e6,
           CAST(floor(sum(r_wlen) * 1000000.0 / count(*) + 0.5) AS BIGINT) AS wlen_rate_1e6,
           CAST(floor(sum(r_sym) * 1000000.0 / count(*) + 0.5) AS BIGINT) AS sym_rate_1e6,
           CAST(floor(sum(r_alpha) * 1000000.0 / count(*) + 0.5) AS BIGINT) AS alpha_rate_1e6,
           CAST(floor(sum(r_stop) * 1000000.0 / count(*) + 0.5) AS BIGINT) AS stop_rate_1e6,
           CAST(sum(r_wc * r_wlen * r_sym * r_alpha * r_stop) AS BIGINT) AS n_keep
    FROM r GROUP BY source
"""


@register("curate_gopher_report", oracle=_GOPHER_ORACLE, tags=("curation", "text"))
def curate_gopher_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Gopher-rule pass-rate report (Rae et al. 2021's quality
    heuristics): word count in [50, 100k], mean word length in [3, 10],
    symbol-to-word ratio ('#'/'...') ≤ 0.1, ≥80% of words containing an
    alphabetic character, and ≥2 English stopwords — the rule battery a
    curation run reads BEFORE committing to a filter threshold (per-rule
    rates localize WHICH rule guts a source; `text_quality` gates
    per-document, this op audits per-corpus-slice).

    Determinism: every rule is an integer 0/1 computed from exact counts
    by expressions written token-identically in both engines (mean word
    length = non-space chars / word count — no per-word float math);
    rates quantize to 1e-6 after one division. Plan: one map-side pass
    computes all five rules per document (no explode — the word-level
    predicates fold into size(filter(...)) array expressions), then ONE
    per-source aggregate: the only shuffle carries ~|sources| rows."""
    d = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    words = F.filter(F.split(F.lower(F.col("text")), " "), lambda x: x != "")
    wc = F.size(words)
    nonspace = F.length(F.replace(F.lower(F.col("text")), F.lit(" "), F.lit("")))
    n_sym = F.regexp_count("text", F.lit(r"#|\.\.\."))
    n_alpha_words = F.size(F.filter(words, lambda x: x.rlike("[a-z]")))
    en = ["the", "and", "of", "to", "a", "in", "is"]
    n_stop = F.size(F.filter(words, lambda x: x.isin(en)))
    as01 = lambda cond: F.when(cond, 1).otherwise(0)
    r = d.select(
        "source",
        as01(wc.between(50, 100000)).alias("r_wc"),
        as01((wc > 0) & (nonspace.cast("double") / wc).between(3, 10)).alias("r_wlen"),
        as01((wc > 0) & (n_sym.cast("double") / wc <= 0.1)).alias("r_sym"),
        as01((wc > 0) & (n_alpha_words.cast("double") / wc >= 0.8)).alias("r_alpha"),
        as01(n_stop >= 2).alias("r_stop"),
    )
    rate = lambda c: (
        F.floor(F.sum(c) * 1_000_000.0 / F.count("*") + F.lit(0.5))
        .cast("bigint")
        .alias(f"{c[2:]}_rate_1e6")
    )
    return r.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        rate("r_wc"),
        rate("r_wlen"),
        rate("r_sym"),
        rate("r_alpha"),
        rate("r_stop"),
        F.sum(
            F.col("r_wc") * F.col("r_wlen") * F.col("r_sym") * F.col("r_alpha") * F.col("r_stop")
        )
        .cast("bigint")
        .alias("n_keep"),
    )


_CCNET_ORACLE = """
    WITH tok AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
      FROM documents
    ),
    tok_ne AS (SELECT * FROM tok WHERE term <> ''),
    lm AS (
      SELECT term,
             CAST(floor(ln(CAST(count(*) AS DOUBLE)
                           / (SELECT count(*) FROM tok_ne)) * 1000000 + 0.5)
                  AS BIGINT) AS qlogp
      FROM tok_ne GROUP BY term
    ),
    scored AS (
      SELECT t.doc_id,
             CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(lm.qlogp) AS BIGINT) AS q_sum
      FROM tok_ne t JOIN lm USING (term)
      GROUP BY t.doc_id
    ),
    bucketed AS (
      SELECT d.source, s.doc_id, s.n_tokens, s.q_sum,
             ntile(3) OVER (PARTITION BY d.source
                            ORDER BY CAST(s.q_sum AS DOUBLE) / s.n_tokens DESC,
                                     s.doc_id) AS t3
      FROM scored s JOIN documents d USING (doc_id)
    )
    SELECT doc_id, source, n_tokens, q_sum,
           CASE t3 WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
             AS ccnet_bucket
    FROM bucketed
"""


@register("curate_ccnet_buckets", oracle=_CCNET_ORACLE, tags=("curation", "text"))
def curate_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): score every
    document with the unigram LM (the cheap perplexity proxy of
    `text_unigram_logprob`), then split each source into head / middle /
    tail terciles by mean token log-probability — the bucket label CCNet
    keeps as a quality tier (train on head+middle, hold tail out). The
    per-SOURCE tercile is the point: absolute perplexity is not
    comparable across domains, rank within the slice is.

    Determinism: per-term log-probabilities quantize to a 1e-6 int grid
    AT THE LM (one value per term — no float sum ordering anywhere), so
    each doc's score is an exact int sum; the tercile orders by the
    exact-int ratio q_sum/n_tokens (one IEEE division both engines)
    with doc_id tiebreak. Plan: ONE token explode feeds the corpus
    total, the LM aggregate, and the scoring join — tok passes one lazy
    one_compute_boundary (as graph_pagerank's contrib_src does) because
    the static plan would otherwise re-derive the explode up to three
    times and only AQE exchange reuse might dedupe it; the tercile is a keyed window per
    source (giant single sources would upgrade to the bucketed
    two-phase ntile of functions/ranks.py, keyed (source,
    score-bucket))."""
    d = load_table(spark, sf_dir, "documents")
    tok = (
        d.select(
            "doc_id", F.explode(F.split(F.lower(F.col("text")), " ")).alias("term")
        )
        .filter(F.col("term") != "")
        .transform(one_compute_boundary)
    )
    total = tok.agg(F.count("*").alias("n_corpus"))
    lm = (
        tok.groupBy("term")
        .agg(F.count("*").alias("tc"))
        .crossJoin(F.broadcast(total))
        .select(
            "term",
            F.floor(F.log(F.col("tc") / F.col("n_corpus")) * 1e6 + F.lit(0.5))
            .cast("bigint")
            .alias("qlogp"),
        )
    )
    scored = (
        tok.join(lm, "term")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.sum("qlogp").cast("bigint").alias("q_sum"),
        )
    )
    w = Window.partitionBy("source").orderBy(
        (F.col("q_sum").cast("double") / F.col("n_tokens")).desc(), F.col("doc_id")
    )
    return (
        scored.join(d.select("doc_id", "source"), "doc_id")
        .withColumn("t3", F.ntile(3).over(w))
        .select(
            "doc_id",
            "source",
            "n_tokens",
            "q_sum",
            F.when(F.col("t3") == 1, "head")
            .when(F.col("t3") == 2, "middle")
            .otherwise("tail")
            .alias("ccnet_bucket"),
        )
    )


_PSI_ORACLE = """
    WITH e AS (
      SELECT event_type,
             CAST(round(value * 100, 0) AS BIGINT) AS x,
             CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS BIGINT) AS day
      FROM events
    ),
    mid AS (SELECT (min(day) + max(day) + 1) // 2 AS mid FROM e),
    ref AS (SELECT event_type, x FROM e, mid WHERE day < mid),
    cur AS (SELECT event_type, x FROM e, mid WHERE day >= mid),
    bnd AS (
      SELECT event_type,
             quantile_cont(x, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9])
               AS bnds,
             CAST(count(*) AS BIGINT) AS n_ref
      FROM ref GROUP BY 1
    ),
    grid AS (
      SELECT event_type, n_ref, CAST(unnest(range(0, 10)) AS BIGINT) AS bucket
      FROM bnd
    ),
    rb AS (
      SELECT r.event_type,
             CAST(len(list_filter(b.bnds, v -> r.x > v)) AS BIGINT) AS bucket,
             CAST(count(*) AS BIGINT) AS c
      FROM ref r JOIN bnd b USING (event_type) GROUP BY 1, 2
    ),
    cb AS (
      SELECT r.event_type,
             CAST(len(list_filter(b.bnds, v -> r.x > v)) AS BIGINT) AS bucket,
             CAST(count(*) AS BIGINT) AS c
      FROM cur r JOIN bnd b USING (event_type) GROUP BY 1, 2
    ),
    nc AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n_cur FROM cb GROUP BY 1),
    j AS (
      SELECT g.event_type, g.bucket, g.n_ref,
             coalesce(rb.c, 0) AS cr, coalesce(cb.c, 0) AS cc,
             coalesce(nc.n_cur, 0) AS n_cur
      FROM grid g
      LEFT JOIN rb USING (event_type, bucket)
      LEFT JOIN cb USING (event_type, bucket)
      LEFT JOIN nc USING (event_type)
    )
    SELECT event_type,
           CAST(sum(CAST(floor(((cc + 0.5) / (n_cur + 5.0)
                                - (cr + 0.5) / (n_ref + 5.0))
                               * ln(((cc + 0.5) / (n_cur + 5.0))
                                    / ((cr + 0.5) / (n_ref + 5.0)))
                               * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS psi_1e9,
           n_ref, n_cur
    FROM j GROUP BY event_type, n_ref, n_cur
"""


@register("profile_drift_psi", oracle=_PSI_ORACLE, tags=("profile", "analytics"))
def profile_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index per event type between the log's first
    and second half (reference vs current window) — THE serving-drift
    monitor every ML feature store runs before a model retrain: bucket
    the current window by the REFERENCE window's deciles and score
    Σ (p−q)·ln(p/q). Rules of thumb it exists to trigger: PSI < 0.1
    stable, 0.1–0.25 drifting, > 0.25 retrain.

    Scale shape: the raw log is touched twice (one pass per slice),
    each collapsing to a #types×10 bucket-count aggregate with map-side
    partials; the decile boundary table is #types rows broadcast back,
    and the midpoint cutoff is a 1-row audit scalar (the accepted
    pattern). No windows, no per-row Python, no shuffle of raw values.
    Determinism: decile boundaries interpolate int-cent operands (exact
    same IEEE sequence both engines — the `anomaly_mad` argument);
    bucket assignment compares those exact doubles; Laplace-smoothed
    (+0.5/+5) shares make empty buckets well-defined; and each bucket's
    PSI term is floor-quantized to 1e-9 BEFORE the 10-term sum, so
    float reassociation across buckets can't flip the output."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "event_type",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("x"),
        (F.col("ts_us_long") / F.lit(86_400_000_000)).cast("bigint").alias("day"),
    )
    mid = e.agg(
        F.expr("(min(day) + max(day) + 1) div 2").cast("bigint").alias("mid")
    )
    sliced = e.crossJoin(F.broadcast(mid)).select(
        "event_type", "x", (F.col("day") >= F.col("mid")).alias("is_cur")
    )
    ref = sliced.filter(~F.col("is_cur"))
    pcts = F.array(*[F.lit(i / 10) for i in range(1, 10)])
    # bnd is consumed twice (the bucketing broadcast AND the grid spine) and
    # bucketed twice (the j join AND the n_cur rollup) — without a boundary
    # each consumer re-ran its full upstream pass, so the reference-slice
    # percentile scan and the corpus bucketing scan both executed twice
    # (r09: 2.8 s -> 1.8 s at sf0.1 under like load). Both relations are
    # #event_types(+×10) rows — the smallest in the query — so each gets a
    # lazy one-compute checkpoint; the raw log is still touched exactly
    # twice (once per slice pass), the documented scale shape.
    bnd = ref.groupBy("event_type").agg(
        F.percentile("x", pcts).alias("bnds"),
        F.count(F.lit(1)).cast("bigint").alias("n_ref"),
    ).transform(one_compute_boundary)
    bucketed = (
        sliced.join(F.broadcast(bnd.select("event_type", "bnds")), "event_type")
        .select(
            "event_type",
            "is_cur",
            F.size(
                F.filter(F.col("bnds"), lambda v: F.col("x").cast("double") > v)
            )
            .cast("bigint")
            .alias("bucket"),
        )
        .groupBy("event_type", "bucket")
        .agg(
            F.sum(F.when(~F.col("is_cur"), 1).otherwise(0)).cast("bigint").alias("cr"),
            F.sum(F.when(F.col("is_cur"), 1).otherwise(0)).cast("bigint").alias("cc"),
        )
        .transform(one_compute_boundary)
    )
    grid = bnd.select(
        "event_type",
        "n_ref",
        F.explode(F.sequence(F.lit(0), F.lit(9))).alias("bucket"),
    ).withColumn("bucket", F.col("bucket").cast("bigint"))
    n_cur = bucketed.groupBy("event_type").agg(
        F.sum("cc").cast("bigint").alias("n_cur")
    )
    j = (
        grid.join(bucketed, ["event_type", "bucket"], "left")
        .join(F.broadcast(n_cur), "event_type", "left")
        .select(
            "event_type",
            "n_ref",
            F.coalesce(F.col("cr"), F.lit(0)).alias("cr"),
            F.coalesce(F.col("cc"), F.lit(0)).alias("cc"),
            F.coalesce(F.col("n_cur"), F.lit(0)).alias("n_cur"),
        )
    )
    p = (F.col("cc") + 0.5) / (F.col("n_cur") + 5.0)
    q = (F.col("cr") + 0.5) / (F.col("n_ref") + 5.0)
    term = F.floor((p - q) * F.log(p / q) * 1e9 + F.lit(0.5)).cast("bigint")
    return j.groupBy("event_type", "n_ref", "n_cur").agg(
        F.sum(term).cast("bigint").alias("psi_1e9")
    ).select("event_type", "psi_1e9", "n_ref", "n_cur")
