"""Record linkage / entity resolution: blocked fuzzy joins on string
similarity. The shape every dedup-across-sources pipeline needs — match
records from two tables that have no shared key, without the |A|×|B|
cartesian product.

The 100 TB contract is the BLOCKING: candidates are generated by an
equi-join on a cheap deterministic blocking key (here ``nationkey``; in
production a phonetic code, a sorted-token prefix, or an LSH band — see
operators/dedup.py for the LSH machinery), and the expensive string
metric runs only inside blocks. Cost is Σ_b |A_b|×|B_b|, not |A|×|B| —
the same Σ bucket² argument as the banded minhash join. Skewed blocks
get the identical salting treatment as any skewed equi-join
(operators/joins.py:join_skew_salted).

The distance itself is JVM-side ``levenshtein`` (whole-stage codegen,
no Python boundary); Spark ≥3.5's threshold form bounds the DP cost per
comparison at O(len × k) instead of O(len²).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from gvcf_hbase_spark.registry import register
from gvcf_hbase_spark.sources.tables import load_table

_FUZZY_ORACLE = """
    SELECT c.c_custkey, s.s_suppkey,
           CAST(levenshtein(substr(c.c_name, 10), substr(s.s_name, 10)) AS INT)
             AS name_dist
    FROM customer c JOIN supplier s ON c.c_nationkey = s.s_nationkey
    WHERE levenshtein(substr(c.c_name, 10), substr(s.s_name, 10)) <= 1
"""


def _name_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked candidates customer↔supplier: the equi-join on the
    ``nationkey`` blocking key, each side carrying its name identifier
    (the 9-digit suffix after the fixed ``Customer#``/``Supplier#``
    prefix) as ``c_id`` / ``s_id``."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.col("c_nationkey").alias("nk"),
        F.substring("c_name", 10, 100).alias("c_id"),
    )
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        F.col("s_nationkey").alias("nk"),
        F.substring("s_name", 10, 100).alias("s_id"),
    )
    return c.join(s, "nk")


@register("join_fuzzy_levenshtein", oracle=_FUZZY_ORACLE, tags=("linkage", "join"))
def join_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy join customer↔supplier: block on ``nationkey``
    (equi-join), then keep pairs whose name identifiers (the 9-digit
    suffix after the fixed ``Customer#``/``Supplier#`` prefix) are
    within Levenshtein distance 1.

    Plan shape: one shuffle equi-join on the blocking key; the
    Levenshtein filter is a post-join JVM expression inside the joined
    stage (never a cartesian, never Python). The oracle recomputes the
    same metric with DuckDB's independent ``levenshtein`` — definition
    cross-checked, not mirrored.
    """
    dist = F.levenshtein("c_id", "s_id")
    return (
        _name_blocks(spark, sf_dir)
        .filter(dist <= 1)
        .select("c_custkey", "s_suppkey", dist.cast("int").alias("name_dist"))
    )


_BEST_MATCH_ORACLE = """
    WITH cand AS (
      SELECT c.c_custkey, s.s_suppkey,
             levenshtein(substr(c.c_name, 10), substr(s.s_name, 10)) AS d
      FROM customer c JOIN supplier s ON c.c_nationkey = s.s_nationkey
    ),
    ranked AS (
      SELECT c_custkey, s_suppkey, d,
             row_number() OVER (PARTITION BY c_custkey ORDER BY d, s_suppkey) AS rn
      FROM cand
    )
    SELECT c_custkey, s_suppkey AS best_suppkey, CAST(d AS INT) AS name_dist
    FROM ranked WHERE rn = 1 AND d <= 3
"""


@register("linkage_best_match", oracle=_BEST_MATCH_ORACLE, tags=("linkage", "join", "window"))
def linkage_best_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1:N resolution: for every customer, the single best supplier
    match within its nation block (min Levenshtein, deterministic
    ``s_suppkey`` tie-break), kept only if distance ≤ 3.

    This is the candidate-join + per-left-key argmin composition:
    block equi-join, then ``min_by`` over a (c_custkey) window that
    Spark co-partitions with the join output — at scale the argmin
    adds no extra full shuffle beyond the candidate join itself when
    AQE keeps the partitioning. The ≤3 acceptance threshold is applied
    AFTER the argmin (reject-then-rank would change semantics: a
    customer whose best match is rejected must emit nothing, not its
    second-best)."""
    cand = _name_blocks(spark, sf_dir).select(
        "c_custkey", "s_suppkey", F.levenshtein("c_id", "s_id").alias("d")
    )
    w = Window.partitionBy("c_custkey").orderBy("d", "s_suppkey")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("d") <= 3))
        .select(
            "c_custkey",
            F.col("s_suppkey").alias("best_suppkey"),
            F.col("d").cast("int").alias("name_dist"),
        )
    )


_GOLDEN_RECORD_ORACLE = """
    WITH cand AS (
      SELECT c.c_custkey, s.s_suppkey,
             levenshtein(substr(c.c_name, 10), substr(s.s_name, 10)) AS d,
             CAST(floor(c.c_acctbal * 100 + 0.5) AS BIGINT) AS c_bal,
             CAST(floor(s.s_acctbal * 100 + 0.5) AS BIGINT) AS s_bal,
             c.c_nationkey AS nk, c.c_mktsegment
      FROM customer c JOIN supplier s ON c.c_nationkey = s.s_nationkey
    ),
    ranked AS (
      SELECT *,
             row_number() OVER (PARTITION BY c_custkey ORDER BY d, s_suppkey) AS rn
      FROM cand
    )
    SELECT c_custkey, s_suppkey, CAST(d AS INT) AS name_dist,
           CAST(nk AS BIGINT) AS nationkey,
           greatest(c_bal, s_bal) AS golden_acctbal_cents,
           CASE WHEN c_bal >= s_bal THEN 'customer' ELSE 'supplier' END
             AS acctbal_source,
           c_mktsegment AS golden_segment,
           CAST(2 AS BIGINT) AS n_sources
    FROM ranked WHERE rn = 1 AND d <= 1
"""


@register("linkage_golden_record", oracle=_GOLDEN_RECORD_ORACLE, tags=("linkage", "join"))
def linkage_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record survivorship (the MDM merge step AFTER matching):
    each resolved entity pair merges field-wise under explicit rules —
    balance keeps the larger value WITH provenance (which source won,
    customer on ties — survivorship must be deterministic and
    auditable), segment survives from the only source that has it, and
    the source count rides along for downstream trust scoring.

    Plan shape: the same blocked candidate join + per-left argmin as
    `linkage_best_match` (one equi exchange per side, bounded block
    window); the survivorship itself is pure row-local CASE arithmetic
    — merging adds ZERO shuffles to matching. Oracle recomputes the
    rules with DuckDB's independent levenshtein."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.col("c_nationkey").alias("nk"),
        F.substring("c_name", 10, 100).alias("c_id"),
        F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("long").alias("c_bal"),
        "c_mktsegment",
    )
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        F.col("s_nationkey").alias("nk"),
        F.substring("s_name", 10, 100).alias("s_id"),
        F.floor(F.col("s_acctbal") * 100 + F.lit(0.5)).cast("long").alias("s_bal"),
    )
    d = F.levenshtein("c_id", "s_id")
    cand = c.join(s, "nk").select(
        "c_custkey", "s_suppkey", d.alias("d"), "c_bal", "s_bal", "nk", "c_mktsegment"
    )
    w = Window.partitionBy("c_custkey").orderBy("d", "s_suppkey")
    best = cand.withColumn("rn", F.row_number().over(w)).filter(
        (F.col("rn") == 1) & (F.col("d") <= 1)
    )
    return best.select(
        "c_custkey",
        "s_suppkey",
        F.col("d").cast("int").alias("name_dist"),
        F.col("nk").cast("bigint").alias("nationkey"),
        F.greatest("c_bal", "s_bal").alias("golden_acctbal_cents"),
        F.when(F.col("c_bal") >= F.col("s_bal"), "customer")
        .otherwise("supplier")
        .alias("acctbal_source"),
        F.col("c_mktsegment").alias("golden_segment"),
        F.lit(2).cast("bigint").alias("n_sources"),
    )
