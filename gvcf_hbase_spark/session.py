"""SparkSession factory.

Centralizes the configs every query in this engine depends on:

- ``spark.sql.legacy.parquet.nanosAsLong=true`` — legacy-writer compat: a
  TIMESTAMP(NANOS) events file (rejected by Spark 4.1.2 by default with
  [PARQUET_TYPE_ILLEGAL]) reads as ``long`` nanoseconds under this flag,
  and ``sources.tables.with_event_time`` branches on that dtype. The
  actual fixtures carry timestamp[us], which needs no flag (SURVEY §1.2).
- UTC session timezone — deterministic timestamp arithmetic vs the DuckDB
  oracle.
- AQE on (skew-join splitting, partition coalescing, broadcast switch) —
  the runtime half of the 100 TB design (SURVEY §4).
- Arrow for pandas UDF exchange.

At 100 TB the same builder runs against a real cluster master; nothing here
is local-mode-specific except the default master string.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# Configs that are safe (and required) to apply to an externally provided
# session at runtime — all of these are runtime-settable SQLConfs.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # events/documents/embeddings are small dims at every SF; lineitem at
    # 100 TB shuffles on 32-ish partitions locally, cluster-sized via AQE.
    "spark.sql.shuffle.partitions": "32",
    # Recursive-CTE runaway guard, sized for this engine's data decades
    # rather than Spark's 1e6 default: sql_recursive_cte's ancestor walk
    # emits Σ depth(node) ≈ n·log2(n) rows (~3M at sf1, ~32M at sf10), so
    # 1e8 still trips on a genuinely runaway recursion while letting every
    # fixture decade run. Declared HERE as engine posture (r09) instead of
    # a mid-query conf mutation + eager-materialization workaround (the
    # r08-ADVICE shape), so the limit is uniform for every operator and
    # the recursion itself executes lazily on the query's own clock.
    "spark.sql.cteRecursionRowLimit": "100000000",
}


def one_compute_boundary(df: DataFrame) -> DataFrame:
    """The engine's one way to cut lineage: materialize ``df`` exactly once
    for several plan consumers, as ``localCheckpoint(eager=False)``.

    Operators cut where a shared subtree (an Arrow signature pass, an SSJoin
    truth side, the synthesized dosage grid, a round of an iterative loop)
    feeds BROADCAST exchanges or scalar aggregates, which AQE's runtime
    exchange reuse cannot dedupe (it reuses identical SHUFFLE exchanges
    only), or where a loop's lineage would otherwise grow every round.

    Not fully lazy: ``eager=False`` defers only the checkpoint write. The
    call itself runs ``physicalPlan.execute()``, which under AQE (the
    engine turns it on) materializes every upstream query stage at call
    time: a one-shuffle aggregate cut launches 1 job at the call with AQE
    on and 0 with it off. Broadcast exchanges start their jobs at
    ``execute()`` even without AQE. So a builder that cuts runs those
    stages before it returns, and a clock that times only the query's
    action misses them. Local and unreplicated: the blocks live on the executors
    and Spark's ContextCleaner drops them once the DataFrame is garbage,
    so nothing stays in the CacheManager for the session's life, as a
    ``persist`` would. The trade is fault tolerance: on a cluster a lost
    executor (or a dynamic-allocation scale-down) fails the job instead of
    recomputing the cut, which is why Spark's docs discourage
    localCheckpoint under dynamic allocation."""
    return df.localCheckpoint(eager=False)


# Confs that are engine *preference*, not engine *requirement*: applied to
# an externally provided session only when the caller has not already set
# them explicitly (ADVICE r09 — the relaxed recursion guard must not
# override a user's own, possibly stricter, limit in a shared session).
_SOFT_CONFS = {"spark.sql.cteRecursionRowLimit"}


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime confs to an existing session (e.g. the
    driver-harness session, which we don't construct). Best-effort: a conf
    that became static in a future Spark just logs and is skipped. Soft
    confs (see :data:`_SOFT_CONFS`) honor a pre-existing explicit value."""
    for k, v in RUNTIME_CONFS.items():
        try:
            if k in _SOFT_CONFS and spark.conf.get(k, None) is not None:
                continue  # explicitly set by the session owner — honor it
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - static conf on other versions
            pass
    return spark


def get_spark(app_name: str = "gvcf-hbase-spark", master: str | None = None) -> SparkSession:
    """Build (or fetch) the engine session. Tests and bench.py use this;
    the driver harness passes its own session, which goes through
    :func:`apply_runtime_confs` inside the table loader instead."""
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return apply_runtime_confs(spark)
