"""Graph analytics beyond connected components: triangle counting over
an edge list — the canonical "is this community real" signal on near-dup
pair graphs (a cluster whose pairs triangle-close is one duplicated
document; a star that doesn't is a hub artifact of a hot shingle).

The fixture graph is a deterministic ring-with-chords over customer keys
(edges (c, c+1) and (c, c+2) mod N), chosen because its triangle
structure is known in closed form (every consecutive triple closes —
exactly N triangles), so the oracle can rebuild and count it
independently with pure SQL joins. Production input is any (id_a, id_b)
pair table — dedup_near_minhash / dedup_containment output plugs in
directly.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from gvcf_hbase_spark.registry import register
from gvcf_hbase_spark.session import one_compute_boundary
from gvcf_hbase_spark.sources.tables import content_memo, load_table


def triangle_count(edges: DataFrame) -> DataFrame:
    """Count triangles in an undirected simple graph given as (u, v)
    pairs. Canonicalize u < v, then wedge-join: (a,b) ⋈ (b,c) builds
    every ordered wedge a<b<c, and a semi-join against the edge list
    closes it — each triangle counted exactly once via the total order.

    Scale shape: two equi-joins on single int keys; the wedge count is
    Σ_v deg(v)², so high-degree hubs are the hazard — the standard fix
    (orient edges from lower- to higher-degree endpoints, bounding wedge
    fan-out by arboricity) drops in here by replacing the u<v order with
    the degree order; the fixture graph has max degree 4, where the
    plain total order is already optimal."""
    # One-compute boundary (r10, guide §2.4): the canonical edge relation
    # feeds the two wedge sides AND the closing semi-join — three plan
    # consumers of the dedup'd edge list (measured 15 parquet scans, only
    # 3 ReusedExchange at sf1 before the boundary).
    e = one_compute_boundary(
        edges.select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    ab = e.select(F.col("u").alias("a"), F.col("v").alias("b"))
    bc = e.select(F.col("u").alias("b"), F.col("v").alias("c"))
    wedges = ab.join(bc, "b").select("a", "b", "c")
    closing = e.select(F.col("u").alias("a"), F.col("v").alias("c"))
    return wedges.join(closing, ["a", "c"], "left_semi").agg(
        F.count("*").alias("n_triangles")
    )


@register(
    "graph_triangle_count",
    oracle="""
    WITH ids AS (SELECT c_custkey AS id, count(*) OVER () AS n FROM customer),
    edges AS (
      SELECT least(id, (id + 1) % n) AS u, greatest(id, (id + 1) % n) AS v FROM ids
      UNION
      SELECT least(id, (id + 2) % n) AS u, greatest(id, (id + 2) % n) AS v FROM ids
    ),
    wedges AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM edges e1 JOIN edges e2 ON e1.v = e2.u
    )
    SELECT count(*) AS n_triangles
    FROM wedges w
    WHERE EXISTS (SELECT 1 FROM edges e WHERE e.u = w.a AND e.v = w.c)
    """,
    tags=("graph",),
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count over the deterministic ring-with-chords graph on
    the 0-based customer keys: ring edges (i, i+1 mod n) + chord edges
    (i, i+2 mod n) → exactly one triangle per vertex (closed form: n
    triangles for n ≥ 7, asserted in tests). The oracle rebuilds the
    same graph and counts with independent SQL joins, so wedge
    construction, canonical ordering, and closure semantics are all
    cross-checked — not just the final scalar's plausibility. (An
    earlier 1-based formula built a subtly broken ring that BOTH sides
    reproduced — the hash matched while the closed form didn't; the
    closed-form assertion is what catches that class of shared-blind-
    spot bug.)"""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_custkey").alias("id"))
    n = c.agg(F.count("*").alias("n"))
    ids = c.crossJoin(F.broadcast(n))
    ring = ids.select(F.col("id").alias("u"), ((F.col("id") + 1) % F.col("n")).alias("v"))
    chord = ids.select(
        F.col("id").alias("u"), ((F.col("id") + 2) % F.col("n")).alias("v")
    )
    return triangle_count(ring.unionByName(chord))


_PAGERANK_K = 3  # fixed iteration count (unrolled identically in the oracle)
# content_memo of the customer table: graph has dangling nodes, and node
# count (a literal in the plan: modulus, base rank, dangling split). Keyed
# on the data, not sf_dir alone: a regenerated dataset must re-probe, or a
# stale has_dangling=False would silently drop the dangling-mass term.
_PR_DANGLING_MEMO: dict[tuple, bool] = {}
_PR_N_MEMO: dict[tuple, int] = {}

_PR_EDGES = """
    ids AS (SELECT c_custkey AS id, count(*) OVER () AS n FROM customer),
    nodes AS (SELECT id, n FROM ids),
    edges AS (
      SELECT DISTINCT src, dst FROM (
        SELECT id AS src, (id + 1) % n AS dst FROM ids
        UNION ALL
        SELECT id AS src, id // 2 AS dst FROM ids
      ) WHERE src <> dst
    ),
    deg AS (SELECT src, count(*) AS od FROM edges GROUP BY 1)
"""

# Fixed-point mass scale (r09). Ranks are BIGINT multiples of 1/R of total
# mass and every step uses FLOOR division, so the recurrence is a
# deterministic integer function both engines implement identically — the
# sf1 float-ulp quantization-boundary demote (r08) is gone by construction.
# Resolution: 1 unit = n/R of the n-scaled rank (≤ 1.5e-5 even at sf10's
# 1.5M nodes); floor losses are < 3 units/node/step — invisible at the
# 1e-6 reporting grid.
_PR_SCALE = 10**12

_PR_STEP = f"""
    r{{next}} AS (
      SELECT nd.id, nd.n,
             CAST((15 * {_PR_SCALE}) // (100 * nd.n)
                  + (85 * coalesce(sum(p.r // deg.od), 0)) // 100 AS BIGINT) AS r
      FROM nodes nd
      LEFT JOIN edges e ON e.dst = nd.id
      LEFT JOIN r{{prev}} p ON p.id = e.src
      LEFT JOIN deg ON deg.src = e.src
      GROUP BY nd.id, nd.n
    )
"""

_PAGERANK_ORACLE = (
    "WITH "
    + _PR_EDGES
    + f", r0 AS (SELECT id, n, CAST({_PR_SCALE} // n AS BIGINT) AS r FROM nodes)"
    + "".join(
        "," + _PR_STEP.format(next=k + 1, prev=k) for k in range(_PAGERANK_K)
    )
    + f"""
    SELECT id, CAST((r * n) // 1000000 AS BIGINT) AS rank_scaled_1e6 FROM r{_PAGERANK_K}
"""
)


@register("graph_pagerank", oracle=_PAGERANK_ORACLE, tags=("graph", "iterative"))
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank (k=3, damping 0.85) over a deterministic
    directed fixture graph on the customer keys: ring edges i→(i+1) mod n
    plus funnel edges i→⌊i/2⌋ (self-loops dropped). The funnel map is
    deliberately NOT a permutation — low keys accumulate in-degree, so
    the stationary mass is non-uniform and the check is non-degenerate
    (a uniform-degree graph would converge to the uninformative 1/n
    everywhere). Ranks are reported ×n (≈1.0 scale) so 6-dp rounding
    keeps real resolution.

    Engine side is the genuine iterative dataflow — a Python loop of
    (contribution join on dst ⋈ rank ⋈ out-degree → groupBy(id) sum),
    the same shape GraphX/Pregel lowers to; the oracle unrolls the SAME
    k steps as chained SQL CTEs, so every iteration's join/aggregate
    semantics are independently recomputed. Scale: each iteration is
    one equi-join + one aggregate on the node key; rank and degree
    tables stay co-partitioned on id across iterations (one shuffle
    each per round, no growth), and the only driver scalar is n — the
    same single-aggregate-per-run posture as the CC convergence check.
    Dangling-node mass IS redistributed (the standard correction):
    each round sums the rank sitting on out-degree-0 nodes into a
    1-row aggregate that broadcast-crossJoins back into the update —
    never a driver collect. On this fixture the dangling set is empty
    (every node keeps a ring out-edge) so the term is exactly 0 and
    the unrolled-CTE oracle is unchanged, but the dataflow is the one
    a real web graph needs.

    Cross-engine numeric posture (r09, supersedes the r08 float note):
    the recurrence is FIXED-POINT — ranks are BIGINT multiples of
    1/10^12 of total mass and every step floor-divides — so both engines
    compute the identical integer sequence and the oracle is exact at
    every SF. The r08 sf1 demote (a float-ulp landing on a 6dp
    quantization boundary, 5.680313 vs 5.680312 at 10× nodes) is gone by
    construction, not by widened tolerance; agreement with true float
    PageRank is pinned by the numpy power-iteration test (fixed-point
    error < 1e-7 on the n-scaled rank)."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_custkey").alias("id"))
    # n and the dangling-set existence are properties of the (static)
    # fixture graph, not of the iteration — memoize both per table version
    # so repeated builds (bench best-of-N, warm-up) don't re-pay the probe
    # jobs inside the timed window (r05 verdict action 7).
    n = content_memo(_PR_N_MEMO, sf_dir, "customer", c.count)
    nodes = c
    ring = nodes.select(F.col("id").alias("src"), ((F.col("id") + 1) % n).alias("dst"))
    funnel = nodes.select(
        F.col("id").alias("src"), F.floor(F.col("id") / 2).cast("long").alias("dst")
    )
    # No `distinct` needed for n ≥ 3 (r10, one exchange saved): a ring edge
    # (i, (i+1) mod n) can only coincide with the funnel edge (i, i//2) if
    # i//2 == i+1 (impossible for i ≥ 0) or, at the wrap i = n-1, if
    # (n-1)//2 == 0, i.e. n ≤ 2 — so the generator provably emits no
    # duplicate pairs. A degenerate n < 3 keeps the dedup for safety; a
    # production edge list (arbitrary input pairs) would always keep it.
    edges = ring.unionByName(funnel).filter(F.col("src") != F.col("dst"))
    if n < 3:  # pragma: no cover - degenerate fixture guard
        edges = edges.distinct()
    # Out-degree via a window over the SAME src-keyed exchange the rounds
    # join on (r10; replaces distinct→groupBy→join-back = 3 exchanges with
    # 1): the static (edges ⋈ out-degree) side is checkpointed ONCE so each
    # round's plan starts from the materialized edge table — same
    # truncation discipline as dedup_cluster_cc. rank is NOT checkpointed
    # per round any more (r10): with the lean union-of-zero-rows round
    # shape below, the whole k=3 recurrence is one shallow plan that
    # Catalyst plans ONCE at action time — the per-round checkpoints were
    # costing a py4j/plan/AQE-materialization round-trip each at build
    # (same-session A/B: 1.27 s with round ckpts vs 1.02-1.08 s without,
    # sf0.1; the r09 A/B that measured no-ckpt flat predates the lean
    # round shape). eager=False: nothing is pre-materialized off the
    # measured build+action window (bench times iterative keys as
    # build+action precisely because AQE materializes checkpoint stages
    # at build).
    contrib_src = (
        edges.withColumn(
            "od", F.count(F.lit(1)).over(Window.partitionBy("src"))
        )
        .transform(one_compute_boundary)
    )
    # Static dangling set (out-degree 0). One cheap existence probe
    # specializes the plan: when the graph HAS no dangling nodes (this
    # fixture — every node keeps a ring out-edge) the per-round mass
    # aggregate would fold a provably-zero term into every update, so it —
    # and the dangling relation itself (r10) — is elided; when dangling
    # nodes exist, each round sums their rank into a 1-row aggregate that
    # broadcast-crossJoins back into the update — never a driver collect.
    # Same data-dependent plan specialization as the broadcast-vs-blocked
    # dispatch in similarity.
    anti = nodes.join(contrib_src.select(F.col("src").alias("id")), "id", "left_anti")
    has_dangling = content_memo(
        _PR_DANGLING_MEMO, sf_dir, "customer", lambda: not anti.isEmpty()
    )
    dangling = anti.transform(one_compute_boundary) if has_dangling else None
    # Fixed-point recurrence (r09): ranks are BIGINT multiples of
    # 1/_PR_SCALE of total mass, every step floor-divides (`div`), and the
    # oracle unrolls the SAME integer recurrence — cross-engine equality is
    # exact at every SF (the r08 sf1 demote was a float-ulp 6dp-boundary
    # case; integers have no boundary). Floor losses are < 3 units/node/
    # step at 1e-12 resolution — invisible at the 1e-6 reporting grid (the
    # numpy power-iteration test pins agreement with float PageRank).
    base = (15 * _PR_SCALE) // (100 * n)
    rank = nodes.select("id", F.lit(_PR_SCALE // n).cast("long").alias("r"))
    for _ in range(_PAGERANK_K):
        # Inflow via union-of-zero-rows (r10): every node contributes a
        # zero row into the SAME dst-keyed aggregate, so nodes with no
        # in-edges still appear — replacing the per-round `nodes LEFT JOIN
        # contribs` (one join + one exchange per round) with plain rows in
        # an exchange the round already pays. Every edge dst is a node by
        # construction ((i+1) mod n and i//2 are in [0, n)), so the union
        # adds exactly the missing groups and nothing else; the integer
        # recurrence is unchanged (sum ∪ {0} ≡ coalesce(sum, 0)).
        contribs = (
            contrib_src.join(rank.withColumnRenamed("id", "src"), "src")
            .select(F.col("dst").alias("id"), F.expr("r div od").alias("part"))
            .unionByName(rank.select("id", F.lit(0).cast("long").alias("part")))
            .groupBy("id")
            .agg(F.sum("part").alias("inflow"))
        )
        if has_dangling:
            dang = rank.join(dangling, "id", "leftsemi").agg(
                F.coalesce(F.sum("r"), F.lit(0)).cast("long").alias("dm")
            )
            upd = contribs.crossJoin(F.broadcast(dang))
            inflow = F.col("inflow") + F.expr(f"dm div CAST({n} AS BIGINT)")
        else:
            upd = contribs
            inflow = F.col("inflow")
        rank = upd.withColumn("inflow_t", inflow).select(
            "id",
            (F.lit(base) + F.expr("(85 * inflow_t) div 100"))
            .cast("long")
            .alias("r"),
        )
    return rank.select(
        "id",
        F.expr(f"(r * CAST({n} AS BIGINT)) div 1000000")
        .cast("long")
        .alias("rank_scaled_1e6"),
    )


_DEGREE_HIST_ORACLE = """
    WITH e AS (
      SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
    ),
    d AS (
      SELECT s, count(*) AS degree FROM e GROUP BY s
    )
    SELECT degree,
           CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(min(s) AS BIGINT) AS min_node
    FROM d GROUP BY degree
"""


@register("graph_degree_histogram", oracle=_DEGREE_HIST_ORACLE, tags=("graph", "agg"))
def graph_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the supplier→part bipartite graph: how
    many distinct parts each supplier ships, histogrammed — the
    first-look shape check on any graph (power law vs uniform, hub
    detection) and the skew forecast for every downstream per-node
    operation (a 10⁷-degree hub means salting before a neighborhood
    join).

    Three strictly collapsing hash aggregates — distinct edges, per-node
    degree, histogram — each stage's output is no larger than its
    input's key space, so the full-data shuffle happens exactly once
    (the DISTINCT). The min_node witness per bucket makes the hash
    compare sensitive to node identity, not just bucket sizes. Pure
    integer pipeline; no float anywhere.
    """
    li = load_table(spark, sf_dir, "lineitem")
    edges = li.select(F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p")).distinct()
    deg = edges.groupBy("s").agg(F.count("*").alias("degree"))
    return deg.groupBy("degree").agg(
        F.count("*").alias("n_nodes"),
        F.min("s").alias("min_node"),
    )


_BIPARTITE_PROJ_ORACLE = """
    WITH e AS (
      SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
    ),
    deg AS (
      SELECT p, count(*) AS d FROM e GROUP BY p
    ),
    kept AS (
      SELECT e.p, e.s FROM e JOIN deg USING (p) WHERE deg.d <= 50
    )
    SELECT a.s AS s1, b.s AS s2, CAST(count(*) AS BIGINT) AS weight
    FROM kept a JOIN kept b ON a.p = b.p AND a.s < b.s
    GROUP BY a.s, b.s
    HAVING count(*) >= 2
"""


@register("graph_bipartite_projection", oracle=_BIPARTITE_PROJ_ORACLE, tags=("graph",))
def graph_bipartite_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite → unipartite projection: suppliers become connected
    with weight = number of distinct parts they both ship (kept when
    ≥ 2) — the co-occurrence graph construction behind collaborator
    detection, item-item similarity, and "users who bought X" edges.

    The projection self-join explodes quadratically in each part's
    supplier count (Σ d² over parts), and a single hub part — one
    carried by every supplier — costs |S|² alone. The standard
    mitigation is built in: a degree cap drops parts with > 50
    suppliers BEFORE the pair join (a part that popular contributes
    ~no signal to co-occurrence anyway — the same reasoning as
    stop-shingle dropping in LSH banding). The cap bound makes worst-
    case cost ≤ 50 × |kept edges| pair rows, linear in the edge list.
    Pipeline: distinct → degree agg → semi filter → per-part equi-join
    (never cross) → count agg; the pair space collapses map-side
    before the final shuffle. HAVING ≥ 2 keeps only repeated
    co-occurrence, the graph a clustering pass would actually consume.
    """
    li = load_table(spark, sf_dir, "lineitem")
    e = li.select(F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")).distinct()
    deg = e.groupBy("p").agg(F.count("*").alias("d"))
    # Pin the pair stage's parallelism: the degree filter rides a broadcast
    # join, so without this the pair explosion and its partial aggregate
    # inherit the SCAN's partitioning (3 tasks on the 10 MB local fixture —
    # the r04 bench regression). Hash-repartitioning on p is the
    # co-location the self-join needs anyway, so no extra exchange survives
    # at scale, and both join sides reuse the one exchange (ReuseExchange
    # replaced the r04 localCheckpoint — measured faster and keeps the
    # plan declarative for AQE).
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    kept = e.join(deg.filter(F.col("d") <= 50).select("p"), "p").repartition(
        n_shuffle, F.col("p")
    )
    a = kept.alias("a")
    b = kept.alias("b")
    return (
        a.join(b, (F.col("a.p") == F.col("b.p")) & (F.col("a.s") < F.col("b.s")))
        .groupBy(F.col("a.s").alias("s1"), F.col("b.s").alias("s2"))
        .agg(F.count("*").alias("weight"))
        .filter(F.col("weight") >= 2)
    )


_JACCARD_NEIGHBORS_ORACLE = """
    WITH e AS (
      SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
    ),
    deg AS (SELECT p, count(*) AS d FROM e GROUP BY p),
    kept AS (SELECT e.p, e.s FROM e JOIN deg USING (p) WHERE deg.d <= 50),
    sdeg AS (SELECT s, count(*) AS ds FROM kept GROUP BY s),
    common AS (
      SELECT a.s AS s1, b.s AS s2, count(*) AS c
      FROM kept a JOIN kept b ON a.p = b.p AND a.s < b.s
      GROUP BY a.s, b.s
      HAVING count(*) >= 2
    )
    SELECT s1, s2,
           CAST(floor(CAST(c AS DOUBLE) / (d1.ds + d2.ds - c) * 1e6 + 0.5) AS BIGINT)
             AS jaccard_1e6
    FROM common
    JOIN sdeg d1 ON d1.s = common.s1
    JOIN sdeg d2 ON d2.s = common.s2
"""


@register("graph_jaccard_neighbors", oracle=_JACCARD_NEIGHBORS_ORACLE, tags=("graph",))
def graph_jaccard_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighbor-set Jaccard similarity between supplier nodes of the
    part–supplier bipartite graph — the classic link-prediction /
    entity-similarity score: |N(a)∩N(b)| / |N(a)∪N(b)| with the union
    computed as d(a)+d(b)−common, so neighbor SETS are never shipped.

    Pipeline piggybacks on the bipartite-projection shape: distinct
    edges → hub cap (parts with > 50 suppliers dropped before the pair
    join — the Σd² bound) → per-part equi-join counts the intersection →
    two broadcast-sized degree joins supply |N(x)|. The pair join is the
    only super-linear stage and the cap bounds it linear in edges; the
    degree table is one row per supplier (AQE broadcasts it on its own).
    Pairs with < 2 shared parts are cut before the degree joins — the
    same sparsification a similarity-graph clustering pass would demand.
    """
    li = load_table(spark, sf_dir, "lineitem")
    e = li.select(F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")).distinct()
    deg = e.groupBy("p").agg(F.count("*").alias("d"))
    # `kept` feeds THREE consumers (both pair-join sides + the degree
    # aggregate). Hash-repartition on p pins the pair stage's parallelism
    # (the broadcast degree filter would otherwise leave it on the scan's
    # 3 fixture partitions) and ReuseExchange shares the one shuffle across
    # all consumers — same rationale as the projection op above.
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    kept = e.join(deg.filter(F.col("d") <= 50).select("p"), "p").repartition(
        n_shuffle, F.col("p")
    )
    sdeg = kept.groupBy("s").agg(F.count("*").alias("ds"))
    a, b = kept.alias("a"), kept.alias("b")
    common = (
        a.join(b, (F.col("a.p") == F.col("b.p")) & (F.col("a.s") < F.col("b.s")))
        .groupBy(F.col("a.s").alias("s1"), F.col("b.s").alias("s2"))
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= 2)
    )
    d1 = sdeg.select(F.col("s").alias("s1"), F.col("ds").alias("ds1"))
    d2 = sdeg.select(F.col("s").alias("s2"), F.col("ds").alias("ds2"))
    jac = F.col("c").cast("double") / (F.col("ds1") + F.col("ds2") - F.col("c"))
    return (
        common.join(d1, "s1")
        .join(d2, "s2")
        .select(
            "s1",
            "s2",
            F.floor(jac * 1e6 + F.lit(0.5)).cast("bigint").alias("jaccard_1e6"),
        )
    )


_KHOP_K = 3

_KHOP_ORACLE = f"""
    WITH RECURSIVE ids AS (SELECT c_custkey AS id, count(*) OVER () AS n FROM customer),
    e AS (
      SELECT least(id, (id + 1) % n) AS u, greatest(id, (id + 1) % n) AS v FROM ids
      UNION
      SELECT least(id, (id + 2) % n) AS u, greatest(id, (id + 2) % n) AS v FROM ids
    ),
    adj AS (SELECT u AS src, v AS dst FROM e UNION ALL SELECT v, u FROM e),
    reach(seed, node, hop) AS (
      SELECT id, id, 0 FROM ids WHERE id % 97 = 0
      UNION
      SELECT r.seed, a.dst, r.hop + 1
      FROM reach r JOIN adj a ON a.src = r.node
      WHERE r.hop < {_KHOP_K}
    )
    SELECT seed, CAST(count(DISTINCT node) AS BIGINT) AS n_reached
    FROM reach GROUP BY seed
"""


@register("graph_khop_reach", oracle=_KHOP_ORACLE, tags=("graph", "iterative"))
def graph_khop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source k-hop reachability (k=3) over the ring-with-chords
    fixture graph: for every seed (keys ≡ 0 mod 97), how many nodes lie
    within ≤3 hops — the neighborhood-size primitive behind "blast
    radius" queries on dedup-cluster graphs and feature graphs.

    Engine side is frontier-style BFS as iterative dataflow: state is
    the (seed, node) visited set; each round joins the current frontier
    against the adjacency list, anti-joins the visited set, and unions —
    all set algebra on int pairs, co-partitioned on node for the join
    and on (seed, node) for the dedup. k is a fixed plan-unroll (3
    joins), no driver loop state beyond the DataFrame lineage, and the
    frontier is checkpoint-truncated per round like every iterative op
    here. Multi-source BFS from s seeds costs s× the state of one BFS —
    bounded here by the ball size (≤ 2k·deg per seed on a degree-4
    graph); at 100 TB the shape is unchanged because every round is one
    equi-join + one distinct on integers. The oracle replays the SAME
    expansion as a recursive CTE with a hop bound and counts distinct
    reached nodes per seed."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_custkey").alias("id"))
    n = c.count()
    e = (
        c.select(
            F.least(F.col("id"), (F.col("id") + 1) % n).alias("u"),
            F.greatest(F.col("id"), (F.col("id") + 1) % n).alias("v"),
        )
        .unionByName(
            c.select(
                F.least(F.col("id"), (F.col("id") + 2) % n).alias("u"),
                F.greatest(F.col("id"), (F.col("id") + 2) % n).alias("v"),
            )
        )
        .distinct()
    )
    adj = (
        e.select(F.col("u").alias("src"), F.col("v").alias("dst"))
        .unionByName(e.select(F.col("v").alias("src"), F.col("u").alias("dst")))
        .transform(one_compute_boundary)
    )
    seeds = c.filter(F.col("id") % 97 == 0)
    visited = seeds.select(F.col("id").alias("seed"), F.col("id").alias("node"))
    frontier = visited
    for _ in range(_KHOP_K):
        nxt = (
            frontier.join(adj, frontier.node == adj.src)
            .select("seed", F.col("dst").alias("node"))
            .distinct()
        )
        frontier = one_compute_boundary(nxt.join(visited, ["seed", "node"], "left_anti"))
        visited = one_compute_boundary(visited.unionByName(frontier))
    return visited.groupBy("seed").agg(F.count("*").cast("bigint").alias("n_reached"))


_SSSP_K = 3

_SSSP_EDGES = """
    ids AS (SELECT c_custkey AS id, count(*) OVER () AS n FROM customer),
    edges AS (
      SELECT src, dst, (src + dst) % 7 + 1 AS w FROM (
        SELECT id AS src, (id + 1) % n AS dst FROM ids
        UNION
        SELECT id AS src, id // 2 AS dst FROM ids
      ) WHERE src <> dst
    )
"""

_SSSP_STEP = """
    d{next} AS (
      SELECT node, min(dist) AS dist FROM (
        SELECT node, dist FROM d{prev}
        UNION ALL
        SELECT e.dst AS node, p.dist + e.w AS dist
        FROM d{prev} p JOIN edges e ON e.src = p.node
      ) GROUP BY node
    )
"""

_SSSP_ORACLE = (
    "WITH "
    + _SSSP_EDGES
    + ", d0 AS (SELECT 0 AS node, CAST(0 AS BIGINT) AS dist)"
    + "".join("," + _SSSP_STEP.format(next=k + 1, prev=k) for k in range(_SSSP_K))
    + f"""
    SELECT CAST(node AS BIGINT) AS node, CAST(dist AS BIGINT) AS dist
    FROM d{_SSSP_K}
"""
)


@register("graph_sssp_bounded", oracle=_SSSP_ORACLE, tags=("graph", "iterative"))
def graph_sssp_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source shortest paths, k=3 Bellman-Ford rounds, over the
    directed ring+funnel fixture graph (same topology as
    `graph_pagerank`) with deterministic integer weights
    (src+dst) mod 7 + 1 — min-plus iteration, the third distinct
    iterative-dataflow algebra in the graph family (reachability = BFS,
    mass = pagerank, min-plus = this).

    Each round relaxes every edge out of the currently-reached set:
    union(previous distances, dist[src]+w via one equi-join on src) →
    min per node. Both legs partition on the node key, the reached set
    grows monotonically and distances only tighten (safe to truncate
    lineage per round), and the output after k rounds is exactly the
    ≤k-hop shortest distance — a contract the oracle replays by
    unrolling the same three relaxation steps as CTEs. At scale this is
    the textbook Pregel lowering: iteration cost = one shuffle of the
    (node, dist) state, state size = reached nodes, no driver-side data
    beyond n."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_custkey").alias("id"))
    n = c.count()
    ring = c.select(F.col("id").alias("src"), ((F.col("id") + 1) % n).alias("dst"))
    funnel = c.select(
        F.col("id").alias("src"), F.floor(F.col("id") / 2).cast("long").alias("dst")
    )
    edges = (
        ring.unionByName(funnel)
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .select("src", "dst", ((F.col("src") + F.col("dst")) % 7 + 1).alias("w"))
        .transform(one_compute_boundary)
    )
    dist = c.filter(F.col("id") == 0).select(
        F.col("id").alias("node"), F.lit(0).cast("bigint").alias("dist")
    )
    for _ in range(_SSSP_K):
        relaxed = (
            dist.join(edges, dist.node == edges.src)
            .select(F.col("dst").alias("node"), (F.col("dist") + F.col("w")).alias("dist"))
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .transform(one_compute_boundary)
        )
    return dist.select(
        F.col("node").cast("bigint").alias("node"), F.col("dist").cast("bigint").alias("dist")
    )


# Path-doubling rounds: k doublings cover depth <= 2^k, so 5 rounds
# handle forests of up to 2^32 nodes (this fixture's depth is log2 n).
_HIER_DOUBLINGS = 5

_HIER_ORACLE = """
    WITH RECURSIVE parents AS (
      SELECT c_custkey AS node, c_custkey // 2 AS parent FROM customer
    ),
    walk(node, anc, depth) AS (
      SELECT node, node, 0 FROM parents
      UNION ALL
      SELECT w.node, p.parent, w.depth + 1
      FROM walk w JOIN parents p ON p.node = w.anc
      WHERE w.anc > 0
    ),
    agg AS (
      SELECT node,
             CAST(max(depth) AS BIGINT) AS depth,
             CAST(min(CASE WHEN anc > 0 AND anc // 2 = 0 THEN anc END) AS BIGINT)
               AS root_child
      FROM walk GROUP BY node
    )
    SELECT node, depth, root_child FROM agg
"""


@register("hierarchy_flatten_bounded", oracle=_HIER_ORACLE, tags=("graph", "iterative"))
def hierarchy_flatten_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchy flattening — the WITH RECURSIVE walk (which Spark 4.1
    SQL runs one level per round, see `sql_recursive_cte`) expressed as
    bounded path-doubling dataflow: every node of a
    parent-table forest (parent = key÷2, root 0) walks to the root,
    reporting its depth and its top-level subtree (the child of the
    root it descends from — the 'division' column an org-chart or BOM
    rollup groups by).

    The parent relation is joined AS A TABLE (the engine never exploits
    that this fixture's parent is computable). This is genuine PATH
    DOUBLING (pointer jumping): the state table state[v] = (ancestor
    2^k steps up — clamped at the root, actual steps advanced, the
    root-child if that segment crossed it) composes WITH ITSELF each
    round — state'[v] = state[v] ∘ state[state[v].anc] via one left
    equi-join on the ancestor key — so k rounds cover depth ≤ 2^k:
    5 rounds for a 4-billion-node forest, vs. one-join-per-level for
    the naive walk. Rows already at the root miss the join (node 0 is
    not in the table) and pass through as identity; per-round lineage
    truncation like every iterative op here. The oracle replays the
    walk one level at a time as a recursive CTE, so the doubled
    composition's algebra (depth addition, root-child coalesce) is
    independently recomputed. Scale: state is 4 ints per node, each
    round shuffles on one int key — O(log depth) rounds total."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_custkey").alias("node"))
    state = c.select(
        "node",
        F.floor(F.col("node") / 2).cast("long").alias("anc"),
        F.when(F.col("node") > 0, 1).otherwise(0).cast("bigint").alias("depth"),
        F.when(
            (F.col("node") > 0) & (F.floor(F.col("node") / 2) == 0), F.col("node")
        ).cast("bigint").alias("root_child"),
    ).transform(one_compute_boundary)
    for _ in range(_HIER_DOUBLINGS):
        hop = state.select(
            F.col("node").alias("m_node"),
            F.col("anc").alias("m_anc"),
            F.col("depth").alias("m_depth"),
            F.col("root_child").alias("m_rc"),
        )
        state = (
            state.join(hop, state.anc == hop.m_node, "left")
            .select(
                "node",
                F.coalesce("m_anc", "anc").alias("anc"),
                (F.col("depth") + F.coalesce("m_depth", F.lit(0))).cast("bigint").alias("depth"),
                F.coalesce("root_child", "m_rc").alias("root_child"),
            )
            .transform(one_compute_boundary)
        )
    # Convergence assertion: k doublings cover depth <= 2^k, so a row still
    # pointing at a REAL node means the forest is deeper than the bound —
    # fail loudly instead of silently returning partial ancestors
    # (understated depth, NULL root_child). A row whose anc key is NOT in
    # the node table is a DANGLING parent pointer: standard forest
    # semantics treat that node's chain as an orphan-rooted tree (the walk
    # has provably stalled — the composition join passes it through as
    # identity — so it IS converged; depth counts the steps taken within
    # the table and root_child stays NULL unless the chain crossed root 0).
    # Surfaced at the sf1 gate (r08): replica-offset customer keys leave
    # gaps, so computed parents of replica nodes dangle; contiguous-key
    # fixtures (sf0.001–sf0.1) have no orphans and are bit-identical to
    # the previous behavior. One cheap limit-1 semi-join probe.
    unconverged = state.filter(F.col("anc") > 0).join(
        c.select(F.col("node").alias("anc")), "anc", "left_semi"
    )
    if not unconverged.isEmpty():
        raise ValueError(
            f"hierarchy_flatten_bounded: forest deeper than 2^{_HIER_DOUBLINGS}; "
            "raise _HIER_DOUBLINGS (each extra round doubles the covered depth)"
        )
    return state.select("node", "depth", "root_child")


_CLUSTERING_ORACLE = """
    WITH e0 AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
    deg0 AS (SELECT p, count(*) AS d FROM e0 GROUP BY p),
    kept AS (SELECT e0.p, e0.s FROM e0 JOIN deg0 USING (p) WHERE deg0.d <= 50),
    edges AS (
      SELECT DISTINCT least(a.s, b.s) AS u, greatest(a.s, b.s) AS v
      FROM kept a JOIN kept b USING (p) WHERE a.s < b.s
    ),
    tri AS (
      SELECT w.a, w.b, w.c
      FROM (
        SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM edges e1 JOIN edges e2 ON e1.v = e2.u
      ) w JOIN edges e3 ON e3.u = w.a AND e3.v = w.c
    ),
    corners AS (
      SELECT a AS node FROM tri UNION ALL
      SELECT b FROM tri UNION ALL
      SELECT c FROM tri
    ),
    tcount AS (SELECT node, CAST(count(*) AS BIGINT) AS t FROM corners GROUP BY node),
    degs AS (
      SELECT node, CAST(count(*) AS BIGINT) AS d
      FROM (SELECT u AS node FROM edges UNION ALL SELECT v FROM edges)
      GROUP BY node
    )
    SELECT degs.node, degs.d, COALESCE(tcount.t, 0) AS n_triangles,
           CAST(floor(2.0 * COALESCE(tcount.t, 0)
                      / (CAST(degs.d AS DOUBLE) * (degs.d - 1)) * 1e6 + 0.5)
                AS BIGINT) AS clustering_1e6
    FROM degs LEFT JOIN tcount USING (node)
    WHERE degs.d >= 2
"""


@register("graph_clustering_coefficient", oracle=_CLUSTERING_ORACLE, tags=("graph",))
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per node — 2·triangles(v) / (deg(v)
    choose 2)·2 — on the supplier co-supply graph (suppliers connected
    when they ship a common part, hub parts capped at degree 50 exactly
    like `graph_jaccard_neighbors`). The per-node companion of
    `graph_triangle_count`'s global readout: community tightness,
    spam-graph detection, feature engineering for node classifiers.

    Triangles enumerate once under the total order (wedge equi-join +
    closing equi-join, the same shape as the global count but INNER so
    each triangle materializes once), thencredit all three corners via
    a 3-way unioned projection and ONE hash aggregate — never a per-node
    neighborhood intersection. All joins are single-int-key equi-joins;
    the wedge fan-out Σ deg² is the scale hazard and the degree-ordered
    orientation (see `triangle_count`) is the documented fix. Counts
    stay int64; the coefficient is one float ratio per output row,
    quantized 1e-6."""
    li = load_table(spark, sf_dir, "lineitem")
    e0 = li.select(F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")).distinct()
    deg0 = e0.groupBy("p").agg(F.count("*").alias("d"))
    kept = one_compute_boundary(e0.join(deg0.filter(F.col("d") <= 50).select("p"), "p"))
    a, b = kept.alias("a"), kept.alias("b")
    edges = (
        a.join(b, "p")
        .filter(F.col("a.s") < F.col("b.s"))
        .select(F.col("a.s").alias("u"), F.col("b.s").alias("v"))
        .distinct()
        .transform(one_compute_boundary)  # edges feed 5 consumers below
    )
    ab = edges.select(F.col("u").alias("a"), F.col("v").alias("b"))
    bc = edges.select(F.col("u").alias("b"), F.col("v").alias("c"))
    closing = edges.select(F.col("u").alias("a"), F.col("v").alias("c"))
    tri = ab.join(bc, "b").join(closing, ["a", "c"]).select("a", "b", "c")
    corners = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
    )
    tcount = corners.groupBy("node").agg(F.count("*").alias("t"))
    degs = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    coef = F.floor(
        2.0
        * F.col("n_triangles")
        / (F.col("d").cast("double") * (F.col("d") - 1))
        * 1e6
        + F.lit(0.5)
    ).cast("bigint")
    return (
        degs.join(tcount, "node", "left")
        .select(
            "node",
            F.col("d").cast("bigint").alias("d"),
            F.coalesce(F.col("t"), F.lit(0)).cast("bigint").alias("n_triangles"),
        )
        .filter(F.col("d") >= 2)
        .select("node", "d", "n_triangles", coef.alias("clustering_1e6"))
    )


_KCORE_K = 3
_KCORE_ROUNDS = 6

def _kcore_peel_sql() -> str:
    """Unrolled k-core peel: each round keeps nodes whose degree in the
    surviving subgraph is >= k. Same bounded-iteration idiom as
    `hierarchy_flatten_bounded` — the fixture graph's peel reaches its
    fixpoint well inside the unroll (pinned by a semantic test). Each
    round's node set is MATERIALIZED: every round reads the previous one
    four times, so an inlined CTE grows 4^rounds and spilled >6 GB of
    DuckDB temp at sf0.001."""
    sql = """
    WITH e0 AS MATERIALIZED (
      SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
    ),
    pdeg AS (SELECT p, count(*) AS d FROM e0 GROUP BY p),
    kept AS (SELECT e0.p, e0.s FROM e0 JOIN pdeg USING (p) WHERE pdeg.d <= 50),
    edges AS MATERIALIZED (
      SELECT DISTINCT least(a.s, b.s) AS u, greatest(a.s, b.s) AS v
      FROM kept a JOIN kept b USING (p) WHERE a.s < b.s
    ),
    n0 AS MATERIALIZED (SELECT u AS node FROM edges UNION SELECT v FROM edges)
    """
    prev = "n0"
    for r in range(1, _KCORE_ROUNDS + 1):
        sql += f""",
    d{r} AS (
      SELECT node, count(*) AS d FROM (
        SELECT e.u AS node FROM edges e
        JOIN {prev} a ON a.node = e.u JOIN {prev} b ON b.node = e.v
        UNION ALL
        SELECT e.v FROM edges e
        JOIN {prev} a ON a.node = e.u JOIN {prev} b ON b.node = e.v
      ) GROUP BY node
    ),
    n{r} AS MATERIALIZED (SELECT node FROM d{r} WHERE d >= {_KCORE_K})
    """
        prev = f"n{r}"
    sql += f"""
    SELECT d.node, CAST(d.d AS BIGINT) AS core_degree
    FROM d{_KCORE_ROUNDS} d JOIN n{_KCORE_ROUNDS} n USING (node)
    """
    return sql


@register("graph_kcore_bounded", oracle=_kcore_peel_sql(), tags=("graph", "iterative"))
def graph_kcore_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (k=3) of the supplier co-supply graph by
    bounded iterative peeling: repeatedly drop nodes with degree < k in
    the surviving subgraph — the densest-region extractor behind spam
    rings, community seeds and graph sampling. Six unrolled rounds; the
    fixture peel reaches its fixpoint earlier (a test proves round 6
    changes nothing), and the streaming-fixpoint upgrade is the same
    loop under a driver-side convergence check on a 1-row count.

    Each round is two semi-join-shaped equi-joins of the (checkpointed
    once) edge list against the surviving node set plus one degree
    aggregate — node-key shuffles whose input SHRINKS monotonically;
    Spark plans each round independently so AQE right-sizes the
    shrinking exchanges. Survivors carry their in-core degree, all
    exact ints."""
    li = load_table(spark, sf_dir, "lineitem")
    e0 = li.select(F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")).distinct()
    pdeg = e0.groupBy("p").agg(F.count("*").alias("d"))
    kept = e0.join(pdeg.filter(F.col("d") <= 50).select("p"), "p")
    a, b = kept.alias("a"), kept.alias("b")
    edges = (
        a.join(b, "p")
        .filter(F.col("a.s") < F.col("b.s"))
        .select(F.col("a.s").alias("u"), F.col("b.s").alias("v"))
        .distinct()
        .transform(one_compute_boundary)  # consumed 2x per round x 6 rounds
    )
    nodes = (
        edges.select(F.col("u").alias("node"))
        .union(edges.select(F.col("v").alias("node")))
        .distinct()
    )
    deg = None
    for _ in range(_KCORE_ROUNDS):
        na = nodes.select(F.col("node").alias("u"))
        nb = nodes.select(F.col("node").alias("v"))
        live = edges.join(na, "u").join(nb, "v")
        deg = (
            live.select(F.col("u").alias("node"))
            .unionAll(live.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count("*").alias("d"))
        )
        nodes = one_compute_boundary(deg.filter(F.col("d") >= _KCORE_K).select("node"))
    return deg.join(nodes, "node").select(
        "node", F.col("d").cast("bigint").alias("core_degree")
    ).filter(F.col("core_degree") >= _KCORE_K)


_RESOURCE_ALLOCATION_ORACLE = """
    WITH e AS (
      SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
    ),
    deg AS (SELECT p, count(*) AS d FROM e GROUP BY p),
    kept AS (SELECT e.p, e.s, deg.d FROM e JOIN deg USING (p) WHERE deg.d <= 50)
    SELECT a.s AS s1, b.s AS s2,
           CAST(count(*) AS BIGINT) AS n_common,
           CAST(sum(CAST(floor(1000000.0 / a.d + 0.5) AS BIGINT)) AS BIGINT)
             AS ra_1e6
    FROM kept a JOIN kept b ON a.p = b.p AND a.s < b.s
    GROUP BY a.s, b.s
    HAVING count(*) >= 2
"""


@register("graph_resource_allocation", oracle=_RESOURCE_ALLOCATION_ORACLE, tags=("graph",))
def graph_resource_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resource-allocation link prediction: candidate supplier pairs
    score Σ 1/deg(p) over their common parts — common neighbors
    inversely weighted by how promiscuous each shared neighbor is
    (Zhou-Lü-Zhang's RA index; the rational-arithmetic sibling of
    Adamic–Adar, whose 1/ln(deg) needs a transcendental that is not
    correctly-rounded-portable across engines). Each part's 1e6-scaled
    contribution quantizes to an int BEFORE the sum (quantize-then-sum,
    SURVEY §5.4), so combine order can't move a bit.

    Scale: same Σd²-bounded shape as `graph_bipartite_projection` —
    degree cap BEFORE the per-part pair join keeps worst case ≤ 50×
    |edges| pair rows, and the degree rides the kept edge list so the
    pair join needs no extra lookup join."""
    li = load_table(spark, sf_dir, "lineitem")
    e = li.select(F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")).distinct()
    deg = e.groupBy("p").agg(F.count("*").alias("d"))
    kept = one_compute_boundary(e.join(deg.filter(F.col("d") <= 50), "p"))
    a = kept.alias("a")
    b = kept.alias("b")
    contrib = F.floor(F.lit(1_000_000.0) / F.col("a.d") + F.lit(0.5)).cast("long")
    return (
        a.join(b, (F.col("a.p") == F.col("b.p")) & (F.col("a.s") < F.col("b.s")))
        .groupBy(F.col("a.s").alias("s1"), F.col("b.s").alias("s2"))
        .agg(
            F.count("*").cast("bigint").alias("n_common"),
            F.sum(contrib).cast("bigint").alias("ra_1e6"),
        )
        .filter(F.col("n_common") >= 2)
    )


_LPA_ROUNDS = 3


def _lpa_oracle_parts() -> tuple[str, str, str]:
    rounds = []
    prev = "l0"
    for r in range(1, _LPA_ROUNDS + 1):
        rounds.append(f"""
    l{r} AS (
      SELECT src AS node, label FROM (
        SELECT a.src, l.label,
               row_number() OVER (PARTITION BY a.src
                                  ORDER BY count(*) DESC, l.label) AS rn
        FROM adj a JOIN {prev} l ON l.node = a.dst
        GROUP BY a.src, l.label)
      WHERE rn = 1
    )""")
        prev = f"l{r}"
    body = f"""
    WITH nodes AS (
      SELECT c_custkey AS node, c_custkey // 6 AS g, c_custkey % 6 AS pos
      FROM customer
    ),
    intra AS (
      SELECT a.node AS u, b.node AS v
      FROM nodes a JOIN nodes b ON a.g = b.g AND a.pos < b.pos
    ),
    bridge AS (
      SELECT a.node AS u, b.node AS v
      FROM nodes a JOIN nodes b ON b.node = a.node + 1
      WHERE a.node % 6 = 5
    ),
    e AS (SELECT u, v FROM intra UNION ALL SELECT u, v FROM bridge),
    adj AS (SELECT u AS src, v AS dst FROM e
            UNION ALL SELECT v AS src, u AS dst FROM e),
    l0 AS (SELECT node, node AS label FROM nodes),{",".join(rounds)}"""
    default_select = f"""
    SELECT node, label AS community,
           CAST(count(*) OVER (PARTITION BY label) AS BIGINT)
             AS community_size
    FROM {prev}
"""
    return body, prev, default_select


def _lpa_oracle() -> str:
    body, _, final = _lpa_oracle_parts()
    return body + final


def _modularity_oracle() -> str:
    """Same fixture graph + same 3 LPA rounds, final select = per-community
    modularity pieces in EXACT integer arithmetic: q_num = 4·m·e_c − d_c²
    over the implied denominator 4m² (Q = Σ_c q_num_c / 4m²)."""
    body, labels, _ = _lpa_oracle_parts()
    return (
        body
        + f""",
    lab AS (SELECT node, label FROM {labels}),
    m AS (SELECT count(*) AS m FROM e),
    deg AS (SELECT src AS node, count(*) AS d FROM adj GROUP BY 1),
    intra_c AS (
      SELECT lu.label, count(*) AS e_c
      FROM e JOIN lab lu ON lu.node = e.u JOIN lab lv ON lv.node = e.v
      WHERE lu.label = lv.label GROUP BY 1
    ),
    dsum AS (
      SELECT lab.label, CAST(count(*) AS BIGINT) AS n_nodes,
             CAST(sum(deg.d) AS BIGINT) AS degree_sum
      FROM lab JOIN deg ON deg.node = lab.node GROUP BY 1
    )
    SELECT d.label AS community, d.n_nodes,
           CAST(coalesce(i.e_c, 0) AS BIGINT) AS intra_edges,
           d.degree_sum,
           CAST(4 * (SELECT m FROM m) * coalesce(i.e_c, 0)
                - d.degree_sum * d.degree_sum AS BIGINT) AS q_num_4m2,
           CAST(floor((4.0 * (SELECT m FROM m) * coalesce(i.e_c, 0)
                       - CAST(d.degree_sum AS DOUBLE) * d.degree_sum) * 1000000000
                      / (4.0 * (SELECT m FROM m) * (SELECT m FROM m)) + 0.5)
                AS BIGINT) AS q_1e9
    FROM dsum d LEFT JOIN intra_c i ON i.label = d.label
"""
    )


@register("graph_lpa_communities", oracle=_lpa_oracle(), tags=("graph", "iterative"))
def graph_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label propagation (k=3 rounds, pinned tie rule):
    every node adopts the MODE of its neighbors' labels, ties to the
    smallest label — community detection, distinct from connected
    components (`dedup_cluster_cc`): the fixture's 6-cliques joined by
    single bridge edges stay SEPARATE communities (a bridge endpoint's
    five clique neighbors outvote its one outside neighbor) where CC
    would merge the whole chain into one component. Free-running LPA is
    iteration-order-dependent; fixing synchronous rounds + the
    count-then-min tie break makes it a well-defined, oracle-checkable
    operator (the oracle unrolls the same 3 rounds as CTEs).

    Scale per round: one edge-key shuffle (labels joined to the static
    adjacency, checkpointed once) + one (node,label) mode aggregate with
    map-side combine; O(rounds) passes like PageRank/k-core."""
    labels, _, _ = _lpa_fixture_labels(spark, sf_dir)
    cw = Window.partitionBy("label")
    return labels.select(
        "node",
        F.col("label").alias("community"),
        F.count("*").over(cw).cast("bigint").alias("community_size"),
    )


def _bridged_clique_graph(spark: SparkSession, sf_dir: str):
    """The shared fixture graph (6-cliques chained by single bridges over
    customer keys): returns (e, adj) — e each undirected edge once, adj
    both directions (checkpointed). Consumed by LPA/modularity/
    assortativity."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_custkey").alias("node"))
    nodes = c.select(
        "node",
        F.expr("node div 6").alias("g"),
        (F.col("node") % 6).alias("pos"),
    )
    a, b = nodes.alias("a"), nodes.alias("b")
    intra = a.join(b, "g").filter(F.col("a.pos") < F.col("b.pos")).select(
        F.col("a.node").alias("u"), F.col("b.node").alias("v")
    )
    nxt = nodes.select((F.col("node") - 1).alias("prev_node"), F.col("node").alias("v"))
    bridge = (
        nodes.filter(F.col("node") % 6 == 5)
        .join(nxt, F.col("node") == F.col("prev_node"))
        .select(F.col("node").alias("u"), "v")
    )
    # One-compute boundary (r10, guide §2.4): e feeds both directions of
    # adj plus modularity's edge-count and intra-community joins — the
    # clique self-join otherwise re-ran per consumer.
    e = one_compute_boundary(intra.union(bridge))
    adj = (
        e.select(F.col("u").alias("src"), F.col("v").alias("dst"))
        .union(e.select(F.col("v").alias("src"), F.col("u").alias("dst")))
        .transform(one_compute_boundary)  # static side, consumed every round
    )
    return e, adj


def _lpa_fixture_labels(spark: SparkSession, sf_dir: str):
    """Shared by `graph_lpa_communities` and `graph_modularity`: the
    bridged-clique fixture graph and its synchronous 3-round LPA labels.
    Returns (labels, e, adj)."""
    e, adj = _bridged_clique_graph(spark, sf_dir)
    nodes = adj.select(F.col("src").alias("node")).distinct()
    labels = nodes.select("node", F.col("node").alias("label"))
    for _ in range(_LPA_ROUNDS):
        nbr = adj.join(labels, adj["dst"] == labels["node"]).select(
            "src", "label"
        )
        cnt = nbr.groupBy("src", "label").agg(F.count("*").alias("c"))
        w = Window.partitionBy("src").orderBy(F.col("c").desc(), "label")
        labels = (
            cnt.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(F.col("src").alias("node"), "label")
        )
    return labels, e, adj


@register("graph_modularity", oracle=_modularity_oracle(), tags=("graph", "calibration"))
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the LPA partition, per community — the
    quality gauge for `graph_lpa_communities` (the calibration-as-a-
    query pattern: a user deciding whether 3 LPA rounds suffice at
    100 TB reads this, not a notebook). Q = Σ_c [e_c/m − (d_c/2m)²];
    each row carries the EXACT integer pieces (n_nodes, intra-edge
    count e_c, degree sum d_c, and the numerator q_num = 4·m·e_c − d_c²
    over the implied denominator 4m²) plus a quantized q_1e9 for
    reading; Σ q_num / 4m² is the partition's Q. On the bridged-clique
    fixture every 6-clique community scores the same strongly-positive
    contribution — a near-zero or negative row is how a user spots a
    community LPA glued together wrongly.

    Scale: rides the same O(rounds) label dataflow, then THREE
    input-bounded aggregates — degrees (adj groupBy), intra-edge counts
    (edge relation joined to the label map on both endpoints — label map
    is #nodes-sized, the joins are hash joins on node id), and the
    per-community rollup (#communities rows). m is a 1-row count
    broadcast, the accepted audit-scalar shape."""
    labels, e, adj = _lpa_fixture_labels(spark, sf_dir)
    lab = one_compute_boundary(labels)  # consumed by 3 joins below
    m_df = e.agg(F.count(F.lit(1)).alias("m"))
    deg = adj.groupBy(F.col("src").alias("node")).agg(F.count(F.lit(1)).alias("d"))
    lu = lab.select(F.col("node").alias("u"), F.col("label").alias("label_u"))
    lv = lab.select(F.col("node").alias("v"), F.col("label").alias("label_v"))
    intra_c = (
        e.join(lu, "u")
        .join(lv, "v")
        .filter(F.col("label_u") == F.col("label_v"))
        .groupBy(F.col("label_u").alias("label"))
        .agg(F.count(F.lit(1)).alias("e_c"))
    )
    dsum = (
        lab.join(deg, "node")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.sum("d").cast("bigint").alias("degree_sum"),
        )
    )
    joined = (
        dsum.join(intra_c, "label", "left")
        .withColumn("e_c", F.coalesce(F.col("e_c"), F.lit(0)))
        .crossJoin(F.broadcast(m_df))
    )
    q_num = (
        F.lit(4) * F.col("m") * F.col("e_c")
        - F.col("degree_sum") * F.col("degree_sum")
    )
    return joined.select(
        F.col("label").alias("community"),
        "n_nodes",
        F.col("e_c").cast("bigint").alias("intra_edges"),
        "degree_sum",
        q_num.cast("bigint").alias("q_num_4m2"),
        F.floor(
            (
                F.lit(4.0) * F.col("m") * F.col("e_c")
                - F.col("degree_sum").cast("double") * F.col("degree_sum")
            )
            * 1_000_000_000
            / (F.lit(4.0) * F.col("m") * F.col("m"))
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("q_1e9"),
    )


_ASSORT_ORACLE = """
    WITH nodes AS (
      SELECT c_custkey AS node, c_custkey // 6 AS g, c_custkey % 6 AS pos
      FROM customer
    ),
    intra AS (
      SELECT a.node AS u, b.node AS v
      FROM nodes a JOIN nodes b ON a.g = b.g AND a.pos < b.pos
    ),
    bridge AS (
      SELECT a.node AS u, b.node AS v
      FROM nodes a JOIN nodes b ON b.node = a.node + 1
      WHERE a.node % 6 = 5
    ),
    e AS (SELECT u, v FROM intra UNION ALL SELECT u, v FROM bridge),
    adj AS (SELECT u AS src, v AS dst FROM e
            UNION ALL SELECT v AS src, u AS dst FROM e),
    deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY 1),
    pairs AS (
      SELECT du.d AS x, dv.d AS y
      FROM adj JOIN deg du ON du.node = adj.src JOIN deg dv ON dv.node = adj.dst
    ),
    sums AS (
      SELECT CAST(count(*) AS BIGINT) AS mm,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx
      FROM pairs
    )
    SELECT mm AS n_directed_edges, sx AS deg_sum, sxy AS xy_sum, sxx AS xx_sum,
           CAST(floor((CAST(mm AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sx)
                      / (CAST(mm AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                      * 1000000 + 0.5) AS BIGINT) AS assortativity_1e6
    FROM sums
"""


@register("graph_assortativity", oracle=_ASSORT_ORACLE, tags=("graph", "analytics"))
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman r): the Pearson correlation of
    (deg(u), deg(v)) over the DIRECTED edge list — do high-degree nodes
    link to high-degree nodes? Positive on social graphs, negative on
    web/biology hub-and-spoke topologies; it is the one-number answer to
    "will hub-targeted sampling/caching work on this graph", which is
    why graph platforms ship it beside the degree histogram
    (`graph_degree_histogram`'s second moment, `graph_modularity`'s
    sibling gauge).

    Because both endpoint marginals are the same degree distribution on
    a symmetrized edge list (Σx = Σy, Σx² = Σy²), r reduces to
    (M·Σxy − (Σx)²) / (M·Σx² − (Σx)²) — FOUR integer sufficient
    statistics from one pass over edges-joined-to-degrees. Plan: the
    degree aggregate, two hash joins of the edge list against that
    #nodes-sized table, one 1-row reduce; all exact int64 until the
    final quantized ratio (operands here are ~1e3-degree-bounded; an
    extreme-scale deployment promotes the sums to decimal(38,0), the
    `analytics_ols_multi` posture)."""
    _, adj = _bridged_clique_graph(spark, sf_dir)
    deg = adj.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    du = deg.select(F.col("node").alias("src"), F.col("d").alias("x"))
    dv = deg.select(F.col("node").alias("dst"), F.col("d").alias("y"))
    pairs = adj.join(du, "src").join(dv, "dst")
    sums = pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("mm"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    num = F.col("mm").cast("double") * F.col("sxy") - F.col("sx").cast("double") * F.col("sx")
    den = F.col("mm").cast("double") * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    return sums.select(
        F.col("mm").alias("n_directed_edges"),
        F.col("sx").alias("deg_sum"),
        F.col("sxy").alias("xy_sum"),
        F.col("sxx").alias("xx_sum"),
        F.floor(num / den * 1_000_000 + F.lit(0.5)).cast("bigint").alias("assortativity_1e6"),
    )
