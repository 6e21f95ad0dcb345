"""Semantic tests for the curation operators — properties the oracle
hash-match can't see (cap invariants, budget bounds, cluster structure,
two-phase == naive prefix sum)."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window

from gvcf_hbase_spark.operators import curation
from gvcf_hbase_spark.registry import load_all
from gvcf_hbase_spark.sources.tables import load_table
from tests.conftest import SF_DIR, write_documents

SPECS = load_all()


def test_hash_split_stable_and_partitioned(spark):
    rows = SPECS["curate_hash_split"].fn(spark, SF_DIR).collect()
    total = load_table(spark, SF_DIR, "documents").count()
    assert len(rows) == total
    by_split = {s: sum(1 for r in rows if r.split == s) for s in ("train", "val")}
    assert by_split["train"] + by_split["val"] == total
    # hash split should land near 12/16 — generous band, determinism is the point
    assert 0.6 < by_split["train"] / total < 0.9
    again = {r.doc_id: r.split for r in SPECS["curate_hash_split"].fn(spark, SF_DIR).collect()}
    assert all(again[r.doc_id] == r.split for r in rows)


def test_domain_cap_invariant(spark):
    df = SPECS["curate_domain_cap"].fn(spark, SF_DIR)
    over = df.groupBy("source").count().filter(F.col("count") > curation._DOMAIN_CAP)
    assert over.count() == 0


def test_pii_scrub_removes_all_digits(spark):
    df = SPECS["curate_pii_scrub"].fn(spark, SF_DIR)
    assert df.filter(F.col("scrubbed").rlike("[0-9]")).count() == 0
    assert df.filter(F.col("n_hits") > 0).count() > 0


def test_pack_batches_matches_naive_global_window(spark):
    """The distributed two-phase prefix sum must be bit-identical to the
    single-partition global window it replaces."""
    two_phase = SPECS["curate_pack_batches"].fn(spark, SF_DIR)
    d = load_table(spark, SF_DIR, "documents")
    from gvcf_hbase_spark.functions.textfns import normalize_text

    toks = d.select(
        "doc_id",
        F.size(F.split(normalize_text(F.col("text")), " ")).cast("long").alias("n_tokens"),
    )
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    naive = toks.select(
        "doc_id",
        "n_tokens",
        F.floor(
            (F.sum("n_tokens").over(w) - F.col("n_tokens")).cast("double")
            / curation._PACK_BUDGET
        ).cast("long").alias("batch_id"),
    )
    a = {(r.doc_id): (r.n_tokens, r.batch_id) for r in two_phase.collect()}
    b = {(r.doc_id): (r.n_tokens, r.batch_id) for r in naive.collect()}
    assert a == b
    # soft-cap property: batch sum < budget + the doc that straddled in
    sums = (
        two_phase.groupBy("batch_id")
        .agg(F.sum("n_tokens").alias("s"), F.max("n_tokens").alias("m"))
        .collect()
    )
    assert all(r.s < curation._PACK_BUDGET + r.m for r in sums)
    # batch ids are dense from 0
    ids = sorted(r.batch_id for r in sums)
    assert ids == list(range(len(ids)))


def test_mix_weights_flatten(spark):
    rows = SPECS["curate_mix_weights"].fn(spark, SF_DIR).collect()
    # applying the weights yields a uniform expected share per language
    shares = [r.n_docs * r.weight for r in rows]
    assert max(shares) - min(shares) < 1e-2 * max(shares)


def _union_find_labels(pairs) -> list[tuple[int, int]]:
    """Sorted (node, component min) for every node of ``pairs``."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return sorted((n, find(n)) for n in parent)


def test_cluster_cc_equals_union_find(spark):
    from gvcf_hbase_spark.operators.dedup import dedup_ngram_jaccard

    pairs = [(r.id_a, r.id_b) for r in dedup_ngram_jaccard(spark, SF_DIR).collect()]
    expected = _union_find_labels(pairs)
    got = sorted(
        (r.doc_id, r.cluster_id)
        for r in SPECS["dedup_cluster_cc"].fn(spark, SF_DIR).collect()
    )
    assert got == expected
    assert len(got) > 0


def _label_propagation_labels(pairs) -> list[tuple[int, int]]:
    """Sorted (node, label) at the fixpoint of min-label propagation: every
    node repeatedly takes the least label among itself and its neighbours."""
    label = {n: n for edge in pairs for n in edge}
    changed = True
    while changed:
        changed = False
        for a, b in pairs:
            m = min(label[a], label[b])
            if label[a] != m or label[b] != m:
                label[a] = label[b] = m
                changed = True
    return sorted(label.items())


def test_cc_lss_equals_label_propagation(spark):
    """LSS must reach min-label propagation's fixpoint on the real near-dup
    graph (through `dedup_cluster_cc`), on a 200-edge chain (the label-
    propagation worst case, O(n) rounds) and on a multi-component forest."""
    from gvcf_hbase_spark.operators.curation import connected_components_lss
    from gvcf_hbase_spark.operators.dedup import dedup_ngram_jaccard

    pairs = [(r.id_a, r.id_b) for r in dedup_ngram_jaccard(spark, SF_DIR).collect()]
    got = sorted(
        (r.doc_id, r.cluster_id)
        for r in SPECS["dedup_cluster_cc"].fn(spark, SF_DIR).collect()
    )
    assert got == _label_propagation_labels(pairs) and len(got) > 0

    chain = [(i, i + 1) for i in range(200)]
    rows = connected_components_lss(
        spark.createDataFrame(chain, "id_a long, id_b long")
    ).collect()
    assert sorted((r.doc_id, r.cluster_id) for r in rows) == (
        _label_propagation_labels(chain)
    )
    assert len(rows) == 201 and all(r.cluster_id == 0 for r in rows)

    forest = [(1, 2), (2, 3), (10, 11), (10, 12), (10, 13), (5, 4)]
    got = {
        r.doc_id: r.cluster_id
        for r in connected_components_lss(
            spark.createDataFrame(forest, "id_a long, id_b long")
        ).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 13: 10, 4: 4, 5: 4}
    assert sorted(got.items()) == _label_propagation_labels(forest)


def test_cc_lss_random_graphs_match_union_find(spark):
    """LSS on randomized graphs (sparse, dense, with isolated-pair mix)
    must match a Python union-find reference exactly."""
    import random

    from gvcf_hbase_spark.operators.curation import connected_components_lss

    for seed, n_nodes, n_edges in [(7, 60, 40), (8, 60, 150), (9, 200, 90)]:
        rng = random.Random(seed)
        pairs = {
            tuple(sorted((rng.randrange(n_nodes), rng.randrange(n_nodes))))
            for _ in range(n_edges)
        }
        pairs = [(a, b) for a, b in pairs if a != b]
        df = spark.createDataFrame(pairs, "id_a long, id_b long")
        got = sorted(
            (r.doc_id, r.cluster_id) for r in connected_components_lss(df).collect()
        )
        assert got == _union_find_labels(pairs), seed


def test_segment_dedup_edges_and_reassembly(spark, tmp_path):
    """Short docs (1 token = 1 partial segment), a doc whose every
    segment is corpus-frequent (drops to empty string), and order-
    preserving reassembly. Segment width 3, max occurrence 2."""
    boiler = "cookie banner text"
    sf = write_documents(
        spark, tmp_path,
        [
            (boiler, "en", "s"),                          # 0: one segment
            (boiler, "en", "s"),                          # 1: same (occ 2 so far)
            (boiler, "en", "s"),                          # 2: occ 3 -> ALL drop
            ("alpha beta gamma " + boiler, "en", "s"),    # 3: keeps first seg only
            ("x", "en", "s"),                             # 4: 1-token partial segment
        ],
    )
    out = {r.doc_id: r for r in SPECS["curate_segment_dedup"].fn(spark, sf).collect()}
    # the boilerplate segment occurs 4x corpus-wide (> 2) -> dropped everywhere
    for i in (0, 1, 2):
        assert out[i].cleaned == "" and out[i].n_kept == 0 and out[i].n_dropped == 1
    assert out[3].cleaned == "alpha beta gamma"
    assert out[3].n_kept == 1 and out[3].n_dropped == 1
    assert out[4].cleaned == "x" and out[4].n_kept == 1 and out[4].n_dropped == 0
