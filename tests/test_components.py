"""Connected-components operator: local union-find endgame vs the
distributed propagation loop must agree (and match hand-computed
components)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from polla_spark.operators.graph import connected_components

# chain 1-2-3-4, triangle 10-11-12, isolated 20, self-dup pair 30-31
EDGES = [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (30, 31)]
NODES = [1, 2, 3, 4, 10, 11, 12, 20, 30, 31]
EXPECTED = {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 30: 30, 31: 30}


def _run(spark, threshold: int) -> dict[int, int]:
    nodes = spark.createDataFrame([(n,) for n in NODES], "node long")
    # undirected graph as symmetric directed edges (the banding join
    # emits both directions too)
    sym = EDGES + [(b, a) for a, b in EDGES]
    edges = spark.createDataFrame(sym, "src long, dst long")
    out = connected_components(nodes, edges, local_threshold=threshold)
    return {r["node"]: r["label"] for r in out.collect()}


def test_local_union_find_endgame(spark):
    assert _run(spark, threshold=1_000) == EXPECTED


def test_distributed_propagation(spark):
    # threshold=0 forces the iterative min-label propagation path
    assert _run(spark, threshold=0) == EXPECTED


def test_propagation_raises_when_rounds_run_out(spark):
    """A 64-node path needs more than two propagation rounds: running
    out of rounds must raise, never return unconverged labels."""
    n = 64
    nodes = spark.createDataFrame([(i,) for i in range(n)], "node long")
    path = [(i, i + 1) for i in range(n - 1)]
    edges = spark.createDataFrame(
        path + [(b, a) for a, b in path], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match=r"in 2 rounds: \d+ labels changed"):
        connected_components(nodes, edges, local_threshold=0, max_rounds=2)


def test_paths_agree_on_real_banding_graph(spark):
    """Union-find endgame and distributed propagation must produce the
    identical labeling on the real MinHash-LSH candidate graph (the
    q67 front end), not just toy graphs."""
    from pyspark.sql import functions as F

    from polla_spark.plans.llmdata import _minhash_band_candidates

    sf = "/root/testdata/sf0.001"
    cands = _minhash_band_candidates(spark, sf)
    edges = cands.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionByName(
        cands.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    )
    nodes = spark.read.parquet(f"{sf}/documents.parquet").select(
        F.col("doc_id").alias("node")
    )
    local = {
        r["node"]: r["label"]
        for r in connected_components(nodes, edges, local_threshold=10**9).collect()
    }
    dist = {
        r["node"]: r["label"]
        for r in connected_components(nodes, edges, local_threshold=0).collect()
    }
    assert local == dist
    assert len(local) == nodes.count()


def test_no_edges(spark):
    nodes = spark.createDataFrame([(n,) for n in NODES], "node long")
    edges = spark.createDataFrame([], "src long, dst long")
    out = connected_components(nodes, edges, local_threshold=1_000)
    assert {r["node"]: r["label"] for r in out.collect()} == {n: n for n in NODES}


# ---------------------------------------------------------------------------
# merge_components: incremental fold == full recompute
# ---------------------------------------------------------------------------


def _labels_df(spark, mapping):
    return spark.createDataFrame(
        [(n, l) for n, l in mapping.items()], "node long, label long"
    )


def _merge(spark, mapping, delta_edges, new_nodes=(), threshold=1_000):
    from polla_spark.operators.graph import merge_components

    labels = _labels_df(spark, mapping)
    edges = spark.createDataFrame(delta_edges, "src long, dst long")
    nn = (
        spark.createDataFrame([(n,) for n in new_nodes], "node long")
        if new_nodes
        else None
    )
    out = merge_components(labels, edges, nn, local_threshold=threshold)
    return {r["node"]: r["label"] for r in out.collect()}


def test_merge_components_equals_full_recompute(spark):
    """Fold the EDGES graph in as one history half + one delta batch:
    the merged labeling equals the from-scratch labeling of the full
    graph (the q237 contract), on both merge regimes."""
    hist_edges = [(1, 2), (2, 3), (10, 11), (30, 31)]
    delta = [(3, 4), (11, 12), (10, 12)]
    nodes = spark.createDataFrame([(n,) for n in NODES], "node long")
    hist = {
        r["node"]: r["label"]
        for r in connected_components(
            nodes, spark.createDataFrame(hist_edges, "src long, dst long")
        ).collect()
    }
    for thr in (1_000, 0):  # union-find endgame AND distributed merge
        assert _merge(spark, hist, delta, threshold=thr) == EXPECTED


def test_merge_components_bridges_two_old_components(spark):
    """A single delta edge joining two standing components remaps the
    larger label everywhere — including members NOT touched by the
    delta (the broadcast remap over the full label table)."""
    hist = {1: 1, 2: 1, 3: 3, 4: 3, 9: 9}
    assert _merge(spark, hist, [(2, 4)]) == {1: 1, 2: 1, 3: 1, 4: 1, 9: 9}


def test_merge_components_new_nodes_and_singletons(spark):
    """Delta endpoints unseen by the labeling join as themselves; an
    isolated new doc (new_nodes row with no edges) lands a singleton;
    a new node can LOWER an old component's label (min semantics)."""
    hist = {5: 5, 6: 5}
    got = _merge(spark, hist, [(2, 5)], new_nodes=[2, 99])
    assert got == {2: 2, 5: 2, 6: 2, 99: 99}


def test_merge_components_empty_labeling_bootstraps(spark):
    """First batch: an empty standing labeling is just a full
    clustering of the delta graph."""
    got = _merge(spark, {}, [(1, 2), (2, 3)], new_nodes=[1, 2, 3, 7])
    assert got == {1: 1, 2: 1, 3: 1, 7: 7}


def test_merge_components_empty_delta_is_identity(spark):
    hist = {1: 1, 2: 1, 9: 9}
    from polla_spark.operators.graph import merge_components

    labels = _labels_df(spark, hist)
    edges = spark.createDataFrame([], "src long, dst long")
    out = merge_components(labels, edges, None)
    assert {r["node"]: r["label"] for r in out.collect()} == hist
