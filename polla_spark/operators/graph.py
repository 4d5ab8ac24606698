"""Connected components over a candidate-pair edge list — the step
that turns near-dup PAIRS into dedup GROUPS (survivor = component min).

Two regimes, picked by edge count (the GraphFrames / Pregel endgame
pattern):

- **distributed min-label propagation** with one-hop path compression
  and per-round ``localCheckpoint`` lineage truncation — O(log
  diameter) rounds, each a keyed join + groupBy. This is the 100 TB
  path: state is (node, label), edges stay partitioned by key, the
  only driver traffic is a 1-row convergence scalar per round.
- **local union-find endgame**: after LSH banding the edge set is
  orders of magnitude smaller than the corpus; once it fits under
  ``local_threshold`` edges, collecting it and finishing with
  union-find on the driver is both exact and ~free (microseconds for
  10^5 edges), replacing ~6 shuffle rounds. Real systems (GraphFrames
  connectedComponents, Pregel implementations) do exactly this
  contraction endgame; the result joins back as a broadcast map.

Semantics: component label = MIN(doc id reachable), matching the
recursive-CTE oracle in plans/llmdata.py (O67).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _local_union_find(nodes: DataFrame, edge_rows: list) -> DataFrame:
    """Driver-side union-find over a bounded, already-collected edge
    list; returns (node, label) with label = min member of the
    component."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = root, parent[x]
        return root

    for src, dst in edge_rows:
        ra, rb = find(src), find(dst)
        if ra != rb:
            # union by min so the root IS the component label
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo

    touched = [(x, find(x)) for x in list(parent)]
    spark = nodes.sparkSession
    if not touched:
        return nodes.select(F.col("node"), F.col("node").alias("label"))
    mapping = spark.createDataFrame(touched, "node long, _mapped long")
    return (
        nodes.join(F.broadcast(mapping), "node", "left")
        .select("node", F.coalesce("_mapped", "node").alias("label"))
    )


def _distributed_propagation(
    nodes: DataFrame, edges: DataFrame, *, max_rounds: int
) -> DataFrame:
    """Iterative min-label propagation + one-hop path compression.

    Raises RuntimeError when labels still change after ``max_rounds``:
    unconverged labels are not components, and returning them would
    pass a wrong clustering downstream without any signal."""
    labels = nodes.withColumn("label", F.col("node")).persist()
    for _ in range(max_rounds):
        neighbor_min = (
            edges.join(labels, edges.src == labels.node)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("label").alias("nmin"))
        )
        merged = labels.withColumnRenamed("label", "_old").join(
            neighbor_min, "node", "left"
        ).select(
            "node",
            "_old",
            F.least(F.col("_old"), F.coalesce("nmin", F.col("_old"))).alias("_mid"),
        )
        # path compression: follow the label pointer one hop
        ptr = merged.select(F.col("node").alias("_pn"), F.col("_mid").alias("_pl"))
        new_labels = merged.join(ptr, merged["_mid"] == ptr["_pn"], "left").select(
            "node",
            F.coalesce("_pl", "_mid").alias("label"),
            (F.coalesce("_pl", "_mid") < F.col("_old")).alias("_changed"),
        )
        # lineage truncation — without it round N replays rounds
        # 1..N-1 and the DAG grows quadratically
        new_labels = new_labels.localCheckpoint()
        changed = new_labels.agg(
            F.sum(F.when(F.col("_changed"), 1).otherwise(0))
        ).collect()[0][0]
        labels = new_labels.drop("_changed")
        if not changed:
            break
    else:
        raise RuntimeError(
            f"connected components did not converge in {max_rounds} "
            f"rounds: {changed} labels changed in the last round"
        )
    return labels


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    *,
    local_threshold: int = 100_000,
    max_rounds: int = 20,
) -> DataFrame:
    """(node) x (src, dst) -> (node, label), label = component min.

    ``local_threshold`` bounds the driver-side endgame: edge lists at
    or under it are resolved with local union-find (exact, no shuffle
    rounds); larger graphs run the distributed propagation loop.
    Set it to 0 to force the distributed path (tests do).

    The regime probe is ONE action (r12, guide §1.2): a
    ``limit(threshold + 1).collect()`` — when the edge list fits, the
    probe already IS the union-find input, replacing the old
    persist → count → collect pair (two full-plan actions plus a
    cache of rows that were never read again); only the oversized
    case pays the persist, where the propagation rounds genuinely
    re-read the edges. The decision boundary (≤ threshold → local) is
    unchanged.
    """
    probe = edges.select("src", "dst").limit(local_threshold + 1).collect()
    if len(probe) <= local_threshold:
        return _local_union_find(nodes, probe)
    edges = edges.persist()
    return _distributed_propagation(nodes, edges, max_rounds=max_rounds)


def merge_components(
    labels: DataFrame,
    new_edges: DataFrame,
    new_nodes: DataFrame | None = None,
    *,
    local_threshold: int = 100_000,
    max_rounds: int = 20,
) -> DataFrame:
    """Fold a DELTA edge set into an existing component labeling —
    the incremental-maintenance tier downstream of the stateful LSH
    pair stream (twin #42): batch ``connected_components`` recomputes
    the clustering from scratch; a real incremental crawl folds each
    micro-batch's new candidate pairs into the standing label table.

    ``labels``: (node, label) with label = component min, valid for
    the already-seen graph. ``new_edges``: (src, dst) delta pairs —
    endpoints may be new nodes or old ones. ``new_nodes``: optional
    (node) rows for delta docs with no pairs at all (isolated
    singletons never appear in an edge stream). Returns the (node,
    label) table of the UNION graph — pinned hash-equal to a full
    recompute (q237's oracle; the q147/q227 incremental == full
    discipline).

    Correctness: contracting a graph by its exact components then
    adding the delta edges yields the same components as recomputing
    over the union — each old component is already represented by its
    min label, so only LABELS need merging, and the sub-problem's own
    min-label result needs no transitive chase (a contracted
    component's new label maps to itself).

    100 TB shape — label-table work is SCAN-ONLY, never shuffled:
    the delta's endpoint set broadcasts against the corpus-sized
    label table (map-side probe) to contract the delta edges to
    label space; the merge sub-problem is then bounded by |delta
    edges| and runs through :func:`connected_components`' own regime
    switch (driver union-find under ``local_threshold``, distributed
    propagation past it); the resulting remap — touched labels only —
    broadcasts back over one more scan. No corpus-sized shuffle, no
    history re-enumeration."""
    eps = (
        new_edges.select(F.col("src").alias("node"))
        .unionByName(new_edges.select(F.col("dst").alias("node")))
    )
    if new_nodes is not None:
        eps = eps.unionByName(new_nodes.select("node"))
    eps = eps.distinct().persist()
    # old labels of touched endpoints: broadcast the delta-sized
    # endpoint set and probe the label table map-side
    known = labels.join(F.broadcast(eps), "node").persist()
    ep_labels = (
        eps.join(F.broadcast(known.withColumnRenamed("label", "_kl")), "node", "left")
        .select("node", F.coalesce("_kl", F.col("node")).alias("label"))
        .persist()
    )
    contracted_edges = (
        new_edges.join(
            F.broadcast(
                ep_labels.select(
                    F.col("node").alias("src"), F.col("label").alias("_ls")
                )
            ),
            "src",
        )
        .join(
            F.broadcast(
                ep_labels.select(
                    F.col("node").alias("dst"), F.col("label").alias("_ld")
                )
            ),
            "dst",
        )
        .filter(F.col("_ls") != F.col("_ld"))
        .select(F.col("_ls").alias("src"), F.col("_ld").alias("dst"))
        .distinct()
    )
    # symmetrize: the min-label PROPAGATION regime walks directed
    # edges, so a one-orientation delta pair (e.g. q237's delta→all
    # probe emits hist neighbors in one direction only) must appear
    # both ways — the union-find endgame is direction-blind, which
    # masked this below local_threshold (caught by the random-split
    # property test at threshold 0)
    contracted_edges = contracted_edges.unionByName(
        contracted_edges.select(
            F.col("dst").alias("src"), F.col("src").alias("dst")
        )
    )
    contracted_nodes = ep_labels.select(F.col("label").alias("node")).distinct()
    sub = connected_components(
        contracted_nodes,
        contracted_edges,
        local_threshold=local_threshold,
        max_rounds=max_rounds,
    )
    remap = (
        sub.filter(F.col("node") != F.col("label"))
        .select(F.col("node").alias("_old"), F.col("label").alias("_new"))
    )
    old_rows = labels.join(
        F.broadcast(remap), labels["label"] == remap["_old"], "left"
    ).select("node", F.coalesce("_new", "label").alias("label"))
    added = (
        ep_labels.join(known.select("node"), "node", "left_anti")
        .join(F.broadcast(remap), ep_labels["label"] == remap["_old"], "left")
        .select("node", F.coalesce("_new", "label").alias("label"))
    )
    return old_rows.unionByName(added)


def triangle_count(edges: DataFrame) -> DataFrame:
    """Exact triangle count of an undirected simple graph via DEGREE
    ORIENTATION (compact-forward — Latapy 2008; Suri & Vassilvitskii
    WWW'11): every edge is directed from its lower (degree, id)
    endpoint, so each out-neighborhood is O(√m) regardless of
    power-law hubs and the wedge self-join does Σ outdeg² = O(m^1.5)
    work with no skew blowup; each triangle is counted exactly once
    (by its two lowest-ranked endpoints). q181 is the registry twin
    whose DuckDB oracle — the naive a<b<c triple join — hash-proves
    the rewrite count-preserving on the co-purchase graph;
    tests/test_graph_props.py re-proves it on seeded random graphs.

    ``edges``: columns (a, b), one row per undirected edge with
    a < b, no duplicates, no self-loops. Returns one row
    (n_nodes, n_edges, n_triangles).
    """
    from pyspark.sql import functions as F

    edges = edges.select("a", "b").persist()
    deg = (
        edges.select(F.col("a").alias("node"))
        .union(edges.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    ranked = (
        edges.join(deg.withColumnRenamed("node", "a"), "a")
        .withColumnRenamed("deg", "deg_a")
        .join(
            deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b")),
            "b",
        )
    )
    lower_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    oriented = ranked.select(
        F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(lower_first, F.col("deg_b")).otherwise(F.col("deg_a")).alias("deg_v"),
    ).persist()
    x, y = oriented.alias("x"), oriented.alias("y")
    wedge_order = (F.col("x.deg_v") < F.col("y.deg_v")) | (
        (F.col("x.deg_v") == F.col("y.deg_v")) & (F.col("x.v") < F.col("y.v"))
    )
    wedges = (
        x.join(y, F.col("x.u") == F.col("y.u"))
        .filter(wedge_order)
        .select(F.col("x.v").alias("v"), F.col("y.v").alias("w"))
    )
    closed = wedges.join(
        oriented.select(F.col("u").alias("v"), F.col("v").alias("w")),
        ["v", "w"],
    )
    tri = closed.agg(F.count("*").alias("n_triangles"))
    stats = edges.agg(F.count("*").alias("n_edges")).crossJoin(
        F.broadcast(deg.agg(F.count("*").alias("n_nodes")))
    )
    return stats.crossJoin(F.broadcast(tri)).select(
        "n_nodes", "n_edges", "n_triangles"
    )
