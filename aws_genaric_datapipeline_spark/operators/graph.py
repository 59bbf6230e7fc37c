"""Distributed graph operators over near-duplicate edge lists — the
clustering step of a dedup pipeline and its graph analytics.

Near-duplicate detection (dedup.py: MinHash-LSH / SimHash / exact Jaccard)
emits PAIRS.  Turning pairs into deletion decisions needs the transitive
closure: if a~b and b~c, then {a,b,c} is one duplicate cluster even when
a~c was never emitted.  That closure is exactly connected components over
the pair graph, with the canonical document per cluster = min doc id.

The reference has no graph surface at all; this is north-star scope
(training-data curation at 100 TB routinely runs CC over billions of
near-dup edges — cf. the map-reduce CC literature: hash-min with pointer
jumping, large-star/small-star).

Every iterative operator here is a ``step(state, round)`` handed to
:func:`operators.fixpoint.iterate`, which owns lineage cuts, convergence
and checkpoint release (cost model in that module).  The undirected
operators share one symmetrized edge list, :func:`_symmetric`.

At 100 TB scale: |edges| >> |nodes|; pre-partition the edge list by
``nbr`` (repartition or bucketed write) so the per-round propagation join
co-locates with the node-sized state and only the state side reshuffles.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from aws_genaric_datapipeline_spark.operators import fixpoint


def _symmetric(
    edges: DataFrame,
    src: str,
    dst: str,
    weight: str | None = None,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """The undirected edge list ``(node, nbr)``: both directions of every
    input edge, input self-loops dropped, duplicates removed.  One explode
    reads the input once, so an expensive edge pipeline (an exact-Jaccard
    self-join) runs once without a pin of its own.

    With ``seeds`` the rows also carry an integer weight ``w`` (the
    ``weight`` column, or 1 per hop) plus a zero-weight self-loop for every
    node and every seed: a relaxation round over them carries each node's
    previous distance forward through the join itself, so it reads the
    previous state once (see :func:`_relax`)."""
    def row(a: str, b: str, w=None):
        ends = (F.col(a).alias("node"), F.col(b).alias("nbr"))
        return F.struct(*ends) if w is None else F.struct(*ends, w.cast("bigint").alias("w"))

    if seeds is None:
        sym = edges.select(F.explode(F.array(row(src, dst), row(dst, src))).alias("e"))
        return sym.select("e.*").where(F.col("node") != F.col("nbr")).distinct()
    w = F.col(weight) if weight else F.lit(1)
    rows = [row(src, dst, w), row(dst, src, w), row(src, src, F.lit(0)), row(dst, dst, F.lit(0))]
    sym = edges.select(F.explode(F.array(*rows)).alias("e")).select("e.*")
    loops = _sources(seeds).select("node", F.col("node").alias("nbr"), F.col("dist").alias("w"))
    real = (F.col("node") != F.col("nbr")) | (F.col("w") == 0)
    return sym.where(real).unionByName(loops).distinct()


def _sources(seeds: DataFrame) -> DataFrame:
    """Distance-0 state ``(node, dist)`` of a single-column seed frame."""
    return (
        seeds.select(F.col(seeds.columns[0]).cast("bigint").alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0).cast("bigint"))
    )


def _relax(sym: DataFrame, dist: DataFrame, hop: int | None = None) -> DataFrame:
    """One Bellman-Ford round over ``_symmetric(..., seeds=)`` rows: ONE
    join of the static edge list against the distance frame + a
    map-side-combining min — the Pregel SSSP cost model.  Each node's own
    zero-weight self-loop carries its distance forward, so the round
    reads ``dist`` once (no union branch).

    With ``hop`` (BFS), only the FRONTIER — nodes first reached in round
    ``hop - 1`` — expands along real edges; every other node emits its
    self-loop row only, so the join's output is frontier edges + one row
    per visited node, never the visited set's whole neighborhood."""
    joined = sym.join(dist, "node")
    if hop is not None:
        joined = joined.where((F.col("w") == 0) | (F.col("dist") == hop - 1))
    return joined.groupBy(F.col("nbr").alias("node")).agg(
        F.min(F.col("dist") + F.col("w")).alias("dist")
    )


def _with_singletons(labels: DataFrame, nodes: DataFrame | None, col: str) -> DataFrame:
    """Add every id of ``nodes`` missing from ``labels`` as its own label."""
    if nodes is None:
        return labels
    extra = (
        nodes.select(F.col(nodes.columns[0]).alias("node"))
        .distinct()
        .join(labels.select("node"), "node", "left_anti")
        .withColumn(col, F.col("node"))
    )
    return labels.unionByName(extra)


def _at_fixpoint(run: fixpoint.Fixpoint, op: str, *pinned: DataFrame) -> DataFrame:
    """The converged state of ``run``; at the round cap, free the run's
    blocks and raise."""
    if not run.converged:
        fixpoint.release(None, run.frame, *pinned)
        raise RuntimeError(f"{op}: no convergence in {run.rounds} rounds")
    return run.frame


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    nodes: DataFrame | None = None,
    max_iters: int = 25,
) -> DataFrame:
    """Return ``(node, component)`` where ``component`` is the minimum node
    id reachable from ``node`` over the undirected edge set.

    ``edges`` is directed input; it is symmetrized internally.  Nodes with
    no edges appear only if supplied via ``nodes`` (single-column frame) —
    they come back as their own singleton component.  Raises if the graph
    has not converged after ``max_iters`` rounds (pointer jumping makes
    that ~2^25-diameter territory, i.e. never for real data).

    Algorithm: hash-min label propagation + path-halving pointer jump.
    ``label(v)`` starts as ``min(v, min(neighbors(v)))`` — the first
    hash-min pass fused into initialization, which on near-dup graphs
    (small clusters) converges most components immediately.  Each round
    takes the min over the neighborhood, then jumps
    ``label(v) <- label(label(v))``.  Labels only decrease, so
    ``sum(label)`` is a strictly-decreasing convergence certificate, and
    the jump gives union-find-style path halving: O(log(diameter)) rounds
    instead of O(diameter) — a 1M-node chain converges in ~20 rounds.
    Per round: one shuffle of the static edge list on ``nbr`` plus two of
    the node-sized label table.
    """
    sym = fixpoint.pin(_symmetric(edges, src, dst))
    labels = sym.groupBy("node").agg(F.least(F.col("node"), F.min("nbr")).alias("label"))

    def step(labels: DataFrame, _: int) -> DataFrame:
        nbr_labels = sym.join(
            labels.select(F.col("node").alias("nbr"), "label"), "nbr"
        ).select("node", "label")
        merged = labels.unionByName(nbr_labels).groupBy("node").agg(
            F.min("label").alias("label")
        )
        # Path halving THROUGH THE PREVIOUS round's table: every label is
        # a node id present in it (labels start as ids and only copy
        # existing values), so the join is total; coalesce is belt.
        # Jumping via the stale table instead of `merged` is still sound —
        # labels only decrease and any copy of an existing label keeps the
        # invariant — and it needs no mid-round cut of `merged`.
        # Convergence is unaffected: a round that leaves sum(label) fixed
        # means hash-min changed nothing, so every edge (u,v) has
        # label(u) == label(v), and since labels propagate only inside a
        # component from init values ≤ the member ids, the constant is the
        # component minimum: the true fixpoint.
        prev = labels.select(F.col("node").alias("label"), F.col("label").alias("ll"))
        return merged.join(prev, "label", "left").select(
            "node", F.coalesce(F.least("label", "ll"), F.col("label")).alias("label")
        )

    run = fixpoint.iterate(
        step, _with_singletons(labels, nodes, "label"), max_iters, [F.sum("label")]
    )
    comp = _at_fixpoint(run, "connected_components", sym)
    return fixpoint.release(comp.select("node", F.col("label").alias("component")), sym)


def incremental_components(
    state: DataFrame,
    new_edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Merge a batch of NEW edges into an existing ``(node, component)``
    assignment without re-closing untouched components.

    Contract: given ``state = connected_components(old_edges)``, returns a
    frame equal to ``connected_components(old_edges ∪ new_edges)`` — the
    incremental-maintenance identity the driver oracle verifies by full
    recompute.  Correctness rests on two facts: (1) a component's label is
    the min member id, and that member is linked to every other member by
    the state rows themselves, so replaying ``node→component`` state rows
    as edges preserves exactly the old connectivity inside each touched
    component; (2) components not touched by any new-edge endpoint cannot
    change, so their rows pass through verbatim.

    Scale shape (the reason this exists): at 100 TB the standing component
    state is billions of rows while a daily edge batch touches a sliver of
    it.  The two state splits are broadcast semi/anti joins against the
    (small) touched-component list — ZERO shuffle of the standing state —
    and the iterative hash-min loop runs only over new edges plus the
    members of touched components.  Re-running full CC per batch would
    re-shuffle the entire edge history every day instead.
    """
    # The batch feeds the touched-component split, the singleton list and
    # the relabel edges: pin it once rather than re-read it in each.
    new_edges = fixpoint.pin(new_edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")))
    batch_nodes = (
        new_edges.select(F.col("src").alias("node"))
        .unionByName(new_edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    # Components with at least one endpoint in the batch.  Small by the
    # incremental premise — broadcast into both state splits below.
    touched = (
        state.join(F.broadcast(batch_nodes), "node", "left_semi")
        .select("component")
        .distinct()
    )
    active = state.join(F.broadcast(touched), "component", "left_semi")
    inert = state.join(F.broadcast(touched), "component", "left_anti")
    # Prior membership replayed as edges keeps every old member — and the
    # old min-id — reachable inside the mini-graph, so merged components
    # relabel to the true global minimum (same fixpoint as full recompute).
    member_edges = active.select(
        F.col("node").alias("src"), F.col("component").alias("dst")
    )
    relabeled = connected_components(
        new_edges.unionByName(member_edges), nodes=batch_nodes
    )
    return inert.select("node", "component").unionByName(
        relabeled.select("node", "component")
    )


def k_core(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    k: int = 2,
    max_iters: int = 30,
) -> DataFrame:
    """k-core decomposition by iterative peel: repeatedly delete nodes of
    degree < k (undirected; input symmetrized) until the survivor set is
    stable; return ``(node, core_degree)`` — each survivor's degree WITHIN
    the core, ≥ k by the fixpoint.

    On a near-dup graph the k-core separates dense boilerplate families
    (template spam, mirrored sites — every member near-dups many others)
    from incidental chains of pairwise matches: chain links peel away,
    cliques survive.  Curation treats core membership as a
    delete-aggressively signal where chains get keep-best handling.

    Scale shape: the state is the surviving edge list; each round keeps
    the edges whose BOTH endpoints have degree ≥ k — two degree windows
    over one read of the state (on a symmetric list, the row count per
    ``nbr`` is that node's degree).  Edge count is a strictly-decreasing
    convergence certificate.  Rounds ≈ peel depth, which is tiny for the
    flat graphs dedup emits (a path peels from both ends, one node per
    end per round).
    """

    def step(e: DataFrame, _: int) -> DataFrame:
        def degree(c: str):
            return F.count(F.lit(1)).over(Window.partitionBy(c))

        return (
            e.select("node", "nbr", degree("node").alias("dn"), degree("nbr").alias("dm"))
            .where((F.col("dn") >= k) & (F.col("dm") >= k))
            .select("node", "nbr")
        )

    run = fixpoint.iterate(step, _symmetric(edges, src, dst), max_iters, [F.count(F.lit(1))])
    core = _at_fixpoint(run, "k_core")
    return core.groupBy("node").agg(F.count(F.lit(1)).alias("core_degree"))


def dedup_cluster_assignments(
    pair_df: DataFrame, id_a: str = "id_a", id_b: str = "id_b"
) -> DataFrame:
    """Near-dup pairs → per-doc cluster assignment with cluster size.

    ``component`` (min doc id in the cluster) is the canonical survivor:
    a curation pipeline keeps ``doc_id == cluster_id`` rows and drops the
    rest.  Only documents that participate in at least one pair appear.
    """
    comp = connected_components(pair_df, src=id_a, dst=id_b)
    w = Window.partitionBy("component")
    return comp.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("cluster_size"),
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    iterations: int = 5,
    personalization: DataFrame | None = None,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list; returns
    ``(node, rank)`` after ``iterations`` synchronous updates from a
    uniform 1/N start:

        rank(v) = (1-d)/N + d * Σ_{u→v} rank(u) / outdeg(u)

    The simple variant: dangling-node mass is dropped, not redistributed
    (documented so the oracle can reproduce it exactly).  Within a dedup
    pipeline this ranks documents by similarity-graph centrality — a
    centrality-based canonical pick, vs connected_components' min-id pick.
    An empty edge list gives an empty frame.

    With ``personalization`` (a single-column frame of seed node ids,
    restricted internally to nodes present in the graph), the teleport
    distribution concentrates uniformly on the seeds instead of 1/N —
    personalized PageRank (Haveliwala 2002): rank mass flows outward
    from a trusted seed set, the provenance-weighted centrality used for
    seed-anchored dedup picks and trust propagation.

    Scale: the deduplicated edge list, out-degrees, the node set and the
    teleport vector are static subtrees that every round re-joins; each
    runs once per plan (AQE reuses their exchanges across rounds), and
    only the node-sized rank table updates.  Callers that hand in an
    expensive edge pipeline pin it themselves.  Each round is one join
    shuffle on ``src`` plus one aggregation shuffle on ``dst``.  At 100 TB
    pre-partition edges by ``src`` so the per-round join co-locates.
    """
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    if personalization is None:
        n = nodes.agg(F.count(F.lit(1)).alias("n"))
        tele = nodes.crossJoin(F.broadcast(n)).select(
            "node", (F.lit(1.0) / F.col("n")).alias("tele")
        )
    else:
        seeds = (
            personalization.select(F.col(personalization.columns[0]).alias("node"))
            .distinct()
            .join(nodes, "node")  # teleport only to nodes in the graph
        )
        k = seeds.count()
        if k == 0:
            raise ValueError("personalization has no nodes in the graph")
        tele = nodes.join(seeds.withColumn("_s", F.lit(1.0)), "node", "left").select(
            "node", (F.coalesce("_s", F.lit(0.0)) / k).alias("tele")
        )

    def step(ranks: DataFrame, _: int) -> DataFrame:
        contribs = (
            e.join(ranks, e["src"] == ranks["node"])
            .join(outdeg, "src")
            .select(F.col("dst"), (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("inflow"))
        )
        return tele.join(contribs, tele["node"] == contribs["dst"], "left").select(
            "node",
            (
                (1.0 - damping) * F.col("tele")
                + damping * F.coalesce(F.col("inflow"), F.lit(0.0))
            ).alias("rank"),
        )

    start = tele.select("node", F.col("tele").alias("rank"))
    return fixpoint.iterate(step, start, iterations).frame


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) with a
    DETERMINISTIC update: each round every node adopts the most frequent
    label among its neighbors, ties broken by the smallest label.  Labels
    start as node ids, so after k rounds a node's label is a function of
    its k-hop neighborhood only — fixed ``iterations`` (no convergence
    probe) keeps the whole run a pure, replayable function of the edge
    set.  Neighbors are those of the symmetrized simple graph: repeated
    edges count once and self-loops are ignored.

    Communities differ from connected components on bridge topologies:
    LPA splits weakly-joined dense clusters that CC necessarily merges.

    Scale: per round, one groupBy over (node, neighbor-label) pairs and a
    per-node arg-max window — both keyed by node ids only.  Hub skew: the
    (node, label) pre-aggregation combines map-side, so a hub's updates
    arrive as partial counts, never raw neighbor rows.
    """
    sym = fixpoint.pin(_symmetric(edges, src, dst))
    w = Window.partitionBy("node").orderBy(F.desc("c"), F.asc("label"))

    def step(labels: DataFrame, _: int) -> DataFrame:
        counts = (
            sym.join(labels.select(F.col("node").alias("nbr"), "label"), "nbr")
            .groupBy("node", "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        return (
            counts.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("node", "label")
        )

    start = sym.select("node").distinct().select("node", F.col("node").alias("label"))
    return fixpoint.release(fixpoint.iterate(step, start, iterations).frame, sym)


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 6,
) -> DataFrame:
    """Multi-source breadth-first search: ``(node, hops)`` giving each
    node's minimum hop distance to ANY seed over the undirected edge set,
    exploring at most ``max_hops`` levels (unreached nodes are absent).

    Frontier expansion as unit-weight relaxation (:func:`_relax` with
    ``hop``): per round, one join of the static symmetrized edge list
    against the distance frame in which only frontier nodes expand along
    real edges, plus one min-aggregate — total O(edges × rounds-touched),
    the standard Pregel BFS cost model.

    Seeds outside the edge set still return ``hops = 0`` (distance to
    themselves), matching the declarative min-over-paths semantics a
    recursive-CTE oracle computes.
    """
    sym = fixpoint.pin(_symmetric(edges, src, dst, seeds=seeds))
    run = fixpoint.iterate(lambda d, hop: _relax(sym, d, hop), _sources(seeds), max_hops)
    hops = run.frame.select("node", F.col("dist").cast("int").alias("hops"))
    return fixpoint.release(hops, sym)


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    nodes: DataFrame | None = None,
    max_iters: int = 30,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components by LARGE-STAR / SMALL-STAR alternation
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    the HUB-SAFE fallback to hash-min ``connected_components``.

    Why a second algorithm: hash-min keeps the EDGE SET static and joins
    the label table against it every round — on a hub-heavy graph (one
    shingle/chunk shared by millions of documents) the propagation join
    concentrates that hub's entire neighborhood into one task every
    round.  The star algorithms instead REWRITE the edge set each round:

    - large-star(u): attach every neighbor v > u to m = min(N(u) ∪ {u})
    - small-star(u): orient edges high→low; attach every low-neighbor
      and u itself to the minimum

    Each phase is one map-side-combinable min aggregate plus one
    co-partitioned self-join on u, and a hub's neighborhood collapses to
    direct root edges after the first alternation — the edge list only
    shrinks toward the final star forest, so later rounds get CHEAPER
    on exactly the graphs that hurt hash-min.  Convergence in
    O(log n) alternations with high probability (paper Thm 3); the
    certificate is (count, Σlo, Σhi) of the edge list, and ``stats``
    receives the rounds run, the confirming round included.

    Same contract as ``connected_components``: (node, component) with
    component = min reachable id; singletons via ``nodes``.  Equivalence
    against hash-min and a recursive-CTE closure is pinned on planted-hub
    fixtures in tests/test_operators.py::TestStarComponents, including a
    round-count bound."""

    def step(e: DataFrame, _: int) -> DataFrame:
        # ---- large-star: symmetric adjacency, attach big neighbors to min
        adj = e.select(F.col("lo").alias("u"), F.col("hi").alias("v")).unionByName(
            e.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
        )
        m = adj.groupBy("u").agg(F.min("v").alias("mn"))
        m = m.select("u", F.least("u", "mn").alias("m"))
        e1 = (
            adj.join(m, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("m").alias("lo"), F.col("v").alias("hi"))
            .where(F.col("lo") != F.col("hi"))
            .distinct()
        )
        # ---- small-star: high->low orientation, attach low side + self
        adj2 = e1.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
        m2 = adj2.groupBy("u").agg(F.min("v").alias("m"))
        return (
            adj2.join(m2, "u")
            .select(F.col("m").alias("lo"), F.col("v").alias("hi"))
            .unionByName(m2.select(F.col("m").alias("lo"), F.col("u").alias("hi")))
            .where(F.col("lo") != F.col("hi"))
            .select(F.least("lo", "hi").alias("lo"), F.greatest("lo", "hi").alias("hi"))
            .distinct()
        )

    e = _symmetric(edges, src, dst).where(F.col("node") < F.col("nbr"))
    e = e.select(F.col("node").alias("lo"), F.col("nbr").alias("hi"))
    cert = [F.count(F.lit(1)), F.sum("lo"), F.sum("hi")]
    run = fixpoint.iterate(step, e, max_iters, cert)
    e = _at_fixpoint(run, "connected_components_star")
    if stats is not None:
        stats["rounds"] = run.rounds

    # Star forest -> labels: every hi points at its root lo; roots and
    # isolated nodes label themselves.
    member = e.groupBy(F.col("hi").alias("node")).agg(F.min("lo").alias("component"))
    roots = (
        e.select(F.col("lo").alias("node"))
        .distinct()
        .join(member.select("node"), "node", "left_anti")
        .withColumn("component", F.col("node"))
    )
    return _with_singletons(member.unionByName(roots), nodes, "component")


def sssp_weighted(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    rounds: int = 4,
) -> DataFrame:
    """Multi-source weighted shortest paths, Bellman-Ford style: after
    ``rounds`` relaxations, ``(node, dist)`` is the exact minimum path
    weight from ANY seed over paths of at most ``rounds`` edges
    (unreached nodes absent).  Weights must be non-negative integers —
    integer distance arithmetic keeps every relaxation and the final
    min bit-deterministic across engines and partitionings, which is
    what lets a recursive-CTE oracle replay the fixpoint.

    Each round is ONE join of the static symmetrized edge list against
    the current distance frame + a min-aggregate (:func:`_relax`) — the
    Pregel SSSP cost model, O(edges) per round with map-side-combining
    mins.  Zero-weight self-loops fold the old "keep the previous
    distance" union into that join, so a round reads the previous
    distances once and the rounds need no lineage cut.

    Duplicate (s,d,w) rows are dropped with the symmetrization; parallel
    edges of different weights stay, and the per-round min absorbs them.
    The hop cap is the distributed-world contract (bounded rounds, like
    the fixed-round PageRank/LPA).
    """
    sym = fixpoint.pin(_symmetric(edges, src, dst, weight, seeds))
    run = fixpoint.iterate(lambda d, _: _relax(sym, d), _sources(seeds), rounds)
    return fixpoint.release(run.frame, sym)
