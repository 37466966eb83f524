"""Distributed PageRank over an edge list.

Why it belongs in a training-data engine: web-scale corpus curation
weights documents by link-graph centrality (Common-Crawl-style quality
priors), and within a near-dup cluster the most-linked copy is the
natural survivor. Both want "rank nodes of a huge sparse graph", the
canonical iterative Spark workload.

Two variants share one loop:

- ``pagerank``             — double arithmetic, the one to use for real.
- ``pagerank_fixedpoint``  — BIGINT fixed-point with floor division at
  every step. Integer addition is exact and order-independent, so the
  result is bit-identical across partitionings AND across engines —
  ``pagerank_fixedpoint_sql`` emits a DuckDB twin (k unrolled CTE
  rounds) that matches it hash-for-hash. This is the oracle/testing
  path; the tiny mass lost to flooring (< n_edges ulps per round) is
  the price of determinism.

Semantics (standard): ranks sum to ~1 (scale ``SCALE`` in fixed-point);
each round every node keeps ``(1-d)`` of the uniform share and receives
``d`` times the rank of its in-neighbours split evenly over their
out-edges; the mass of dangling nodes (no out-edges) is redistributed
uniformly. Self-loops and parallel edges are honoured as given — dedup
upstream if the graph means them to be simple.

Scale design (100 TB graph):
- Out-degrees are joined to the edge list ONCE up front and the result
  persisted partitioned by ``src``; each of the k rounds then shuffles
  only the rank relation (|V| rows) into that layout — the |E|-sized
  relation never re-shuffles after round 0.
- Ranks are one row per node. The per-round plan is
  join(edges, ranks on src) -> groupBy(dst) -> join(nodes): two |V|
  shuffles per round, no |E| shuffle.
- The dangling mass is a 1-row aggregate collected to the driver per
  round — a scalar, not a data pull.
- Every round's rank relation is cut with an eager ``localCheckpoint``
  (the components.py precedent): ``persist`` alone leaves the logical
  plan growing linearly with rounds, and ~10 rounds of join+agg lineage
  is enough to stall the optimizer. Lost-executor recovery restarts the
  job from the last checkpoint, the documented trade for iterative ops.
  Each round explicitly releases the previous round's checkpoint blocks
  through operators/iterutil.eager_checkpoint — a plain
  ``DataFrame.unpersist()`` is a silent no-op on localCheckpoint state,
  which would pin k copies of the rank relation over k rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.tables import local_relation

__all__ = [
    "pagerank",
    "pagerank_fixedpoint",
    "pagerank_fixedpoint_sql",
    "pagerank_fixedpoint_cte_parts",
]

#: total rank mass in fixed-point mode; 10^12 leaves ~6 safe decimal
#: digits per node at a billion nodes and keeps every intermediate
#: product (rank * damping_numerator) far below 2^63.
SCALE = 10**12


def _prepare(edges: DataFrame, src: str, dst: str):
    """Shared setup: node set, out-degrees riding the edge list, and the
    dangling flag. Returns persisted (nodes, contrib_edges, n_nodes)."""
    e = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst")
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    # one-time |E| shuffle into src layout; reused by every round's join
    contrib_edges = (
        e.join(out_deg, "src")
        .repartition("src")
        .persist()
    )
    srcs = (
        out_deg.select(F.col("src").alias("node"))
        .withColumn("has_out", F.lit(True))
    )
    nodes = (
        nodes.join(srcs, "node", "left")
        .select(
            "node",
            F.coalesce(F.col("has_out"), F.lit(False)).alias("has_out"),
        )
        .select("node", (~F.col("has_out")).alias("dangling"))
        .repartition("node")
        .persist()
    )
    n = nodes.count()  # also materializes both persists
    contrib_edges.count()
    return nodes, contrib_edges, n


def _loop(
    nodes,
    contrib_edges,
    n,
    iterations,
    *,
    fixed: bool,
    damping: float,
    init_ranks=None,
):
    if n == 0:  # empty edge list: no nodes, typed empty result
        out = nodes.select(
            "node",
            F.lit(0).cast("bigint" if fixed else "double").alias("rank"),
        )
        nodes.unpersist()
        contrib_edges.unpersist()
        return out
    if fixed:
        d_num, d_den = 85, 100  # damping fixed at 0.85 in oracle mode
        base = F.lit((SCALE * (d_den - d_num)) // (d_den * n))
        init = F.lit(SCALE // n)
        rank_t = "bigint"
    else:
        base = F.lit((1.0 - damping) / n)
        init = F.lit(1.0 / n)
        rank_t = "double"
    if init_ranks is None:
        ranks = nodes.select(
            "node", "dangling", init.cast(rank_t).alias("rank")
        )
    else:
        ranks = (
            nodes.join(
                init_ranks.select(
                    F.col("node"), F.col("rank").alias("__init")
                ),
                "node",
                "left",
            )
            .select(
                "node",
                "dangling",
                F.coalesce(
                    F.col("__init").cast(rank_t), F.lit(0).cast(rank_t)
                ).alias("rank"),
            )
        )
    from .iterutil import eager_checkpoint, no_aqe

    ranks, free_prev = eager_checkpoint(ranks)
    # AQE OFF for the micro-round loop (iterutil.no_aqe: AQE runs every
    # exchange of every round's action as its own bookkeeping job --
    # measured 44 -> 21 jobs / 6.9 -> 5.3 s for 5 fixed-point rounds at
    # sf0.1, bit-identical output, hash-verified A/B).
    with no_aqe(nodes.sparkSession):
        for _ in range(iterations):
            # dangling mass rides the plan as a broadcast 1-row aggregate
            # (round 6: it used to be a .collect() — one extra driver-sync
            # job per iteration on top of the checkpoint's; folding it in
            # halves the per-round job count). The arithmetic is kept
            # IDENTICAL to the collected form: fixed mode computes
            # (s * d_num) div (d_den * n) on BIGINTs (floor == truncate for
            # the non-negative mass), float mode damping * s / n in the
            # same IEEE op order — so fixed-point results stay bit-exact
            # and the cross-engine oracle equality holds unchanged.
            dang_df = ranks.filter("dangling").agg(
                F.coalesce(F.sum("rank"), F.lit(0).cast(rank_t)).alias("__dang")
            )
            if fixed:
                dang_share = F.expr(
                    f"(__dang * {d_num}) div ({d_den} * {n}L)"
                )
                # `div`, not `/`: BIGINT `/` is DOUBLE division in Spark and
                # floor(double) stops being exact past 2^53 — the whole
                # point of this variant is order/engine-independent integers.
                contrib = F.expr(f"(rank * {d_num}) div ({d_den} * out_deg)")
            else:
                dang_share = F.lit(damping) * F.col("__dang") / F.lit(n)
                contrib = F.col("rank") * damping / F.col("out_deg")
            sums = (
                contrib_edges.join(
                    ranks.select(F.col("node").alias("src"), "rank"), "src"
                )
                .select(F.col("dst").alias("node"), contrib.alias("c"))
                .groupBy("node")
                .agg(F.sum("c").alias("in_sum"))
            )
            new_ranks = (
                nodes.join(sums, "node", "left")
                .crossJoin(F.broadcast(dang_df))
                .select(
                    "node",
                    "dangling",
                    (
                        base
                        + dang_share
                        + F.coalesce(F.col("in_sum"), F.lit(0).cast(rank_t))
                    )
                    .cast(rank_t)
                    .alias("rank"),
                )
            )
            ranks, free_new = eager_checkpoint(new_ranks)
            # really release the previous round's checkpoint blocks —
            # DataFrame.unpersist() is a no-op on localCheckpoint state
            # (operators/iterutil.py); the FINAL round's blocks stay pinned
            # because the returned relation reads them.
            free_prev()
            free_prev = free_new
    out = ranks.select("node", "rank")
    nodes.unpersist()
    contrib_edges.unpersist()
    return out


def pagerank(
    edges: DataFrame,
    *,
    iterations: int = 10,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    init_ranks: DataFrame | None = None,
) -> DataFrame:
    """Double-precision PageRank; returns (node, rank DOUBLE).

    ``init_ranks`` (node, rank) warm-starts the iteration — pass a
    previous run's output to RESUME a long job after k rounds instead
    of restarting: ``pagerank(e, iterations=a+b)`` equals
    ``pagerank(e, iterations=b, init_ranks=pagerank(e, iterations=a))``
    exactly in fixed-point mode and to float associativity in double
    mode. Nodes missing from ``init_ranks`` start at 0 (they received
    no mass yet); extra nodes in it are ignored.
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    nodes, contrib_edges, n = _prepare(edges, src, dst)
    return _loop(
        nodes,
        contrib_edges,
        n,
        iterations,
        fixed=False,
        damping=damping,
        init_ranks=init_ranks,
    )


def _pagerank_fixedpoint_driver(edge_rows, iterations: int) -> dict:
    """Driver-side mirror of the fixed-point loop — the SAME exact
    integer recurrence as ``_loop(fixed=True)``, term for term:
    ``base = SCALE*15 // (100*n)``; per-edge contribution
    ``rank[src]*85 // (100*out_deg[src])``; dangling share
    ``(Σ dangling rank)*85 // (100*n)``. Python ``//`` equals Spark's
    ``div`` on the non-negative BIGINTs involved, and integer addition
    is order-free, so outputs are bit-identical to the distributed
    loop. Parallel edges and self-loops are honoured as given (each
    edge row contributes; out-degree counts rows), matching _prepare.
    """
    out_deg: dict = {}
    nodes = set()
    for s, d in edge_rows:
        out_deg[s] = out_deg.get(s, 0) + 1
        nodes.add(s)
        nodes.add(d)
    n = len(nodes)
    if n == 0:
        return {}
    base = (SCALE * 15) // (100 * n)
    rank = {v: SCALE // n for v in nodes}
    dangling = [v for v in nodes if v not in out_deg]
    for _ in range(iterations):
        dang = sum(rank[v] for v in dangling)
        dang_share = (dang * 85) // (100 * n)
        in_sum: dict = {}
        for s, d in edge_rows:
            c = (rank[s] * 85) // (100 * out_deg[s])
            in_sum[d] = in_sum.get(d, 0) + c
        rank = {v: base + dang_share + in_sum.get(v, 0) for v in nodes}
    return rank


def pagerank_fixedpoint(
    edges: DataFrame,
    *,
    iterations: int = 5,
    src: str = "src",
    dst: str = "dst",
    init_ranks: DataFrame | None = None,
) -> DataFrame:
    """Deterministic BIGINT PageRank (damping 85/100, mass ``SCALE``);
    returns (node, rank BIGINT) bit-identical across engines and
    partitionings. Pair with :func:`pagerank_fixedpoint_sql`.
    ``init_ranks`` resumes from a previous run's output (see
    :func:`pagerank`) — bit-exact: k1+k2 rounds == k2 rounds warm-
    started from k1 rounds' ranks.

    Graphs with at most ``components.SMALL_GRAPH_EDGES`` edges run the
    k rounds driver-side over the collected edge list — legitimate for
    the SAME reason the result is oracle-comparable at all: every step
    is exact BIGINT arithmetic (``//`` on non-negative integers ==
    ``div``; integer sums are order-free), so the Python rounds are
    bit-identical to the distributed ones BY CONSTRUCTION, not by
    tolerance (pinned across the bound in tests/test_pagerank.py). The
    collect is bounded by the constant; the node set of this operator
    is edge-derived (≤ 2·|E|), so nothing corpus-sized moves. The
    float variant has no such path — double sums are order-sensitive,
    and a driver re-association would NOT be the same function.
    ``init_ranks`` forces the distributed loop (its relation is not
    size-bounded by |E|)."""
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    from .components import SMALL_GRAPH_EDGES
    from .iterutil import eager_checkpoint

    # checkpoint FIRST, then count cached blocks: the gate must not
    # cost a full evaluation of a potentially corpus-sized pair-
    # generation upstream (round-12 self-review — the same hazard the
    # components edge checkpoint already defends), and above the bound
    # _prepare's derivations then read the blocks instead of
    # re-evaluating that upstream per branch.
    e_ck, free_e = eager_checkpoint(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    )
    if init_ranks is None and e_ck.count() <= SMALL_GRAPH_EDGES:
        rows = [(r["src"], r["dst"]) for r in e_ck.collect()]
        free_e()
        spark = edges.sparkSession
        node_t = e_ck.schema["src"].dataType.simpleString()
        ranks = _pagerank_fixedpoint_driver(rows, iterations)
        return local_relation(
            spark, sorted(ranks.items()), f"node {node_t}, rank bigint"
        )
    nodes, contrib_edges, n = _prepare(e_ck, "src", "dst")
    out = _loop(
        nodes,
        contrib_edges,
        n,
        iterations,
        fixed=True,
        damping=0.85,
        init_ranks=init_ranks,
    )
    # _loop runs every round eagerly and the returned relation reads
    # the FINAL rank checkpoint, not the edges — the edge blocks can be
    # released now (nodes/contrib persists were already dropped inside
    # _loop; nothing re-reads this lineage).
    free_e()
    return out


def pagerank_fixedpoint_cte_parts(
    edges_cte: str, iterations: int = 5, prefix: str = ""
) -> tuple[list[str], str]:
    """Composable DuckDB twin of :func:`pagerank_fixedpoint`:
    ``edges_cte`` must be a CTE body yielding (src, dst). Returns the
    CTE definitions (to splice into a larger WITH chain — every name
    carries ``prefix`` so callers can avoid collisions) and the name of
    the final relation, which yields (node, rank BIGINT). A plain
    join+GROUP BY per unrolled round, no recursive CTE (aggregates are
    restricted in recursive terms and an unrolled chain mirrors the
    Spark loop one-to-one anyway).

    Every CTE is ``AS MATERIALIZED``: DuckDB inlines CTEs PER
    REFERENCE (the round-6 doc-clusters lesson, NOTES.md), and each
    round here references the previous rank relation twice (dangling
    mass + contribution join) plus ``nodes`` — un-materialized, round k
    re-evaluates the whole chain O(2^k) times, which on a 10M-pair
    replica graph spilled ~80 GB of DuckDB temp and died on disk
    before finishing round 5 (the 100x run's second doc-clusters
    failure, SCALING.md round 9). Materialized, each relation is
    computed once: five rounds over the same 10M pairs run in seconds.
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    p = prefix
    parts = [
        f"{p}e AS MATERIALIZED ({edges_cte})",
        f"""{p}nodes AS MATERIALIZED (
          SELECT node,
                 node NOT IN (SELECT src FROM {p}e) AS dangling
          FROM (SELECT src AS node FROM {p}e UNION SELECT dst FROM {p}e)
        )""",
        f"""{p}deg AS MATERIALIZED (
          SELECT src, COUNT(*) AS out_deg FROM {p}e GROUP BY src
        )""",
        f"""{p}ce AS MATERIALIZED (
          SELECT {p}e.src, {p}e.dst, {p}deg.out_deg
          FROM {p}e JOIN {p}deg USING (src)
        )""",
        f"""{p}r0 AS MATERIALIZED (
          SELECT node, dangling,
                 CAST({SCALE} // (SELECT COUNT(*) FROM {p}nodes) AS BIGINT)
                   AS rank
          FROM {p}nodes
        )""",
    ]
    for i in range(iterations):
        prev, cur = f"{p}r{i}", f"{p}r{i + 1}"
        parts.append(
            f"""{p}d{i} AS MATERIALIZED (
              SELECT COALESCE(SUM(rank), 0) AS s FROM {prev} WHERE dangling
            )""",
        )
        parts.append(
            f"""{p}s{i} AS MATERIALIZED (
              SELECT {p}ce.dst AS node,
                     SUM((pr.rank * 85) // (100 * {p}ce.out_deg)) AS in_sum
              FROM {p}ce JOIN {prev} pr ON pr.node = {p}ce.src
              GROUP BY {p}ce.dst
            )""",
        )
        parts.append(
            f"""{cur} AS MATERIALIZED (
              SELECT n.node, n.dangling,
                     CAST(({SCALE} * 15)
                            // (100 * (SELECT COUNT(*) FROM {p}nodes))
                       + ((SELECT s FROM {p}d{i}) * 85)
                           // (100 * (SELECT COUNT(*) FROM {p}nodes))
                       + COALESCE({p}s{i}.in_sum, 0) AS BIGINT) AS rank
              FROM {p}nodes n LEFT JOIN {p}s{i} ON {p}s{i}.node = n.node
            )""",
        )
    return parts, f"{p}r{iterations}"


def pagerank_fixedpoint_sql(edges_cte: str, iterations: int = 5) -> str:
    """Standalone DuckDB twin of :func:`pagerank_fixedpoint` — the
    :func:`pagerank_fixedpoint_cte_parts` chain wrapped in its own
    WITH."""
    parts, final = pagerank_fixedpoint_cte_parts(edges_cte, iterations)
    return (
        "WITH " + ",\n".join(parts) + f"\nSELECT node, rank FROM {final}"
    )
