"""operators.components — hash-min connected components.

The driver-facing query (neardup_doc_clusters) only exercises shallow
dup-cluster graphs; these tests pin the properties the query relies on:
multi-round chain convergence, singleton handling, duplicate-edge
tolerance, and the max_rounds guard.
"""

from __future__ import annotations

import pytest

from sports_stats_data_pipeline_spark.operators.components import (
    connected_components,
)


def _cc(spark, nodes, edges, **kw):
    n = spark.createDataFrame([(x,) for x in nodes], "id long")
    e = spark.createDataFrame(
        edges or [(None, None)], "src long, dst long"
    ).filter("src is not null")
    out = connected_components(n, e, **kw)
    return {r["id"]: r["cluster_id"] for r in out.collect()}


def test_chain_needs_multiple_rounds(spark):
    # path graph 1-2-3-4-5-6: diameter 5, min label must walk the chain
    got = _cc(spark, range(1, 7), [(i, i + 1) for i in range(1, 6)])
    assert got == {i: 1 for i in range(1, 7)}


def test_singletons_and_two_components(spark):
    got = _cc(spark, [1, 2, 3, 10, 11, 99], [(2, 1), (2, 3), (11, 10)])
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99}


def test_duplicate_and_self_edges_are_harmless(spark):
    got = _cc(spark, [1, 2], [(1, 2), (1, 2), (2, 1), (1, 1)])
    assert got == {1: 1, 2: 1}


def test_max_rounds_guard(spark, monkeypatch):
    # force the DISTRIBUTED loop (the guard under test): below the
    # small-graph bound the fast path would just solve this instantly
    from sports_stats_data_pipeline_spark.operators import components as C

    monkeypatch.setattr(C, "SMALL_GRAPH_EDGES", 0)
    with pytest.raises(RuntimeError, match="fixpoint"):
        _cc(
            spark,
            range(1, 7),
            [(i, i + 1) for i in range(1, 6)],
            max_rounds=2,
        )


def test_small_graph_fast_path_matches_distributed_loop(spark, monkeypatch):
    """The driver-side union-find fast path and the distributed
    hash-min loop are the same function: identical (id, cluster_id)
    output on a graph with chains, a clique, isolated nodes, and
    duplicate/reversed edges — run once under each path by moving the
    SMALL_GRAPH_EDGES bound across the graph's edge count."""
    import random

    from sports_stats_data_pipeline_spark.operators import components as C

    rng = random.Random(7)
    edges = (
        [(i, i + 1) for i in range(0, 40, 2)]          # 20 tiny chains
        + [(100 + i, 100 + j) for i in range(6) for j in range(i)]
        + [(200, 201), (201, 200), (200, 201)]          # dup + reversed
        + [(rng.randint(300, 340), rng.randint(300, 340)) for _ in range(30)]
    )
    nodes = sorted({u for e in edges for u in e} | {900, 901})
    ndf = spark.createDataFrame([(n,) for n in nodes], "id long")
    edf = spark.createDataFrame(edges, "src long, dst long")

    monkeypatch.setattr(C, "SMALL_GRAPH_EDGES", 10_000)
    fast = sorted(map(tuple, C.connected_components(ndf, edf).collect()))
    monkeypatch.setattr(C, "SMALL_GRAPH_EDGES", 0)
    loop = sorted(map(tuple, C.connected_components(ndf, edf).collect()))
    assert fast == loop
    # isolated nodes are singleton clusters on both paths
    as_map = dict(fast)
    assert as_map[900] == 900 and as_map[901] == 901
