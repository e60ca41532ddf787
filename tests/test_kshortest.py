"""Yen's k-shortest loopless paths (SparkGraph.k_shortest_paths —
r12-verdict task #6): exact enumeration on a closed-form fixture,
looplessness, exhaustion semantics, CH-lite composition, uw sanity."""

from __future__ import annotations

import networkx as nx
import pytest
from pyspark.sql import functions as F

from entwiner_spark.operators.graph import SparkGraph


def _g(spark, rows):
    edges = spark.createDataFrame(rows, "_u string, _v string, w double")
    nodes = (
        edges.select(F.col("_u").alias("_n"))
        .unionByName(edges.select(F.col("_v").alias("_n")))
        .distinct()
    )
    return SparkGraph(nodes, edges)


def test_yen_exact_on_diamond(spark):
    g = _g(
        spark,
        [
            ("a", "b", 1.0),
            ("b", "d", 1.0),
            ("a", "c", 1.0),
            ("c", "d", 2.0),
            ("a", "d", 4.0),
        ],
    )
    got = g.k_shortest_paths("a", "d", k=3, weight="w")
    assert got == [
        (["a", "b", "d"], 2.0),
        (["a", "c", "d"], 3.0),
        (["a", "d"], 4.0),
    ]


def test_yen_exhausts_routes(spark):
    g = _g(spark, [("a", "b", 1.0), ("b", "c", 1.0)])
    got = g.k_shortest_paths("a", "c", k=5, weight="w")
    assert got == [(["a", "b", "c"], 2.0)]
    assert g.k_shortest_paths("c", "a", k=2, weight="w") == []


def test_yen_paths_are_loopless(spark):
    # cycle b->e->b tempts a looping "alternative"; Yen must not emit it
    g = _g(
        spark,
        [
            ("a", "b", 1.0),
            ("b", "c", 1.0),
            ("b", "e", 0.1),
            ("e", "b", 0.1),
            ("a", "c", 5.0),
        ],
    )
    got = g.k_shortest_paths("a", "c", k=4, weight="w")
    assert [p for p, _ in got] == [["a", "b", "c"], ["a", "c"]]
    for p, _ in got:
        assert len(p) == len(set(p))


def test_yen_composes_with_contracted(spark):
    """Yen on the chain-contracted minor expands to the same routes as
    Yen on the raw graph when every edge is a 3-link chain.  b and c
    get dead-end spurs so they stay JUNCTIONS (otherwise the whole
    diamond folds into parallel a→d shortcuts sharing one minor node
    path — the documented node-path-uniqueness collapse)."""
    base = [
        ("a", "b", 1.0),
        ("b", "d", 1.0),
        ("a", "c", 1.0),
        ("c", "d", 2.0),
        ("a", "d", 4.0),
    ]
    rows = [("b", "x", 9.0), ("c", "x", 9.0)]
    for u, v, w in base:
        m1, m2 = f"{u}{v}1", f"{u}{v}2"
        rows += [
            (u, m1, w / 4),
            (m1, m2, w / 4),
            (m2, v, w / 2),
        ]
    g = _g(spark, rows)
    raw = g.k_shortest_paths("a", "d", k=3, weight="w")
    c = g.contract_chains(weight="w", keep_path=True)
    via = g.k_shortest_paths(
        "a", "d", k=3, weight="w", via="contracted", contracted=c
    )
    assert [(p, round(cst, 9)) for p, cst in via] == [
        (p, round(cst, 9)) for p, cst in raw
    ]


def test_yen_on_uw(spark, uw_geojson):
    from entwiner_spark.sources.geojson import (
        edges_from_geojson,
        nodes_from_edges,
    )

    edges = edges_from_geojson(
        spark, uw_geojson, with_length=True
    ).localCheckpoint()
    g = SparkGraph(nodes_from_edges(edges), edges)
    # uw is fully connected (every node reachable); route min-id -> the
    # probed farthest node (~838 m away on uw, plenty of alternatives)
    src = min(r["_n"] for r in g.nodes.select("_n").collect())
    far = nx.single_source_dijkstra_path_length(
        g.to_networkx(), src, weight="_length"
    )
    dst = max(far, key=far.get)
    best = g.shortest_path(src, dst, weight="_length", strategy="local")
    assert best is not None
    alts = g.k_shortest_paths(src, dst, k=3, weight="_length")
    assert len(alts) == 3
    assert alts[0][0] == best[0]
    assert alts[0][1] == pytest.approx(best[1])
    costs = [c for _p, c in alts]
    assert costs == sorted(costs)
    assert len({tuple(p) for p, _c in alts}) == 3
    wmap = {}
    for r in edges.select("_u", "_v", "_length").collect():
        k = (r["_u"], r["_v"])
        wmap[k] = min(wmap.get(k, float("inf")), r["_length"])
    for p, c in alts:
        assert len(p) == len(set(p))  # loopless
        assert sum(
            wmap[(a, b)] for a, b in zip(p, p[1:])
        ) == pytest.approx(c, rel=1e-9)


def test_yen_local_twin_equals_distributed(spark):
    """The r13 driver-local Yen fast path must return exactly what the
    distributed spur machinery returns (forced strategy='pregel')."""
    g = _g(
        spark,
        [
            ("a", "b", 1.0),
            ("b", "d", 1.0),
            ("a", "c", 1.0),
            ("c", "d", 2.0),
            ("a", "d", 4.0),
            ("b", "c", 0.5),
        ],
    )
    local = g.k_shortest_paths("a", "d", k=4, weight="w")
    dist = g.k_shortest_paths("a", "d", k=4, weight="w", strategy="pregel")
    assert local == dist and len(local) == 4
