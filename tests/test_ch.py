"""Full contraction hierarchies (operators/ch.py — reference
TODO.md:70): build invariants, exact-route parity vs plain Dijkstra on
graphs where chain-folding stalls (high-degree junctions), core
cutoff, and local==pregel query parity."""

from __future__ import annotations

import hashlib
import heapq

import networkx as nx
import pytest
from pyspark.sql import functions as F

from entwiner_spark.operators import ch as ch_module
from entwiner_spark.operators.ch import (
    _SEARCH_COLS,
    CORE_RANK,
    ContractionHierarchy,
)
from entwiner_spark.operators.graph import SparkGraph


def _grid_graph(spark, n):
    """n x n bidirectional unit grid — every interior node is a 4-way
    junction, so contract_chains (degree-2 only) folds NOTHING here;
    full CH must still collapse it."""
    base = spark.range(n * n).select(
        (F.col("id") % n).cast("int").alias("x"),
        (F.col("id") / n).cast("int").alias("y"),
    )
    nid = F.concat_ws(":", "x", "y")
    parts = []
    for dx, dy in ((1, 0), (0, 1)):
        nbr = F.concat_ws(
            ":", (F.col("x") + dx).cast("int"), (F.col("y") + dy).cast("int")
        )
        keep = base.filter(
            (F.col("x") + dx < n) & (F.col("y") + dy < n)
        )
        # deterministic, irregular, tie-poor weights
        wexpr = (
            F.lit(1.0)
            + (F.xxhash64(nid, nbr, F.lit(dx)) % 97).cast("double") / 100.0
        )
        parts.append(
            keep.select(nid.alias("_u"), nbr.alias("_v"), wexpr.alias("w"))
        )
        parts.append(
            keep.select(nbr.alias("_u"), nid.alias("_v"), wexpr.alias("w"))
        )
    edges = parts[0]
    for p in parts[1:]:
        edges = edges.unionByName(p)
    nodes = (
        edges.select(F.col("_u").alias("_n"))
        .unionByName(edges.select(F.col("_v").alias("_n")))
        .distinct()
    )
    return SparkGraph(nodes, edges, partitions=4)


def _dijkstra(adj, src, dst):
    dist = {src: 0.0}
    pq = [(0.0, src)]
    while pq:
        d, u = heapq.heappop(pq)
        if d > dist.get(u, float("inf")):
            continue
        for v, w in adj.get(u, []):
            nd = d + w
            if nd < dist.get(v, float("inf")):
                dist[v] = nd
                heapq.heappush(pq, (nd, v))
    return dist.get(dst)


@pytest.fixture(scope="module")
def grid6(spark):
    g = _grid_graph(spark, 6)
    ch = ContractionHierarchy.build(g, weight="w")
    adj = {}
    for r in g.edges.collect():
        adj.setdefault(r["_u"], []).append((r["_v"], r["w"]))
    return g, ch, adj


def test_ch_build_ranks_every_node(grid6):
    g, ch, _adj = grid6
    n = g.order()
    assert ch.ranks.count() == n
    # every node got a rank; the 6x6 grid should fully contract
    assert ch.core_size == 0
    assert ch.rounds >= 2
    # search graph superset: all original edges present
    assert ch.n_search_edges >= g.size()


def test_ch_pregel_build_matches_local_routes(spark):
    """The DISTRIBUTED batched-IS build produces a different hierarchy
    than the local priority-queue build, but both must route exactly
    (the CH exactness invariant is order-independent)."""
    g = _grid_graph(spark, 4)
    # local_finish=4: real distributed IS rounds on 16 nodes, then the
    # shared driver core contracts the top (the production hybrid)
    chp = ContractionHierarchy.build(
        g, weight="w", strategy="pregel", local_finish=4
    )
    chl = ContractionHierarchy.build(g, weight="w", strategy="local")
    assert chp.ranks.count() == g.order()
    adj = {}
    for r in g.edges.collect():
        adj.setdefault(r["_u"], []).append((r["_v"], r["w"]))
    for src, dst in [("0:0", "3:3"), ("3:0", "0:3"), ("1:2", "2:0")]:
        want = _dijkstra(adj, src, dst)
        _pp, cp = chp.route(src, dst, strategy="local")
        _pl, cl = chl.route(src, dst, strategy="local")
        assert cp == pytest.approx(want, rel=1e-12)
        assert cl == pytest.approx(want, rel=1e-12)


def test_ch_route_parity_on_junction_grid(grid6):
    """CH cost == textbook Dijkstra for a spread of pairs, and the
    expanded path is a REAL raw-edge walk whose weights sum to the
    cost — on the graph shape where chain contraction can't help."""
    g, ch, adj = grid6
    wmap = {}
    for u, lst in adj.items():
        for v, w in lst:
            k = (u, v)
            wmap[k] = min(wmap.get(k, float("inf")), w)
    for src, dst in [
        ("0:0", "5:5"),
        ("0:5", "5:0"),
        ("2:3", "4:1"),
        ("0:0", "0:1"),
    ]:
        want = _dijkstra(adj, src, dst)
        path, cost = ch.route(src, dst, strategy="local")
        assert cost == pytest.approx(want, rel=1e-12), (src, dst)
        assert path[0] == src and path[-1] == dst
        walk = sum(wmap[(a, b)] for a, b in zip(path, path[1:]))
        assert walk == pytest.approx(cost, rel=1e-12)


def test_ch_local_equals_pregel(grid6):
    _g, ch, _adj = grid6
    pl, cl = ch.route("0:0", "5:5", strategy="local")
    pp, cp = ch.route("0:0", "5:5", strategy="pregel")
    assert cl == pytest.approx(cp, rel=1e-12)
    assert pl[0] == pp[0] and pl[-1] == pp[-1]
    wl = {}
    # equal-cost optima may differ between strategies; both must be
    # real walks of the right cost (checked above for local)
    for a, b in zip(pp, pp[1:]):
        wl[(a, b)] = True
    assert len(pp) >= 2


# exact pregel routes on the junction-grid parity pairs: pins the meet
# tie-break (min cost, then id as a string) and the pred walk
GRID6_PREGEL_PATHS = {
    ("0:0", "5:5"): (
        ["0:0", "1:0", "1:1", "2:1", "3:1", "3:2", "3:3", "4:3", "4:4",
         "4:5", "5:5"],
        5.78,
    ),
    ("0:5", "5:0"): (
        ["0:5", "0:4", "1:4", "2:4", "2:3", "3:3", "4:3", "4:2", "5:2",
         "5:1", "5:0"],
        5.67,
    ),
    ("2:3", "4:1"): (["2:3", "3:3", "4:3", "4:2", "4:1"], 2.11),
    ("0:0", "0:1"): (["0:0", "0:1"], 1.67),
}


def test_ch_pregel_route_golden_paths(grid6):
    _g, ch, _adj = grid6
    for (src, dst), (want_path, want_cost) in GRID6_PREGEL_PATHS.items():
        path, cost = ch.route(src, dst, strategy="pregel")
        assert path == want_path, (src, dst)
        assert cost == pytest.approx(want_cost, rel=1e-12), (src, dst)


def test_ch_settled_cap_fallback(grid6, monkeypatch):
    """Above the settled-row cap a route walks its preds with per-hop
    collects (same path), and route_matrix refuses."""
    _g, ch, _adj = grid6
    traced = []
    real_trace = ContractionHierarchy._trace

    def spy(self, dist, side, meet, limit):
        traced.append(side)
        return real_trace(self, dist, side, meet, limit)

    monkeypatch.setattr(ContractionHierarchy, "_TRACE_COLLECT_CAP", 1)
    monkeypatch.setattr(ContractionHierarchy, "_trace", spy)
    src, dst = "0:0", "5:5"
    path, cost = ch.route(src, dst, strategy="pregel")
    assert sorted(traced) == ["b", "f"]
    assert (path, cost) == (
        GRID6_PREGEL_PATHS[(src, dst)][0],
        pytest.approx(GRID6_PREGEL_PATHS[(src, dst)][1], rel=1e-12),
    )
    with pytest.raises(RuntimeError, match="driver cap"):
        ch.route_matrix([src], [dst], strategy="pregel")


def test_ch_query_job_counts(spark, spark_cost):
    """Distributed query (jobs, stages) budgets on one fixed 4x4 grid,
    as they ran before the bidirectional searches moved onto the
    shared wavefront round: a round is one frontier broadcast plus one
    merge, a route's meeting node and settled count come from its
    probe, and its pred walk is one collect.  A second broadcast per
    round or an extra epilogue query fails here."""
    g = _grid_graph(spark, 4)
    ch = ContractionHierarchy.build(
        g, weight="w", strategy="pregel", local_finish=4, customizable=True
    )
    srcs, tgts = ["0:0", "3:0"], ["3:3", "0:3"]
    assert spark_cost(
        lambda: ch.route("0:0", "3:3", strategy="pregel")
    ) == (18, 18)
    assert spark_cost(
        lambda: ch.route_matrix(srcs, tgts, strategy="pregel").collect()
    ) == (26, 26)
    assert spark_cost(
        lambda: ch.distance_matrix(srcs, tgts, strategy="pregel").collect()
    ) == (26, 26)
    new = g.edges.select("_u", "_v", "w")
    assert spark_cost(
        lambda: ch.customize(new, strategy="pregel")
    ) == (35, 35)
    # the driver twin collects the search arcs joined to the metric
    # once and runs nothing else (separate ranks, search and metric
    # collects ran 4 jobs and stages)
    assert spark_cost(
        lambda: ch.customize(new, strategy="local")
    ) == (3, 3)


def test_ch_core_cutoff_stays_exact(spark, grid6):
    """max_rounds=1 leaves most of the grid as an uncontracted core —
    queries must STILL be exact (core edges are bidirectionally
    upward)."""
    g, _ch, adj = grid6
    ch1 = ContractionHierarchy.build(
        g, weight="w", max_rounds=1, strategy="pregel", local_finish=0
    )
    assert ch1.core_size > 0
    assert (
        ch1.ranks.filter(F.col("rank") == CORE_RANK).count()
        == ch1.core_size
    )
    want = _dijkstra(adj, "0:0", "5:5")
    _p, cost = ch1.route("0:0", "5:5", strategy="local")
    assert cost == pytest.approx(want, rel=1e-12)


def test_ch_unreachable_and_trivial(spark):
    edges = spark.createDataFrame(
        [("a", "b", 1.0), ("c", "d", 1.0)],
        "_u string, _v string, w double",
    )
    nodes = spark.createDataFrame(
        [("a",), ("b",), ("c",), ("d",)], "_n string"
    )
    g = SparkGraph(nodes, edges)
    ch = ContractionHierarchy.build(g, weight="w")
    assert ch.route("a", "d") is None
    assert ch.route("a", "a") == (["a"], 0.0)
    assert ch.route("a", "b")[1] == pytest.approx(1.0)


def test_ch_build_is_deterministic(spark):
    g = _grid_graph(spark, 4)
    a = ContractionHierarchy.build(g, weight="w")
    b = ContractionHierarchy.build(g, weight="w")
    ra = {(r["_n"], r["rank"]) for r in a.ranks.collect()}
    rb = {(r["_n"], r["rank"]) for r in b.ranks.collect()}
    assert ra == rb
    assert a.n_search_edges == b.n_search_edges
    pa, ca = a.route("0:0", "3:3", strategy="local")
    pb, cb = b.route("0:0", "3:3", strategy="local")
    assert pa == pb and ca == cb


def test_shortest_path_via_ch(grid6):
    """SparkGraph.shortest_path(via='ch') — the integrated form,
    build-once via ch= or on the fly."""
    g, ch, adj = grid6
    want = _dijkstra(adj, "0:0", "4:2")
    path, cost = g.shortest_path("0:0", "4:2", weight="w", via="ch", ch=ch)
    assert cost == pytest.approx(want, rel=1e-12)
    assert path[0] == "0:0" and path[-1] == "4:2"
    p2, c2 = g.shortest_path("0:0", "4:2", weight="w", via="ch")
    assert c2 == pytest.approx(want, rel=1e-12) and p2[0] == "0:0"


def test_ch_on_uw_matches_raw_sssp(spark, uw_geojson):
    """Street-graph parity: CH route cost == raw shortest_path on the
    uw sidewalk network, path expands to raw nodes."""
    from entwiner_spark.sources.geojson import (
        edges_from_geojson,
        nodes_from_edges,
    )

    edges = edges_from_geojson(
        spark, uw_geojson, with_length=True
    ).localCheckpoint()
    g = SparkGraph(nodes_from_edges(edges), edges)
    ch = ContractionHierarchy.build(g, weight="_length")
    # min-id -> probed farthest node (~838 m on uw; uw is fully connected)
    src = min(r["_n"] for r in g.nodes.select("_n").collect())
    far = nx.single_source_dijkstra_path_length(
        g.to_networkx(), src, weight="_length"
    )
    dst = max(far, key=far.get)
    raw = g.shortest_path(src, dst, weight="_length", strategy="local")
    assert raw is not None
    got = ch.route(src, dst)
    assert got is not None
    path, cost = got
    assert cost == pytest.approx(raw[1], rel=1e-9)
    assert path[0] == src and path[-1] == dst
    # every expanded hop is a raw uw edge
    raw_pairs = {(r["_u"], r["_v"]) for r in edges.select("_u", "_v").collect()}
    assert all((a, b) in raw_pairs for a, b in zip(path, path[1:]))


def test_ch_deep_hierarchy_path_graph(spark):
    """Regression (r13 ADVICE high): a path graph contracted with
    lexicographic tie-breaks nests shortcuts LINEARLY — depth ~N, far
    past any fixed unpack cap and past Python's recursion limit if
    expansion recursed.  route(strategy='pregel') must agree with
    strategy='local' on the full unpacked walk."""
    n = 200
    ids = [f"n{i:03d}" for i in range(n)]
    rows = []
    for a, b in zip(ids, ids[1:]):
        rows.append((a, b, 1.0))
        rows.append((b, a, 1.0))
    edges = spark.createDataFrame(rows, "_u string, _v string, w double")
    nodes = spark.createDataFrame([(i,) for i in ids], "_n string")
    g = SparkGraph(nodes, edges)
    ch = ContractionHierarchy.build(g, weight="w", strategy="local")
    # measured: overlapping the local and pregel routes here is ~15%
    # SLOWER (the local twin's driver-Python work contends with the
    # ~200 per-level driver jobs of the pregel unpack) — keep serial
    pl, cl = ch.route(ids[0], ids[-1], strategy="local")
    pp, cp = ch.route(ids[0], ids[-1], strategy="pregel")
    assert cl == pytest.approx(float(n - 1))
    assert cp == pytest.approx(cl)
    assert pl == ids
    assert pp == ids


def test_ch_save_load_route_parity(spark, tmp_path, grid6):
    """save() -> load() -> route must equal the in-memory route (path
    AND cost) — build-once/route-many across sessions (r13 verdict
    task #1; reference on-disk ethos TODO.md:27-31)."""
    g, ch, adj = grid6
    store = str(tmp_path / "ch_store")
    ch.save(store)
    ch2 = ContractionHierarchy.load(spark, store)
    assert ch2.n_search_edges == ch.n_search_edges
    assert ch2.core_size == ch.core_size
    for src, dst in [("0:0", "5:5"), ("0:5", "5:0"), ("2:3", "4:1")]:
        p0, c0 = ch.route(src, dst, strategy="local")
        p1, c1 = ch2.route(src, dst, strategy="local")
        assert c1 == pytest.approx(c0, rel=1e-12)
        assert p1 == p0
    # pregel query path over the reloaded parquet-backed tables too
    pp, cp = ch2.route("0:0", "5:5", strategy="pregel")
    assert cp == pytest.approx(ch.route("0:0", "5:5", strategy="local")[1])
    # atomic overwrite: saving again over the same dir is safe
    ch.save(store)
    ch3 = ContractionHierarchy.load(spark, store)
    assert ch3.route("0:0", "0:1", strategy="local")[1] == pytest.approx(
        ch.route("0:0", "0:1", strategy="local")[1]
    )


def test_ch_load_rejects_non_store(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        ContractionHierarchy.load(spark, str(tmp_path / "nope"))


def test_ch_distance_matrix_matches_dijkstra(grid6):
    """Many-to-many distances == per-pair textbook Dijkstra on the
    junction grid (local path), src==dst pairs cost 0, and unreachable
    pairs are absent."""
    g, ch, adj = grid6
    srcs = ["0:0", "3:2", "5:5"]
    tgts = ["5:0", "0:5", "0:0"]
    got = {
        (r["src"], r["dst"]): r["dist"]
        for r in ch.distance_matrix(srcs, tgts).collect()
    }
    assert len(got) == 9
    for s in srcs:
        for t in tgts:
            want = 0.0 if s == t else _dijkstra(adj, s, t)
            assert got[(s, t)] == pytest.approx(want, rel=1e-12), (s, t)


def test_ch_distance_matrix_pregel_parity(spark):
    """Forced-distributed batched searches == the local twin on the
    4x4 grid (state keyed (side, origin, _n), one merge per round)."""
    g = _grid_graph(spark, 4)
    ch = ContractionHierarchy.build(g, weight="w", strategy="local")
    srcs, tgts = ["0:0", "3:0"], ["3:3", "0:3"]
    loc = {
        (r["src"], r["dst"]): r["dist"]
        for r in ch._distance_matrix_local(srcs, tgts).collect()
    }
    dist = {
        (r["src"], r["dst"]): r["dist"]
        for r in ch.distance_matrix(
            srcs, tgts, strategy="pregel"
        ).collect()
    }
    assert set(dist) == set(loc)
    for k in loc:
        assert dist[k] == pytest.approx(loc[k], rel=1e-12)


def test_ch_distance_matrix_unreachable_absent(spark):
    edges = spark.createDataFrame(
        [("a", "b", 1.0), ("c", "d", 2.0)],
        "_u string, _v string, w double",
    )
    nodes = spark.createDataFrame(
        [("a",), ("b",), ("c",), ("d",)], "_n string"
    )
    g = SparkGraph(nodes, edges)
    ch = ContractionHierarchy.build(g, weight="w")
    got = {
        (r["src"], r["dst"]): r["dist"]
        for r in ch.distance_matrix(["a", "c"], ["b", "d"]).collect()
    }
    assert got == {("a", "b"): 1.0, ("c", "d"): 2.0}
    with pytest.raises(ValueError):
        ch.distance_matrix([], ["b"])


def test_ch_sssp_matches_full_dijkstra(grid6):
    """PHAST one-to-all == textbook Dijkstra to EVERY node of the
    junction grid (local twin), and the forced-distributed
    up-then-down sweep agrees."""
    g, ch, adj = grid6
    want = {}
    import heapq as _hq

    dist = {"0:0": 0.0}
    pq = [(0.0, "0:0")]
    while pq:
        d, u = _hq.heappop(pq)
        if d > dist.get(u, float("inf")):
            continue
        for v, w in adj.get(u, []):
            nd = d + w
            if nd < dist.get(v, float("inf")):
                dist[v] = nd
                _hq.heappush(pq, (nd, v))
    want = dist
    got = {r["_n"]: r["dist"] for r in ch.sssp("0:0").collect()}
    assert set(got) == set(want)
    for n, d in want.items():
        assert got[n] == pytest.approx(d, rel=1e-12), n
    gotp = {
        r["_n"]: r["dist"]
        for r in ch.sssp("0:0", strategy="pregel").collect()
    }
    assert set(gotp) == set(want)
    for n, d in want.items():
        assert gotp[n] == pytest.approx(d, rel=1e-12), n


def test_ch_route_matrix_paths_and_costs(grid6):
    """route_matrix == per-pair route (cost AND a real raw-edge walk
    summing to it) on the junction grid; src==dst gives [src]/0."""
    g, ch, adj = grid6
    wmap = {}
    for u, lst in adj.items():
        for v, w in lst:
            wmap[(u, v)] = min(wmap.get((u, v), float("inf")), w)
    srcs, tgts = ["0:0", "5:5"], ["5:0", "0:0"]
    rows = {
        (r["src"], r["dst"]): (r["dist"], r["path"])
        for r in ch.route_matrix(srcs, tgts).collect()
    }
    assert len(rows) == 4
    for s in srcs:
        for t in tgts:
            d, p = rows[(s, t)]
            if s == t:
                assert (d, p) == (0.0, [s])
                continue
            want = _dijkstra(adj, s, t)
            assert d == pytest.approx(want, rel=1e-12), (s, t)
            assert p[0] == s and p[-1] == t
            walk = sum(wmap[(a, b)] for a, b in zip(p, p[1:]))
            assert walk == pytest.approx(d, rel=1e-12)


def test_ch_route_matrix_pregel_parity(spark):
    g = _grid_graph(spark, 4)
    ch = ContractionHierarchy.build(g, weight="w", strategy="local")
    srcs, tgts = ["0:0", "3:0"], ["3:3"]
    loc = {
        (r["src"], r["dst"]): (r["dist"], tuple(r["path"]))
        for r in ch.route_matrix(srcs, tgts, strategy="local").collect()
    }
    dst = {
        (r["src"], r["dst"]): (r["dist"], tuple(r["path"]))
        for r in ch.route_matrix(srcs, tgts, strategy="pregel").collect()
    }
    assert set(loc) == set(dst)
    adj = {}
    for r in g.edges.collect():
        adj.setdefault(r["_u"], []).append((r["_v"], r["w"]))
    for k in loc:
        assert dst[k][0] == pytest.approx(loc[k][0], rel=1e-12)
        # equal-cost optima may differ; both ends must pin
        assert dst[k][1][0] == k[0] and dst[k][1][-1] == k[1]


def test_ch_staleness_guard(spark, tmp_path, grid6):
    """r14-verdict task #5: a persisted hierarchy refuses to route a
    MUTATED graph — load(graph=) / check_fresh compare the live edge
    table's fingerprint against the one recorded at build, raising on
    mismatch instead of silently serving stale shortcut costs."""
    g, ch, _adj = grid6
    store = str(tmp_path / "ch_fresh")
    ch.save(store)
    # unchanged graph: load verifies clean
    ch2 = ContractionHierarchy.load(spark, store, graph=g, weight="w")
    assert ch2.edge_fingerprint == ch.edge_fingerprint
    # keyed update (the M1/M2 shape): one edge weight changes
    mutated = SparkGraph(
        g.nodes,
        g.edges.withColumn(
            "w",
            F.when(
                (F.col("_u") == "0:0") & (F.col("_v") == "1:0"),
                F.col("w") + 5.0,
            ).otherwise(F.col("w")),
        ),
        partitions=4,
    )
    with pytest.raises(RuntimeError, match="stale"):
        ContractionHierarchy.load(spark, store, graph=mutated, weight="w")
    with pytest.raises(RuntimeError, match="stale"):
        ch2.check_fresh(mutated, "w")
    # edge added / dropped also flips it
    dropped = SparkGraph(
        g.nodes,
        g.edges.filter(~((F.col("_u") == "0:0") & (F.col("_v") == "1:0"))),
        partitions=4,
    )
    with pytest.raises(RuntimeError, match="stale"):
        ch2.check_fresh(dropped, "w")
    # pre-fingerprint artifacts degrade loudly, not silently
    ch2.edge_fingerprint = None
    with pytest.raises(ValueError, match="no edge fingerprint"):
        ch2.check_fresh(g, "w")


def test_phast_down_sweep_parity(spark):
    """PHAST on a pregel-built hierarchy equals raw pregel SSSP to the
    last double: ``sssp_multi`` per source, and ``sssp`` (its
    one-source case)."""
    g = _grid_graph(spark, 6)
    ch = ContractionHierarchy.build(g, weight="w", strategy="pregel")
    multi = {
        (r["src"], r["_n"]): r["dist"]
        for r in ch.sssp_multi(["0:0", "5:5"], strategy="pregel").collect()
    }
    raw = {
        r["_n"]: r["dist"]
        for r in g.shortest_path_lengths(
            "0:0", weight="w", strategy="pregel"
        ).collect()
    }
    via = {
        r["_n"]: r["dist"]
        for r in ch.sssp("0:0", strategy="pregel").collect()
    }
    assert via.keys() == raw.keys()
    assert {n for s, n in multi if s == "0:0"} == raw.keys()
    for k in raw:
        assert via[k] == pytest.approx(raw[k], rel=1e-12)
        assert multi[("0:0", k)] == pytest.approx(via[k], rel=1e-12)


def test_ch_load_old_fallback(spark, tmp_path, grid6):
    """r15 ADVICE: a crash between the publish's two renames leaves
    the artifact only at <store>.old — load() serves that last
    fully-published version instead of FileNotFoundError."""
    import os

    g, ch, _adj = grid6
    store = str(tmp_path / "ch_crash")
    ch.save(store)
    os.rename(store, store + ".old")  # the crash window state
    ch2 = ContractionHierarchy.load(spark, store, graph=g, weight="w")
    assert ch2.edge_fingerprint == ch.edge_fingerprint
    # a store that never existed still fails loudly
    with pytest.raises(FileNotFoundError):
        ContractionHierarchy.load(spark, str(tmp_path / "nope"))


def test_ch_sssp_multi_matches_per_source(grid6):
    """Batched PHAST == per-source sssp (exact, every reachable node),
    on both strategies."""
    g, ch, adj = grid6
    sources = ["0:0", "3:3", "5:0"]
    # the per-source reference sweeps are independent — overlap them
    # (guide §2.6); the want-map is assembled in source order
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=3) as pool:
        ref = list(
            pool.map(lambda s: ch.sssp(s, strategy="pregel").collect(), sources)
        )
    want = {}
    for s, rows in zip(sources, ref):
        for r in rows:
            want[(s, r["_n"])] = r["dist"]
    got = {
        (r["src"], r["_n"]): r["dist"]
        for r in ch.sssp_multi(sources, strategy="pregel").collect()
    }
    assert got.keys() == want.keys()
    for k in want:
        assert got[k] == pytest.approx(want[k], rel=1e-12)
    got_local = {
        (r["src"], r["_n"]): r["dist"]
        for r in ch.sssp_multi(sources, strategy="local").collect()
    }
    assert got_local.keys() == want.keys()
    for k in want:
        assert got_local[k] == pytest.approx(want[k], rel=1e-12)


def test_isochrone_via_ch_equals_raw(grid6):
    """isochrone(ch=) == raw pregel isochrone — same reachable set,
    same distances, PHAST rounds instead of diameter rounds."""
    g, ch, _adj = grid6
    budget = 6.0
    raw = {
        r["_n"]: r["dist"]
        for r in g.isochrone("0:0", budget, weight="w").collect()
    }
    via = {
        r["_n"]: r["dist"]
        for r in g.isochrone(
            "0:0", budget, weight="w", ch=ch, strategy="pregel"
        ).collect()
    }
    assert via.keys() == raw.keys()
    for k in raw:
        assert via[k] == pytest.approx(raw[k], rel=1e-12)
    # weight alongside ch asserts agreement: a DIFFERENT metric (hop
    # count via weight-as-Column) against the w-built hierarchy raises
    # instead of sweeping a wrong accessibility set (r15 ADVICE)
    import pyspark.sql.functions as _F

    with pytest.raises(RuntimeError, match="stale"):
        g.isochrone("0:0", budget, weight=_F.lit(1.0), ch=ch)


def test_closeness_landmarks_contracted_parity(grid6):
    """closeness/harmonic landmark sweeps over the hierarchy
    (contracted=) == the raw k-SSSP path, same landmarks."""
    g, ch, _adj = grid6
    lms = ["0:0", "5:5", "2:4"]
    raw = {
        r["_n"]: (r["total_dist"], r["n_landmarks"], r["avg_dist"])
        for r in g.closeness_landmarks(
            weight="w", landmarks=lms
        ).collect()
    }
    got = {
        r["_n"]: (r["total_dist"], r["n_landmarks"], r["avg_dist"])
        for r in g.closeness_landmarks(
            weight="w", landmarks=lms, contracted=ch
        ).collect()
    }
    assert got.keys() == raw.keys()
    for k in raw:
        assert got[k][1] == raw[k][1]
        assert got[k][0] == pytest.approx(raw[k][0], rel=1e-12)
    h_raw = {
        r["_n"]: r["total_inv"]
        for r in g.harmonic_landmarks(weight="w", landmarks=lms).collect()
    }
    h_got = {
        r["_n"]: r["total_inv"]
        for r in g.harmonic_landmarks(
            weight="w", landmarks=lms, contracted=ch
        ).collect()
    }
    assert h_got.keys() == h_raw.keys()
    for k in h_raw:
        assert h_got[k] == pytest.approx(h_raw[k], rel=1e-12)


def _pen_replay(adj_rows, s, t, k, pen):
    """Textbook penalty-method replay: Dijkstra on the penalized
    metric, double on-route weights each round, first k distinct
    routes reported under the original metric."""
    basew = {}
    adj = {}
    for u, v, w in adj_rows:
        basew[(u, v)] = w
        adj.setdefault(u, []).append(v)
    pen_counts, out, seen = {}, [], set()
    for _ in range(4 * k):
        dist = {s: 0.0}
        pred = {s: None}
        pq = [(0.0, s)]
        while pq:
            d, u = heapq.heappop(pq)
            if d > dist.get(u, float("inf")):
                continue
            for v in adj.get(u, ()):
                nd = d + basew[(u, v)] * (pen ** pen_counts.get((u, v), 0))
                if nd < dist.get(v, float("inf")):
                    dist[v], pred[v] = nd, u
                    heapq.heappush(pq, (nd, v))
        if t not in dist:
            break
        path, cur = [], t
        while cur is not None:
            path.append(cur)
            cur = pred[cur]
        path.reverse()
        if tuple(path) not in seen:
            seen.add(tuple(path))
            out.append(
                (path, sum(basew[p] for p in zip(path, path[1:])))
            )
            if len(out) >= k:
                break
        for p in zip(path, path[1:]):
            pen_counts[p] = pen_counts.get(p, 0) + 1
    return out


def test_ch_customize_requires_flag(grid6):
    g, ch, _adj = grid6
    with pytest.raises(ValueError, match="customizable"):
        ch.customize(g.edges.select("_u", "_v", "w"))
    with pytest.raises(ValueError, match="customizable"):
        ch.alternatives("0:0", "5:5")


def test_ch_customize_re_metric_exact(spark):
    """CCH customization: new metric → exact routes without
    recontraction, on BOTH the local and the distributed paths."""
    g = _grid_graph(spark, 5)
    ch = ContractionHierarchy.build(
        g, weight="w", strategy="pregel", local_finish=6,
        customizable=True,
    )
    new = g.edges.select(
        "_u",
        "_v",
        F.when(F.col("_u").startswith("0"), F.col("w") * 4)
        .otherwise(F.col("w"))
        .alias("w"),
    )
    adj2 = {}
    for r in new.collect():
        adj2.setdefault(r["_u"], []).append((r["_v"], r["w"]))
    # the two strategies' customize+route pipelines are independent —
    # overlap them (guide §2.6); assertions unchanged per (strat, pair)
    from concurrent.futures import ThreadPoolExecutor

    def _one_strat(strat):
        cust = ch.customize(new, strategy=strat)
        return [
            (strat, s, t, cust.route(s, t, strategy=strat))
            for s, t in [("0:0", "4:4"), ("0:0", "1:1"), ("3:0", "0:4")]
        ]

    with ThreadPoolExecutor(max_workers=2) as pool:
        for results in pool.map(_one_strat, ("local", "pregel")):
            for strat, s, t, got in results:
                want = _dijkstra(adj2, s, t)
                assert got[1] == pytest.approx(want, rel=1e-12), (strat, s, t)
    # same-metric customization reproduces the original routes
    cust0 = ch.customize(g.edges.select("_u", "_v", "w"))
    adj0 = {}
    for r in g.edges.collect():
        adj0.setdefault(r["_u"], []).append((r["_v"], r["w"]))
    assert cust0.route("0:0", "4:4")[1] == pytest.approx(
        _dijkstra(adj0, "0:0", "4:4"), rel=1e-12
    )


def test_ch_alternatives_match_penalty_replay(spark):
    """alternatives() == the independent penalty-Dijkstra replay —
    path-for-path and cost-for-cost (dyadic weights: exact floats);
    first route is the true optimum; all routes distinct."""
    g = _grid_graph(spark, 4)
    rows = [
        (r["_u"], r["_v"], r["w"]) for r in g.edges.collect()
    ]
    ch = ContractionHierarchy.build(g, weight="w", customizable=True)
    got = ch.alternatives("0:0", "3:3", k=3, penalty=2.0)
    want = _pen_replay(rows, "0:0", "3:3", 3, 2.0)
    assert len(got) == len(want) == 3
    for (gp, gc), (wp, wc) in zip(got, want):
        assert gp == wp
        assert gc == pytest.approx(wc, rel=1e-12)
    assert len({tuple(p) for p, _c in got}) == 3
    adj0 = {}
    for u, v, w in rows:
        adj0.setdefault(u, []).append((v, w))
    assert got[0][1] == pytest.approx(
        _dijkstra(adj0, "0:0", "3:3"), rel=1e-12
    )


def test_ch_customizable_save_load_alternatives(spark, tmp_path):
    """A customizable artifact round-trips (orig edge frame included)
    and supports alternatives after reload."""
    g = _grid_graph(spark, 4)
    ch = ContractionHierarchy.build(g, weight="w", customizable=True)
    store = str(tmp_path / "cch")
    ch.save(store)
    re = ContractionHierarchy.load(spark, store)
    assert re.customizable and re.orig_edges is not None
    got = re.alternatives("0:0", "3:3", k=2, penalty=2.0)
    want = ch.alternatives("0:0", "3:3", k=2, penalty=2.0)
    assert [(p, round(c, 12)) for p, c in got] == [
        (p, round(c, 12)) for p, c in want
    ]


@pytest.mark.parametrize("n,local_finish", [(5, 6), (6, 4)])
def test_ch_customize_local_rows_equal_pregel(spark, n, local_finish):
    """Both customize paths relax the same triangles in the same
    order, so on a distributed-built hierarchy the driver twin's search
    rows (weights, re-pointed mids, ranks) equal the distributed
    path's, under a metric that changes weights."""
    g = _grid_graph(spark, n)
    ch = ContractionHierarchy.build(
        g, weight="w", strategy="pregel", local_finish=local_finish,
        customizable=True,
    )
    new = g.edges.select(
        "_u",
        "_v",
        F.when(F.col("_u").startswith("0"), F.col("w") * 4)
        .otherwise(F.col("w"))
        .alias("w"),
    )
    cols = ["_u", "_v", "w", "mid", "_ru", "_rv"]
    rows = {
        strat: sorted(
            tuple(r)
            for r in ch.customize(new, strategy=strat)
            .search.select(*cols)
            .collect()
        )
        for strat in ("local", "pregel")
    }
    assert len(rows["local"]) == ch.n_search_edges
    assert rows["local"] == rows["pregel"]


def test_ch_customize_pregel_rejects_local_built(spark):
    """Forcing distributed customization onto a LOCAL-built hierarchy
    (one rank per node) would run one join pass per node — refused
    loudly with rebuild guidance; the local path serves it fine."""
    g = _grid_graph(spark, 36)  # 1296 nodes > the 1024-level guard
    ch = ContractionHierarchy.build(
        g, weight="w", strategy="local", customizable=True
    )
    new = g.edges.select("_u", "_v", "w")
    with pytest.raises(ValueError, match="driver-locally"):
        ch.customize(new, strategy="pregel")
    assert ch.customize(new, strategy="local") is not None


def test_phast_job_and_stage_counts(spark, spark_cost):
    """Forced-distributed PHAST on a fresh 6x6 grid hierarchy: both
    phases are wavefront searches probed every round, so ``sssp`` and
    a 3-source ``sssp_multi`` run these (jobs, stages).  An unprobed
    pass per contraction level (169 each here) or an extra query
    fails."""
    ch = ContractionHierarchy.build(_grid_graph(spark, 6), weight="w")
    assert spark_cost(
        lambda: ch.sssp("0:0", strategy="pregel").collect()
    ) == (51, 51)
    assert spark_cost(
        lambda: ch.sssp_multi(["0:0", "5:5", "2:4"], strategy="pregel").collect()
    ) == (75, 75)


def _rows_digest(rows) -> str:
    """Order-independent digest of collected rows: sha256 of the repr of
    their value tuples, sorted by repr (first 16 hex digits)."""
    return hashlib.sha256(
        repr(sorted((tuple(r) for r in rows), key=repr)).encode()
    ).hexdigest()[:16]


# ContractionHierarchy.build(_grid_graph(spark, 6), weight="w",
# strategy="pregel", **kwargs) before the build loop materialized one
# node state and one arc frame per round: (search rows digest, ranks rows
# digest, rounds, core_size, n_search_edges).
PREGEL_BUILD_GOLDENS = {
    "customizable": (
        dict(local_finish=4, customizable=True),
        ("2609feeb4bd999fa", "c5d49e3dc716e797", 11, 0, 260),
    ),
    "witness": (
        dict(local_finish=4),
        ("5059f66d70f0900f", "600d972651d45563", 10, 0, 184),
    ),
    "core": (
        dict(max_rounds=1, local_finish=0),
        ("51058373962acdbc", "42f1fd9f7f35230a", 1, 28, 144),
    ),
}


@pytest.mark.parametrize("case", sorted(PREGEL_BUILD_GOLDENS))
def test_ch_pregel_build_rows_match_goldens(spark, case):
    """The distributed build returns the same hierarchy, row for row,
    as it did with four materializations per round: both pruning modes
    on a 6x6 grid, and a one-round core cutoff."""
    kwargs, want = PREGEL_BUILD_GOLDENS[case]
    g = _grid_graph(spark, 6)
    ch = ContractionHierarchy.build(g, weight="w", strategy="pregel", **kwargs)
    got = (
        _rows_digest(ch.search.select(*_SEARCH_COLS).collect()),
        _rows_digest(ch.ranks.select("_n", "rank").collect()),
        ch.rounds,
        ch.core_size,
        ch.n_search_edges,
    )
    assert got == want


def test_ch_pregel_build_fingerprint_from_first_checkpoint(spark):
    """The fingerprint the distributed build reads off its first
    checkpoint equals the standalone one, on a graph with parallel
    arcs, a self-loop and a node that only the node table names."""
    edges = spark.createDataFrame(
        [
            ("a", "b", 2.0),
            ("a", "b", 1.0),
            ("b", "c", 1.0),
            ("c", "c", 5.0),
            ("c", "a", 3.0),
            ("c", "a", 3.0),
        ],
        "_u string, _v string, w double",
    )
    nodes = spark.createDataFrame([("a",), ("b",), ("c",), ("z",)], "_n string")
    g = SparkGraph(nodes, edges)
    ch = ContractionHierarchy.build(
        g, weight="w", strategy="pregel", local_finish=0
    )
    assert ch.edge_fingerprint == ContractionHierarchy._graph_fingerprint(g, "w")
    assert ch.edge_fingerprint.startswith("3:")
    assert {r["_n"] for r in ch.ranks.collect()} == {"a", "b", "c", "z"}


def test_ch_pregel_build_restores_shuffle_partitions(spark, monkeypatch):
    """The build loop runs with the shuffle width scoped to its arc
    count, and the session's width is back afterwards, also when the
    build raises inside the loop."""
    key = "spark.sql.shuffle.partitions"
    width = spark.conf.get(key)
    g = _grid_graph(spark, 4)
    ContractionHierarchy.build(g, weight="w", strategy="pregel", local_finish=4)
    assert spark.conf.get(key) == width

    seen = []

    def boom(*args):
        seen.append(spark.conf.get(key))
        raise RuntimeError("round failed")

    monkeypatch.setattr(ch_module, "_contract_set", boom)
    with pytest.raises(RuntimeError, match="round failed"):
        ContractionHierarchy.build(
            g, weight="w", strategy="pregel", local_finish=4
        )
    assert seen == ["1"]  # 48 arcs: one partition inside the loop
    assert spark.conf.get(key) == width


@pytest.mark.parametrize(
    "customizable, jobs",
    [(True, range(99, 106)), (False, range(110, 120))],
    ids=["customizable", "witness"],
)
def test_ch_pregel_build_job_and_stage_counts(
    spark, spark_cost, customizable, jobs
):
    """Distributed build of the 4x4 grid (``local_finish=4``): two
    materializations per round, the fingerprint and arc count read off
    the first checkpoint.  Before, four materializations per round plus
    a separate fingerprint and edge count ran 178-181 jobs
    (customizable) and 172-175 (witness-pruned).  Every job is one
    stage.  The count moves
    by a few between identical calls: AQE plans the joins against the
    checkpointed frames, whose size is unknown at planning time, as
    shuffle joins and turns them into broadcast joins once a side's
    stage reports its size.  Whether a shuffle exchange above such a
    join has already been submitted as a stage by then depends on which
    stage finished first, so the pin is a range."""
    g = _grid_graph(spark, 4)
    n_jobs, n_stages = spark_cost(
        lambda: ContractionHierarchy.build(
            g,
            weight="w",
            strategy="pregel",
            local_finish=4,
            customizable=customizable,
        )
    )
    assert n_jobs == n_stages
    assert n_jobs in jobs
