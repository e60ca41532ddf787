"""Workload ``graphdb_roundtrip``: the reference's own workflow.  Ingest
a seeded GeoJSON street grid, store it, read it back, route through the
lazy NetworkX view, look up edges by distance, write edge attributes,
route again and flush; checked against networkx on an in-memory copy."""

from __future__ import annotations

import glob
import os
import statistics
from collections.abc import Mapping

import networkx as nx
import numpy as np
import pyarrow.parquet as pq

import entwiner_spark as es
from entwiner_spark.sources.parquet_store import read_edges_dwithin

from perfbench import inputs

GRID_SIDE = 3
ROUTES_BEFORE = 4
ROUTES_AFTER = 2
DWITHIN_POINTS = 2
UPDATE_BATCHES = 2
UPDATE_BATCH_SIZE = 6
SINGLE_WRITES = 1
CELL_DEG = 0.002
PARTITIONS = 4
# a third of the grid step in metres at this latitude (a 0.001 deg
# step of longitude is about 75 m): only the edges incident to the
# query node are in range, every other edge is at least a step away
DWITHIN_M = 25.0


class _ReadProbe(Mapping):
    """Stands in for the view's adjacency mapping in a traced pass: each
    ``G[n]`` read is one span, and the neighbour collect the read
    implies runs inside it.  Everything else goes to the wrapped
    mapping."""

    def __init__(self, inner, tr):
        self._inner, self._tr = inner, tr

    def __getitem__(self, n):
        with self._tr.span("nxview.read"):
            adj = self._inner[n]
            len(adj)
        return adj

    def __iter__(self):
        return iter(self._inner)

    def __len__(self):
        return len(self._inner)

    def __contains__(self, n):
        return n in self._inner

    def __getattr__(self, name):
        return getattr(self._inner, name)


def _path_cost(g: nx.DiGraph, path: list[str]) -> float | None:
    cost = 0.0
    for a, b in zip(path, path[1:]):
        if not g.has_edge(a, b):
            return None
        cost += g[a][b]["cost"]
    return cost


class GraphDBRoundtrip:
    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.store = os.path.join(work, "store")
        self.flushed = os.path.join(work, "flushed")

    # ---- setup -------------------------------------------------------
    def generate(self) -> None:
        self.grid = inputs.street_grid(
            self.seed, GRID_SIDE, CELL_DEG, os.path.join(self.work, "grid.geojson")
        )

    def load(self, spark) -> None:
        pass

    def warm_up(self, spark) -> None:
        """One ingest.  The ingested edges name the nodes, from which the
        in-memory oracle and every operation are built."""
        edges = es.edges_from_geojson(spark, self.grid.path, with_length=True)
        rows = edges.select("_u", "_v", "cost", "geom.coordinates").collect()
        ids = {}
        for r in rows:
            ids[tuple(r["coordinates"][0])] = r["_u"]
            ids[tuple(r["coordinates"][-1])] = r["_v"]
        got = {(r["_u"], r["_v"]): r["cost"] for r in rows}
        base = nx.DiGraph()
        for a, b, c in self.grid.segments:
            for x, y in ((a, b), (b, a)):
                if got.get((ids.get(x), ids.get(y))) != c:
                    raise RuntimeError(f"ingest lost or changed segment {x}->{y}")
                base.add_edge(ids[x], ids[y], cost=c)
        if len(got) != base.number_of_edges():
            raise RuntimeError(f"ingest made {len(got)} edges, expected {base.number_of_edges()}")
        self._plan(base, [ids[p] for p in self.grid.points])

    def _plan(self, base: nx.DiGraph, node_ids: list[str]) -> None:
        """Operations by grid position, the same for every seed.  Each
        set of routes starts corner to corner, so the view reads most of
        the grid before and again after the writes."""
        rng = np.random.default_rng([GRID_SIDE, 13])
        index = {n: i for i, n in enumerate(node_ids)}
        arcs = sorted(base.edges, key=lambda a: (index[a[0]], index[a[1]]))
        corners = (node_ids[0], node_ids[-1])

        def pairs(k, first):
            out = [first]
            while len(out) < k:
                out.append(tuple(node_ids[i] for i in rng.choice(len(node_ids), 2, replace=False)))
            return out

        self.base = base
        self.routes_before = pairs(ROUTES_BEFORE, corners)
        self.routes_after = pairs(ROUTES_AFTER, corners[::-1])
        picks = rng.choice(len(self.grid.points), DWITHIN_POINTS, replace=False)
        self.dwithin = [
            (self.grid.points[i], {(u, v) for u, v in arcs if node_ids[i] in (u, v)})
            for i in picks
        ]
        self.batches = [
            [
                (*arcs[i], float(rng.integers(1, 40)))
                for i in rng.choice(len(arcs), UPDATE_BATCH_SIZE, replace=False)
            ]
            for _ in range(UPDATE_BATCHES)
        ]
        self.singles = [
            (*arcs[i], float(rng.integers(1, 40)))
            for i in rng.choice(len(arcs), SINGLE_WRITES, replace=False)
        ]
        after = base.copy()
        for u, v, c in [x for b in self.batches for x in b] + self.singles:
            after[u][v]["cost"] = c
        self.after = after
        self.cost_before = {
            (s, t): nx.dijkstra_path_length(base, s, t, weight="cost")
            for s, t in self.routes_before
        }
        self.cost_after = {
            (s, t): nx.dijkstra_path_length(after, s, t, weight="cost")
            for s, t in self.routes_after
        }

    def ready(self) -> None:
        pass

    # ---- one pass ----------------------------------------------------
    def run_pass(self, spark, tr, checks) -> None:
        n_edges = self.base.number_of_edges()
        try:
            with tr.span("sources.ingest", op=True):
                edges = es.edges_from_geojson(spark, self.grid.path, with_length=True)
                nodes = es.nodes_from_edges(edges)
            with tr.span("sources.store_write", op=True):
                es.write_graph_tables(
                    edges, nodes, self.store, partitions=PARTITIONS, spatial_cell_deg=CELL_DEG
                )
            with tr.span("sources.store_read", op=True):
                e, n = es.read_graph_tables(spark, self.store)
                sg = es.SparkGraph(n, e, partitions=PARTITIONS)
                counts = (e.count(), n.count())
        except Exception as ex:
            checks.record("store", f"spark error: {ex}")
            return
        checks.record(
            "store",
            None
            if counts == (n_edges, self.base.number_of_nodes())
            else f"store holds {counts}",
        )

        G = es.LazyDiGraphView(sg, mutable=True)
        if tr.traced:
            G._succ = _ReadProbe(G._succ, tr)
        self._routes(G, "routes_before", self.routes_before, self.cost_before, self.base, tr, checks)

        try:
            with tr.span("spatial.dwithin_lookups", op=True):
                found = []
                for (lon, lat), _ in self.dwithin:
                    with tr.span("spatial.dwithin"):
                        rows = read_edges_dwithin(spark, self.store, lon, lat, DWITHIN_M).select(
                            "_u", "_v"
                        ).collect()
                    found.append({(r["_u"], r["_v"]) for r in rows})
        except Exception as ex:
            checks.record("spatial.dwithin", f"spark error: {ex}")
        else:
            bad = [i for i, (f, (_, want)) in enumerate(zip(found, self.dwithin)) if f != want]
            checks.record("spatial.dwithin", f"lookups {bad} differ" if bad else None)

        try:
            with tr.span("mutations.update_edges", op=True):
                for batch in self.batches:
                    with tr.span("mutations.batch_update", updates=len(batch)):
                        G.update_edges([(u, v, {"cost": c}) for u, v, c in batch])
            with tr.span("mutations.single_writes", op=True):
                for u, v, c in self.singles:
                    with tr.span("mutations.single_write"):
                        G[u][v]["cost"] = c
        except Exception as ex:
            checks.record("mutations", f"spark error: {ex}")
            return
        checks.record("mutations", None)

        self._routes(G, "routes_after", self.routes_after, self.cost_after, self.after, tr, checks)

        try:
            with tr.span("mutations.flush", op=True):
                G.flush(self.flushed, partitions=PARTITIONS)
        except Exception as ex:
            checks.record("mutations.flush", f"spark error: {ex}")
            return
        checks.record("mutations.flush", self._verify_flushed())

    def _routes(self, G, op, routes, want, oracle, tr, checks) -> None:
        bad = []
        try:
            with tr.span(op, op=True):
                for s, t in routes:
                    with tr.span("nxview.route"):
                        path = nx.dijkstra_path(G, s, t, weight="cost")
                    if path[0] != s or path[-1] != t or _path_cost(oracle, path) != want[(s, t)]:
                        bad.append((s, t))
        except Exception as ex:
            checks.record(op, f"error: {ex}")
            return
        checks.record(op, f"routes {bad} are not shortest" if bad else None)

    def _verify_flushed(self) -> str | None:
        def read(name):
            files = glob.glob(os.path.join(self.flushed, name, "**", "*.parquet"), recursive=True)
            return [pq.read_table(f) for f in files]

        edges = read("edges.parquet")
        n_nodes = sum(t.num_rows for t in read("nodes.parquet"))
        costs = {}
        for t in edges:
            for u, v, c in zip(*(t.column(k).to_pylist() for k in ("_u", "_v", "cost"))):
                costs[(u, v)] = c
        want = {(u, v): d["cost"] for u, v, d in self.after.edges(data=True)}
        if n_nodes != self.after.number_of_nodes():
            return f"flushed store holds {n_nodes} nodes"
        if costs != want:
            return "flushed edge costs differ from the updated oracle"
        return None

    # ---- metrics -----------------------------------------------------
    def _per_pass(self, tr, passes, name):
        return [sum(s.dur for s in tr.of_pass(p, name)) for p in passes]

    def _calls(self, tr, passes, name):
        return [s for p in passes for s in tr.of_pass(p, name)]

    def ingest_edges_per_s(self, tr, passes) -> float:
        n = self.base.number_of_edges()
        return statistics.median(
            n / (a + b)
            for a, b in zip(
                self._per_pass(tr, passes, "sources.ingest"),
                self._per_pass(tr, passes, "sources.store_write"),
            )
        )

    def updates_per_s(self, tr, passes) -> float:
        n = UPDATE_BATCHES * UPDATE_BATCH_SIZE
        return statistics.median(
            n / t for t in self._per_pass(tr, passes, "mutations.batch_update")
        )

    def route_s_p50(self, tr, passes) -> float:
        return statistics.median(s.dur for s in self._calls(tr, passes, "nxview.route"))

    def layer_metrics(self, tr, untraced, traced, spark) -> dict[str, float]:
        """Times from the untraced passes.  The adjacency reads are spans
        of the traced passes only; each is a leaf, so its own Spark delta
        read falls outside it."""
        passes = untraced
        reads = self._calls(tr, traced, "nxview.read")
        ms = sorted(s.dur * 1000 for s in reads)
        misses = [s for s in reads if s.spark["jobs"] > 0]
        n_miss = max(1, len(misses))

        def du(path):
            return sum(
                os.path.getsize(f)
                for f in glob.glob(os.path.join(path, "**", "*"), recursive=True)
                if os.path.isfile(f)
            )

        def med(name):
            return statistics.median(s.dur for s in self._calls(tr, passes, name))

        return {
            "sources.ingest_s": statistics.median(self._per_pass(tr, passes, "sources.ingest")),
            "sources.store_write_s": statistics.median(
                self._per_pass(tr, passes, "sources.store_write")
            ),
            "sources.store_read_s": statistics.median(
                self._per_pass(tr, passes, "sources.store_read")
            ),
            "sources.store_bytes_per_input_byte": du(self.store) / os.path.getsize(self.grid.path),
            "nxview.lookup_ms_p50": statistics.median(ms),
            "nxview.lookup_ms_p95": statistics.quantiles(ms, n=20)[-1] if len(ms) > 1 else ms[0],
            "nxview.hit_ratio": 1 - len(misses) / len(reads),
            "nxview.jobs_per_miss": sum(s.spark["jobs"] for s in misses) / n_miss,
            "nxview.shuffle_bytes_per_miss": sum(
                s.spark["shuffle_read_bytes"] + s.spark["shuffle_write_bytes"] for s in misses
            )
            / n_miss,
            "mutations.batch_update_s": med("mutations.batch_update"),
            "mutations.single_write_s": med("mutations.single_write"),
            "mutations.flush_s": med("mutations.flush"),
            "spatial.dwithin_ms_p50": med("spatial.dwithin") * 1000,
            "ingest_edges_per_s": self.ingest_edges_per_s(tr, passes),
            "updates_per_s": self.updates_per_s(tr, passes),
            "route_s_p50": self.route_s_p50(tr, passes),
        }

    def summary(self, tr, passes) -> dict:
        return {
            "ingest_edges_per_s": self.ingest_edges_per_s(tr, passes),
            "updates_per_s": self.updates_per_s(tr, passes),
            "route_s_p50": self.route_s_p50(tr, passes),
            "grid": [self.base.number_of_nodes(), self.base.number_of_edges()],
        }
