"""Workload ``graph_iterative``: the distributed fixpoint loops of
``operators.graph`` and ``operators.ch`` on seeded graphs, checked
against networkx and a penalty-Dijkstra replay."""

from __future__ import annotations

import heapq
import statistics

import numpy as np
import pandas as pd

from entwiner_spark.operators.ch import ContractionHierarchy
from entwiner_spark.operators.graph import SparkGraph

from perfbench import inputs

SSSP_NODES = 10_000
SSSP_OUT_DEGREE = 2
SSSP_ROUNDS = 12
GRID_SIDE = 3
ALTERNATIVES = 2
PARTITIONS = 4


def bounded_bellman_ford(g: inputs.Digraph, source: int, rounds: int) -> dict[str, float]:
    """Distances over paths of at most ``rounds`` arcs."""
    n = len(g.nodes)
    src, dst, w = g.extra["src"], g.extra["dst"], g.extra["w"]
    dist = np.full(n, np.inf)
    dist[source] = 0.0
    for _ in range(rounds):
        nxt = dist.copy()
        np.minimum.at(nxt, dst, dist[src] + w)
        dist = nxt
    return {str(i): float(d) for i, d in enumerate(dist) if np.isfinite(d)}


def penalty_alternatives(g: inputs.Digraph, s: str, t: str, k: int, penalty: float):
    """Replay of the penalty method: route, multiply on-route arc
    weights by ``penalty``, repeat until ``k`` distinct routes; each
    reported under the original metric."""
    base = {(u, v): w for u, v, w in g.rows()}
    adj: dict[str, list[str]] = {}
    for u, v in base:
        adj.setdefault(u, []).append(v)
    pen: dict = {}
    out, seen = [], set()
    for _ in range(4 * k):
        dist, pred, pq = {s: 0.0}, {s: None}, [(0.0, s)]
        while pq:
            d, u = heapq.heappop(pq)
            if d > dist[u]:
                continue
            for v in adj.get(u, ()):
                nd = d + base[(u, v)] * penalty ** pen.get((u, v), 0)
                if nd < dist.get(v, float("inf")):
                    dist[v], pred[v] = nd, u
                    heapq.heappush(pq, (nd, v))
        path, cur = [], t
        while cur is not None:
            path.append(cur)
            cur = pred[cur]
        path.reverse()
        arcs = list(zip(path, path[1:]))
        if tuple(path) not in seen:
            seen.add(tuple(path))
            cost = 0.0
            for a in arcs:
                cost += base[a]
            out.append((path, cost))
            if len(out) >= k:
                break
        for a in arcs:
            pen[a] = pen.get(a, 0) + 1
    return out


class GraphIterative:
    def __init__(self, seed: int, work: str):
        self.seed = seed

    # ---- setup -------------------------------------------------------
    def generate(self) -> None:
        self.sssp = inputs.random_digraph(self.seed, SSSP_NODES, SSSP_OUT_DEGREE)
        self.sssp_source = self.sssp.extra["source"]
        self.sssp_oracle = bounded_bellman_ford(self.sssp, self.sssp_source, SSSP_ROUNDS)

        self.grid = inputs.dyadic_grid(self.seed, GRID_SIDE)
        self.grid_st = self.grid.extra["corners"]
        self.alt_oracle = penalty_alternatives(
            self.grid, *self.grid_st, ALTERNATIVES, 2.0
        )

    def load(self, spark) -> None:
        def frames(g: inputs.Digraph):
            pdf = pd.DataFrame({"_u": g.u, "_v": g.v, "w": g.w})
            edges = spark.createDataFrame(pdf, "_u string, _v string, w double")
            nodes = spark.createDataFrame(
                pd.DataFrame({"_n": g.nodes}), "_n string"
            )
            return nodes.localCheckpoint(), edges.localCheckpoint()

        self.sssp_frames = frames(self.sssp)
        self.grid_frames = frames(self.grid)

    def warm_up(self, spark) -> None:
        """None: a warm-up loop costs as many jobs as a measured one."""

    def ready(self) -> None:
        pass

    # ---- one pass ----------------------------------------------------
    def run_pass(self, spark, tr, checks) -> None:
        self._sssp(tr, checks)
        self._ch(tr, checks)

    def _sssp(self, tr, checks) -> None:
        stats: dict = {}
        try:
            with tr.span("graph.sssp", op=True) as sp:
                g = SparkGraph(*self.sssp_frames, partitions=PARTITIONS)
                rows = g.shortest_path_lengths(
                    str(self.sssp_source),
                    weight="w",
                    max_iterations=SSSP_ROUNDS,
                    strategy="pregel",
                    stats=stats,
                ).collect()
            sp.attrs["rounds"] = max((r["it"] for r in stats.get("rounds", [])), default=0)
        except Exception as e:
            checks.record("graph.sssp", f"spark error: {e}")
            return
        got = {r["_n"]: r["dist"] for r in rows}
        checks.record(
            "graph.sssp",
            None if got == self.sssp_oracle else f"{len(got)} distances, oracle {len(self.sssp_oracle)}; values differ",
        )

    def _ch(self, tr, checks) -> None:
        try:
            with tr.span("ch.build", op=True):
                ch = ContractionHierarchy.build(
                    SparkGraph(*self.grid_frames, partitions=PARTITIONS),
                    weight="w",
                    strategy="pregel",
                    local_finish=4,
                    customizable=True,
                )
        except Exception as e:
            checks.record("ch.build", f"spark error: {e}")
            checks.record("ch.alternatives", "skipped: build failed")
            return
        checks.record("ch.build", None)
        try:
            with tr.span("ch.alternatives", op=True):
                alts = ch.alternatives(
                    *self.grid_st, k=ALTERNATIVES, penalty=2.0, strategy="pregel"
                )
        except Exception as e:
            checks.record("ch.alternatives", f"spark error: {e}")
            return
        got = [(list(p), c) for p, c in alts]
        checks.record(
            "ch.alternatives",
            None if got == self.alt_oracle else f"routes {got} != replay {self.alt_oracle}",
        )

    # ---- metrics -----------------------------------------------------
    def layer_metrics(self, tr, untraced, traced, spark) -> dict[str, float]:
        """Times and rounds from the untraced passes, job counts from the
        traced ones."""

        def med(name, key=None):
            passes = traced if key == "jobs" else untraced
            spans = [s for p in passes for s in tr.of_pass(p, name)]
            if key is None:
                return statistics.median(s.dur for s in spans)
            if key == "jobs":
                return statistics.median(s.spark["jobs"] for s in spans)
            return statistics.median(s.attrs[key] for s in spans)

        return {
            "graph.sssp_s": med("graph.sssp"),
            "graph.sssp_jobs": med("graph.sssp", "jobs"),
            "graph.sssp_rounds": med("graph.sssp", "rounds"),
            "ch.build_s": med("ch.build"),
            "ch.build_jobs": med("ch.build", "jobs"),
            "ch.alternatives_s": med("ch.alternatives"),
            "ch.alternatives_jobs": med("ch.alternatives", "jobs"),
        }

    def summary(self, tr, passes) -> dict:
        return {
            "sssp_graph": [SSSP_NODES, len(self.sssp.u)],
            "ch_grid_side": GRID_SIDE,
        }
