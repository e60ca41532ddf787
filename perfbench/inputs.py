"""Seeded input generation for the graph workloads.

Everything here is a pure function of the seed: the same seed gives the
same graphs and the same GeoJSON.  Nothing in this module touches Spark,
so generation never runs inside a timed window.  The analytics workload
reads the fixed sf0.1 tables in ``perfbench/data``; its seed sets only
the query order.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np

# ---------------------------------------------------------------------
# graphs for the distributed fixpoint loops
# ---------------------------------------------------------------------


@dataclass
class Digraph:
    """Directed weighted edge list with string node ids."""

    u: list[str]
    v: list[str]
    w: list[float]
    nodes: list[str]
    extra: dict = field(default_factory=dict)

    def rows(self) -> list[tuple[str, str, float]]:
        return list(zip(self.u, self.v, self.w))


def random_digraph(seed: int, n: int, out_degree: int, source: int = 0) -> Digraph:
    """One fixed random graph of ``n`` nodes with ``out_degree`` random
    out-arcs each (self-loops and duplicate arcs dropped) and integer
    weights 1..9 stored as doubles, so every path sum is exact.  The seed
    only relabels the nodes: every seed gets the same shape, so the
    rounds, jobs and shuffle volume of a loop over it do not vary with
    the seed.  ``extra["source"]`` is the new id of node ``source``."""
    shape = np.random.default_rng([n, out_degree])
    src = np.repeat(np.arange(n), out_degree)
    dst = shape.integers(0, n, src.size)
    keep = src != dst
    src, dst = src[keep], dst[keep]
    _, first = np.unique(src.astype(np.int64) * n + dst, return_index=True)
    src, dst = src[first], dst[first]
    w = shape.integers(1, 10, src.size).astype(np.float64)
    perm = np.random.default_rng([seed, n]).permutation(n)
    src, dst = perm[src], perm[dst]
    return Digraph(
        u=[str(x) for x in src],
        v=[str(x) for x in dst],
        w=w.tolist(),
        nodes=[str(x) for x in range(n)],
        extra={"src": src, "dst": dst, "w": w, "source": int(perm[source])},
    )


def dyadic_grid(seed: int, side: int) -> Digraph:
    """``side`` x ``side`` two-way grid with dyadic, tie-free weights
    (forward 4 + 2^-k, reverse that plus 2^-(30+k)).  Every path cost is
    a sum of distinct binary powers, so optima are unique and sums are
    float-exact.  The seed picks one of the square's 8 symmetries to
    place the weights, so every seed gets the same shape.
    ``extra["corners"]`` are the images of two opposite corners."""
    sym = int(np.random.default_rng([seed, 7]).integers(0, 8))
    last = side - 1

    def place(i: int, j: int) -> str:
        if sym & 1:
            i, j = j, i
        if sym & 2:
            i = last - i
        if sym & 4:
            j = last - j
        return f"{i}:{j}"

    u, v, w = [], [], []
    k = 0
    for i in range(side):
        for j in range(side):
            for di, dj in ((0, 1), (1, 0)):
                if i + di < side and j + dj < side:
                    k += 1
                    a, b = place(i, j), place(i + di, j + dj)
                    base = 4.0 + 2.0 ** (-k)
                    u += [a, b]
                    v += [b, a]
                    w += [base, base + 2.0 ** (-30 - k)]
    return Digraph(
        u=u, v=v, w=w, nodes=sorted({*u, *v}),
        extra={"corners": (place(0, 0), place(last, last))},
    )


# ---------------------------------------------------------------------
# street-grid GeoJSON for the graph-DB round trip
# ---------------------------------------------------------------------

GRID_ORIGIN = (-122.33, 47.60)
GRID_STEP_DEG = 0.001


@dataclass
class StreetGrid:
    path: str
    segments: list[tuple[tuple[float, float], tuple[float, float], float]]
    points: list[tuple[float, float]]


def street_grid(seed: int, side: int, cell_deg: float, out_path: str) -> StreetGrid:
    """A ``side`` x ``side`` street grid as a GeoJSON FeatureCollection of
    two-point LineStrings, each with an integer ``cost``.  Costs are
    fixed; the seed moves the grid by whole ``cell_deg`` cells, so every
    seed gets new node ids and the same shape and store layout."""
    rng = np.random.default_rng([side, 11])
    shift = np.random.default_rng([seed, 11]).integers(0, 100, 2) * cell_deg
    x0, y0 = GRID_ORIGIN[0] + shift[0], GRID_ORIGIN[1] + shift[1]
    pts = [
        (round(x0 + i * GRID_STEP_DEG, 6), round(y0 + j * GRID_STEP_DEG, 6))
        for i in range(side)
        for j in range(side)
    ]
    segs = []
    for i in range(side):
        for j in range(side):
            for di, dj in ((0, 1), (1, 0)):
                if i + di < side and j + dj < side:
                    a = pts[i * side + j]
                    b = pts[(i + di) * side + (j + dj)]
                    segs.append((a, b, float(rng.integers(1, 20))))
    fc = {
        "type": "FeatureCollection",
        "features": [
            {
                "type": "Feature",
                "geometry": {"type": "LineString", "coordinates": [list(a), list(b)]},
                "properties": {"cost": c, "name": f"seg{k}"},
            }
            for k, (a, b, c) in enumerate(segs)
        ],
    }
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    with open(out_path, "w") as fh:
        json.dump(fc, fh)
    return StreetGrid(path=out_path, segments=segs, points=pts)
