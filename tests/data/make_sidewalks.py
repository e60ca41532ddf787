"""Write ``sidewalks.geojson``: a seeded stand-in for the reference's
``uw.geojson`` sidewalk network (FIXTURES.md §2).

Run it from anywhere (standard library only, no network):

    python tests/data/make_sidewalks.py

It rewrites ``sidewalks.geojson`` next to this file, byte for byte the
same for the same ``SEED``.

The network is a sidewalk grid near the University of Washington: block
faces (~70 m) alternate with street crossings (~17 m) in both directions,
as the four conftest ``TINY_COORDS`` features do around their hub, and
those four features sit in the grid verbatim.  What the tests read of
uw.geojson holds here too (:func:`check` verifies the first five points
before writing):

- one weakly connected component;
- no directed 3-cycles (a grid without diagonals, some edges split at a
  chain node, and dead-end spurs);
- degree-2 chain nodes (the split points and some grid nodes);
- no two features share an endpoint pair;
- the four ``TINY_COORDS`` features are there;
- the 12 property keys of FIXTURES.md §2 with their types and null
  patterns (``incline`` and ``layer`` always null); ``length`` is the
  haversine length in metres rounded to 0.1;
- each feature's digitized direction is random under the seed;
- about uw's size: 113 features and 77 nodes.
"""

from __future__ import annotations

import json
import math
import random
from pathlib import Path

SEED = 20260
OUT = Path(__file__).with_name("sidewalks.geojson")

# the conftest TINY_COORDS features (FIXTURES.md §1), kept verbatim
TINY = [
    [[-122.3141965, 47.6598870], [-122.3132940, 47.6598762]],
    [[-122.3144401, 47.6598872], [-122.3141965, 47.6598870]],
    [[-122.3141965, 47.6598870], [-122.3142026, 47.6597293]],
    [[-122.3141795, 47.6605333], [-122.3141965, 47.6598870]],
]

# Grid lines, west to east and south to north.  Gaps alternate between a
# block face and a street crossing; the hub of TINY is (LONS[4], LATS[3])
# and its four neighbours are the other TINY endpoints.
LONS = [
    -122.3165001, -122.3155901, -122.3153501, -122.3144401, -122.3141965,
    -122.3132940, -122.3130540, -122.3121440, -122.3119040,
]
LATS = [
    47.6589193, 47.6590793, 47.6597293, 47.6598870, 47.6605333,
    47.6606933, 47.6611433,
]
PINNED = {(4, 3): TINY[0][0], (3, 3): TINY[1][0], (5, 3): TINY[0][1],
          (4, 2): TINY[2][1], (4, 4): TINY[3][0]}

N_SPLIT = 11  # block faces split at a chain node
N_SPUR = 3  # dead-end paths into a block
N_FEATURES = 113
JITTER_DEG = 8e-6  # ~0.6 m east-west, ~0.9 m north-south
CROSSING_M = 25.0  # a grid gap shorter than this is a street crossing
EARTH_RADIUS_M = 6_371_000.0


def haversine_m(a, b):
    """Great-circle distance in metres (the reference's atan2 form)."""
    dlat = math.radians(b[1] - a[1])
    dlon = math.radians(b[0] - a[0])
    h = (
        math.sin(dlat / 2) ** 2
        + math.cos(math.radians(a[1])) * math.cos(math.radians(b[1]))
        * math.sin(dlon / 2) ** 2
    )
    return 2 * EARTH_RADIUS_M * math.atan2(math.sqrt(h), math.sqrt(1 - h))


def node_id(c):
    """FIXTURES.md §3: ``round(c, 7)``, Python ``str``."""
    return ", ".join(str(round(x, 7)) for x in c)


def _point(rng, lon, lat, jitter=JITTER_DEG):
    return [round(lon + rng.uniform(-jitter, jitter), 7),
            round(lat + rng.uniform(-jitter, jitter), 7)]


def _ends(coords):
    return node_id(coords[0]), node_id(coords[-1])


def _connected(segments):
    """Whether the segments' endpoints form one connected component."""
    adj = {}
    for seg in segments:
        a, b = _ends(seg["coords"])
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    seen, stack = set(), [next(iter(adj))]
    while stack:
        n = stack.pop()
        if n not in seen:
            seen.add(n)
            stack.extend(adj[n] - seen)
    return len(seen) == len(adj)


def _grid(rng):
    """Grid nodes and the segments between neighbouring grid nodes."""
    pts = {
        (i, j): PINNED.get((i, j)) or _point(rng, lon, lat)
        for i, lon in enumerate(LONS)
        for j, lat in enumerate(LATS)
    }
    segs = []
    for (i, j), p in sorted(pts.items()):
        for di, dj in ((1, 0), (0, 1)):
            q = pts.get((i + di, j + dj))
            if q is None:
                continue
            footway = "crossing" if haversine_m(p, q) < CROSSING_M else "sidewalk"
            heading = "east" if di else "north"
            tiny = next((t for t in TINY if t in ([p, q], [q, p])), None)
            segs.append({
                "coords": tiny or [p, q],
                "footway": footway,
                "description": f"{footway.capitalize()} {heading} from grid {i},{j}",
                "keep": tiny is not None,
            })
    return pts, segs


def _split(rng, segs):
    """Split N_SPLIT random block faces at a chain node near their middle."""
    faces = [s for s in segs if s["footway"] == "sidewalk" and not s["keep"]]
    for s in rng.sample(faces, N_SPLIT):
        (ax, ay), (bx, by) = s["coords"]
        t = rng.uniform(0.35, 0.65)
        mid = _point(rng, ax + t * (bx - ax), ay + t * (by - ay))
        segs.remove(s)
        segs += [dict(s, coords=[[ax, ay], mid], keep=True),
                 dict(s, coords=[mid, [bx, by]], keep=True)]


def _spurs(rng, pts, segs):
    """N_SPUR dead-end paths from grid nodes diagonally into a block."""
    made = 0
    for i, j in rng.sample(sorted(pts), len(pts)):
        if made == N_SPUR or (i, j) in PINNED:
            continue
        p = pts[(i, j)]
        for di, dj in ((1, 1), (1, -1), (-1, 1), (-1, -1)):
            q = pts.get((i + di, j + dj))
            if q is None or min(haversine_m(p, pts[(i + di, j)]),
                                haversine_m(p, pts[(i, j + dj)])) < CROSSING_M:
                continue  # that quadrant is a street, not a block
            end = _point(rng, p[0] + 0.3 * (q[0] - p[0]),
                         p[1] + 0.3 * (q[1] - p[1]))
            segs.append({"coords": [p, end], "footway": "sidewalk",
                         "description": "Path to building entrance",
                         "keep": True})
            made += 1
            break


def _drop(rng, segs):
    """Drop random grid segments, keeping every node and the network
    connected, until N_FEATURES remain."""
    for s in rng.sample(segs, len(segs)):
        rest = [t for t in segs if t is not s]
        kept = {n for t in rest for n in _ends(t["coords"])}
        if not s["keep"] and set(_ends(s["coords"])) <= kept and _connected(rest):
            segs[:] = rest
            if len(segs) == N_FEATURES:
                return
    raise RuntimeError("could not drop enough segments")


def _bend(rng, coords):
    """Insert an interior vertex ~0.2 m off the straight line."""
    (ax, ay), (bx, by) = coords
    t = rng.uniform(0.3, 0.7)
    mid = _point(rng, ax + t * (bx - ax), ay + t * (by - ay), jitter=2e-6)
    return [coords[0], mid, coords[1]]


def _properties(rng, fid, seg, coords):
    crossing = seg["footway"] == "crossing"
    length = sum(haversine_m(a, b) for a, b in zip(coords, coords[1:]))

    def maybe(p, value):
        return value if rng.random() < p else None

    return {
        "fid": fid,
        "curbramps": maybe(0.7, float(rng.randrange(2))) if crossing else None,
        "description": seg["description"],
        "footway": seg["footway"],
        "incline": None,
        "layer": None,
        "length": round(length, 1),
        "marked": maybe(0.5, float(rng.randrange(2))) if crossing else None,
        "source_id": maybe(0.8, float(rng.randrange(300000, 320000))),
        "subclass": "footway",
        "surface": maybe(0.8, rng.choice(["concrete", "concrete", "asphalt"])),
        "width": maybe(0.7, rng.choice([1.5, 1.8, 2.4, 3.0])),
    }


def build():
    """The FeatureCollection for ``SEED``."""
    rng = random.Random(SEED)
    pts, segs = _grid(rng)
    _split(rng, segs)
    _spurs(rng, pts, segs)
    _drop(rng, segs)
    rng.shuffle(segs)
    fids = sorted(rng.sample(range(1000, 1400), len(segs)))
    features = []
    for fid, seg in zip(fids, segs):
        coords = seg["coords"]
        if coords not in TINY:  # TINY stays verbatim, in its own direction
            if rng.random() < 0.3:
                coords = _bend(rng, coords)
            if rng.random() < 0.5:
                coords = coords[::-1]
        features.append({
            "type": "Feature",
            "geometry": {"type": "LineString", "coordinates": coords},
            "properties": _properties(rng, fid, seg, coords),
        })
    return {"type": "FeatureCollection", "features": features}


def check(fc):
    """Raise ValueError unless ``fc`` keeps the uw invariants the tests
    read (see the module docstring)."""
    feats = fc["features"]
    coords = [f["geometry"]["coordinates"] for f in feats]
    ends = [_ends(c) for c in coords]
    adj = {}
    for a, b in ends:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    problems = []
    if len({frozenset(e) for e in ends}) != len(ends) or any(
        a == b for a, b in ends
    ):
        problems.append("two features share an endpoint pair")
    if not _connected([{"coords": c} for c in coords]):
        problems.append("not one connected component")
    if any(adj[a] & adj[b] for a, b in ends):
        problems.append("a 3-cycle")
    if not any(len(n) == 2 for n in adj.values()):
        problems.append("no degree-2 chain node")
    if any(t not in coords for t in TINY):
        problems.append("a TINY feature is missing")
    if problems:
        raise ValueError("; ".join(problems))


def main():
    fc = build()
    check(fc)
    lines = [json.dumps(f) for f in fc["features"]]
    OUT.write_text(
        '{"type": "FeatureCollection", "features": [\n'
        + ",\n".join(lines)
        + "\n]}\n"
    )
    n_nodes = len({
        n for f in fc["features"] for n in _ends(f["geometry"]["coordinates"])
    })
    print(f"{OUT}: {len(lines)} features, {n_nodes} nodes")


if __name__ == "__main__":
    main()
