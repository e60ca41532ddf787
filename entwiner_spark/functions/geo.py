"""Geospatial expressions — pure Catalyst, no UDFs (SURVEY.md §2.8, §3.3).

Reference semantics re-expressed:
- great-circle LineString length, R=6,371,000 m
  (/root/reference/entwiner/utils.py:7-33) as a fold over the
  coordinate array with higher-order functions;
- two-phase spatial queries: bbox candidate filter (replaces the
  r-tree, /root/reference/entwiner/geopackage/feature_table.py:120-196)
  + exact point-to-LineString distance refine (:198-235).  The refine
  uses a local equirectangular projection (meters) instead of the
  reference's pyproj EPSG:3740; both are planar-meter approximations.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

EARTH_RADIUS_M = 6_371_000.0
# meters per degree of latitude (and of longitude at the equator)
M_PER_DEG = 111_320.0


def haversine_m(lon1: Column, lat1: Column, lon2: Column, lat2: Column) -> Column:
    """Great-circle distance in meters between two lon/lat points.

    Matches the reference formula (atan2 form, R=6371000):
    /root/reference/entwiner/utils.py:7-33.
    """
    dlat = F.radians(lat2 - lat1)
    dlon = F.radians(lon2 - lon1)
    a = (
        F.sin(dlat / 2) * F.sin(dlat / 2)
        + F.cos(F.radians(lat1)) * F.cos(F.radians(lat2)) * F.sin(dlon / 2) * F.sin(dlon / 2)
    )
    return 2 * EARTH_RADIUS_M * F.atan2(F.sqrt(a), F.sqrt(1 - a))


def bearing_deg(lon1: Column, lat1: Column, lon2: Column, lat2: Column) -> Column:
    """Initial great-circle bearing from point 1 to point 2, degrees in
    [0, 360) clockwise from north.  Standard forward-azimuth formula
    (atan2 form) — pure Catalyst, no UDF.  Feeds the turn-angle cost of
    the maneuver-graph minor (reference TODO.md:62-70); the reference
    never implemented it, so the formula is the public navigation
    identity, not a port."""
    dlon = F.radians(lon2 - lon1)
    y = F.sin(dlon) * F.cos(F.radians(lat2))
    x = F.cos(F.radians(lat1)) * F.sin(F.radians(lat2)) - F.sin(
        F.radians(lat1)
    ) * F.cos(F.radians(lat2)) * F.cos(dlon)
    return F.pmod(F.degrees(F.atan2(y, x)), F.lit(360.0))


def turn_angle_deg(coords_in: Column, coords_out: Column) -> Column:
    """Signed turn angle in (-180, 180] between the END heading of one
    LineString and the START heading of the next (both
    ``array<array<double>>`` of [lon, lat]): 0 = straight through,
    +90 = right turn, -90 = left turn, ±180 = U-turn.  The per-maneuver
    cost input for ``SparkGraph.to_linegraph`` turn penalties.

    Degenerate inputs (NULL, empty, or single-point linestrings — no
    heading exists) yield NULL instead of an ANSI index error, so one
    bad geometry row cannot fail a corpus-scale job; ``to_linegraph``
    coalesces a NULL turn cost to 0."""
    n = F.size(coords_in)
    a, b = F.element_at(coords_in, n - 1), F.element_at(coords_in, n)
    c, d = F.element_at(coords_out, 1), F.element_at(coords_out, 2)
    b_in = bearing_deg(
        F.element_at(a, 1), F.element_at(a, 2), F.element_at(b, 1), F.element_at(b, 2)
    )
    b_out = bearing_deg(
        F.element_at(c, 1), F.element_at(c, 2), F.element_at(d, 1), F.element_at(d, 2)
    )
    # normalize the heading delta to (-180, 180]
    return F.when(
        (n >= 2) & (F.size(coords_out) >= 2),
        F.lit(180.0) - F.pmod(F.lit(180.0) - (b_out - b_in), F.lit(360.0)),
    )


#: Default maneuver-class thresholds (degrees of |turn angle|).
STRAIGHT_MAX_DEG = 30.0
UTURN_MIN_DEG = 150.0


def maneuver_class(
    angle_deg: Column,
    straight_max_deg: float = STRAIGHT_MAX_DEG,
    uturn_min_deg: float = UTURN_MIN_DEG,
) -> Column:
    """Classify a signed turn angle (``turn_angle_deg`` output) into
    ``straight`` / ``right`` / ``left`` / ``uturn`` (r11-verdict task
    #7 — rounds out the maneuver-minor work): |angle| ≤
    ``straight_max_deg`` is straight, |angle| ≥ ``uturn_min_deg`` is a
    U-turn, else the sign decides (positive = clockwise = right).
    Pure CASE over an existing column — free in any plan that already
    carries the angle; NULL angles (degenerate geometry) stay NULL so
    downstream profiles can price them explicitly."""
    a = angle_deg.cast("double")
    return (
        F.when(a.isNull(), F.lit(None).cast("string"))
        .when(F.abs(a) <= straight_max_deg, F.lit("straight"))
        .when(F.abs(a) >= uturn_min_deg, F.lit("uturn"))
        .when(a > 0, F.lit("right"))
        .otherwise(F.lit("left"))
    )


def maneuver_cost(
    angle_deg: Column,
    costs: dict[str, float] | None = None,
    default: float = 0.0,
    straight_max_deg: float = STRAIGHT_MAX_DEG,
    uturn_min_deg: float = UTURN_MIN_DEG,
) -> Column:
    """Per-maneuver cost profile over ``maneuver_class`` buckets (the
    ``layer_cost`` pattern lifted onto turn geometry): ``costs`` maps
    class name → penalty; unlisted classes (and NULL-angle maneuvers)
    pay ``default``.  Drop the result straight into
    ``to_linegraph(turn_cost=lambda e1, e2: maneuver_cost(
    turn_angle_deg(e1("coordinates"), e2("coordinates")), {...}))`` —
    one map lookup, no UDF.  The class expression appears once in it
    (a CASE per profile entry would repeat it, and the generated code
    of a priced linegraph then outgrew the 64 KB method limit)."""
    if costs is None:
        costs = {"right": 5.0, "left": 15.0, "uturn": 100.0}
    if not costs:
        return F.lit(float(default))
    cls = maneuver_class(
        angle_deg,
        straight_max_deg=straight_max_deg,
        uturn_min_deg=uturn_min_deg,
    )
    profile = F.create_map(
        *[F.lit(x) for name, c in costs.items() for x in (name, float(c))]
    )
    return F.coalesce(F.try_element_at(profile, cls), F.lit(float(default)))


def _pair_dist(a: Column, b: Column) -> Column:
    return haversine_m(
        F.element_at(a, 1), F.element_at(a, 2), F.element_at(b, 1), F.element_at(b, 2)
    )


def linestring_length_m(coords: Column) -> Column:
    """Sum of haversine segment lengths over an array<array<double>>.

    Pure higher-order-function expression (zip_with + aggregate) — stays
    inside whole-stage codegen, no Python involved.
    """
    n = F.size(coords)
    heads = F.slice(coords, F.lit(1), n - F.lit(1))
    tails = F.slice(coords, F.lit(2), n - F.lit(1))
    seg = F.zip_with(heads, tails, _pair_dist)
    return F.aggregate(seg, F.lit(0.0), lambda acc, x: acc + x)


def point_segment_distance_m(
    plon: Column, plat: Column, a: Column, b: Column
) -> Column:
    """Planar point-to-segment distance in meters.

    Local equirectangular projection centered at the query latitude:
    x = lon * M_PER_DEG * cos(radians(plat)), y = lat * M_PER_DEG.
    Then the classic projection-onto-segment clamp.
    """
    cosl = F.cos(F.radians(plat))
    px = plon * M_PER_DEG * cosl
    py = plat * F.lit(M_PER_DEG)
    ax = F.element_at(a, 1) * M_PER_DEG * cosl
    ay = F.element_at(a, 2) * F.lit(M_PER_DEG)
    bx = F.element_at(b, 1) * M_PER_DEG * cosl
    by = F.element_at(b, 2) * F.lit(M_PER_DEG)
    dx, dy = bx - ax, by - ay
    len2 = dx * dx + dy * dy
    t_raw = F.when(len2 > 0, ((px - ax) * dx + (py - ay) * dy) / len2).otherwise(F.lit(0.0))
    t = F.least(F.lit(1.0), F.greatest(F.lit(0.0), t_raw))
    cx = ax + t * dx
    cy = ay + t * dy
    return F.sqrt((px - cx) * (px - cx) + (py - cy) * (py - cy))


def point_linestring_distance_m(plon: Column, plat: Column, coords: Column) -> Column:
    """Min point-to-segment distance over all segments of a LineString."""
    n = F.size(coords)
    heads = F.slice(coords, F.lit(1), n - F.lit(1))
    tails = F.slice(coords, F.lit(2), n - F.lit(1))
    dists = F.zip_with(
        heads, tails, lambda a, b: point_segment_distance_m(plon, plat, a, b)
    )
    return F.array_min(dists)


def point_linestring_along_m(
    plon: Column, plat: Column, coords: Column
) -> Column:
    """Arclength (meters) from the LineString start to the SNAP point
    of (plon, plat) — the along-track companion of
    ``point_linestring_distance_m``: same local equirectangular
    projection, same clamp, first-minimum segment on ties.  One
    ``aggregate`` HOF pass (running cumulative length + best-so-far),
    pure Catalyst — feeds the Newson-Krakauer route-distance
    transition in operators/matching.py."""
    cosl = F.cos(F.radians(plat))
    px = plon * M_PER_DEG * cosl
    py = plat * F.lit(M_PER_DEG)
    n = F.size(coords)
    heads = F.slice(coords, F.lit(1), n - F.lit(1))
    tails = F.slice(coords, F.lit(2), n - F.lit(1))

    def seg(a, b):
        ax = F.element_at(a, 1) * M_PER_DEG * cosl
        ay = F.element_at(a, 2) * F.lit(M_PER_DEG)
        bx = F.element_at(b, 1) * M_PER_DEG * cosl
        by = F.element_at(b, 2) * F.lit(M_PER_DEG)
        dx, dy = bx - ax, by - ay
        len2 = dx * dx + dy * dy
        t_raw = F.when(
            len2 > 0, ((px - ax) * dx + (py - ay) * dy) / len2
        ).otherwise(F.lit(0.0))
        t = F.least(F.lit(1.0), F.greatest(F.lit(0.0), t_raw))
        cx = ax + t * dx
        cy = ay + t * dy
        return F.struct(
            F.sqrt((px - cx) * (px - cx) + (py - cy) * (py - cy)).alias(
                "d"
            ),
            F.sqrt(len2).alias("len"),
            t.alias("t"),
        )

    segs = F.zip_with(heads, tails, seg)
    init = F.struct(
        F.lit(float("inf")).alias("bd"),
        F.lit(0.0).alias("ba"),
        F.lit(0.0).alias("cum"),
    )
    res = F.aggregate(
        segs,
        init,
        lambda acc, s: F.struct(
            F.least(acc["bd"], s["d"]).alias("bd"),
            F.when(
                s["d"] < acc["bd"], acc["cum"] + s["t"] * s["len"]
            )
            .otherwise(acc["ba"])
            .alias("ba"),
            (acc["cum"] + s["len"]).alias("cum"),
        ),
    )
    return res["ba"]


def bbox_columns(coords: Column) -> dict[str, Column]:
    """MBR of a LineString as four columns (the r-tree analogue, X1).

    Written at ingest time; Parquet min/max stats on these columns give
    partition- and row-group-level pruning for bbox predicates.
    """
    lons = F.transform(coords, lambda c: F.element_at(c, 1))
    lats = F.transform(coords, lambda c: F.element_at(c, 2))
    return {
        "_minx": F.array_min(lons),
        "_maxx": F.array_max(lons),
        "_miny": F.array_min(lats),
        "_maxy": F.array_max(lats),
    }


def meter_bbox(lon: float, lat: float, distance_m: float) -> tuple[float, float, float, float]:
    """Driver-side lon/lat bbox for a meter radius around a point.

    Equirectangular expansion (reference does pyproj fwd+inverse,
    /root/reference/entwiner/geopackage/feature_table.py:164-196).
    Returns (minx, maxx, miny, maxy), a superset of the true circle —
    exactness comes from the refine phase.
    """
    import math

    dlat = distance_m / M_PER_DEG
    dlon = distance_m / (M_PER_DEG * max(math.cos(math.radians(lat)), 1e-12))
    return (lon - dlon, lon + dlon, lat - dlat, lat + dlat)


def simplify_area_filter(coords: Column, tol: float) -> Column:
    """One-pass Visvalingam-style polyline simplification: drop every
    INTERIOR point whose effective-triangle area against its original
    neighbors is below ``tol`` (endpoints always survive).  The
    classic iterative VW recomputes areas after each removal and needs
    a per-row loop; this single pass is the standard cheap
    pre-simplification at ingest (kills jitter/collinear vertices) and
    stays a pure Catalyst expression — filter + transform over an
    index sequence, zero UDFs, zero shuffles, oracle-twinnable.

    The coords expression is LET-BOUND (functions/expr.py): the caller
    may pass a computed geometry (parsed/derived), and without the
    binding every per-index area term would re-evaluate it — O(n^2)
    in vertices on real linestrings.
    """
    from entwiner_spark.functions.expr import let_bound

    def _simplify(c: Column) -> Column:
        n = F.size(c)

        def x(i):
            return F.element_at(F.element_at(c, i), 1)

        def y(i):
            return F.element_at(F.element_at(c, i), 2)

        def area2(i):
            return F.abs(
                (x(i) - x(i - 1)) * (y(i + 1) - y(i - 1))
                - (x(i + 1) - x(i - 1)) * (y(i) - y(i - 1))
            ) * F.lit(0.5)

        keep = F.filter(
            F.sequence(F.lit(1), n),
            lambda i: (i == F.lit(1)) | (i == n) | (area2(i) >= F.lit(tol)),
        )
        # n < 2 has nothing to simplify — and F.sequence(1, 0) would
        # yield the DESCENDING [1, 0], feeding index 0 into element_at
        # (crash)
        return F.when(n < 2, c).otherwise(
            F.transform(keep, lambda i: F.element_at(c, i))
        )

    return let_bound(coords, _simplify)


def haversine_heuristic(target_node_id: str):
    """A* heuristic factory for street graphs keyed by the engine's
    canonical ``"lon, lat"`` node ids: returns a callable (node-id
    Column → Column) giving the straight-line haversine meters from
    the node to ``target_node_id`` — admissible for any
    ``weight="_length"`` metric (no path is shorter than the great
    circle), exactly 0 at the target.  Pass to
    ``SparkGraph.shortest_path(heuristic=...)``.  Pure Catalyst: one
    split + two casts + the shared haversine expression per frontier
    row.

    Raises a descriptive ValueError on non-coordinate ids (``gtfs:``
    stops, relabeled longs, ...) — those carry no geometry, so no
    admissible straight-line bound exists (ADVICE r12)."""
    parts = str(target_node_id).split(", ")
    try:
        if len(parts) != 2:
            raise ValueError
        tlon, tlat = float(parts[0]), float(parts[1])
    except (TypeError, ValueError):
        raise ValueError(
            f"haversine_heuristic needs a canonical 'lon, lat' node id "
            f"(functions/ids.py node_id format); got {target_node_id!r}"
            " — non-coordinate nodes (e.g. 'gtfs:' stops) have no "
            "straight-line bound; route without a heuristic instead"
        ) from None

    def h(node_col: Column) -> Column:
        parts = F.split(node_col, ", ")
        return haversine_m(
            F.element_at(parts, 1).cast("double"),
            F.element_at(parts, 2).cast("double"),
            F.lit(tlon),
            F.lit(tlat),
        )

    return h
