"""GTFS stop-snap adapter (reference TODO.md:49-60) — feed parsing,
snap + link-edge emission, and composition into a routable graph."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from entwiner_spark import SparkGraph, edges_from_geojson, nodes_from_edges
from entwiner_spark.sources.gtfs import stop_link_edges, stops_from_gtfs


@pytest.fixture(scope="module")
def uw_edges(spark, uw_geojson):
    return edges_from_geojson(
        spark, uw_geojson, with_length=True
    ).localCheckpoint()


def _write_stops(tmp_path, rows):
    p = tmp_path / "stops.txt"
    lines = ["stop_id,stop_name,stop_lat,stop_lon"]
    lines += [f"{sid},{name},{lat},{lon}" for sid, name, lat, lon in rows]
    p.write_text("\n".join(lines) + "\n")
    return str(p)


def test_stops_from_gtfs_parses_and_drops_coordless(spark, tmp_path):
    p = tmp_path / "stops.txt"
    p.write_text(
        "stop_id,stop_name,stop_lat,stop_lon\n"
        "S1,Univ St,47.6611,-122.3118\n"
        "S2,Parent Station,,\n"
    )
    got = stops_from_gtfs(spark, str(p)).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["stop_id"], r["stop_name"]) == ("S1", "Univ St")
    assert r["lon"] == pytest.approx(-122.3118)
    assert r["lat"] == pytest.approx(47.6611)
    bad = tmp_path / "routes.txt"
    bad.write_text("route_id,route_name\nR1,Loop\n")
    with pytest.raises(ValueError, match="stops.txt"):
        stops_from_gtfs(spark, str(bad))


def test_stop_link_edges_routable_composition(spark, tmp_path, uw_edges):
    """A stop near a uw junction snaps to exactly one edge, emits 4
    bidirectional link edges costed by straight-line access distance,
    and the unioned graph routes FROM the station INTO the network; a
    stop outside max_dist_m never appears."""
    # a known uw node (conftest invariants) + a far-away stop
    path = _write_stops(
        tmp_path,
        [
            ("S1", "Univ Way", 47.6611800, -122.3118200),
            ("FAR", "Nowhere", 47.9, -122.9),
        ],
    )
    stops = stops_from_gtfs(spark, path)
    links = stop_link_edges(stops, uw_edges, max_dist_m=50.0)
    rows = links.collect()
    assert {r["stop_id"] for r in rows} == {"S1"}
    assert len(rows) == 4  # stop<->both endpoints of ONE snapped edge
    assert {r["_layer"] for r in rows} == {"gtfs_link"}
    # both directions present and mirrored
    pairs = {(r["_u"], r["_v"]) for r in rows}
    assert all((b, a) in pairs for a, b in pairs)
    assert all(r["snap_dist_m"] <= 50.0 for r in rows)
    # access cost: non-negative, and bounded by snap distance + the
    # snapped edge's own length (triangle inequality, loose form)
    assert all(0.0 <= r["_length"] <= 250.0 for r in rows)

    # compose: union links onto the network (U3 shape) and route
    combined = uw_edges.unionByName(links, allowMissingColumns=True)
    nodes = (
        combined.select(F.col("_u").alias("_n"))
        .unionByName(combined.select(F.col("_v").alias("_n")))
        .distinct()
    )
    g = SparkGraph(nodes, combined)
    dist = {
        r["_n"]: r["dist"]
        for r in g.shortest_path_lengths("gtfs:S1", weight="_length").collect()
    }
    assert len(dist) > 10  # the station reaches the network
    target = sorted(n for n in dist if not n.startswith("gtfs:"))[0]
    route, cost = g.shortest_path("gtfs:S1", target, weight="_length")
    assert route[0] == "gtfs:S1" and not route[1].startswith("gtfs:")
    assert cost == pytest.approx(dist[target])


def test_stop_link_edges_deterministic_tiebreak(spark, tmp_path, uw_edges):
    """Same snap twice → identical rows (rank-1 window is keyed and
    deterministic), and the stop node id is namespaced."""
    path = _write_stops(
        tmp_path, [("S9", "X", 47.6611800, -122.3118200)]
    )
    stops = stops_from_gtfs(spark, path)
    a = sorted(map(tuple, stop_link_edges(stops, uw_edges, 50.0).collect()))
    b = sorted(map(tuple, stop_link_edges(stops, uw_edges, 50.0).collect()))
    assert a == b
    assert all(t[0].startswith("gtfs:") or t[1].startswith("gtfs:") for t in a)
