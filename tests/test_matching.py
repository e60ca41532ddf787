"""HMM/Viterbi map matching (operators/matching.py — reference
TODO.md:56): trajectory coherence vs naive per-point snapping, uw
fixture recovery, gap semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from entwiner_spark.operators.matching import map_match
from entwiner_spark.operators.spatial import nearest_edge_join


def _parallel_roads(spark):
    """Two parallel E-W roads ~100 m apart (south at lat 0, north at
    9e-4 deg) in 10 segments each, one N-S connector at x=0.005."""
    rows = []
    for i in range(10):
        x0, x1 = i * 1.0e-3, (i + 1) * 1.0e-3
        rows.append((f"S{i}", f"s{i}", f"s{i + 1}", [[x0, 0.0], [x1, 0.0]]))
        rows.append(
            (f"N{i}", f"n{i}", f"n{i + 1}", [[x0, 9.0e-4], [x1, 9.0e-4]])
        )
    rows.append(("C", "s5", "n5", [[5.0e-3, 0.0], [5.0e-3, 9.0e-4]]))
    return spark.createDataFrame(
        rows,
        "fid string, _u string, _v string, "
        "coordinates array<array<double>>",
    )


_TRACE = [
    (0, 0.5e-3, 2.0e-4),
    (1, 1.5e-3, -2.0e-4),
    (2, 2.5e-3, 2.5e-4),
    (3, 3.5e-3, -1.5e-4),
    (4, 4.5e-3, 5.5e-4),  # NORTH-leaning outlier: N4 is nearer than S4
    (5, 5.5e-3, 1.0e-4),
    (6, 6.5e-3, -1.0e-4),
    (7, 7.5e-3, 2.0e-4),
]


def _trace_df(spark):
    return spark.createDataFrame(
        [("t1", s, x, y) for s, x, y in _TRACE],
        "trace_id string, seq long, lon double, lat double",
    )


def test_viterbi_beats_pointwise_snap(spark):
    edges = _parallel_roads(spark)
    trace = _trace_df(spark)
    # naive per-point snap flips to the north road at the outlier
    naive = {
        r["_pid"]["seq"]: r["fid"]
        for r in nearest_edge_join(
            trace.withColumn("_pid", F.struct("trace_id", "seq")),
            edges,
            100.0,
            "_pid",
            "fid",
        ).collect()
    }
    assert naive[4] == "N4"
    # the HMM keeps the whole track on the south road
    got = {
        r["seq"]: (r["fid"], r["snap_dist_m"])
        for r in map_match(
            trace, edges, max_dist_m=100.0, sigma_m=20.0
        ).collect()
    }
    assert {s: f for s, (f, _) in got.items()} == {
        s: f"S{s}" for s, _x, _y in _TRACE
    }
    assert all(d >= 0 for _, d in got.values())


def test_unmatchable_points_drop_and_chain_continues(spark):
    edges = _parallel_roads(spark)
    rows = [("t1", s, x, y) for s, x, y in _TRACE[:3]]
    rows.append(("t1", 3, 0.5, 0.5))  # nowhere near the network
    rows += [("t1", s, x, y) for s, x, y in _TRACE[4:6]]
    trace = spark.createDataFrame(
        rows, "trace_id string, seq long, lon double, lat double"
    )
    got = {
        r["seq"]: r["fid"]
        for r in map_match(
            trace, edges, max_dist_m=100.0, sigma_m=20.0
        ).collect()
    }
    assert 3 not in got  # the lost fix is absent, not invented
    # chain survives the gap (the outlier fix 4 has thin context after
    # the break, so any edge touching the s5 junction is acceptable)
    assert got[2] == "S2" and got[5] == "S5"
    assert got[4] in ("S4", "C")


def test_multiple_traces_stay_independent(spark):
    edges = _parallel_roads(spark)
    rows = [("a", s, x, y) for s, x, y in _TRACE]
    # second trace drives the NORTH road (mirror the noise around it)
    rows += [("b", s, x, 9.0e-4 - y) for s, x, y in _TRACE]
    trace = spark.createDataFrame(
        rows, "trace_id string, seq long, lon double, lat double"
    )
    got = {
        (r["trace_id"], r["seq"]): r["fid"]
        for r in map_match(
            trace, edges, max_dist_m=100.0, sigma_m=20.0
        ).collect()
    }
    assert all(got[("a", s)] == f"S{s}" for s, _x, _y in _TRACE)
    assert all(got[("b", s)] == f"N{s}" for s, _x, _y in _TRACE)


def test_uw_trace_recovers_edge_sequence(spark, uw_geojson):
    """A noisy walk along a real uw sidewalk chain must come back as
    that chain (the r12-verdict acceptance shape): under the default
    transition each fix matches the chain edge or its reverse twin, and
    under ``transition="route"`` exactly the chain edge."""
    from entwiner_spark.sources.geojson import edges_from_geojson

    uw = (
        edges_from_geojson(spark, uw_geojson, with_length=True)
        .select(
            "fid",
            "_u",
            "_v",
            F.col("geom.coordinates").alias("coordinates"),
            F.col("geom").alias("geom"),
        )
        .localCheckpoint()
    )
    # a connected 4-edge chain: follow successors from a fixed node
    start = "-122.3141965, 47.659887"
    seq_edges = []
    cur = start
    rows = {
        (r["_u"], r["_v"]): (r["fid"], r["geom"]["coordinates"])
        for r in uw.select("_u", "_v", "fid", "geom").collect()
    }
    for _ in range(4):
        nxts = sorted(
            (v, fid, c) for (u, v), (fid, c) in rows.items()
            if u == cur and v != cur and (not seq_edges or v != seq_edges[-1][0])
        )
        assert nxts, f"no successor from {cur}"
        v, fid, c = nxts[0]
        seq_edges.append((cur, v, fid, c))
        cur = v
    # one fix near each edge's midpoint, nudged ~3 m sideways
    pts = []
    for i, (_u, _v, _fid, c) in enumerate(seq_edges):
        mx = (c[0][0] + c[-1][0]) / 2
        my = (c[0][1] + c[-1][1]) / 2
        off = 2.7e-5 if i % 2 == 0 else -2.7e-5  # ~3 m in latitude
        pts.append(("walk", i, mx, my + off))
    trace = spark.createDataFrame(
        pts, "trace_id string, seq long, lon double, lat double"
    )

    def match(**kw):
        return {
            r["seq"]: r["fid"]
            for r in map_match(
                trace, uw, max_dist_m=25.0, sigma_m=5.0, k_candidates=4, **kw
            ).collect()
        }

    want = {i: e[2] for i, e in enumerate(seq_edges)}
    # the simple model cannot tell a two-way segment's directed twins
    # apart (same _dist, same endpoint set; the smaller fid wins)
    twins = {
        i: {fid, rows[(v, u)][0]} for i, (u, v, fid, _c) in enumerate(seq_edges)
    }
    got = match()
    assert set(got) == set(want)
    assert all(got[i] in twins[i] for i in want), (got, want)
    # the route model's network distance is directed: exactly the chain
    assert match(transition="route") == want


def test_route_transition_recovers_oneway_bypass_flip(spark):
    """The simple adjacent/jump model provably snaps fix 2 onto the
    one-way WESTBOUND bypass edge B2 (reachable only by doubling
    back); the route-distance model (|droute − dgc|/beta, bounded-hop
    network distances) holds the arterial — both behaviors pinned."""
    from entwiner_spark.catalog import _mmr_fixture

    edge_rows, trace_rows = _mmr_fixture()
    edges = spark.createDataFrame(
        edge_rows,
        "fid string, _u string, _v string, "
        "coordinates array<array<double>>",
    )
    trace = spark.createDataFrame(
        [("t", s, x, y) for s, x, y in trace_rows],
        "trace_id string, seq long, lon double, lat double",
    )
    simple = {
        r["seq"]: r["fid"]
        for r in map_match(
            trace, edges, max_dist_m=50.0, sigma_m=5.0
        ).collect()
    }
    route = {
        r["seq"]: r["fid"]
        for r in map_match(
            trace,
            edges,
            max_dist_m=50.0,
            sigma_m=5.0,
            transition="route",
            hop_window=2,
            beta_m=10.0,
        ).collect()
    }
    assert simple == {0: "A1", 1: "A2", 2: "B2", 3: "A3"}  # the flaw
    assert route == {0: "A1", 1: "A2", 2: "A2", 3: "A3"}  # recovered


def test_route_transition_matches_simple_on_clean_trace(spark):
    """On the parallel-roads fixture (no junction trap) both models
    must agree — the route upgrade cannot regress the easy case."""
    from entwiner_spark.catalog import _mm_fixture

    edge_rows, trace_rows = _mm_fixture()
    edges = spark.createDataFrame(
        edge_rows,
        "fid string, _u string, _v string, "
        "coordinates array<array<double>>",
    )
    trace = spark.createDataFrame(
        [("t", s, x, y) for s, x, y in trace_rows],
        "trace_id string, seq long, lon double, lat double",
    )
    simple = {
        r["seq"]: r["fid"]
        for r in map_match(
            trace, edges, max_dist_m=100.0, sigma_m=20.0
        ).collect()
    }
    route = {
        r["seq"]: r["fid"]
        for r in map_match(
            trace,
            edges,
            max_dist_m=100.0,
            sigma_m=20.0,
            transition="route",
            hop_window=2,
        ).collect()
    }
    assert route == simple


def test_route_transition_honors_banned_turns(spark):
    """r15-verdict task #6: the route-distance transitions relax over
    the MANEUVER graph when banned_turns is passed — a match that is
    only coherent through a banned turn (S3→C1 here) re-routes: the
    node-graph model snaps fix 4 onto the banned connector C1; the
    restricted model keeps the arterial and reaches the north road
    through the LEGAL connector C2 (priced via the maneuver walk,
    u-turn included)."""
    rows = []
    for i in range(8):
        x0, x1 = i * 1.0e-3, (i + 1) * 1.0e-3
        rows.append((f"S{i}", f"s{i}", f"s{i+1}", [[x0, 0.0], [x1, 0.0]]))
        rows.append(
            (f"N{i}", f"n{i}", f"n{i+1}", [[x0, 6.0e-4], [x1, 6.0e-4]])
        )
        rows.append(
            (f"W{i}", f"n{i+1}", f"n{i}", [[x1, 6.0e-4], [x0, 6.0e-4]])
        )
    rows.append(("C1", "s4", "n4", [[4.0e-3, 0.0], [4.0e-3, 6.0e-4]]))
    rows.append(("C2", "s5", "n5", [[5.0e-3, 0.0], [5.0e-3, 6.0e-4]]))
    edges = spark.createDataFrame(
        rows,
        "fid string, _u string, _v string, "
        "coordinates array<array<double>>",
    )
    trace = spark.createDataFrame(
        [
            ("t", 3, 3.5e-3, 1.0e-4),
            ("t", 4, 4.05e-3, 2.2e-4),  # nearest C1; S4 in range
            ("t", 5, 4.6e-3, 5.2e-4),  # on the north road
        ],
        "trace_id string, seq long, lon double, lat double",
    )
    bans = spark.createDataFrame(
        [("s3", "s4", "s4", "n4")], ["_u1", "_v1", "_u2", "_v2"]
    )
    kw = dict(
        max_dist_m=50.0,
        sigma_m=10.0,
        transition="route",
        hop_window=2,
        trans_jump=1000.0,
    )
    free = {
        r["seq"]: r["fid"]
        for r in map_match(trace, edges, **kw).collect()
    }
    res = {
        r["seq"]: r["fid"]
        for r in map_match(trace, edges, banned_turns=bans, **kw).collect()
    }
    assert free == {3: "S3", 4: "C1", 5: "N4"}  # rides the banned turn
    assert res == {3: "S3", 4: "S4", 5: "W4"}  # legal: via C2, no C1
    # simple-model composition is rejected loudly
    with pytest.raises(ValueError, match="transition='route'"):
        map_match(trace, edges, banned_turns=bans)


def test_map_match_rejects_bad_transition(spark):
    edges = spark.createDataFrame(
        [("e", "a", "b", [[0.0, 0.0], [0.001, 0.0]])],
        "fid string, _u string, _v string, coordinates array<array<double>>",
    )
    trace = spark.createDataFrame(
        [("t", 0, 0.0, 0.0)],
        "trace_id string, seq long, lon double, lat double",
    )
    with pytest.raises(ValueError, match="transition"):
        map_match(trace, edges, transition="bogus")
