from __future__ import annotations

import json
from pathlib import Path
from typing import NamedTuple

import pytest

from entwiner_spark.session import get_spark

# Tiny 4-feature fixture network (coordinates published in the
# reference's tests/constants.py; invariants in FIXTURES.md §1).
TINY_COORDS = [
    [[-122.3141965, 47.6598870], [-122.3132940, 47.6598762]],
    [[-122.3144401, 47.6598872], [-122.3141965, 47.6598870]],
    [[-122.3141965, 47.6598870], [-122.3142026, 47.6597293]],
    [[-122.3141795, 47.6605333], [-122.3141965, 47.6598870]],
]

TINY_FC = {
    "type": "FeatureCollection",
    "features": [
        {
            "type": "Feature",
            "geometry": {"type": "LineString", "coordinates": c},
            "properties": {},
        }
        for c in TINY_COORDS
    ],
}


# The reference's real sidewalk network (FIXTURES.md §2), read where the
# reference repository is checked out beside this one; elsewhere the
# committed seeded stand-in written by tests/data/make_sidewalks.py.
UW_GEOJSON = Path(__file__).resolve().parents[2] / "reference/tests/data/uw.geojson"
SIDEWALKS_GEOJSON = Path(__file__).with_name("data") / "sidewalks.geojson"


class GraphCounts(NamedTuple):
    nodes: int
    edges: int


@pytest.fixture(scope="session")
def uw_geojson():
    """Path of the uw sidewalk network the graph tests run on."""
    return str(UW_GEOJSON if UW_GEOJSON.is_file() else SIDEWALKS_GEOJSON)


@pytest.fixture(scope="session")
def uw_counts(uw_geojson):
    """Node and edge counts that ingest must give for ``uw_geojson``,
    worked out in pure Python: distinct endpoint ids by the FIXTURES.md
    §3 rule (``round(c, 7)``, Python ``str``), and distinct directed
    ``(_u, _v)`` pairs over forward plus reverse edges.  77 and 226 on
    uw.geojson."""
    with open(uw_geojson) as fh:
        features = json.load(fh)["features"]

    def node(c):
        return ", ".join(str(round(x, 7)) for x in c[:2])

    pairs = set()
    for f in features:
        geom = f.get("geometry") or {}
        if geom.get("type") == "LineString":
            u, v = node(geom["coordinates"][0]), node(geom["coordinates"][-1])
            pairs |= {(u, v), (v, u)}
    return GraphCounts(len({n for p in pairs for n in p}), len(pairs))


@pytest.fixture(scope="session")
def spark():
    s = get_spark("entwiner-tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def spark_cost(spark):
    """``cost(fn) -> (jobs, stages)``: the Spark jobs, and the stages
    that ran (skipped ones not counted), started while ``fn()`` runs.
    Under AQE each query stage runs as its own job, so a pin on both
    tells a regrouping of stages into jobs apart from added work."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    store = jsc.statusStore().store()
    stage_cls = sc._jvm.java.lang.Class.forName(
        "org.apache.spark.status.StageDataWrapper"
    )

    def newest_stages():
        it = store.view(stage_cls).reverse().iterator()
        while it.hasNext():
            yield it.next().info()

    def mark():
        jsc.listenerBus().waitUntilEmpty()
        job = max(sc.statusTracker().getJobIdsForGroup(None), default=-1)
        return job, next((s.stageId() for s in newest_stages()), -1)

    def cost(fn):
        job0, stage0 = mark()
        fn()
        job1, _ = mark()
        stages = 0
        for s in newest_stages():
            if s.stageId() <= stage0:
                break
            stages += s.status().toString() != "SKIPPED"
        return job1 - job0, stages

    return cost


@pytest.fixture(scope="session")
def tiny_geojson(tmp_path_factory):
    path = tmp_path_factory.mktemp("data") / "tiny.geojson"
    path.write_text(json.dumps(TINY_FC))
    return str(path)


@pytest.fixture(scope="session")
def tiny_edges(spark, tiny_geojson):
    from entwiner_spark.sources.geojson import edges_from_geojson

    return edges_from_geojson(spark, tiny_geojson).cache()


@pytest.fixture(scope="session")
def tiny_nodes(tiny_edges):
    from entwiner_spark.sources.geojson import nodes_from_edges

    return nodes_from_edges(tiny_edges).cache()
