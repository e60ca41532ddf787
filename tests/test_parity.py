"""Bulk parity tests against CPython reference semantics (SURVEY.md §7
"hard parts": F1 rounding, F2 float->string, F9 type inference)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from entwiner_spark.functions.ids import node_id


def _python_node_id(lon: float, lat: float, precision: int = 7) -> str:
    # the reference's construction, /root/reference/entwiner/io.py:21-29
    return ", ".join(str(round(c, precision)) for c in (lon, lat))


def test_node_id_matches_python_bulk(spark):
    """10k seeded random coordinates + crafted edge cases: Spark output
    == CPython str(round()) (banker's rounding, shortest repr)."""
    rng = random.Random(42)

    def _is_repr_tie(v: float, p: int = 7) -> bool:
        # documented divergence: shortest repr with exactly p+1
        # decimals ending in 5 rounds differently (see functions/ids.py)
        s = repr(v)
        if "." not in s or "e" in s or "E" in s:
            return False
        dec = s.split(".")[1]
        return len(dec) == p + 1 and dec.endswith("5")

    cases = [
        (rng.uniform(-180, 180), rng.uniform(-90, 90)) for _ in range(4000)
    ]
    cases += [
        (round(rng.uniform(-180, 180), rng.randint(0, 9)), round(rng.uniform(-90, 90), rng.randint(0, 9)))
        for _ in range(4000)
    ]
    cases = [
        (lon, lat)
        for lon, lat in cases
        if not (_is_repr_tie(lon) or _is_repr_tie(lat))
    ]
    cases += [
        (-122.3132940, 47.6598870),  # fixture trailing zeros
        (47.0, -0.5),                # integral + half
        (0.0, -0.0),
        (0.00012345, -0.0004999),    # sub-1e-3 plain band
        (179.9999999, -89.9999999),
        (0.001, -0.001),
        (0.0009999999, 0.001000001),
    ]
    df = spark.createDataFrame(cases, "lon double, lat double")
    got = [
        r["nid"]
        for r in df.select(node_id(F.col("lon"), F.col("lat")).alias("nid"))
        .collect()
    ]
    want = [_python_node_id(lon, lat) for lon, lat in cases]
    mismatches = [
        (c, g, w) for c, g, w in zip(cases, got, want) if g != w
    ]
    assert not mismatches, mismatches[:10]


def test_uw_property_type_inference(spark, uw_geojson):
    """F9: dynamic schema inference over uw.geojson's 12 property keys
    matches the types the reference stores (FIXTURES.md §2)."""
    from entwiner_spark.sources.geojson import edges_from_geojson

    edges = edges_from_geojson(spark, uw_geojson)
    types = dict(edges.dtypes)
    assert types["description"] == "string"
    assert types["footway"] == "string"
    assert types["subclass"] == "string"
    assert types["surface"] == "string"
    assert types["length"] == "double"
    assert types["width"] == "double"
    assert types["source_id"] in ("double", "bigint")
    # always-null columns are inferred as string (Spark's JSON default)
    assert "incline" in types and "layer" in types
    # NULL where properties were absent (P1 null semantics)
    assert edges.filter(F.col("surface").isNull()).count() > 0


def test_set_edge_attr(spark, tiny_edges):
    from entwiner_spark.operators.mutations import set_edge_attr

    N1 = "-122.313294, 47.6598762"
    N2 = "-122.3141965, 47.659887"
    out = set_edge_attr(tiny_edges, N1, N2, "surface_quality", 0.9)
    hit = out.filter((F.col("_u") == N1) & (F.col("_v") == N2)).collect()[0]
    assert hit["surface_quality"] == pytest.approx(0.9)
    others = out.filter(~((F.col("_u") == N1) & (F.col("_v") == N2)))
    assert others.filter(F.col("surface_quality").isNotNull()).count() == 0
