"""Structured Streaming: windows over a rate-like stream and the
foreachBatch upsert ingest path."""

from __future__ import annotations

import json
import time

from pyspark.sql import functions as F
from pyspark.sql import types as T


def test_tumbling_stream_matches_batch(spark, tmp_path):
    """The same window plan over a file stream and over the batch read
    must agree — the core Structured Streaming invariant."""
    from entwiner_spark.streaming.windows import tumbling_counts

    data_dir = tmp_path / "in"
    data_dir.mkdir()
    rows = [
        {"ts": f"2024-01-01T0{h}:{m:02d}:00", "event_type": t, "value": 1.0}
        for h in range(3)
        for m in (5, 25, 45)
        for t in ("a", "b")
    ]
    (data_dir / "part1.json").write_text("\n".join(json.dumps(r) for r in rows))

    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    stream = spark.readStream.schema(schema).json(str(data_dir))
    agg = tumbling_counts(stream, duration="1 hour", watermark="0 seconds")
    query = (
        agg.writeStream.format("memory")
        .queryName("tumbling_test")
        .outputMode("complete")
        .start()
    )
    try:
        query.processAllAvailable()
        got = spark.sql(
            "SELECT win.start AS ws, event_type, n, total_value FROM tumbling_test"
        ).collect()
    finally:
        query.stop()

    batch = spark.read.schema(schema).json(str(data_dir))
    want = tumbling_counts(batch, duration="1 hour").select(
        F.col("win.start").alias("ws"), "event_type", "n", "total_value"
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert len(got) == 6  # 3 hours x 2 types


def test_streaming_upsert_ingest(spark, tmp_path):
    from entwiner_spark.sources.parquet_store import read_graph_tables
    from entwiner_spark.streaming.ingest import stream_edges_to_parquet

    watch = tmp_path / "watch"
    watch.mkdir()
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    schema = T.StructType(
        [
            T.StructField("_u", T.StringType()),
            T.StructField("_v", T.StringType()),
            T.StructField("weight", T.DoubleType()),
        ]
    )
    (watch / "b1.json").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"_u": "a", "_v": "b", "weight": 1.0},
                {"_u": "b", "_v": "c", "weight": 2.0},
            ]
        )
    )
    q = stream_edges_to_parquet(spark, str(watch), store, schema, ckpt, trigger_seconds=1)
    try:
        q.processAllAvailable()
        edges, _ = read_graph_tables(spark, store)
        assert edges.count() == 2
        # second batch: update one edge, add one
        (watch / "b2.json").write_text(
            "\n".join(
                json.dumps(r)
                for r in [
                    {"_u": "a", "_v": "b", "weight": 9.0},
                    {"_u": "c", "_v": "d", "weight": 3.0},
                ]
            )
        )
        q.processAllAvailable()
        edges, _ = read_graph_tables(spark, store)
        assert edges.count() == 3
        ab = edges.filter((F.col("_u") == "a") & (F.col("_v") == "b")).collect()[0]
        assert ab["weight"] == 9.0  # last write won
    finally:
        q.stop()


def test_graph_store_roundtrip(spark, tiny_edges, tiny_nodes, tmp_path):
    from entwiner_spark.sources.parquet_store import (
        copy_store,
        read_graph_tables,
        write_graph_tables,
    )

    store = str(tmp_path / "gstore")
    write_graph_tables(tiny_edges, tiny_nodes, store, partitions=2)
    edges, nodes = read_graph_tables(spark, store)
    assert edges.count() == 8 and nodes.count() == 5
    # atomic overwrite publish works
    write_graph_tables(tiny_edges, tiny_nodes, store, partitions=2)
    edges, _ = read_graph_tables(spark, store)
    assert edges.count() == 8
    copy_store(spark, store, str(tmp_path / "gstore2"))
    edges2, nodes2 = read_graph_tables(spark, str(tmp_path / "gstore2"))
    assert edges2.count() == 8 and nodes2.count() == 5


def test_stateful_running_totals_across_batches(spark, tmp_path):
    """applyInPandasWithState keeps per-key state across microbatches."""
    from pyspark.sql import types as T

    from entwiner_spark.streaming.stateful import running_totals

    d = tmp_path / "st"
    d.mkdir()
    schema = T.StructType(
        [T.StructField("user_id", T.LongType()), T.StructField("value", T.DoubleType())]
    )
    (d / "b1.json").write_text(
        "\n".join(json.dumps(r) for r in [
            {"user_id": 1, "value": 2.0},
            {"user_id": 1, "value": 3.0},
            {"user_id": 2, "value": 1.0},
        ])
    )
    stream = spark.readStream.schema(schema).json(str(d))
    q = (
        running_totals(stream)
        .writeStream.format("memory")
        .queryName("rt_test")
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
        first = {r["user_id"]: (r["n_events"], r["total_value"])
                 for r in spark.sql("SELECT * FROM rt_test").collect()}
        assert first[1] == (2, 5.0) and first[2] == (1, 1.0)
        (d / "b2.json").write_text(json.dumps({"user_id": 1, "value": 10.0}))
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM rt_test WHERE user_id = 1").collect()
        # state accumulated across batches: latest emission is (3, 15.0)
        assert (3, 15.0) in {(r["n_events"], r["total_value"]) for r in rows}
    finally:
        q.stop()


def test_stateful_seen_edge_filter(spark, tmp_path):
    from pyspark.sql import types as T

    from entwiner_spark.streaming.stateful import seen_edge_filter

    d = tmp_path / "se"
    d.mkdir()
    schema = T.StructType(
        [T.StructField("_u", T.StringType()), T.StructField("_v", T.StringType())]
    )
    (d / "b1.json").write_text(
        "\n".join(json.dumps(r) for r in [
            {"_u": "a", "_v": "b"},
            {"_u": "a", "_v": "b"},
            {"_u": "b", "_v": "c"},
        ])
    )
    stream = spark.readStream.schema(schema).json(str(d))
    q = (
        seen_edge_filter(stream)
        .writeStream.format("memory")
        .queryName("se_test")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        assert spark.sql("SELECT count(*) n FROM se_test").collect()[0]["n"] == 2
        # re-arrival in a later batch is suppressed by state
        (d / "b2.json").write_text(json.dumps({"_u": "a", "_v": "b"}))
        q.processAllAvailable()
        assert spark.sql("SELECT count(*) n FROM se_test").collect()[0]["n"] == 2
    finally:
        q.stop()


def test_watermark_drops_late_events(spark, tmp_path):
    """Append-mode tumbling window with a watermark: events later than
    the watermark horizon are dropped, on-time events are not."""
    from entwiner_spark.streaming.windows import tumbling_counts

    d = tmp_path / "late"
    d.mkdir()
    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    # batch 1: events up to 13:05 -> watermark advances to 12:05
    (d / "b1.json").write_text(
        "\n".join(json.dumps(r) for r in [
            {"ts": "2024-01-01T10:30:00", "event_type": "a", "value": 1.0},
            {"ts": "2024-01-01T13:05:00", "event_type": "a", "value": 1.0},
        ])
    )
    stream = spark.readStream.schema(schema).json(str(d))
    agg = tumbling_counts(stream, duration="1 hour", watermark="1 hour")
    q = (
        agg.writeStream.format("memory")
        .queryName("wm_test")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: one event older than the watermark (10:45 < 12:05,
        # its 10:00 window is closed) and one on-time event
        (d / "b2.json").write_text(
            "\n".join(json.dumps(r) for r in [
                {"ts": "2024-01-01T10:45:00", "event_type": "a", "value": 1.0},
                {"ts": "2024-01-01T13:10:00", "event_type": "a", "value": 1.0},
            ])
        )
        q.processAllAvailable()
        (d / "b3.json").write_text(  # push watermark forward to close windows
            json.dumps({"ts": "2024-01-01T18:00:00", "event_type": "a", "value": 1.0})
        )
        q.processAllAvailable()
        rows = {r["ws"].isoformat(): r["n"] for r in spark.sql(
            "SELECT win.start AS ws, n FROM wm_test"
        ).collect()}
    finally:
        q.stop()
    # the 10:00 window emitted with ONLY the on-time event (late 10:45
    # arrival dropped); the 13:00 window counted both on-time events
    assert rows["2024-01-01T10:00:00"] == 1
    assert rows["2024-01-01T13:00:00"] == 2


def test_layer_partitioned_store(spark, tiny_edges, tiny_nodes, tmp_path):
    """layer_partitioned=True directory-partitions edges on _layer:
    layer-scoped reads prune whole directories (partition filter, not a
    row filter) and the roundtrip preserves every row."""
    import os

    from pyspark.sql import functions as F

    from entwiner_spark.sources.parquet_store import (
        read_graph_tables,
        write_graph_tables,
    )

    two_layer = tiny_edges.withColumn(
        "_layer", F.when(F.col("fid") % 2 == 0, "crossings").otherwise("sidewalks")
    )
    store = str(tmp_path / "layered")
    write_graph_tables(two_layer, tiny_nodes, store, partitions=2,
                       layer_partitioned=True)
    assert sorted(
        d for d in os.listdir(f"{store}/edges.parquet") if d.startswith("_layer=")
    ) == ["_layer=crossings", "_layer=sidewalks"]
    edges, _ = read_graph_tables(spark, store)
    assert edges.count() == tiny_edges.count()
    one = edges.filter(F.col("_layer") == "sidewalks")
    # partition pruning: the layer predicate appears as a PartitionFilter
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "_layer" in plan.split("PartitionFilters")[1][:200]


def test_spatial_cell_partitioned_store_prunes_and_matches(
    spark, tmp_path, uw_geojson
):
    """spatial_cell_deg directory-partitions edges on the bbox
    min-corner grid cell: read_edges_dwithin must (a) return exactly
    the plain dwithin answer and (b) hit the cell range as a partition
    filter, not a row filter."""
    from pyspark.sql import functions as F

    from entwiner_spark.operators.spatial import dwithin
    from entwiner_spark.sources.geojson import edges_from_geojson
    from entwiner_spark.sources.parquet_store import (
        read_edges_dwithin,
        write_graph_tables,
    )

    edges = edges_from_geojson(spark, uw_geojson)
    store = str(tmp_path / "spatial")
    write_graph_tables(edges, None, store, partitions=2, spatial_cell_deg=0.001)

    import os

    cells = [d for d in os.listdir(f"{store}/edges.parquet") if d.startswith("_scx=")]
    assert len(cells) > 1, "uw.geojson must span multiple 0.001-deg cells"

    lon, lat, d = -122.3118108, 47.6611782, 50.0
    got = read_edges_dwithin(spark, store, lon, lat, d)
    want = {
        (r["_u"], r["_v"]) for r in dwithin(edges, lon, lat, d).collect()
    }
    assert {(r["_u"], r["_v"]) for r in got.collect()} == want
    assert want  # non-degenerate

    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "_scx" in plan.split("PartitionFilters")[1][:300]


def test_spatial_cell_conflicts_with_layer_partitioning(spark, tiny_edges, tmp_path):
    import pytest

    from entwiner_spark.sources.parquet_store import write_graph_tables

    with pytest.raises(ValueError, match="mutually exclusive"):
        write_graph_tables(
            tiny_edges, None, str(tmp_path / "x"),
            layer_partitioned=True, spatial_cell_deg=0.001,
        )


def test_layer_partitioned_requires_layer_column(spark, tiny_edges, tmp_path):
    import pytest

    from entwiner_spark.sources.parquet_store import write_graph_tables

    with pytest.raises(ValueError, match="_layer"):
        write_graph_tables(
            tiny_edges.drop("_layer"), None, str(tmp_path / "x"),
            layer_partitioned=True,
        )


def test_layer_cost_routing_matches_manual_weight(spark, tiny_edges, tiny_nodes):
    """layer_cost == hand-built CASE expression: same SSSP distances."""
    from pyspark.sql import functions as F

    from entwiner_spark.operators.graph import SparkGraph, layer_cost

    edges = tiny_edges.withColumn(
        "_layer", F.when(F.col("fid") % 2 == 0, "crossings").otherwise("sidewalks")
    ).withColumn("_length", F.size(F.col("geom.coordinates")).cast("double"))
    g = SparkGraph(tiny_nodes, edges)
    src = edges.orderBy("fid").limit(1).collect()[0]["_u"]
    cost = layer_cost("_length", {"crossings": 5.0, "sidewalks": 1.0})
    manual = (
        F.col("_length")
        * F.when(F.col("_layer") == "crossings", 5.0).otherwise(1.0)
    ).cast("double")
    got = {r["_n"]: r["dist"] for r in g.shortest_path_lengths(src, weight=cost).collect()}
    want = {r["_n"]: r["dist"] for r in g.shortest_path_lengths(src, weight=manual).collect()}
    assert got == want and len(got) >= 2


def test_interval_join_stream_matches_batch(spark, tmp_path):
    """Stream-stream interval join over two file streams must agree
    with the batch twin, and must refuse to run unwatermarked."""
    import pytest

    from entwiner_spark.streaming.joins import interval_join

    vdir, pdir = tmp_path / "views", tmp_path / "purchases"
    vdir.mkdir(), pdir.mkdir()
    views = [
        {"event_id": i, "user_id": i % 3, "ts": f"2024-01-01T10:{10 + i:02d}:00"}
        for i in range(5)
    ]
    purchases = [
        {"event_id": 100 + i, "user_id": i % 3, "ts": f"2024-01-01T10:{20 + 2 * i:02d}:00"}
        for i in range(5)
    ]
    (vdir / "v.json").write_text("\n".join(json.dumps(r) for r in views))
    (pdir / "p.json").write_text("\n".join(json.dumps(r) for r in purchases))

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    vs = spark.readStream.schema(schema).json(str(vdir))
    ps = spark.readStream.schema(schema).json(str(pdir))

    with pytest.raises(ValueError, match="watermark"):
        interval_join(vs, ps, key_col="user_id", max_delay="15 MINUTES")

    j = interval_join(
        vs, ps, key_col="user_id", max_delay="15 MINUTES", watermark="1 hour"
    ).select("l_event_id", "r_event_id", "l_user_id")
    query = (
        j.writeStream.format("memory").queryName("ij_test").outputMode("append").start()
    )
    try:
        query.processAllAvailable()
        got = spark.sql("SELECT * FROM ij_test").collect()
    finally:
        query.stop()

    vb = spark.read.schema(schema).json(str(vdir))
    pb = spark.read.schema(schema).json(str(pdir))
    want = interval_join(vb, pb, key_col="user_id", max_delay="15 MINUTES").select(
        "l_event_id", "r_event_id", "l_user_id"
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert len(got) > 0


def test_stream_asof_enrich_matches_batch_asof(spark, tmp_path):
    """Streaming as-of enrichment must equal the batch as-of join for
    in-order arrivals, INCLUDING matches across microbatch boundaries
    (views land in batch 1, purchases in batch 2 -> state carries)."""
    from entwiner_spark.operators.asof import asof_join
    from entwiner_spark.streaming.stateful import stream_asof_enrich

    vdir, pdir = tmp_path / "av", tmp_path / "ap"
    vdir.mkdir(), pdir.mkdir()

    def ev(eid, uid, hhmm, val):
        return {
            "event_id": eid,
            "user_id": uid,
            "ts": f"2024-01-01T{hhmm}:00",
            "value": val,
        }

    # arrival order respects event time (the operator's stated
    # contract); user 0 gets NO view in file 2, so their batch-2
    # purchase must match the batch-1 view via carried state
    v1 = [ev(1, 0, "10:00", 1.0), ev(2, 1, "10:01", 2.0), ev(3, 0, "10:02", 3.0)]
    v2 = [ev(4, 1, "10:20", 4.0)]
    p1 = [ev(101, 0, "10:10", 100.0), ev(102, 1, "10:11", 101.0)]
    p2 = [ev(103, 0, "10:30", 102.0), ev(104, 1, "10:31", 103.0)]
    purchases = p1 + p2
    (vdir / "v1.json").write_text("\n".join(json.dumps(r) for r in v1))
    (vdir / "v2.json").write_text("\n".join(json.dumps(r) for r in v2))
    (pdir / "p1.json").write_text("\n".join(json.dumps(r) for r in p1))
    (pdir / "p2.json").write_text("\n".join(json.dumps(r) for r in p2))

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    ps = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(pdir))
    )
    vs = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(vdir))
    )
    out = stream_asof_enrich(ps, vs, on="ts", key_col="user_id")
    query = (
        out.writeStream.format("memory")
        .queryName("asof_test")
        .outputMode("append")
        .start()
    )
    try:
        query.processAllAvailable()
        got = {
            (r["user_id"], r["ts"].isoformat()): (r["_asof_value"], r["_asof_ts"])
            for r in spark.sql("SELECT * FROM asof_test").collect()
        }
    finally:
        query.stop()

    from pyspark.sql import functions as F

    vb = (
        spark.read.schema(schema)
        .json(str(vdir))
        .select("user_id", "ts", F.col("value").alias("view_value"))
    )
    pb = spark.read.schema(schema).json(str(pdir)).select("user_id", "ts", "value")
    want = {
        (r["user_id"], r["ts"].isoformat()): (r["view_value"], r["_asof_ts"])
        for r in asof_join(pb, vb, on="ts", by=["user_id"]).collect()
    }
    assert len(got) == len(purchases)
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0], (k, got[k], want[k])
        assert got[k][1] == want[k][1], (k, got[k], want[k])


def test_dedup_within_watermark_drops_repeats(spark, tmp_path):
    """dropDuplicatesWithinWatermark keeps one row per key across
    microbatches while the key stays inside the watermark."""
    from entwiner_spark.streaming.windows import dedup_within_watermark

    ddir = tmp_path / "dd"
    ddir.mkdir()
    rows = [
        {"ts": "2024-01-01T10:00:00", "k": "a", "v": 1},
        {"ts": "2024-01-01T10:01:00", "k": "a", "v": 2},  # dup key
        {"ts": "2024-01-01T10:02:00", "k": "b", "v": 3},
    ]
    (ddir / "b1.json").write_text("\n".join(json.dumps(r) for r in rows[:2]))
    (ddir / "b2.json").write_text(json.dumps(rows[2]))

    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("k", T.StringType()),
            T.StructField("v", T.LongType()),
        ]
    )
    stream = spark.readStream.schema(schema).json(str(ddir))
    dd = dedup_within_watermark(stream, keys=["k"], watermark="1 hour")
    query = (
        dd.writeStream.format("memory").queryName("dd_test").outputMode("append").start()
    )
    try:
        query.processAllAvailable()
        got = spark.sql("SELECT k FROM dd_test").collect()
    finally:
        query.stop()
    assert sorted(r.k for r in got) == ["a", "b"]


def test_minhash_signatures_stream_equals_batch(spark, tmp_path):
    """The dedup signature family is stateless per-row expression work,
    so it runs unchanged on a stream: signatures computed under
    Structured Streaming must be bit-identical to the batch run —
    streaming ingest can fingerprint documents on arrival."""
    from entwiner_spark.operators.dedup import minhash_signatures

    d = tmp_path / "mh"
    d.mkdir()
    rows = [
        {"doc_id": i, "text": f"alpha beta gamma delta epsilon doc{i} tail"}
        for i in range(20)
    ]
    (d / "a.json").write_text("\n".join(json.dumps(r) for r in rows[:10]))
    (d / "b.json").write_text("\n".join(json.dumps(r) for r in rows[10:]))

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    stream = spark.readStream.schema(schema).json(str(d))
    q = (
        minhash_signatures(stream)
        .writeStream.format("memory")
        .queryName("mh_stream")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            r["doc_id"]: tuple(r[f"m{i}"] for i in range(8))
            for r in spark.sql("SELECT * FROM mh_stream").collect()
        }
    finally:
        q.stop()
    want = {
        r["doc_id"]: tuple(r[f"m{i}"] for i in range(8))
        for r in minhash_signatures(
            spark.read.schema(schema).json(str(d))
        ).collect()
    }
    assert got == want and len(got) == 20


def test_lsh_pairs_stream_equals_batch(spark, tmp_path):
    """Streaming LSH candidate pairs (watermarked stream-stream band
    self-join + within-watermark dedup) must emit exactly the pair set
    the batch lsh_candidate_pairs finds on the same documents, each
    pair exactly once."""
    from entwiner_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from entwiner_spark.streaming.dedup import stream_lsh_pairs

    d = tmp_path / "lsh_stream"
    d.mkdir()
    base = "alpha beta gamma delta epsilon zeta eta theta"
    rows = []
    for i in range(12):
        # 4 clone groups of 3 -> guaranteed candidate pairs, plus noise
        text = f"{base} group{i % 4}"
        rows.append(
            {
                "doc_id": i,
                "text": text,
                "ts": f"2026-01-01T00:0{i % 5}:00.000Z",
            }
        )
    (d / "a.json").write_text("\n".join(json.dumps(r) for r in rows[:6]))
    (d / "b.json").write_text("\n".join(json.dumps(r) for r in rows[6:]))

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    stream = spark.readStream.schema(schema).json(str(d))
    q = (
        stream_lsh_pairs(stream, time_col="ts", watermark="1 hour")
        .writeStream.format("memory")
        .queryName("lsh_stream")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = [
            (r["id_a"], r["id_b"])
            for r in spark.sql("SELECT id_a, id_b FROM lsh_stream").collect()
        ]
    finally:
        q.stop()

    batch = spark.read.schema(schema).json(str(d))
    want = {
        (r["id_a"], r["id_b"])
        for r in lsh_candidate_pairs(minhash_signatures(batch)).collect()
    }
    assert len(got) == len(set(got))  # each pair exactly once
    assert set(got) == want and want  # same set, non-degenerate


def test_contamination_stream_static_equals_batch(spark, tmp_path):
    """Streaming decontamination with the UNCHANGED batch operator:
    contamination_overlap is a stream-static broadcast join + per-doc
    aggregate, both supported by Structured Streaming, so a document
    stream can be flagged against a static benchmark set on arrival.
    Complete-mode output must equal the batch run."""
    from entwiner_spark.operators.dedup import contamination_overlap

    d = tmp_path / "contam"
    d.mkdir()
    bench_text = "the quick brown fox jumps over the lazy dog tonight"
    rows = [
        {"doc_id": 1, "text": f"prefix {bench_text} suffix"},   # contaminated
        {"doc_id": 2, "text": "completely unrelated words only here"},
        {"doc_id": 3, "text": bench_text},                       # contaminated
    ]
    (d / "docs.json").write_text("\n".join(json.dumps(r) for r in rows))

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    benchmark = spark.createDataFrame([(100, bench_text)], ["doc_id", "text"])

    stream = spark.readStream.schema(schema).json(str(d))
    q = (
        contamination_overlap(stream, benchmark, n=8)
        .writeStream.format("memory")
        .queryName("contam_stream")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            r["doc_id"]: (r["n_shared_grams"], r["n_benchmark_docs"])
            for r in spark.sql("SELECT * FROM contam_stream").collect()
        }
    finally:
        q.stop()

    batch = spark.read.schema(schema).json(str(d))
    want = {
        r["doc_id"]: (r["n_shared_grams"], r["n_benchmark_docs"])
        for r in contamination_overlap(batch, benchmark, n=8).collect()
    }
    assert got == want
    assert set(got) == {1, 3} and 2 not in got


def test_windowed_unique_users_streaming_escalation(spark, tmp_path):
    """The documented 100 TB escalation for e7: exact count_distinct is
    forbidden on streams, approx_count_distinct (mergeable HLL) is the
    streaming form — same window shape, complete-mode output, and on a
    low-cardinality window the sketch is exact."""
    from pyspark.sql import functions as F

    d = tmp_path / "uu"
    d.mkdir()
    rows = [
        {"user_id": i % 7, "ts": f"2026-01-01T0{h}:00:00.000Z"}
        for h in range(2)
        for i in range(20)
    ]
    (d / "e.json").write_text("\n".join(json.dumps(r) for r in rows))
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    stream = spark.readStream.schema(schema).json(str(d))
    agg = stream.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("window_start")
    ).agg(F.approx_count_distinct("user_id").alias("unique_users"))
    q = (
        agg.writeStream.format("memory")
        .queryName("uu_stream")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            r["window_start"].hour: r["unique_users"]
            for r in spark.sql("SELECT * FROM uu_stream").collect()
        }
    finally:
        q.stop()
    assert got == {0: 7, 1: 7}


def test_ivf_assign_stream_equals_batch(spark, tmp_path):
    """IVF coarse quantization is stateless per-row scoring against
    broadcast centroid literals, so the batch operator runs unchanged
    on a vector stream (the ANN-index ingest path): streaming
    assignments must equal the batch run exactly.  quantize_int8 rides
    the same stream to cover the storage path."""
    from entwiner_spark.operators.similarity import ivf_assign, quantize_int8

    d = tmp_path / "ivf_stream"
    d.mkdir()
    rows = [
        {"vec_id": i, "embedding": [((i * 7 + j * 3) % 11) / 10.0 for j in range(8)]}
        for i in range(30)
    ]
    (d / "a.json").write_text("\n".join(json.dumps(r) for r in rows[:15]))
    (d / "b.json").write_text("\n".join(json.dumps(r) for r in rows[15:]))
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    centroids = [[0.1] * 8, [0.5] * 8, [0.9] * 8]
    stream = spark.readStream.schema(schema).json(str(d))
    q = (
        ivf_assign(stream, centroids)
        .writeStream.format("memory")
        .queryName("ivf_stream")
        .outputMode("append")
        .start()
    )
    q2 = (
        quantize_int8(stream)
        .writeStream.format("memory")
        .queryName("q8_stream")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        q2.processAllAvailable()
        got = {
            r["vec_id"]: r["centroid"]
            for r in spark.sql("SELECT * FROM ivf_stream").collect()
        }
        got_q8 = {
            (r["vec_id"], r["scale"], tuple(r["q"]))
            for r in spark.sql("SELECT * FROM q8_stream").collect()
        }
    finally:
        q.stop()
        q2.stop()
    batch = spark.read.schema(schema).json(str(d))
    want = {r["vec_id"]: r["centroid"] for r in ivf_assign(batch, centroids).collect()}
    want_q8 = {
        (r["vec_id"], r["scale"], tuple(r["q"]))
        for r in quantize_int8(batch).collect()
    }
    assert got == want and len(got) == 30
    assert got_q8 == want_q8


def test_random_projection_stream_equals_batch(spark, tmp_path):
    """JL random projection is a stateless per-row map, so the batch
    operator runs unchanged on a vector stream (embedding-ingest
    feature path); streaming projections == batch exactly."""
    from entwiner_spark.operators.similarity import random_projection

    d = tmp_path / "rp_stream"
    d.mkdir()
    rows = [
        {"vec_id": i, "embedding": [((i * 5 + j) % 13) / 4.0 for j in range(8)]}
        for i in range(24)
    ]
    (d / "a.json").write_text("\n".join(json.dumps(r) for r in rows[:12]))
    (d / "b.json").write_text("\n".join(json.dumps(r) for r in rows[12:]))
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    stream = spark.readStream.schema(schema).json(str(d))
    q = (
        random_projection(stream, dim=8, out_dim=3)
        .writeStream.format("memory")
        .queryName("rp_stream")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            r["vec_id"]: (r["rp0"], r["rp1"], r["rp2"])
            for r in spark.sql("SELECT * FROM rp_stream").collect()
        }
    finally:
        q.stop()
    batch = spark.read.schema(schema).json(str(d))
    want = {
        r["vec_id"]: (r["rp0"], r["rp1"], r["rp2"])
        for r in random_projection(batch, dim=8, out_dim=3).collect()
    }
    assert got == want and len(got) == 24


def test_stream_ewma_equals_batch(spark, tmp_path):
    """Streaming EWMA == batch EWMA row for row, including state
    carried across microbatches (file 2 continues file 1's series).
    The batch side is operators/timeseries.ewma on the same data."""
    from entwiner_spark.operators.timeseries import ewma
    from entwiner_spark.streaming.stateful import stream_ewma

    d = tmp_path / "ewma_stream"
    d.mkdir()
    rows = []
    for u in range(3):
        for t in range(10):
            rows.append(
                {
                    "user_id": u,
                    "event_id": t * 100 + u,
                    "ts": f"2026-01-01T00:{t:02d}:00.000Z",
                    "value": float((u * 7 + t * 3) % 10) + 0.5,
                }
            )
    ordered = sorted(rows, key=lambda r: r["ts"])
    (d / "a.json").write_text("\n".join(json.dumps(r) for r in ordered[:15]))
    (d / "b.json").write_text("\n".join(json.dumps(r) for r in ordered[15:]))
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    q = (
        stream_ewma(stream, alpha=0.3)
        .writeStream.format("memory")
        .queryName("ewma_stream")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r["user_id"], r["event_id"]): r["ewma"]
            for r in spark.sql("SELECT * FROM ewma_stream").collect()
        }
    finally:
        q.stop()
    batch = spark.read.schema(schema).json(str(d))
    want = {
        (r["user_id"], r["event_id"]): r["ewma"]
        for r in ewma(batch, alpha=0.3).collect()
    }
    assert got == want and len(got) == 30


def test_stream_ewma_string_event_id(spark, tmp_path):
    """The streaming twin derives the id column's output type from the
    input schema (like the batch operator and the key column) — string
    event ids that work in batch ewma must work here too (regression:
    the output schema used to hardcode ``event_id long``)."""
    from entwiner_spark.operators.timeseries import ewma
    from entwiner_spark.streaming.stateful import stream_ewma

    d = tmp_path / "ewma_sid"
    d.mkdir()
    rows = [
        {
            "user_id": "u1",
            "event_id": f"ev-{t:03d}",
            "ts": f"2026-01-01T00:{t:02d}:00.000Z",
            "value": float(t * 3 % 10) + 0.5,
        }
        for t in range(8)
    ]
    (d / "a.json").write_text("\n".join(json.dumps(r) for r in rows[:4]))
    (d / "b.json").write_text("\n".join(json.dumps(r) for r in rows[4:]))
    schema = T.StructType(
        [
            T.StructField("user_id", T.StringType()),
            T.StructField("event_id", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    q = (
        stream_ewma(stream, alpha=0.3)
        .writeStream.format("memory")
        .queryName("ewma_sid_stream")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r["user_id"], r["event_id"]): r["ewma"]
            for r in spark.sql("SELECT * FROM ewma_sid_stream").collect()
        }
    finally:
        q.stop()
    batch = spark.read.schema(schema).json(str(d))
    want = {
        (r["user_id"], r["event_id"]): r["ewma"]
        for r in ewma(batch, alpha=0.3).collect()
    }
    assert got == want and len(got) == 8


def test_quality_redact_tokenize_stream_equals_batch(spark, tmp_path):
    """The t19 map stages (Gopher keep flag, PII redaction, BPE token
    count) are stateless per-row expressions, so they run UNCHANGED on
    a document stream — streaming output == batch exactly.  (The
    packing stage is stateful and stays batch/foreachBatch.)"""
    from entwiner_spark.functions.text import (
        bpe_token_count,
        gopher_quality_flags,
        redact_pii,
    )

    d = tmp_path / "docs_stream"
    d.mkdir()
    rows = [
        {"doc_id": i,
         "text": " ".join(
             ["the quick brown fox jumps over it and on a for is to of in"]
             * 5
         ) + f" mail u{i}@x.io"}
        for i in range(20)
    ]
    (d / "a.json").write_text("\n".join(json.dumps(r) for r in rows[:10]))
    (d / "b.json").write_text("\n".join(json.dumps(r) for r in rows[10:]))
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )

    def stage(df):
        return df.select(
            "doc_id",
            gopher_quality_flags(F.col("text"))["keep"].alias("keep"),
            bpe_token_count(redact_pii(F.col("text"))).alias("n_tokens"),
        )

    stream = spark.readStream.schema(schema).json(str(d))
    q = (
        stage(stream)
        .writeStream.format("memory")
        .queryName("t19_stream")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            r["doc_id"]: (r["keep"], r["n_tokens"])
            for r in spark.sql("SELECT * FROM t19_stream").collect()
        }
    finally:
        q.stop()
    batch = spark.read.schema(schema).json(str(d))
    want = {
        r["doc_id"]: (r["keep"], r["n_tokens"]) for r in stage(batch).collect()
    }
    assert got == want and len(got) == 20


def test_stream_anomaly_zscore_equals_batch(spark, tmp_path):
    """Streaming trailing-window z-scores == the e13 batch logic row
    for row across microbatches (bounded deque state carried)."""
    from pyspark.sql import Window

    from entwiner_spark.streaming.stateful import stream_anomaly_zscore

    d = tmp_path / "anom_stream"
    d.mkdir()
    rows = []
    for u in range(2):
        for t in range(14):
            v = float((u * 3 + t * 7) % 11) + 0.25 + (3000.0 if t == 12 else 0.0)
            rows.append(
                {
                    "user_id": u,
                    "event_id": t * 100 + u,
                    "ts": f"2026-01-01T00:{t:02d}:00.000Z",
                    "value": v,
                }
            )
    ordered = sorted(rows, key=lambda r: r["ts"])
    (d / "a.json").write_text("\n".join(json.dumps(r) for r in ordered[:14]))
    (d / "b.json").write_text("\n".join(json.dumps(r) for r in ordered[14:]))
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    q = (
        stream_anomaly_zscore(stream)
        .writeStream.format("memory")
        .queryName("anom_stream")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r["user_id"], r["event_id"]): (r["z"], r["is_anomaly"])
            for r in spark.sql("SELECT * FROM anom_stream").collect()
        }
    finally:
        q.stop()
    # batch twin: the e13 expressions over the same frame
    ev = spark.read.schema(schema).json(str(d))
    win = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-10, -1)
    m = F.round(F.avg("value").over(win), 6)
    s = F.round(F.avg(F.col("value") * F.col("value")).over(win), 6)
    n_prev = F.count(F.lit(1)).over(win)
    base = ev.select(
        "user_id", "event_id", "value",
        m.alias("m"), s.alias("s"), n_prev.alias("n_prev"),
    )
    var = F.col("s") - F.col("m") * F.col("m")
    z = (F.col("value") - F.col("m")) / F.sqrt(var)
    ok = (F.col("n_prev") >= 5) & (var > 0)
    want = {
        (r["user_id"], r["event_id"]): (r["z"], r["is_anomaly"])
        for r in base.select(
            "user_id", "event_id",
            F.when(ok, F.round(z, 6)).otherwise(F.lit(0.0)).alias("z"),
            (ok & (F.abs(z) > 3.0)).alias("is_anomaly"),
        ).collect()
    }
    assert got == want and len(got) == 28
    assert any(flag for _, flag in got.values())  # the planted spike fires


def test_stream_unigram_score_equals_batch(spark, tmp_path):
    """Frozen-LM document scoring is stateless per row, so the doc
    stream scores exactly like the same docs in batch (same function,
    same static LM row) — and matches a hand-computed value.  The LM
    is fit on a REFERENCE corpus, the stream brings new docs incl. an
    out-of-vocabulary word."""
    import math

    from entwiner_spark.streaming.text import (
        reference_unigram_lm,
        stream_unigram_score,
    )

    ref = spark.createDataFrame(
        [(100, "a a b"), (101, "b c")], ["doc_id", "text"]
    )
    lm = reference_unigram_lm(ref).localCheckpoint(eager=True)

    d = tmp_path / "docs_lm_stream"
    d.mkdir()
    rows = [
        {"doc_id": 0, "text": "a b"},
        {"doc_id": 1, "text": "c c a"},
        {"doc_id": 2, "text": "a novel b"},  # 'novel' is OOV
        {"doc_id": 3, "text": "b"},
    ]
    (d / "a.json").write_text("\n".join(json.dumps(r) for r in rows[:2]))
    (d / "b.json").write_text("\n".join(json.dumps(r) for r in rows[2:]))
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    q = (
        stream_unigram_score(stream, lm)
        .writeStream.format("memory")
        .queryName("lm_stream")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            r["doc_id"]: (r["n_words"], r["avg_logprob"])
            for r in spark.sql("SELECT * FROM lm_stream").collect()
        }
    finally:
        q.stop()
    batch = spark.read.schema(schema).json(str(d))
    want = {
        r["doc_id"]: (r["n_words"], r["avg_logprob"])
        for r in stream_unigram_score(batch, lm).collect()
    }
    assert got == want and len(got) == 4
    # hand check: reference freq a=2 b=2 c=1 of 5; doc 2 = (ln.4 +
    # OOV(-20) + ln.4)/3
    la, lc = math.log(0.4), math.log(0.2)
    assert got[0] == (2, round((la + la) / 2, 6))
    assert got[1] == (3, round((lc + lc + la) / 3, 6))
    assert got[2] == (3, round((la - 20.0 + la) / 3, 6))
    assert got[3] == (1, round(la, 6))


def test_versioned_store_conflict_snapshot_vacuum(spark, tiny_edges, tiny_nodes):
    """Versioned store: (a) publish bumps the pointer; (b) a writer
    based on a stale version gets ConcurrentWriteError instead of
    silently erasing the other merge; (c) a pinned old version stays
    readable after later publishes (snapshot/time travel); (d) vacuum
    removes only versions older than keep."""
    import tempfile

    import pytest

    from entwiner_spark.exceptions import ConcurrentWriteError
    from entwiner_spark.sources.parquet_store import (
        read_graph_tables_versioned,
        vacuum_versions,
        write_graph_tables_versioned,
    )

    with tempfile.TemporaryDirectory() as d:
        store = f"{d}/vstore"
        v1 = write_graph_tables_versioned(
            tiny_edges, tiny_nodes, store, partitions=2
        )
        assert v1 == 1
        edges, _, v = read_graph_tables_versioned(spark, store)
        assert v == 1 and edges.count() == 8

        # two writers read v1; writer A publishes first
        a_base = b_base = v
        mutated = tiny_edges.withColumn("cost", F.lit(1.0))
        v2 = write_graph_tables_versioned(
            mutated, tiny_nodes, store, base_version=a_base, partitions=2
        )
        assert v2 == 2
        # writer B's publish from the stale base is refused
        with pytest.raises(ConcurrentWriteError, match="re-read"):
            write_graph_tables_versioned(
                tiny_edges.limit(2), tiny_nodes, store,
                base_version=b_base, partitions=2,
            )
        # latest reflects only A's merge
        edges2, _, v = read_graph_tables_versioned(spark, store)
        assert v == 2 and "cost" in edges2.columns

        # pinned old version still readable (snapshot)
        old, _, ov = read_graph_tables_versioned(spark, store, version=1)
        assert ov == 1 and "cost" not in old.columns and old.count() == 8

        # third publish, then vacuum keep=2 removes only v1
        v3 = write_graph_tables_versioned(
            mutated, tiny_nodes, store, base_version=2, partitions=2
        )
        assert v3 == 3
        assert vacuum_versions(store, keep=2) == [1]
        edges3, _, v = read_graph_tables_versioned(spark, store)
        assert v == 3 and edges3.count() == 8
        with pytest.raises(Exception):
            read_graph_tables_versioned(spark, store, version=1)[0].count()


def test_stream_sorted_neighborhood_single_batch_equals_batch(spark, tmp_path):
    """Streaming sorted-neighborhood in ONE microbatch == the batch
    lead-chain pairs exactly (records processed in sorted key order
    always append after the existing neighborhood); pairs unique."""
    from entwiner_spark.operators.dedup import sorted_neighborhood_pairs
    from entwiner_spark.streaming.dedup import stream_sorted_neighborhood

    d = tmp_path / "snm_stream1"
    d.mkdir()
    rows = [
        {"doc_id": i, "text": f"record {w} number {i}"}
        for i, w in enumerate(
            ["apple", "apple", "apricot", "banana", "banana", "banana",
             "cherry", "citrus", "apple", "apricot", "cherry", "citrus"]
        )
    ]
    (d / "a.json").write_text("\n".join(json.dumps(r) for r in rows))
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    stream = spark.readStream.schema(schema).json(str(d))
    q = (
        stream_sorted_neighborhood(stream, window=3, block_prefix=8)
        .writeStream.format("memory")
        .queryName("snm_stream1")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = [
            (r["id_a"], r["id_b"])
            for r in spark.sql("SELECT id_a, id_b FROM snm_stream1").collect()
        ]
    finally:
        q.stop()
    batch = spark.read.schema(schema).json(str(d))
    want = {
        (r["id_a"], r["id_b"])
        for r in sorted_neighborhood_pairs(
            batch, window=3, block_prefix=8
        ).collect()
    }
    assert len(got) == len(set(got))
    assert set(got) == want and want


def test_stream_sorted_neighborhood_out_of_order_is_superset(spark, tmp_path):
    """Out-of-order arrival across microbatches: the stream emits a
    SUPERSET of the batch pairs (insertion between earlier records
    adds neighborhoods but never retracts), still each pair at most
    once, and every batch pair is recalled."""
    from entwiner_spark.operators.dedup import sorted_neighborhood_pairs
    from entwiner_spark.streaming.dedup import stream_sorted_neighborhood

    d = tmp_path / "snm_stream2"
    d.mkdir()
    words = ["aa", "ab", "ac", "ad", "ae", "af", "ag", "ah"]
    rows = [
        {"doc_id": i, "text": f"key {w} tail"} for i, w in enumerate(words)
    ]
    # batch 1 gets the even positions, batch 2 interleaves the odd
    # ones BETWEEN them -> guaranteed mid-insertions
    (d / "a.json").write_text("\n".join(json.dumps(rows[i]) for i in range(0, 8, 2)))
    (d / "b.json").write_text("\n".join(json.dumps(rows[i]) for i in range(1, 8, 2)))
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    q = (
        stream_sorted_neighborhood(stream, window=2, block_prefix=4)
        .writeStream.format("memory")
        .queryName("snm_stream2")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = [
            (r["id_a"], r["id_b"])
            for r in spark.sql("SELECT id_a, id_b FROM snm_stream2").collect()
        ]
    finally:
        q.stop()
    batch = spark.read.schema(schema).json(str(d))
    want = {
        (r["id_a"], r["id_b"])
        for r in sorted_neighborhood_pairs(
            batch, window=2, block_prefix=4
        ).collect()
    }
    assert len(got) == len(set(got))
    assert want <= set(got)  # full recall of the batch neighborhood


def test_stream_sorted_neighborhood_replay_is_idempotent(spark, tmp_path):
    """At-least-once replay: a second microbatch redelivering the SAME
    (key, id) rows must not mutate state or emit anything — before the
    r9-advice fix the duplicate copy was inserted next to the first
    and paired with it, producing a self-pair (id_a == id_b) the batch
    twin never emits."""
    from entwiner_spark.operators.dedup import sorted_neighborhood_pairs
    from entwiner_spark.streaming.dedup import stream_sorted_neighborhood

    d = tmp_path / "snm_replay"
    d.mkdir()
    rows = [
        {"doc_id": i, "text": f"key a{c} tail"}
        for i, c in enumerate("abcd")
    ]
    payload = "\n".join(json.dumps(r) for r in rows)
    (d / "a.json").write_text(payload)
    (d / "b.json").write_text(payload)  # exact replay of batch 1
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    q = (
        stream_sorted_neighborhood(stream, window=2, block_prefix=4)
        .writeStream.format("memory")
        .queryName("snm_replay")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = [
            (r["id_a"], r["id_b"])
            for r in spark.sql("SELECT id_a, id_b FROM snm_replay").collect()
        ]
    finally:
        q.stop()
    assert all(a != b for a, b in got)  # no self-pairs
    assert len(got) == len(set(got))  # no duplicate emissions either
    batch = spark.read.schema(schema).json(str(d / "a.json"))
    want = {
        (r["id_a"], r["id_b"])
        for r in sorted_neighborhood_pairs(
            batch, window=2, block_prefix=4
        ).collect()
    }
    assert set(got) == want  # replay contributed nothing


def test_stream_url_dedup_and_bloom_filter(spark, tmp_path):
    """r12 twins: streamed URL dedup keeps one record per canonical
    URL (== batch normalize+dropDuplicates count), and the stateless
    bloom filter drops exactly the planted blocklist members."""
    import json as _json

    from entwiner_spark.operators.dedup import bloom_bitmap, bloom_build
    from entwiner_spark.streaming.dedup import stream_bloom_filter, stream_url_dedup

    data_dir = tmp_path / "urls"
    data_dir.mkdir()
    rows = [
        {"ts": "2024-01-01T00:00:00", "url": "HTTP://WWW.A.com:80/x?utm_s=1", "text": "keep me"},
        {"ts": "2024-01-01T00:01:00", "url": "http://a.com/x", "text": "dup of first"},
        {"ts": "2024-01-01T00:02:00", "url": "http://b.com/y?b=2&a=1", "text": "blocked one"},
        {"ts": "2024-01-01T00:03:00", "url": "http://b.com/y?a=1&b=2", "text": "dup of third"},
        {"ts": "2024-01-01T00:04:00", "url": "http://c.com/z", "text": "keep me too"},
    ]
    (data_dir / "p.json").write_text("\n".join(_json.dumps(r) for r in rows))
    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("url", T.StringType()),
            T.StructField("text", T.StringType()),
        ]
    )
    stream = spark.readStream.schema(schema).json(str(data_dir))
    q = (
        stream_url_dedup(stream, ts_col="ts", watermark="10 minutes")
        .writeStream.format("memory")
        .queryName("url_dedup_test")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT url_norm FROM url_dedup_test").collect()
    finally:
        q.stop()
    assert sorted(r["url_norm"] for r in got) == [
        "http://a.com/x",
        "http://b.com/y?a=1&b=2",
        "http://c.com/z",
    ]

    # bloom decontamination: block the two 'blocked' texts
    members = spark.createDataFrame(
        [("blocked one",), ("dup of third",)], "text string"
    )
    bm = bloom_bitmap(bloom_build(members, "text", num_bits=1 << 14), 1 << 14)
    q2 = (
        stream_bloom_filter(stream, bm, col="text", keep="non_members")
        .writeStream.format("memory")
        .queryName("bloom_stream_test")
        .outputMode("append")
        .start()
    )
    try:
        q2.processAllAvailable()
        kept = spark.sql("SELECT text FROM bloom_stream_test").collect()
    finally:
        q2.stop()
    assert sorted(r["text"] for r in kept) == [
        "dup of first",
        "keep me",
        "keep me too",
    ]


def test_cms_build_streams_natively(spark, tmp_path):
    """r12: cms_build is a plain streaming aggregation (stateless cell
    explode + groupBy sum), so continuous heavy-hitter sketching needs
    no custom stateful operator — stream cells == batch cells."""
    import json as _json

    from entwiner_spark.operators.sketches import cms_build, cms_matrix

    data_dir = tmp_path / "toks"
    data_dir.mkdir()
    rows = [{"token": f"t{i % 7}"} for i in range(200)]
    (data_dir / "p.json").write_text("\n".join(_json.dumps(r) for r in rows))
    schema = T.StructType([T.StructField("token", T.StringType())])
    w, d = 128, 3

    stream = spark.readStream.schema(schema).json(str(data_dir))
    q = (
        cms_build(stream, "token", width=w, depth=d)
        .writeStream.format("memory")
        .queryName("cms_stream_test")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT row, col, cnt FROM cms_stream_test").collect()
    finally:
        q.stop()
    stream_cells = {(r["row"], r["col"]): r["cnt"] for r in got}

    batch = spark.read.schema(schema).json(str(data_dir))
    m = cms_matrix(cms_build(batch, "token", width=w, depth=d), w, d)
    batch_cells = {
        (i, j): m[i][j] for i in range(d) for j in range(w) if m[i][j]
    }
    assert stream_cells == batch_cells


def test_stream_map_match_equals_batch(spark, tmp_path):
    """Online map matching: single-batch arrival must equal the batch
    HMM row for row on the parallel-roads fixture (outlier included —
    the per-layer argmins agree with the batch backtrace there), and
    a two-file arrival (state carried across microbatches) must give
    the same answer."""
    import json as _json

    from pyspark.sql import types as T

    from entwiner_spark.operators.matching import map_match
    from entwiner_spark.streaming.stateful import stream_map_match

    rows = []
    for i in range(10):
        x0, x1 = i * 1.0e-3, (i + 1) * 1.0e-3
        rows.append((f"S{i}", f"s{i}", f"s{i + 1}", [[x0, 0.0], [x1, 0.0]]))
        rows.append(
            (f"N{i}", f"n{i}", f"n{i + 1}", [[x0, 9.0e-4], [x1, 9.0e-4]])
        )
    rows.append(("C", "s5", "n5", [[5.0e-3, 0.0], [5.0e-3, 9.0e-4]]))
    edges = spark.createDataFrame(
        rows,
        "fid string, _u string, _v string, "
        "coordinates array<array<double>>",
    )
    trace = [
        (0, 0.5e-3, 2.0e-4),
        (1, 1.5e-3, -2.0e-4),
        (2, 2.5e-3, 2.5e-4),
        (3, 3.5e-3, -1.5e-4),
        (4, 4.5e-3, 5.5e-4),  # north-leaning outlier
        (5, 5.5e-3, 1.0e-4),
        (6, 6.5e-3, -1.0e-4),
        (7, 7.5e-3, 2.0e-4),
    ]
    fixes_df = spark.createDataFrame(
        [("t1", s, x, y) for s, x, y in trace],
        "trace_id string, seq long, lon double, lat double",
    )
    want = {
        (r["trace_id"], r["seq"]): (r["fid"], round(r["snap_dist_m"], 6))
        for r in map_match(
            fixes_df, edges, max_dist_m=100.0, sigma_m=20.0
        ).collect()
    }
    assert {k[1]: v[0] for k, v in want.items()} == {
        s: f"S{s}" for s, _x, _y in trace
    }

    schema = T.StructType(
        [
            T.StructField("trace_id", T.StringType()),
            T.StructField("seq", T.LongType()),
            T.StructField("lon", T.DoubleType()),
            T.StructField("lat", T.DoubleType()),
        ]
    )

    def run(split_at, name):
        d = tmp_path / name
        d.mkdir()
        recs = [
            {"trace_id": "t1", "seq": s, "lon": x, "lat": y}
            for s, x, y in trace
        ]
        (d / "a.json").write_text(
            "\n".join(_json.dumps(r) for r in recs[:split_at])
        )
        if split_at < len(recs):
            (d / "b.json").write_text(
                "\n".join(_json.dumps(r) for r in recs[split_at:])
            )
        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", 1
        ).json(str(d))
        q = (
            stream_map_match(
                stream, edges, max_dist_m=100.0, sigma_m=20.0
            )
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
            return {
                (r["trace_id"], r["seq"]): (
                    r["fid"],
                    round(r["snap_dist_m"], 6),
                )
                for r in spark.sql(f"SELECT * FROM {name}").collect()
            }
        finally:
            q.stop()

    got_one = run(len(trace), "smm_one")
    assert got_one == want
    # state carried across microbatches: same output when the trace
    # arrives split mid-way (including right before the outlier)
    got_split = run(4, "smm_split")
    assert got_split == want


def test_stream_map_match_reorder_window(spark, tmp_path):
    """reorder_window=W buffers out-of-order fixes per trace: a trace
    arriving SHUFFLED across microbatches (each fix ≤ W seqs early)
    matches exactly the in-order batch output; with W=0 the same
    arrival drops the late fixes (pinned) — the documented
    latency/completeness trade."""
    import json as _json

    from pyspark.sql import types as T

    from entwiner_spark.operators.matching import map_match
    from entwiner_spark.streaming.stateful import stream_map_match

    rows = []
    for i in range(8):
        x0, x1 = i * 1.0e-3, (i + 1) * 1.0e-3
        rows.append((f"S{i}", f"s{i}", f"s{i + 1}", [[x0, 0.0], [x1, 0.0]]))
    edges = spark.createDataFrame(
        rows,
        "fid string, _u string, _v string, "
        "coordinates array<array<double>>",
    )
    trace = [(s, (s + 0.5) * 1.0e-3, 1.0e-4) for s in range(6)]
    fixes_df = spark.createDataFrame(
        [("t1", s, x, y) for s, x, y in trace],
        "trace_id string, seq long, lon double, lat double",
    )
    want = {
        r["seq"]: r["fid"]
        for r in map_match(
            fixes_df, edges, max_dist_m=100.0, sigma_m=20.0
        ).collect()
    }
    assert want == {s: f"S{s}" for s in range(6)}

    schema = T.StructType(
        [
            T.StructField("trace_id", T.StringType()),
            T.StructField("seq", T.LongType()),
            T.StructField("lon", T.DoubleType()),
            T.StructField("lat", T.DoubleType()),
        ]
    )
    # arrival order: each fix ≤ 2 seqs displaced, and the lateness
    # CROSSES microbatch boundaries (within one batch the groupby
    # sort already restores order, so same-batch shuffles are free)
    files = [[1], [0, 3], [2, 5], [4]]

    def run(name, window):
        d = tmp_path / name
        d.mkdir()
        by_seq = {s: (x, y) for s, x, y in trace}
        for i, seqs in enumerate(files):
            recs = [
                {
                    "trace_id": "t1",
                    "seq": s,
                    "lon": by_seq[s][0],
                    "lat": by_seq[s][1],
                }
                for s in seqs
            ]
            (d / f"f{i}.json").write_text(
                "\n".join(_json.dumps(r) for r in recs)
            )
        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", 1
        ).json(str(d))
        q = (
            stream_map_match(
                stream,
                edges,
                max_dist_m=100.0,
                sigma_m=20.0,
                reorder_window=window,
            )
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
            return {
                r["seq"]: r["fid"]
                for r in spark.sql(f"SELECT * FROM {name}").collect()
            }
        finally:
            q.stop()

    # W=2 absorbs the shuffle: full in-order match (the last fixes
    # inside the window at stream end stay buffered — emitted rows
    # are the flushed prefix, all matching batch)
    got = run("smm_reorder", 2)
    assert got == {s: want[s] for s in got}
    assert set(got) == {0, 1, 2, 3}  # 4 and 5 still inside the window
    # W=0 drops each cross-batch out-of-order fix (seq below the high
    # water) — the documented pre-window behavior.  The surviving
    # chain is forward-only online decoding over a gapped trace, which
    # legitimately differs from any batch backtrace (docstring
    # semantics), so only the drop set is pinned here.
    got0 = run("smm_reorder0", 0)
    assert set(got0) == {1, 3, 5}


def test_stream_map_match_duplicate_fix_idempotent(spark, tmp_path):
    """r14-ADVICE: a fix re-delivered in a LATER microbatch while its
    seq is still pending must not duplicate candidates in the reorder
    buffer — pending dedups on (seq, edge) keeping min dist, so
    re-delivery is idempotent and stream == batch holds."""
    import json as _json

    from pyspark.sql import types as T

    from entwiner_spark.operators.matching import map_match
    from entwiner_spark.streaming.stateful import stream_map_match

    rows = []
    for i in range(8):
        x0, x1 = i * 1.0e-3, (i + 1) * 1.0e-3
        rows.append((f"S{i}", f"s{i}", f"s{i + 1}", [[x0, 0.0], [x1, 0.0]]))
    edges = spark.createDataFrame(
        rows,
        "fid string, _u string, _v string, "
        "coordinates array<array<double>>",
    )
    trace = [(s, (s + 0.5) * 1.0e-3, 1.0e-4) for s in range(6)]
    fixes_df = spark.createDataFrame(
        [("t1", s, x, y) for s, x, y in trace],
        "trace_id string, seq long, lon double, lat double",
    )
    want = {
        r["seq"]: (r["fid"], round(r["snap_dist_m"], 6))
        for r in map_match(
            fixes_df, edges, max_dist_m=100.0, sigma_m=20.0
        ).collect()
    }
    schema = T.StructType(
        [
            T.StructField("trace_id", T.StringType()),
            T.StructField("seq", T.LongType()),
            T.StructField("lon", T.DoubleType()),
            T.StructField("lat", T.DoubleType()),
        ]
    )
    by_seq = {s: (x, y) for s, x, y in trace}
    # batch 1: seqs 0-2 (hw=2, window=2 -> only seq 0 flushes, 1-2
    # pending); batch 2 RE-DELIVERS seq 2 plus seqs 3-5
    files = [[0, 1, 2], [2, 3, 4, 5]]
    d = tmp_path / "smm_dup"
    d.mkdir()
    for i, seqs in enumerate(files):
        recs = [
            {
                "trace_id": "t1",
                "seq": s,
                "lon": by_seq[s][0],
                "lat": by_seq[s][1],
            }
            for s in seqs
        ]
        (d / f"f{i}.json").write_text(
            "\n".join(_json.dumps(r) for r in recs)
        )
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).json(str(d))
    q = (
        stream_map_match(
            stream,
            edges,
            max_dist_m=100.0,
            sigma_m=20.0,
            reorder_window=2,
        )
        .writeStream.format("memory")
        .queryName("smm_dup")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got_rows = spark.sql("SELECT * FROM smm_dup").collect()
    finally:
        q.stop()
    seqs_emitted = [r["seq"] for r in got_rows]
    assert sorted(seqs_emitted) == seqs_emitted  # in order
    assert len(seqs_emitted) == len(set(seqs_emitted))  # exactly once
    got = {
        r["seq"]: (r["fid"], round(r["snap_dist_m"], 6)) for r in got_rows
    }
    assert got == {s: want[s] for s in got}
    assert set(got) == {0, 1, 2, 3}  # 4,5 still inside the window


def test_stream_map_match_stall_timeout_flush(spark, tmp_path):
    """stall_timeout_ms: a trace that stops transmitting flushes its
    pending reorder tail within ~the timeout — with
    ProcessingTimeTimeout, Spark keeps scheduling state-cleanup
    batches (shouldRunAnotherBatch is unconditionally true), so the
    drain needs no further input.  NB: such queries never quiesce, so
    the sink is POLLED (processAllAvailable would block forever — the
    documented engine caveat in the docstring)."""
    import json as _json
    import time as _time

    from pyspark.sql import types as T

    from entwiner_spark.operators.matching import map_match
    from entwiner_spark.streaming.stateful import stream_map_match

    rows = []
    for i in range(8):
        x0, x1 = i * 1.0e-3, (i + 1) * 1.0e-3
        rows.append((f"S{i}", f"s{i}", f"s{i + 1}", [[x0, 0.0], [x1, 0.0]]))
    edges = spark.createDataFrame(
        rows,
        "fid string, _u string, _v string, "
        "coordinates array<array<double>>",
    )
    trace = [(s, (s + 0.5) * 1.0e-3, 1.0e-4) for s in range(6)]
    fixes_df = spark.createDataFrame(
        [("t1", s, x, y) for s, x, y in trace],
        "trace_id string, seq long, lon double, lat double",
    )
    want = {
        r["seq"]: (r["fid"], round(r["snap_dist_m"], 6))
        for r in map_match(
            fixes_df, edges, max_dist_m=100.0, sigma_m=20.0
        ).collect()
    }
    schema = T.StructType(
        [
            T.StructField("trace_id", T.StringType()),
            T.StructField("seq", T.LongType()),
            T.StructField("lon", T.DoubleType()),
            T.StructField("lat", T.DoubleType()),
        ]
    )
    d = tmp_path / "smm_stall"
    d.mkdir()
    recs = [
        {"trace_id": "t1", "seq": s, "lon": x, "lat": y}
        for s, x, y in trace
    ]
    (d / "a.json").write_text("\n".join(_json.dumps(r) for r in recs))
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).json(str(d))
    q = (
        stream_map_match(
            stream,
            edges,
            max_dist_m=100.0,
            sigma_m=20.0,
            reorder_window=2,
            stall_timeout_ms=2000,
        )
        .writeStream.format("memory")
        .queryName("smm_stall")
        .outputMode("append")
        .start()
    )
    try:
        # hw=5, window=2: seqs 0-3 flush with the data batch; 4-5 sit
        # in the reorder buffer until the stall timeout drains them —
        # poll the sink with a deadline
        deadline = _time.time() + 120
        got_rows = []
        while _time.time() < deadline:
            got_rows = spark.sql("SELECT * FROM smm_stall").collect()
            if len(got_rows) >= len(trace):
                break
            _time.sleep(1.0)
    finally:
        q.stop()
    got = {
        r["seq"]: (r["fid"], round(r["snap_dist_m"], 6)) for r in got_rows
    }
    # the full trace emitted (tail drained by the timeout), every row
    # equal to batch
    assert got == want
