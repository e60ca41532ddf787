"""Catalog smoke: every query runs at sf0.001 and the driver contract
is well-formed.  Full DuckDB-oracle verification runs via
tools/check.py (mirrored by the driver at sf0.01)."""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.001"


def test_contract_shape():
    import __spark_entry__ as e

    qs = e.queries()
    oracles = e.oracle_sql()
    assert len(qs) >= 70
    assert set(oracles) <= set(qs)
    # round 2: every query has a DuckDB oracle (zero rows-only entries)
    assert set(qs) == set(oracles)


def test_entry_runs(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "sum_qty" in df.columns


@pytest.mark.parametrize(
    "name",
    [
        "q1_pricing_summary",
        "j2_revenue_by_nation",
        "u2_last_write_wins",
        "g_j1_sssp_weighted",
        "geo_f6_haversine_within",
        "s1_fwd_rev_ingest",
        "d3_minhash_lsh_pairs",
        "s2_cosine_top10",
        "e3_sessionize",
        "e5_asof_last_view",
        "e6_interval_join",
        "mm1_binary_meta",
    ],
)
def test_query_runs_at_sf0001(spark, name):
    from entwiner_spark import catalog

    df = catalog.QUERIES[name](spark, SF)
    assert df.limit(5).count() >= 0  # executes without error


def test_events_ts_normalized_to_ltz(spark, tmp_path):
    """The driver's events.parquet surfaces ts as TIMESTAMP_NTZ (no-zone
    timestamp[us]); _events must normalize it to TIMESTAMP so
    unix_millis/unix_micros call sites (sessionize, as-of, interval
    join) keep working.  Regression guard for the round-3 breakage."""
    import pandas as pd
    from entwiner_spark.catalog import _events

    ev = _events(spark, SF)
    assert dict(ev.dtypes)["ts"] == "timestamp", ev.dtypes

    # Explicit NTZ fixture, independent of what the driver generated.
    pdf = pd.DataFrame(
        {
            "event_id": [1, 2],
            "ts": pd.to_datetime(["2024-01-01 00:00:00", "2024-01-01 01:00:00"]),
            "user_id": [1, 1],
            "event_type": ["view", "purchase"],
            "value": [1.0, 2.0],
            "props": ["{}", "{}"],
        }
    )
    pdf.to_parquet(str(tmp_path / "events.parquet"))
    ev2 = _events(spark, str(tmp_path))
    assert dict(ev2.dtypes)["ts"] == "timestamp", ev2.dtypes


def test_approx_degree_accuracy(spark):
    """approx_count_distinct stays within its rsd bound vs exact."""
    from pyspark.sql import functions as F

    from entwiner_spark import catalog

    rows = catalog.QUERIES["a2b_approx_degree"](spark, SF).collect()
    assert rows, "a2b produced no groups"
    exact = {
        r["o_orderstatus"]: r["x"]
        for r in spark.read.parquet(f"{SF}/orders.parquet")
        .groupBy("o_orderstatus")
        .agg(F.count_distinct("o_custkey").alias("x"))
        .collect()
    }
    for r in rows:
        assert r["within_bound"], r
        assert r["exact_custs"] == exact[r["o_orderstatus"]]


def test_entry_priority_names_are_valid():
    """Every name in __spark_entry__._PRIORITY must exist in the
    catalog — a typo would silently drop the query from the driver's
    sampled head instead of failing."""
    import __spark_entry__ as entry

    from entwiner_spark import catalog

    missing = [n for n in entry._PRIORITY if n not in catalog.QUERIES]
    assert not missing, f"unknown queries in _PRIORITY: {missing}"
    assert len(set(entry._PRIORITY)) == len(entry._PRIORITY)  # no dups


def test_every_query_has_matching_oracle_columns():
    """queries() and oracle_sql() must expose the same key set; the
    driver pairs them by name."""
    import __spark_entry__ as entry

    q = entry.queries()
    o = entry.oracle_sql()
    assert set(o) <= set(q)
    assert set(q) == set(o)  # all queries currently oracle-paired


def test_registered_name_matches_function_name():
    """Guard against the decorator-stacking trap: inserting a new @q
    block between an existing @q(...) call and its def silently
    re-registers the OLD name onto the NEW function.  Every registered
    name must equal its function's __name__."""
    from entwiner_spark.catalog import QUERIES

    bad = [(n, f.__name__) for n, f in QUERIES.items() if f.__name__ != n]
    assert not bad, bad


def test_table_handle_key_survives_session_identity_reuse():
    """r16-VERDICT item 3: the handle caches must NOT key on id(spark)
    — a stopped, garbage-collected session's id() can be reused by a
    new session in the same process, handing back a DataFrame bound to
    a dead SparkContext.  The key must derive from (applicationId,
    startTime), which a restarted context always refreshes."""
    from entwiner_spark.catalog import _session_key

    class _Ctx:
        def __init__(self, app, t0):
            self.applicationId, self.startTime = app, t0

    class _Sess:
        def __init__(self, app, t0):
            self.sparkContext = _Ctx(app, t0)

    a = _Sess("app-1", 111)
    b = _Sess("app-2", 222)  # same id() slot in principle; new context
    assert _session_key(a) != _session_key(b)
    assert _session_key(a) == _session_key(_Sess("app-1", 111))


def test_table_handle_miss_evicts_other_sessions(spark):
    """The per-session handle caches drop a stopped session's entries
    on the next miss instead of holding them for the process lifetime.
    A fake session key stands in for the stopped session, so the
    shared fixture keeps running."""
    from entwiner_spark.catalog import (
        _FANOUT_DECISIONS,
        _TABLE_HANDLES,
        _session_key,
        _t,
    )

    dead = ("app-stopped:0", SF, "region")
    live = (_session_key(spark), SF, "region")
    _TABLE_HANDLES.pop(live, None)  # force the miss
    _TABLE_HANDLES[dead] = object()
    _FANOUT_DECISIONS[dead] = True
    df = _t(spark, SF, "region")
    assert dead not in _TABLE_HANDLES and dead not in _FANOUT_DECISIONS
    assert _TABLE_HANDLES[live] is df
    assert all(k[0] == live[0] for k in (*_TABLE_HANDLES, *_FANOUT_DECISIONS))
