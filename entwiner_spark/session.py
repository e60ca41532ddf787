"""SparkSession factory with scale-oriented defaults.

Defaults chosen for correctness-at-scale:
- AQE on (runtime join-strategy switching, skew-join splitting,
  partition coalescing) — replaces every hand-coded physical tactic the
  reference used (SURVEY.md §4).
- UTC session timezone so DuckDB-oracle comparisons are deterministic.
- TIMESTAMP(NANOS) parquet columns read as long nanos
  (``spark.sql.legacy.parquet.nanosAsLong``); ``catalog._events``
  truncates them to micros.
- ANSI mode is left at Spark 4's default (ON): every oracle-verified
  query passes under it, and it surfaces real errors (divide-by-zero,
  bad casts) instead of silent NULLs; inputs that would trip ANSI on
  malformed data are guarded at the ingest boundary (degenerate
  geometries filtered, try_cast for user-supplied flags).
- Arrow enabled for the few Pandas-UDF paths (similarity / multimodal).
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "entwiner_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    On a real cluster ``master`` comes from spark-submit; locally we
    default to ``local[$SPARK_GRAFT_CPUS]``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        # TIMESTAMP(NANOS) parquet columns (the events table) read as
        # long nanos instead of failing the scan
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    return builder.getOrCreate()


@contextmanager
def scoped_shuffle_partitions(spark: SparkSession, n_rows: int, target: int = 25_000):
    """Scope ``spark.sql.shuffle.partitions`` to a value derived from
    the DATA an iterative loop is about to shuffle (guide §2.2:
    partition count should track bytes, not a session constant).

    ``min(session setting, ceil(n_rows / target))``: a 100k-row state
    spine stops paying 32 map outputs + AQE coalesce planning per
    round for partitions holding a few thousand tiny rows; at real
    scale the derived value exceeds the session setting and the conf
    is untouched.  Restores the previous value on exit.  Only use
    around loops whose merge aggregates are partition-invariant
    (min/count/mode — NOT floating-point sums, whose partial-aggregate
    order would change results)."""
    sess = int(spark.conf.get("spark.sql.shuffle.partitions"))
    loop = min(sess, max(1, -(-int(n_rows) // target)))
    if loop == sess:
        yield
        return
    spark.conf.set("spark.sql.shuffle.partitions", str(loop))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", str(sess))


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
