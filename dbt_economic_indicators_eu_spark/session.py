"""SparkSession factory with scale-oriented defaults, and the per-session
state store.

The reference delegates all execution to DuckDB with ``threads: 4/8``
(reference ``profiles.yml:11,14``). Here Catalyst+AQE replace DuckDB's
optimizer; the configs below are chosen for a large cluster and work
unchanged on ``local[N]``:

- AQE on (runtime coalesce of shuffle partitions, skew-join splitting,
  dynamic broadcast conversion) — at 100 TB the static
  ``shuffle.partitions`` is only an upper bound, AQE right-sizes it.
- Arrow for every pandas interchange (Pandas UDFs / applyInPandas).
- Session timezone pinned to UTC so timestamp semantics match the
  DuckDB oracle (naive timestamps) regardless of host TZ.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when no cluster
    is configured; on a real cluster pass ``master=None`` and let
    spark-submit decide.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"

    builder = (
        SparkSession.builder.appName("dbt-economic-indicators-eu-spark")
        .master(master)
        # --- optimizer / adaptive execution ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.cbo.enabled", "true")
        # --- scan sizing (128 MiB splits: the parquet row-group sweet spot) ---
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        # --- python interchange ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- determinism / oracle parity ---
        .config("spark.sql.session.timeZone", "UTC")
        # parquet TIMESTAMP(NANOS) (unsupported by Spark natively) → LongType;
        # sources.readers converts to microsecond timestamps on load
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # local-mode niceties; harmless on a cluster
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def session_state(spark: SparkSession, kind: str) -> dict:
    """This session's memo table ``kind``. It lives on the session
    object, so no entry is ever served to another session (a
    ``newSession()`` sibling, or the session ``getOrCreate()`` returns
    after ``stop()``); ``setdefault`` keeps first use thread-safe."""
    return spark.__dict__.setdefault("_engine_state", {}).setdefault(kind, {})
