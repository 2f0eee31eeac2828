"""SparkSession factory with scale-oriented defaults.

The reference pipeline (wikicaps_etl_pipeline.py:62-100) hand-manages thread
pools and process counts; here a single session config governs parallelism and
the engine relies on Spark's scheduler. Defaults are tuned so the same code
runs on local[*] for tests and on a real cluster unchanged:

* AQE on (dynamic coalesce, skew-join splitting) — the 100 TB path depends on
  runtime re-planning, and it is free at small SF.
* Arrow enabled for every pandas-UDF boundary (the only Python hot paths).
* A 1 MB file open cost (``spark.sql.files.openCostInBytes``, Spark's
  default is 4 MB), the floor of the scan split size: a single few-MB input
  such as the caption list is split across all local cores instead of two,
  while at 100 TB the split size is still capped by ``maxPartitionBytes``.
* UTC session timezone so timestamp semantics match the DuckDB oracle and are
  stable across cluster node timezones.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Arrow batch size for mapInPandas/pandas_udf: large enough to amortize
    # Python call overhead, small enough to bound executor memory per batch.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # At 100 TB this is sized by the cluster (#cores * 2-3); locally keep it
    # equal to parallelism so tiny SF tests don't schedule 200 empty tasks.
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_SHUFFLE", "32"),
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.ui.enabled": "false",
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # Floor of the scan split size (see module docstring): at Spark's 4 MB
    # a ~5 MB caption list is 2 splits on 4 cores, at 1 MB it is 4.
    "spark.sql.files.openCostInBytes": str(1024 * 1024),
    # The driver's events.parquet stores TIMESTAMP(NANOS); Spark has no nanos
    # timestamp type, so read as long and rebuild micros in catalog.load_table.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def get_spark(app_name: str = "wicsmmiretl_spark", **overrides: str) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Master comes from ``SPARK_GRAFT_CPUS`` (``local[N]``) or defaults to
    ``local[*]``; on a real cluster the master is injected by spark-submit and
    the env var is simply absent.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]" if cpus else "local[*]")
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    for key, value in {**_DEFAULTS, **overrides}.items():
        builder = builder.config(key, value)
    return builder.getOrCreate()


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
