"""Tuned SparkSession construction — the engine's scale defaults in one place.

The pipeline API takes an existing ``SparkSession``; this helper builds one
with the settings every 100 TB deployment wants switched on, so notebooks,
``bench.py``, and production jobs share a single source of tuning truth.
Override anything via ``confs``.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import SparkSession

#: Scale-oriented defaults, applied before user confs:
#: - AQE + coalescing + skew-join: runtime re-planning from real sizes
#: - broadcast threshold raised to 64m: dim tables broadcast, facts don't
#: - 128m parquet split target: ~1 task per HDFS-ish block, bounded memory
#: - runtime bloom-filter join: a selective dim-side filter is pushed into
#:   the fact scan as a bloom probe, cutting shuffle input for joins too
#:   big to broadcast — the 100 TB case where it matters most
#: - DataFrame call-site capture off: with it on, every wrapped PySpark call
#:   makes extra driver↔JVM round trips to record the Python call site, and
#:   for config-driven jobs that site is always engine code, never the
#:   user's YAML, so the capture only costs time
DEFAULT_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    "spark.sql.files.maxPartitionBytes": "128m",
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def build_session(
    app_name: str = "config-driven-pyspark",
    master: Optional[str] = None,
    shuffle_partitions: Optional[int] = None,
    confs: Optional[dict[str, str]] = None,
) -> SparkSession:
    """Build (or get) a SparkSession with the engine's scale defaults.

    ``master=None`` defers to the environment (spark-submit / cluster
    manager); ``shuffle_partitions=None`` keeps Spark's default and lets AQE
    coalesce — set it explicitly when you know the reduce-side cardinality.
    """
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    merged = {**DEFAULT_CONFS, **(confs or {})}
    if shuffle_partitions is not None:
        merged["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    for key, value in merged.items():
        builder = builder.config(key, value)
    return builder.getOrCreate()
