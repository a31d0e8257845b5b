"""SparkSession factory.

Replaces the reference's ``SparkContext()`` / ``SQLContext(sc)`` bootstrap
(``Scripts/1_cs_777_cleaning_data.py:24-26``) with a modern
``SparkSession`` configured for scale:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting).
- Arrow on (fast toPandas / pandas_udf batches).
- Shuffle partitions sized from the env, not the 200 default.

On a real cluster the same builder is used; only ``master`` and the
resource configs differ (supplied by spark-submit), so nothing here
assumes local mode.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "big-data-analysis-airline-spark"


def env_number(name: str, default, kind=int, *, minimum=None):
    """``kind(os.environ[name])``, or ``default`` when unset. A value
    that does not parse, or is below ``minimum``, raises a ValueError
    naming the variable and the bad value."""
    raw = os.environ.get(name)
    if raw is None:
        return default
    try:
        value = kind(raw)
    except ValueError:
        raise ValueError(f"{name}={raw!r} is not a valid {kind.__name__}") from None
    if minimum is not None and value < minimum:
        raise ValueError(f"{name}={raw!r} must be >= {minimum}")
    return value


def _default_parallelism() -> int:
    return env_number("SPARK_GRAFT_CPUS", os.cpu_count() or 8, minimum=1)


def get_session(
    app_name: str = DEFAULT_APP_NAME,
    *,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when no cluster
    manager injected one; on a cluster, leave it unset.
    """
    cpus = _default_parallelism()
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_MASTER" not in os.environ:
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)

    n_shuffle = shuffle_partitions if shuffle_partitions is not None else max(cpus, 32)
    conf = {
        "spark.sql.shuffle.partitions": str(n_shuffle),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Some testdata generations write events.ts as parquet
        # TIMESTAMP(NANOS), which Spark rejects without this flag (it then
        # scans as epoch-nanos long). The flag is inert for MICROS/MILLIS
        # files; sources.readers._normalize_events detects which encoding
        # was scanned and normalizes to TimestampType either way.
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # Spark's default INT96 parquet timestamps carry NO min/max
        # statistics, which kills row-group skipping on time-range scans;
        # write standards-track INT64 micros instead.
        "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
        # Splittable-input sizing: at 100 TB this keeps scan tasks ~128 MB.
        "spark.sql.files.maxPartitionBytes": "134217728",
        # Broadcast small dimension tables automatically (10 MB default is
        # fine; AQE upgrades sort-merge to broadcast at runtime too).
        "spark.sql.autoBroadcastJoinThreshold": "10485760",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        "spark.ui.enabled": "false",
        "spark.sql.session.timeZone": "UTC",
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
