"""SparkSession factory with the engine's defaults.

The reference sets exactly one knob (``spark.sql.shuffle.partitions=2``,
reference streaming_processing/features_engineering.py:19) on a plan that
has no shuffle. ``SCALE_CONF`` holds only settings that change behaviour
from Spark's defaults:

- session timezone pinned to UTC so timestamp semantics match the
  DuckDB oracle and are cluster-node independent;
- Arrow on for every Pandas-UDF boundary (the only sanctioned Python
  hot path);
- a 64 MiB broadcast-join threshold, so dimension tables broadcast.

Adaptive execution, parquet filter pushdown and 128 MiB input splits
are Spark's defaults and are not restated.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

#: Settings that differ from Spark's defaults.
SCALE_CONF: dict[str, str] = {
    # Deterministic timestamp semantics (matches DuckDB's naive ts).
    "spark.sql.session.timeZone": "UTC",
    # Arrow for pandas_udf / applyInPandas / toPandas boundaries.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Broadcast small dimension tables (region/nation/supplier-sized).
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
}


def get_spark(
    app_name: str = "stock-trend-predictor-spark",
    master: str | None = None,
    shuffle_partitions: int = 32,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``master`` is only set when given — under the driver harness the
    session already exists and ``getOrCreate`` just returns it.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    conf = dict(SCALE_CONF)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
