"""JSON-lines source/sink (SURVEY §2.1, the batch twin of the Kafka
JSON payloads).

The reference moves every record as a JSON object — Kafka messages
(data_collection/kafka_producer.py:52-58 produces them;
streaming_processing/features_engineering.py:38-41 parses them with
from_json) and Mongo documents. This module is the BATCH form of that
contract: schema-pinned JSONL scans with corrupt-record routing, and
a date-partitioned JSONL sink mirroring csv_io's layout.

Why each choice:
- explicit schema, never inference: inference is an extra full pass
  (2x the scan at 100 TB) AND type-unstable across batches (a column
  that is all-null today infers string tomorrow).
- PERMISSIVE + ``_corrupt_record``: a malformed line becomes a row in
  the DLQ split instead of failing the job (FAILFAST) or vanishing
  (DROPMALFORMED) — the same quarantine contract as
  streaming/routing.py's dead-letter queue, so batch backfills and
  the live stream drop bad payloads into the same shape.
- the good/bad SPLIT is two filters over one scan (Spark requires a
  cache/checkpoint boundary to see _corrupt_record — a known
  constraint of the permissive parser — so the splitter materializes
  once, blocks freed with the result, same policy as
  materialize_once).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

#: §1.4 canonical tick schema + the corrupt-record column (PERMISSIVE
#: parsing routes any malformed line's raw text here).
TICKS_JSONL_SCHEMA = (
    "symbol string, ts timestamp, open double, high double, low double, "
    "close double, volume double, source string, _corrupt_record string"
)


def write_jsonl_daily(
    df: DataFrame, path: str, ts_col: str = "ts", mode: str = "append"
) -> None:
    """Date-partitioned JSONL sink — partition pruning on read-back,
    no driver-side concat, identical from local[32] to a cluster."""
    (
        df.withColumn("dt", F.to_date(ts_col))
        .write.mode(mode)
        .partitionBy("dt")
        .json(path)
    )


def read_jsonl_ticks(
    spark: SparkSession,
    path: str,
    schema: StructType | str = TICKS_JSONL_SCHEMA,
) -> tuple[DataFrame, DataFrame]:
    """Typed JSONL scan with quarantine: returns (good, dlq).

    good = rows that parsed clean (corrupt column dropped);
    dlq   = (_raw,) rows for every malformed input line, the column
    streaming/routing.py's DLQ sink writes.
    One scan, materialized once at the split boundary (the permissive
    parser only exposes _corrupt_record past a materialization)."""
    from stock_trend_predictor_spark.sources.tables import (
        materialize_once,
    )

    raw = materialize_once(
        spark.read.option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .schema(schema)
        .json(path)
    )
    good = raw.where(F.col("_corrupt_record").isNull()).drop(
        "_corrupt_record"
    )
    dlq = raw.where(F.col("_corrupt_record").isNotNull()).select(
        F.col("_corrupt_record").alias("_raw")
    )
    return good, dlq
