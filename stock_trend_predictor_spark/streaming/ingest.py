"""Streaming ingest: JSON tick envelope → validated OHLCV stream.

Re-expresses the reference's only Spark job
(streaming_processing/features_engineering.py:30-46: Kafka source →
from_json → console) with the parts it was missing:

- the OHLCV *superset* schema (§1.4) instead of the close-only struct
  (features_engineering.py:23-27) that silently nulled producer fields;
- corrupt-record capture (the reference's schema_validation.py is an
  empty stub; malformed JSON was silently nulled): a line that is not a
  tick keeps its raw text in `_corrupt_record` for the DLQ;
- watermark + dropDuplicates replacing the in-driver-memory
  `last_timestamps` dict (fetch_stock.py:43,57,64) that loses state on
  restart and silently drops late rows;
- checkpointed durable sinks instead of console.

Sources are pluggable: the same parse/dedup pipeline runs over a Kafka
source in production or a file/rate source in tests (the Kafka wire
format — a binary `value` column of JSON — is identical).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import (
    DoubleType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

#: §1.4 canonical tick schema — superset of the close-only shape
#: (fetch_stock.py:54-58) and the full OHLCV bar
#: (kafka_producer.py:107-115), plus the `source` routing field
#: (mongo_stream_etl.py:23-32).
TICK_SCHEMA = StructType(
    [
        StructField("timestamp", TimestampType(), True),
        StructField("symbol", StringType(), True),
        StructField("open", DoubleType(), True),
        StructField("high", DoubleType(), True),
        StructField("low", DoubleType(), True),
        StructField("close", DoubleType(), True),
        StructField("close_price", DoubleType(), True),  # close-only variant
        StructField("volume", DoubleType(), True),
        StructField("source", StringType(), True),
        StructField("_corrupt_record", StringType(), True),
    ]
)


def parse_tick_envelope(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """Kafka-style binary JSON `value` → typed tick rows.

    PERMISSIVE parse with corrupt-record capture; the close-only tick
    variant is folded into the superset by coalescing close_price into
    close. A row that is not a tick (malformed JSON, a field of the
    wrong type, or no `symbol` or `timestamp`, as for an empty line or
    a null value) keeps its raw line in `_corrupt_record` ("" for a
    null value) so a DLQ sink can route it; the column is null on
    every tick. Such a row's `symbol` and `ts` are null too, so its
    dedup key can never equal a tick's and displace it.
    """
    value = F.col(value_col).cast("string")
    parsed = raw.select(
        F.from_json(
            value, TICK_SCHEMA, {"columnNameOfCorruptRecord": "_corrupt_record"}
        ).alias("t"),
        value.alias("_raw"),
    )
    not_a_tick = (
        F.col("t._corrupt_record").isNotNull()
        | F.col("t.symbol").isNull()
        | F.col("t.timestamp").isNull()
    )
    return parsed.select(
        F.when(~not_a_tick, F.col("t.symbol")).alias("symbol"),
        F.when(~not_a_tick, F.col("t.timestamp")).alias("ts"),
        F.col("t.open").alias("open"),
        F.col("t.high").alias("high"),
        F.col("t.low").alias("low"),
        F.coalesce(F.col("t.close"), F.col("t.close_price")).alias("close"),
        F.col("t.volume").alias("volume"),
        F.coalesce(F.col("t.source"), F.lit("realtime")).alias("source"),
        F.when(not_a_tick, F.coalesce(F.col("_raw"), F.lit(""))).alias(
            "_corrupt_record"
        ),
    )


def dedup_ticks(ticks: DataFrame, watermark_delay: str = "10 minutes") -> DataFrame:
    """Exactly-once-per-(symbol, ts) semantics under replay and late
    data: event-time watermark bounds state; dropDuplicates makes
    re-delivered ticks idempotent. This is the durable replacement for
    the reference's at-least-once producer + driver-memory watermark
    (ST4). State size = distinct keys within the watermark horizon —
    bounded, executor-distributed, checkpointed."""
    return ticks.withWatermark("ts", watermark_delay).dropDuplicates(
        ["symbol", "ts"]
    )


#: Change-event envelope (SURVEY §2.1 S6): the shape of a Mongo change
#: stream event (streaming_processing/mongo_stream_etl.py:14-21,
#: ml_model/predict_from_vm4.py:44-50) carried over a streaming table.
CDC_SCHEMA = StructType(
    [
        StructField("operationType", StringType(), True),
        StructField(
            "fullDocument",
            StructType(
                [
                    StructField("symbol", StringType(), True),
                    StructField("open", DoubleType(), True),
                    StructField("high", DoubleType(), True),
                    StructField("low", DoubleType(), True),
                    StructField("close", DoubleType(), True),
                    StructField("volume", DoubleType(), True),
                    StructField("time", StringType(), True),
                    StructField("source", StringType(), True),
                ]
            ),
            True,
        ),
    ]
)


def fulldocument_to_ticks(docs: DataFrame) -> DataFrame:
    """fullDocument rows (the connector's full-document-only output)
    → canonical tick rows: symbol defaults 'UNKNOWN', source defaults
    'unknown', ``time`` renames to ts (P7/P8; mongo_stream_etl.py:23-31).
    The one projection of both CDC paths: ``parse_cdc_envelope`` and the
    live connector (streaming/mongo_connector.py)."""
    return docs.select(
        F.coalesce(F.col("symbol"), F.lit("UNKNOWN")).alias("symbol"),
        F.to_timestamp(F.col("time")).alias("ts"),
        F.col("open"),
        F.col("high"),
        F.col("low"),
        F.col("close"),
        F.col("volume"),
        F.coalesce(F.col("source"), F.lit("unknown")).alias("source"),
    )


def parse_cdc_envelope(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """Change-event JSON → routed tick rows (S6 + P6/P7/P8).

    Spark has no Mongo-CDC source, so the change feed is modeled as a
    streaming table of envelope JSON (documented divergence, SURVEY §7
    phase 3) — the routing semantics are preserved exactly:

    - events without a fullDocument are skipped
      (P6; mongo_stream_etl.py:19-21)
    - symbol defaults to 'UNKNOWN', source to 'unknown'
      (P7; mongo_stream_etl.py:23-31 `.get()` defaults)
    - `time` renames to the canonical ts (P8; mongo_stream_etl.py:31)
    """
    docs = (
        raw.select(
            F.from_json(F.col(value_col).cast("string"), CDC_SCHEMA).alias("e")
        )
        .where(F.col("e.fullDocument").isNotNull())
        .select("e.fullDocument.*")
    )
    return fulldocument_to_ticks(docs)


def kafka_source_options(
    topic: str = "stock-prices",
    bootstrap_servers: str = "localhost:9092",
    starting_offsets: str = "earliest",
) -> dict[str, str]:
    """The exact option set the kafka source is wired with — exposed
    as a pure function so S4 plumbing is unit-assertable without a
    broker (tests/test_streaming.py::test_kafka_source_wiring)."""
    return {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
    }


def read_tick_kafka_stream(
    spark: SparkSession,
    topic: str = "stock-prices",
    bootstrap_servers: str = "localhost:9092",
    starting_offsets: str = "earliest",
) -> DataFrame:
    """Kafka source → parsed tick stream (SURVEY §2.1 S4; the
    reference's subscribe at features_engineering.py:30-35, with the
    superset schema and corrupt capture it lacked). Construct-only in
    this container (no broker); the file-stream twin below runs the
    identical downstream pipeline in tests."""
    raw = (
        spark.readStream.format("kafka")
        .options(
            **kafka_source_options(topic, bootstrap_servers, starting_offsets)
        )
        .load()
    )
    return parse_tick_envelope(raw)


#: Symbols for the synthetic dev feed (the reference's 3-symbol
#: universe, data_collection/fetch_stock.py:42).
DEV_SYMBOLS = ("AAPL", "MSFT", "GOOGL")


def synthetic_tick_columns(rate_df: DataFrame) -> DataFrame:
    """Map a rate-source frame (timestamp, value) to synthetic ticks —
    the S1 dev harness (SURVEY §2.1: rate source + synth mapping)
    standing in for the yfinance poller. Deterministic in `value`, so
    the mapping itself is batch-testable without a running stream."""
    sym = F.element_at(
        F.array(*[F.lit(s) for s in DEV_SYMBOLS]),
        (F.col("value") % len(DEV_SYMBOLS) + 1).cast("int"),
    )
    base = (F.col("value") % 1000).cast("double")
    return rate_df.select(
        sym.alias("symbol"),
        F.col("timestamp").alias("ts"),
        (100.0 + base / 10.0).alias("open"),
        (101.0 + base / 10.0).alias("high"),
        (99.0 + base / 10.0).alias("low"),
        (100.5 + base / 10.0).alias("close"),
        (F.col("value") % 500 + 1).cast("double").alias("volume"),
        F.lit("realtime").alias("source"),
    )


def synthetic_tick_stream(
    spark: SparkSession, rows_per_second: int = 100
) -> DataFrame:
    """Unbounded synthetic tick stream from the built-in rate source."""
    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
    )
    return synthetic_tick_columns(rate)


def stop_all_streams(spark: SparkSession) -> int:
    """ST8 graceful shutdown: stop every active streaming query
    (replaces the reference's SIGINT handlers,
    data_collection/fetch_stock.py:13-18,
    streaming_processing/features_engineering.py:8-13). Returns the
    number of queries stopped; checkpoints make restart safe."""
    active = list(spark.streams.active)
    for q in active:
        q.stop()
    return len(active)


_NO_DATA_BATCHES = "spark.sql.streaming.noDataMicroBatches.enabled"


def start_foreach_batch(
    stream: DataFrame,
    write_batch: Callable[[DataFrame, int], None],
    checkpoint: str,
    processing_time: str | None = None,
) -> StreamingQuery:
    """Start ``write_batch`` over ``stream`` as a checkpointed
    foreachBatch query, triggered availableNow (drain the source, then
    stop) unless ``processing_time`` is given. At-least-once: a batch
    replayed after a crash runs ``write_batch`` again.

    The query runs only micro-batches that have input rows: Spark's
    watermark-only (no-data) batch is turned off for it, and for it
    alone. The setting is applied to the session just for ``start()``,
    where the query takes its own copy of the session's conf, and the
    caller's value is restored after.

    This is safe for ``dropDuplicates`` (``dedup_ticks``): each data
    batch filters late rows with the watermark the previous data batch
    committed, with or without a no-data batch between them, so the
    output is the same. Only eviction moves: keys behind the watermark
    are evicted by the next data batch instead of an empty one, so state
    stays bounded. A stream whose output the watermark releases, such
    as a windowed aggregation in append mode, must not be started here:
    its last windows would wait for the next batch with data, so an
    availableNow query would stop without emitting them.
    """
    writer = stream.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint
    )
    if processing_time is None:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    conf = stream.sparkSession.conf
    prior = conf.get(_NO_DATA_BATCHES, None)
    conf.set(_NO_DATA_BATCHES, "false")
    try:
        return writer.start()
    finally:
        if prior is None:
            conf.unset(_NO_DATA_BATCHES)
        else:
            conf.set(_NO_DATA_BATCHES, prior)


def read_tick_file_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-based stream of Kafka-envelope JSON lines (test/dev source;
    swap for spark.readStream.format('kafka') in production — the
    downstream pipeline is identical)."""
    reader = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", max_files_per_trigger or 10)
    )
    raw = reader.load(path).select(F.col("value").cast("binary").alias("value"))
    return parse_tick_envelope(raw)
