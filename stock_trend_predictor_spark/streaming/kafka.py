"""Kafka wire-format encode + sink builders (SURVEY §2.1 S3/S4).

The reference produces JSON ticks row-at-a-time with a synchronous
10-second ack per record (data_collection/fetch_stock.py:33-36,62 —
``producer.send(topic, d).get(timeout=10)``) and an explicit
``flush()``. Spark-first, the whole producer becomes one declarative
sink: ``to_json(struct(*))`` builds the identical wire bytes JVM-side,
and the kafka sink writes partition-parallel from a checkpointed query
— no per-record ack, no driver loop. It is at-least-once: a batch
replayed after a crash is produced again, and consumers dedup.

The encode step is pure batch-testable DataFrame code (see
tests/test_streaming.py round-trip through ingest.parse_tick_envelope);
only ``start()`` needs a broker.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from stock_trend_predictor_spark.functions.stock import wire_timestamp

#: Wire field order of the reference producer
#: (data_collection/kafka_producer.py:107-115).
WIRE_COLUMNS = ("timestamp", "symbol", "open", "high", "low", "close", "volume")


def tick_wire_value(ts_col: str = "ts") -> Column:
    """JSON wire bytes for one tick row — field names and the
    'yyyy-MM-dd HH:mm:ss' timestamp format match the reference
    producer exactly (kafka_producer.py:107-115, fetch_stock.py:55)."""
    return F.to_json(
        F.struct(
            wire_timestamp(ts_col).alias("timestamp"),
            "symbol",
            "open",
            "high",
            "low",
            "close",
            "volume",
        )
    ).cast("binary")


def to_kafka_frame(ticks: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Project a tick DataFrame into the (key, value) shape the kafka
    sink expects. Key = symbol so one symbol's ticks land in one Kafka
    partition, preserving per-key ordering end-to-end."""
    return ticks.select(
        F.col("symbol").cast("binary").alias("key"),
        tick_wire_value(ts_col).alias("value"),
    )


def kafka_sink_options(
    topic: str, bootstrap_servers: str, checkpoint: str
) -> dict[str, str]:
    """The exact option set the kafka sink is wired with — exposed as
    a pure function so S3 plumbing is unit-assertable without a broker
    (tests/test_streaming.py::test_kafka_sink_wiring)."""
    return {
        "kafka.bootstrap.servers": bootstrap_servers,
        "topic": topic,
        "checkpointLocation": checkpoint,
    }


def kafka_sink_writer(
    ticks: DataFrame,
    topic: str,
    bootstrap_servers: str,
    checkpoint: str,
    trigger_seconds: int = 60,
):
    """Fully-configured (unstarted) DataStreamWriter for the tick
    producer — construction needs no broker; only ``start()`` does."""
    return (
        to_kafka_frame(ticks)
        .writeStream.format("kafka")
        .options(**kafka_sink_options(topic, bootstrap_servers, checkpoint))
        .trigger(processingTime=f"{trigger_seconds} seconds")
    )


def kafka_sink(
    ticks: DataFrame,
    topic: str,
    bootstrap_servers: str,
    checkpoint: str,
    trigger_seconds: int = 60,
):
    """Checkpointed streaming Kafka sink (replaces the reference's
    poll-sleep produce loop, fetch_stock.py:47-69; the 60s cadence maps
    to a processingTime trigger). Returns the started StreamingQuery.
    """
    return kafka_sink_writer(
        ticks, topic, bootstrap_servers, checkpoint, trigger_seconds
    ).start()
