"""Live MongoDB wiring for the CDC pipeline (closes the r5 "what's
missing" #1 as far as a no-Mongo sandbox can).

The reference consumes a real change stream —
``collection.watch(pipeline, full_document='updateLookup')`` over
``stock_db.stock_data`` and routes each event's fullDocument to a
history or realtime collection
(streaming_processing/mongo_stream_etl.py:14-38;
ml_model/predict_from_vm4.py:44-45 uses the same watch). This repo's engine-side semantics (P6 skip-no-document, P7
symbol/source defaults, P8 time→ts rename, S6 routing) live in
``streaming/ingest.py`` (``parse_cdc_envelope`` and the projection it
shares with this module, ``fulldocument_to_ticks``) and
``streaming/routing.py``, and are fully tested against a modeled
envelope stream; what was missing is the OPTION SURFACE a user points
at a real deployment.

This module is that surface, built on the public MongoDB Spark
Connector v10 contract (format ``"mongodb"``; micro-batch change
streams; ``change.stream.publish.full.document.only`` to receive the
fullDocument as the row itself, the connector's equivalent of the
reference's ``full_document='updateLookup'``). Everything here is a
pure builder — no connection is attempted until ``load()``/
``start()``, so the wiring is unit-assertable in this container
(tests/test_mongo_connector.py) and fails at stream start with the
connector's own error when the jar is absent (install
``org.mongodb.spark:mongo-spark-connector_2.13:10.x`` on a real
cluster; the container ships no Mongo and no jar — the env-gated
divergence documented since round 1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from stock_trend_predictor_spark.streaming.ingest import (
    CDC_SCHEMA,
    fulldocument_to_ticks,
)

#: the reference deployment's namespace (mongo_stream_etl.py:6-11)
DEFAULT_DATABASE = "stock_db"
DEFAULT_SOURCE_COLLECTION = "stock_data"
DEFAULT_HISTORY_COLLECTION = "stock_history_data"
DEFAULT_REALTIME_COLLECTION = "stock_realtime_data"


def mongo_change_stream_options(
    uri: str,
    database: str = DEFAULT_DATABASE,
    collection: str = DEFAULT_SOURCE_COLLECTION,
    full_document_only: bool = True,
) -> dict[str, str]:
    """The exact option set for a connector-v10 change-stream read —
    a pure function so the wiring is assertable without a server
    (mirrors ``kafka_source_options``). ``full_document_only=True``
    publishes each event's fullDocument as the row itself — the
    connector's rendering of the reference's
    ``full_document='updateLookup'`` watch."""
    return {
        "spark.mongodb.connection.uri": uri,
        "spark.mongodb.database": database,
        "spark.mongodb.collection": collection,
        "spark.mongodb.change.stream.publish.full.document.only": (
            "true" if full_document_only else "false"
        ),
    }


def mongo_batch_options(
    uri: str,
    database: str = DEFAULT_DATABASE,
    collection: str = DEFAULT_SOURCE_COLLECTION,
) -> dict[str, str]:
    """Connector-v10 batch scan options (S7's live form)."""
    return {
        "spark.mongodb.connection.uri": uri,
        "spark.mongodb.database": database,
        "spark.mongodb.collection": collection,
    }


def mongo_write_options(
    uri: str,
    collection: str,
    database: str = DEFAULT_DATABASE,
    id_field: str | None = None,
) -> dict[str, str]:
    """Connector-v10 write options. With ``id_field`` the write is an
    idempotent keyed upsert (``operationType: update`` + upsert) —
    the set-oriented form of the reference's per-event
    ``insert_one`` loop (mongo_stream_etl.py:35-38), replay-safe
    under foreachBatch's at-least-once delivery."""
    opts = {
        "spark.mongodb.connection.uri": uri,
        "spark.mongodb.database": database,
        "spark.mongodb.collection": collection,
    }
    if id_field is not None:
        opts["spark.mongodb.operationType"] = "update"
        opts["spark.mongodb.idFieldList"] = id_field
    return opts


def mongo_ticks_change_stream(
    spark: SparkSession,
    uri: str,
    database: str = DEFAULT_DATABASE,
    collection: str = DEFAULT_SOURCE_COLLECTION,
) -> DataFrame:
    """The live S6 source: change-stream reader with the tick
    fullDocument schema, projected to canonical ticks. Returns a
    STREAMING DataFrame. ``load()`` resolves the "mongodb" provider,
    so WITH the connector jar this builds a plan without contacting
    the server; WITHOUT it (this container) it raises Spark's
    DATA_SOURCE_NOT_FOUND — asserted as the expected failure mode in
    tests/test_mongo_connector.py. Route the result with
    streaming/routing.py (history vs realtime — S8/S9) exactly like
    the modeled path."""
    reader = (
        spark.readStream.format("mongodb")
        .schema(CDC_SCHEMA["fullDocument"].dataType)
        .options(
            **mongo_change_stream_options(uri, database, collection)
        )
    )
    return fulldocument_to_ticks(reader.load())
