"""Content-based stream routing into history, realtime and DLQ sinks.

Replaces the reference's Mongo CDC router
(streaming_processing/mongo_stream_etl.py:34-38: per-event
`if source == "history": insert_one(A) else insert_one(B)`) with
set-oriented foreachBatch writes.

Scale notes: each micro-batch is persisted and counted per route. That
count runs the stateful dedup upstream on all its shuffle partitions in
parallel and fills the cache. Each route that has rows is then written
from the cache as one file; an empty route starts no write job and
leaves no file. The query runs no watermark-only batch (see
`start_foreach_batch`), so every batch reads input rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from stock_trend_predictor_spark.operators.statestore import write_batch_file
from stock_trend_predictor_spark.streaming.ingest import start_foreach_batch


def route_by_source(
    ticks: DataFrame,
    history_path: str,
    realtime_path: str,
    checkpoint: str,
    corrupt_path: str,
) -> StreamingQuery:
    """history/realtime/DLQ three-way split, one file per non-empty
    route per micro-batch.

    A row with a ``_corrupt_record`` goes to the DLQ as its raw line, in
    a single ``_raw`` column. Each route's file is named by the query
    and the batch id (``statestore.write_batch_file``), so a batch Spark
    replays after a crash replaces its own files, and a restart from the
    checkpoint leaves the sinks as a clean run would.
    """
    sinks = {"history": history_path, "realtime": realtime_path, "dlq": corrupt_path}
    route = (
        F.when(F.col("_corrupt_record").isNotNull(), "dlq")
        .when(F.col("source") == "history", "history")
        .otherwise("realtime")
    )

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        batch = batch.persist()
        try:
            # Runs the dedup on all its shuffle partitions and fills the
            # cache before the one-task writes below read it.
            counts = dict(batch.groupBy(route).count().collect())
            for name, path in sinks.items():
                if not counts.get(name):
                    continue
                rows = batch.where(route == name)
                if name == "dlq":
                    rows = rows.select(F.col("_corrupt_record").alias("_raw"))
                else:
                    rows = rows.drop("_corrupt_record")
                write_batch_file(rows, path, batch_id)
        finally:
            batch.unpersist()

    return start_foreach_batch(ticks, write_batch, checkpoint)
