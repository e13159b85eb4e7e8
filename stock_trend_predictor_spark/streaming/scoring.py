"""Streaming model inference (SURVEY §2.9 ST7, §2.10 M5).

The reference scores one Mongo change-stream document at a time
(ml_model/predict_from_vm4.py:47-65: per-event model.predict on a
1-row frame, insert_many per event) into one output collection per
symbol (`predicted_output_{symbol}`). Spark-first, scoring is
set-oriented inside foreachBatch: each micro-batch is one broadcast
join against the (tiny, pre-trained) models table plus native
expressions — zero Python in the scoring path — written as one
parquet file per batch with `symbol` as a data column (S9), not one
small file per symbol per batch. The file is named by the query and
the batch id (`statestore.write_batch_file`), so a batch that Spark
replays after a crash replaces its own file: each prediction is
written once, as in the reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from stock_trend_predictor_spark.ml.pergroup import score_with_models
from stock_trend_predictor_spark.operators.statestore import write_batch_file
from stock_trend_predictor_spark.streaming.ingest import start_foreach_batch


def streaming_score(
    ticks_stream: DataFrame,
    models: DataFrame,
    out_path: str,
    checkpoint: str,
):
    """Score a parsed tick stream against pre-trained per-key models.

    ``models`` is a static DataFrame (train once, broadcast each
    batch); ticks whose symbol has no model drop out in the join —
    the reference's model-known-key filter (P10). Returns the started
    StreamingQuery (availableNow: drain the source, then stop).
    """

    def score_batch(batch: DataFrame, batch_id: int) -> None:
        scored = score_with_models(
            batch.select("symbol", "ts", "open", "close"), models
        )
        write_batch_file(scored, out_path, batch_id)

    return start_foreach_batch(ticks_stream, score_batch, checkpoint)
