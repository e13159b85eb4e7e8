"""Keyed MERGE / upsert sink — the `MERGE INTO` equivalent for a plain
parquet table, usable both as a batch operator and as a streaming
foreachBatch sink.

The reference's predict loop writes per-row upserts into Mongo
(ml_model/predict_from_vm4.py:64-65, `replace_one(upsert=True)`); the
set-oriented re-expression is last-writer-wins per key over a whole
micro-batch.

Scale design: the target table is laid out in N hash buckets
(`_bucket = pmod(xxhash64(key), N)` as a partition column). A
micro-batch only ever rewrites the buckets its keys hash into: the
write's own ``partitionOverwriteMode=dynamic`` option replaces exactly
those directories and leaves the rest of the table, and the session's
setting, untouched. The per-batch write cost is O(batch ∪
touched-bucket rows), not O(table). At 100 TB pick N so one bucket ≈ a
few GB (N≈32k); compaction pressure is bounded because a bucket is
rewritten as one columnar file set per touch, never appended row-wise.

Read-modify-write safety: the merged frame is materialized with
``localCheckpoint(eager=True)`` BEFORE the overwrite starts — Spark
plans are lazy, and overwriting a directory that the same plan is
still reading is undefined behavior otherwise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.utils import AnalysisException
from pyspark.sql.window import Window

from stock_trend_predictor_spark.streaming.ingest import start_foreach_batch

BUCKET_COL = "_bucket"


def _with_bucket(df: DataFrame, key: str, n_buckets: int) -> DataFrame:
    return df.withColumn(BUCKET_COL, F.pmod(F.xxhash64(key), F.lit(n_buckets)))


def upsert_batch(
    spark: SparkSession,
    batch: DataFrame,
    target_dir: str,
    key: str,
    order_col: str,
    n_buckets: int = 16,
) -> None:
    """Last-writer-wins merge of `batch` into the bucketed parquet
    table at `target_dir`.

    Within a batch the row with the highest `order_col` per key wins;
    a batch row beats an existing row with the same `order_col`
    (new-beats-old on ties makes re-applying a batch idempotent).
    """
    batch = _with_bucket(batch.withColumn("_is_new", F.lit(1)), key, n_buckets)
    # bucket ids only — bounded by n_buckets, never data-sized
    touched = [
        r[0] for r in batch.select(BUCKET_COL).distinct().collect()
    ]
    if not touched:
        return
    try:
        existing = (
            spark.read.parquet(target_dir)
            .where(F.col(BUCKET_COL).isin(touched))
            .withColumn("_is_new", F.lit(0))
        )
        merged_in = batch.unionByName(existing)
    except AnalysisException:  # first batch: target doesn't exist yet
        merged_in = batch
    w = Window.partitionBy(key).orderBy(
        F.col(order_col).desc(), F.col("_is_new").desc()
    )
    merged = (
        merged_in.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn", "_is_new")
        # materialize BEFORE overwriting the directory we just read
        .localCheckpoint(eager=True)
    )
    (
        merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(BUCKET_COL)
        .parquet(target_dir)
    )
    # the write materialized the merge — free its checkpoint blocks
    # so a long-running upsert sink holds batch-bounded storage
    from stock_trend_predictor_spark.operators.checkpoints import (
        release_local_checkpoints,
    )

    release_local_checkpoints(merged)


def read_upsert_table(spark: SparkSession, target_dir: str) -> DataFrame:
    """Current state of the upsert table (bucket column dropped)."""
    return spark.read.parquet(target_dir).drop(BUCKET_COL)


def upsert_sink(
    stream: DataFrame,
    target_dir: str,
    checkpoint: str,
    key: str,
    order_col: str,
    n_buckets: int = 16,
    processing_time: str | None = None,
) -> StreamingQuery:
    """Streaming upsert: each micro-batch merges into the keyed table.

    foreachBatch is at-least-once, and the merge is idempotent under
    replay (new-beats-old tie rule), so a batch replayed after a crash
    leaves the table as one run of it would.

    Default trigger is availableNow (drain-and-stop, right for
    replayable file/table sources); pass `processing_time` for
    unbounded polling sources (e.g. the tick_api connector) that have
    no notion of "all available data".
    """

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        upsert_batch(
            batch.sparkSession, batch, target_dir, key, order_col, n_buckets
        )

    return start_foreach_batch(stream, write_batch, checkpoint, processing_time)
