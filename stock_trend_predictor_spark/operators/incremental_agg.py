"""Incremental aggregation — materialized-view maintenance for rollups.

At 100 TB you never recompute a daily rollup from scratch: each
arriving partition contributes *mergeable partial state* (count /
decimal sum / min / max per key×day), the state table merges new
partials into old ones, and finalization (averages, ratios) happens
only at read time. The algebra that makes this correct:

    partial(A ∪ B) == merge(partial(A), partial(B))

holds exactly because every component is a commutative monoid — BIGINT
count, DECIMAL(27,6) sum (exact, order-independent — functions/
exact.py's trick), min, max. No double-based partial ever enters
state, so incremental and full recomputation are BIT-identical, not
approximately equal (law proven through the driver's oracle gate by
plans/analytics_queries.py::daily_rollup_incremental, and by
tests/test_incremental.py under arbitrary batch splits).

Persistence uses the same bucketed dynamic-partition-overwrite pattern
as streaming/upsert.py, partitioned by day: a batch only rewrites the
days it touches. The merge is additive, not idempotent, and foreachBatch
is at-least-once: ``update_rollup_state`` takes no batch id, so a batch
replayed after a crash is merged twice (ROADMAP's exactly-once item).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

from stock_trend_predictor_spark.functions.exact import DECIMAL_T
from stock_trend_predictor_spark.streaming.ingest import start_foreach_batch

STATE_COLS = ("n", "sum_v", "min_v", "max_v")


def daily_partials(
    df: DataFrame, key: str, ts: str = "ts", value: str = "value"
) -> DataFrame:
    """Mergeable per-(key, day) partial state for one input slice."""
    return df.groupBy(
        F.col(key).alias("key"),
        # DATE (not timestamp) so the day partition directory name
        # round-trips through partition-column type inference
        F.date_trunc("day", ts).cast("date").alias("day"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col(value).cast(DECIMAL_T)).alias("sum_v"),
        F.min(value).alias("min_v"),
        F.max(value).alias("max_v"),
    )


def merge_partials(*states: DataFrame) -> DataFrame:
    """Monoid merge of any number of partial-state frames."""
    it = iter(states)
    acc = next(it)
    for s in it:
        acc = acc.unionByName(s)
    return acc.groupBy("key", "day").agg(
        F.sum("n").alias("n"),
        # SUM of decimal partials is itself decimal-exact; re-bound the
        # type so repeated merges don't creep up the precision ladder
        F.sum("sum_v").cast(DECIMAL_T).alias("sum_v"),
        F.min("min_v").alias("min_v"),
        F.max("max_v").alias("max_v"),
    )


def finalize(state: DataFrame) -> DataFrame:
    """Read-time finalization: derived aggregates from partial state."""
    return state.select(
        "key",
        "day",
        "n",
        F.col("sum_v").cast("double").alias("total"),
        (F.col("sum_v").cast("double") / F.col("n")).alias("mean"),
        "min_v",
        "max_v",
    )


def update_rollup_state(
    spark: SparkSession,
    batch: DataFrame,
    state_dir: str,
    key: str,
    ts: str = "ts",
    value: str = "value",
) -> None:
    """Merge one batch's partials into the persisted state table,
    rewriting only the day partitions the batch touches."""
    new = daily_partials(batch, key, ts, value)
    days = [r[0] for r in new.select("day").distinct().collect()]
    if not days:
        return
    try:
        old = spark.read.parquet(state_dir).where(F.col("day").isin(days))
        merged = merge_partials(old, new)
    except AnalysisException:
        merged = new
    merged = merged.localCheckpoint(eager=True)  # break read-own-target
    mode_key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(mode_key, "static")
    spark.conf.set(mode_key, "dynamic")
    try:
        merged.write.mode("overwrite").partitionBy("day").parquet(state_dir)
    finally:
        spark.conf.set(mode_key, prev)


def read_rollup(spark: SparkSession, state_dir: str) -> DataFrame:
    return finalize(spark.read.parquet(state_dir))


def rollup_sink(
    stream: DataFrame,
    state_dir: str,
    checkpoint: str,
    key: str,
    ts: str = "ts",
    value: str = "value",
):
    """Streaming materialized view: each micro-batch's partials merge
    into the persisted rollup state. At-least-once: unlike the upsert
    sink, a batch that foreachBatch replays after a crash is merged
    again, and its partials are counted twice."""

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        update_rollup_state(
            batch.sparkSession, batch, state_dir, key, ts, value
        )

    return start_foreach_batch(stream, write_batch, checkpoint)
