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

Persistence is operators/statestore.py's commit: each batch's partials
are one append segment of the ``partials`` table, and the merge runs
at read time over the committed segments. A batch writes only its own
partials and never rewrites a committed day. The commit records the
batch id, so a batch that foreachBatch replays after a crash is
skipped before anything is written. Read cost grows with the number
of segments; ``statestore.compact_append_table(spark, state_dir,
"partials")`` folds them into one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stock_trend_predictor_spark.functions.exact import DECIMAL_T
from stock_trend_predictor_spark.operators.statestore import (
    commit_state,
    read_state_table,
)
from stock_trend_predictor_spark.streaming.ingest import start_foreach_batch


def daily_partials(
    df: DataFrame, key: str, ts: str = "ts", value: str = "value"
) -> DataFrame:
    """Mergeable per-(key, day) partial state for one input slice."""
    return df.groupBy(
        F.col(key).alias("key"),
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
    batch_id: int | None = None,
) -> None:
    """Commit one batch's partials as an append segment of the state
    table; a ``batch_id`` already committed is skipped."""
    commit_state(
        state_dir,
        {},
        batch_id=batch_id,
        appends={"partials": daily_partials(batch, key, ts, value)},
    )


def read_rollup(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """The finalized rollup of every committed batch, or None before
    the first commit."""
    partials = read_state_table(spark, state_dir, "partials")
    return None if partials is None else finalize(merge_partials(partials))


def rollup_sink(
    stream: DataFrame,
    state_dir: str,
    checkpoint: str,
    key: str,
    ts: str = "ts",
    value: str = "value",
):
    """Streaming materialized view: each micro-batch's partials are
    committed to the rollup state under its batch id, so a batch that
    foreachBatch replays after a crash is skipped, not counted twice."""

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        update_rollup_state(
            batch.sparkSession, batch, state_dir, key, ts, value, batch_id
        )

    return start_foreach_batch(stream, write_batch, checkpoint)
