"""Continuous data-contract auditing — the streaming twin of
plans/expectations_queries.py on the shared idempotent state store.

The batch `expectations_audit` gates a finished corpus; a live
pipeline needs the same gates per MICRO-BATCH with running totals, so
a regression (a producer starts emitting nulls, a bad-print burst)
surfaces on the batch where it began instead of at the next full
audit. Reference parity: the reference's stream has no validation at
all — features_engineering.py's permissive schema silently nulls
mismatched payloads (SURVEY §2.5); this is the gate it needed.

State = one `totals` table (expectation, n_rows, n_violations),
additively folded per batch through operators/statestore.py's
versioned-dir + atomic-META protocol — replayed batch ids are
no-ops, so at-least-once foreachBatch delivery still yields exact
totals (the same additive-fold contract as the CMS/Misra-Gries
sinks). Because the fold is associative and the per-batch audit is a
pure function of the batch, streaming totals over splits b0..bn equal
the one-shot batch audit of their union — the stream==batch law
tested in tests/test_streaming.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stock_trend_predictor_spark.operators.statestore import (
    commit_state,
    read_state_table,
)
from stock_trend_predictor_spark.streaming.ingest import start_foreach_batch

#: (name, predicate-builder) — the event-stream subset of the batch
#: audit's expectations (cross-table checks need the dimension tables
#: and belong to the batch gate).
EVENT_EXPECTATIONS = (
    ("value_not_null", lambda: F.col("value").isNull()),
    ("value_positive", lambda: F.col("value") <= 0),
    ("ts_not_null", lambda: F.col("ts").isNull()),
    ("event_type_not_null", lambda: F.col("event_type").isNull()),
)


def audit_batch(batch: DataFrame) -> DataFrame:
    """(expectation, n_rows, n_violations) for one micro-batch — one
    combinable aggregate over the batch, all expectations at once."""
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n_rows")]
    for name, bad in EVENT_EXPECTATIONS:
        aggs.append(F.count_if(bad()).cast("bigint").alias(name))
    row = batch.agg(*aggs)
    pairs = F.array(
        *[
            F.struct(
                F.lit(name).alias("expectation"),
                F.col(name).alias("n_violations"),
            )
            for name, _ in EVENT_EXPECTATIONS
        ]
    )
    return row.select(
        F.explode(pairs).alias("e"), F.col("n_rows")
    ).select("e.expectation", "n_rows", "e.n_violations")


def update_quality_state(
    spark: SparkSession,
    batch: DataFrame,
    state_dir: str,
    batch_id: int | None = None,
) -> None:
    """Fold one batch's audit into the running totals (idempotent:
    replayed batch ids are skipped before any write)."""
    cur = audit_batch(batch)
    prev = read_state_table(spark, state_dir, "totals")
    if prev is not None:
        cur = (
            prev.unionByName(cur)
            .groupBy("expectation")
            .agg(
                F.sum("n_rows").cast("bigint").alias("n_rows"),
                F.sum("n_violations").cast("bigint").alias("n_violations"),
            )
        )
    commit_state(state_dir, {"totals": cur}, batch_id=batch_id)


def quality_audit_sink(
    event_stream: DataFrame, state_dir: str, checkpoint: str
):
    """Continuous expectations audit over an event stream."""

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        update_quality_state(
            batch.sparkSession, batch, state_dir, batch_id=batch_id
        )

    return start_foreach_batch(event_stream, write_batch, checkpoint)


def read_quality_totals(
    spark: SparkSession, state_dir: str
) -> DataFrame | None:
    """The committed running totals, with the pass verdict."""
    t = read_state_table(spark, state_dir, "totals")
    if t is None:
        return None
    return t.withColumn("pass", F.col("n_violations") == 0)
