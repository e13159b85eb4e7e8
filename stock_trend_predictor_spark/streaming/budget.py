"""Continuous per-source token-budget admission — the streaming twin
of plans/selection_queries.py::token_budget_selection on the shared
idempotent state store.

The batch query picks a quality-greedy prefix of a FINISHED corpus; a
live ingestion pipeline has to enforce the budget in ARRIVAL order:
each source admits documents until the first one that would push its
running token total past the budget, and from that document on the
source is closed (a hard frontier, not first-fit — skipping an
oversized document and admitting a later small one would make the
admitted set depend on micro-batch boundaries, which breaks the
stream==batch law below).

State (operators/statestore.py versioned-dir + atomic-META protocol):

- ``totals``  — (source, admitted_docs, admitted_tokens, exhausted);
- ``keepers`` — every admitted (doc_id, source, n_tok).

Laws (tests/test_streaming.py):

- budget cap: admitted_tokens <= budget for every source, always;
- stream==batch: folding doc_id-ordered splits equals the one-shot
  prefix rule over the whole table (the frontier is the first
  overflow in arrival order — identical under any batching of a
  fixed arrival order);
- monotone exhaustion: once a source is exhausted it admits nothing,
  even if later batches carry small documents;
- replay idempotence: commit_state skips already-applied batch ids,
  so at-least-once foreachBatch delivery never double-counts.

Per batch the ADMISSION plan is one window over the batch's own rows
partitioned by source (micro-batch-bounded frame — never the corpus)
plus one broadcast join against the parameter-sized totals table. The
STATE COMMIT is batch-sized too: keepers is an append table
(``commit_state(appends=...)`` delta segments — a doc is admitted
exactly once, so the history never rewrites), with ``totals`` staying
the O(sources) snapshot fast path.

Reference parity: the reference ingests unboundedly
(data_collection/kafka_producer.py:12-21 polls forever, no budget
concept); this is the admission control a paid-storage corpus needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stock_trend_predictor_spark.operators.statestore import (
    commit_state,
    read_state_table,
)
from stock_trend_predictor_spark.streaming.ingest import start_foreach_batch

DEFAULT_BUDGET = 20_000  # tokens per source


def tokenize_counts(batch: DataFrame) -> DataFrame:
    """(doc_id, source, n_tok) for one micro-batch."""
    return batch.select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tok"),
    )


def admit_batch(
    batch: DataFrame,
    prior_totals: DataFrame | None,
    budget: int = DEFAULT_BUDGET,
) -> tuple[DataFrame, DataFrame]:
    """(admitted rows, new totals) for one micro-batch under the
    hard-frontier rule. ``prior_totals`` is the committed state (or
    None before the first batch)."""
    toks = tokenize_counts(batch)
    if prior_totals is None:
        spark = batch.sparkSession
        prior_totals = spark.createDataFrame(
            [],
            "source string, admitted_docs bigint, "
            "admitted_tokens bigint, exhausted boolean",
        )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = toks.withColumn("cum", F.sum("n_tok").over(w))
    joined = cum.join(
        F.broadcast(
            prior_totals.select(
                "source",
                F.col("admitted_tokens").alias("spent"),
                "exhausted",
            )
        ),
        "source",
        "left",
    ).select(
        "doc_id",
        "source",
        "n_tok",
        "cum",
        F.coalesce("spent", F.lit(0)).alias("spent"),
        F.coalesce("exhausted", F.lit(False)).alias("was_exhausted"),
    )
    fits = (~F.col("was_exhausted")) & (
        F.col("spent") + F.col("cum") <= F.lit(budget)
    )
    # hard frontier: a row is admitted only if itself AND every
    # earlier row of its source in this batch fits (cum is monotone,
    # so "this row fits" already implies that — the window makes the
    # frontier batching-invariant)
    admitted = joined.where(fits).select("doc_id", "source", "n_tok")
    batch_stats = joined.groupBy("source").agg(
        F.count_if(fits).cast("bigint").alias("new_docs"),
        F.coalesce(
            F.sum(F.when(fits, F.col("n_tok"))), F.lit(0)
        )
        .cast("bigint")
        .alias("new_tokens"),
        # the source hits its frontier the moment ANY arrival is
        # rejected — including oversized first documents
        (F.count_if(~fits) > 0).alias("overflowed"),
        F.first("was_exhausted").alias("was_exhausted"),
    )
    seen = batch_stats.select(
        "source",
        F.col("new_docs").alias("admitted_docs"),
        F.col("new_tokens").alias("admitted_tokens"),
        (F.col("was_exhausted") | F.col("overflowed")).alias(
            "exhausted"
        ),
    )
    new_totals = (
        prior_totals.unionByName(seen)
        .groupBy("source")
        .agg(
            F.sum("admitted_docs").cast("bigint").alias("admitted_docs"),
            F.sum("admitted_tokens")
            .cast("bigint")
            .alias("admitted_tokens"),
            F.max("exhausted").alias("exhausted"),
        )
    )
    return admitted, new_totals


def update_budget_state(
    spark: SparkSession,
    batch: DataFrame,
    state_dir: str,
    budget: int = DEFAULT_BUDGET,
    batch_id: int | None = None,
) -> None:
    """Fold one batch's admissions into the committed state
    (idempotent: replayed batch ids are skipped before any write)."""
    prior = read_state_table(spark, state_dir, "totals")
    admitted, totals = admit_batch(batch, prior, budget=budget)
    # keepers is append-only (a doc is admitted exactly once), so the
    # commit writes only this batch's admissions as a delta segment;
    # totals stays the O(sources) snapshot fast path
    commit_state(
        state_dir,
        {"totals": totals},
        batch_id=batch_id,
        appends={"keepers": admitted},
    )


def budget_admission_sink(
    doc_stream: DataFrame,
    state_dir: str,
    checkpoint: str,
    budget: int = DEFAULT_BUDGET,
):
    """Continuous token-budget admission over a document stream."""

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        update_budget_state(
            batch.sparkSession,
            batch,
            state_dir,
            budget=budget,
            batch_id=batch_id,
        )

    return start_foreach_batch(doc_stream, write_batch, checkpoint)


def read_admitted_docs(
    spark: SparkSession, state_dir: str
) -> DataFrame | None:
    """Every admitted (doc_id, source, n_tok), or None pre-commit."""
    return read_state_table(spark, state_dir, "keepers")


def read_budget_totals(
    spark: SparkSession, state_dir: str
) -> DataFrame | None:
    """Per-source running admission totals, or None pre-commit."""
    return read_state_table(spark, state_dir, "totals")
