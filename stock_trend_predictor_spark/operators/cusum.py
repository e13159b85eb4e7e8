"""Streaming CUSUM drift monitor — the continuous twin of the batch
cusum_drift_summary (plans/signal_queries.py).

The batch query standardizes against the FULL series' mean/std, which
no stream can know; the production form of CUSUM monitors against
FIXED reference parameters (mu0, sigma0) estimated offline — so this
operator takes a per-key params table and maintains, per key:

    n_rows, cum (the running decimal sum), n_alarm, peak_z,
    peak_event_id, peak_ts

as a constant-size state row through the replay-idempotent state
store (operators/statestore.py). The carried ``cum`` is stored AS
DECIMAL, so chunk-prefix + carry equals the full-series decimal
prefix exactly — the streamed alarm/peak outputs are BIT-identical to
a one-shot batch computation with the same params, at any chunking
(law-tested in tests/test_sketch.py style in tests/test_streaming.py).

Scale: per micro-batch, one per-key sort of the batch's rows (the
prefix needs order), a broadcast of the params + state rows (both one
row per key), and a keys-sized state rewrite. Nothing grows with
stream length.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from stock_trend_predictor_spark.functions.exact import DECIMAL_T
from stock_trend_predictor_spark.streaming.ingest import start_foreach_batch

#: alarm threshold in standardized units (matches the batch query).
CUSUM_THRESHOLD = 3.0

STATE_TABLE = "cusum"


def read_cusum_state(spark: SparkSession, state_dir: str) -> DataFrame | None:
    from stock_trend_predictor_spark.operators.statestore import (
        read_state_table,
    )

    return read_state_table(spark, state_dir, STATE_TABLE)


def update_cusum_state(
    spark: SparkSession,
    batch: DataFrame,
    params: DataFrame,
    state_dir: str,
    key: str = "event_type",
    ts: str = "ts",
    row_id: str = "event_id",
    value: str = "value",
    batch_id: int | None = None,
) -> None:
    """Fold one micro-batch into the per-key CUSUM state.

    ``params`` is (key, mu, sigma) — the fixed reference. The batch's
    rows are prefix-summed in decimal on top of the carried decimal
    ``cum``; each row's |Z_t| = |S_t - t*mu| / (sigma*sqrt(t)) uses
    the GLOBAL row index t = carried n + in-batch rank, so the scores
    are the ones the full series would produce.
    """
    from stock_trend_predictor_spark.operators.statestore import commit_state

    prev = read_cusum_state(spark, state_dir)
    if prev is None:
        prev = spark.createDataFrame(
            [],
            f"{key} string, n_rows long, cum decimal(27,6), "
            "n_alarm long, peak_z double, peak_event_id long, "
            "peak_ts timestamp",
        )

    w = Window.partitionBy(key).orderBy(ts, row_id)
    b = (
        batch.select(key, ts, row_id, value)
        .withColumns(
            {
                "_pref": F.sum(F.col(value).cast(DECIMAL_T)).over(w),
                "_rk": F.row_number().over(w),
            }
        )
        .join(F.broadcast(params), key)
        .join(
            F.broadcast(
                prev.select(
                    key,
                    F.col("n_rows").alias("_carry_n"),
                    F.col("cum").alias("_carry_cum"),
                )
            ),
            key,
            "left",
        )
        .fillna({"_carry_n": 0})
    )
    total = F.coalesce(
        F.col("_carry_cum"), F.lit(0).cast(DECIMAL_T)
    ) + F.col("_pref")
    t_idx = (F.col("_carry_n") + F.col("_rk")).cast("double")
    z = F.abs(
        (total.cast("double") - t_idx * F.col("mu"))
        / (F.col("sigma") * F.sqrt(t_idx))
    )
    scored = b.withColumns({"_total": total, "_t": t_idx, "_z": z})
    batch_stats = scored.groupBy(key).agg(
        F.count(F.lit(1)).alias("b_rows"),
        F.max_by("_total", F.struct(ts, row_id)).alias("b_cum"),
        F.count(F.when(F.col("_z") > CUSUM_THRESHOLD, 1)).alias("b_alarm"),
        F.max("_z").alias("b_peak_z"),
        # deterministic peak row: (z DESC, row_id ASC), like the batch
        F.min_by(
            F.struct(F.col(row_id).alias("eid"), F.col(ts).alias("pts")),
            F.struct((-F.col("_z")).alias("nz"), F.col(row_id)),
        ).alias("b_peak"),
    )
    merged = (
        prev.join(batch_stats, key, "full")
        .select(
            F.col(key),
            (F.coalesce("n_rows", F.lit(0)) + F.coalesce("b_rows", F.lit(0)))
            .alias("n_rows"),
            # pin the carried decimal's type: addition widens precision
            # per batch otherwise ((27,6) -> (28,6) -> ...); the cast is
            # exact for any in-range total
            F.coalesce(F.col("b_cum"), F.col("cum"))
            .cast(DECIMAL_T)
            .alias("cum"),
            (
                F.coalesce("n_alarm", F.lit(0))
                + F.coalesce("b_alarm", F.lit(0))
            ).alias("n_alarm"),
            F.greatest(
                F.coalesce("peak_z", F.lit(float("-inf"))),
                F.coalesce("b_peak_z", F.lit(float("-inf"))),
            ).alias("peak_z"),
            F.when(
                F.coalesce("b_peak_z", F.lit(float("-inf")))
                > F.coalesce("peak_z", F.lit(float("-inf"))),
                F.col("b_peak.eid"),
            )
            .when(
                (F.col("b_peak_z") == F.col("peak_z"))
                & (F.col("b_peak.eid") < F.col("peak_event_id")),
                F.col("b_peak.eid"),
            )
            .otherwise(F.col("peak_event_id"))
            .alias("peak_event_id"),
            F.when(
                F.coalesce("b_peak_z", F.lit(float("-inf")))
                > F.coalesce("peak_z", F.lit(float("-inf"))),
                F.col("b_peak.pts"),
            )
            .when(
                (F.col("b_peak_z") == F.col("peak_z"))
                & (F.col("b_peak.eid") < F.col("peak_event_id")),
                F.col("b_peak.pts"),
            )
            .otherwise(F.col("peak_ts"))
            .alias("peak_ts"),
        )
    )
    commit_state(state_dir, {STATE_TABLE: merged}, batch_id=batch_id)


def cusum_sink(
    stream: DataFrame,
    params: DataFrame,
    state_dir: str,
    checkpoint: str,
    key: str = "event_type",
):
    """Continuously-maintained CUSUM drift state: each micro-batch
    folds through :func:`update_cusum_state` on the replay-idempotent
    state store."""

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        update_cusum_state(
            batch.sparkSession, batch, params, state_dir,
            key=key, batch_id=batch_id,
        )

    return start_foreach_batch(stream, write_batch, checkpoint)
