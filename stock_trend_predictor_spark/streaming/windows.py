"""Event-time windowed aggregation + stateful per-key logic (ST4/ST5).

The reference has no event-time windows at all (SURVEY §2.5, §2.9);
these are the streaming twins of the batch resample/sessionize
operators in operators/windows.py, with watermarks bounding state.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)


def windowed_ohlc(
    ticks: DataFrame,
    bucket: str = "5 minutes",
    watermark_delay: str | None = "10 minutes",
) -> DataFrame:
    """Tumbling event-time OHLC bars per symbol (append-able once the
    watermark passes the window end). Pass ``watermark_delay=None``
    when the input already carries a watermark (e.g. downstream of
    dedup_ticks) — Spark disallows redefining it in one query."""
    if watermark_delay is not None:
        ticks = ticks.withWatermark("ts", watermark_delay)
    return (
        ticks
        .groupBy("symbol", F.window("ts", bucket).alias("w"))
        .agg(
            F.min_by("close", "ts").alias("open"),
            F.max("close").alias("high"),
            F.min("close").alias("low"),
            F.max_by("close", "ts").alias("close"),
            F.count(F.lit(1)).alias("n_ticks"),
        )
        .select(
            "symbol",
            F.col("w.start").alias("bar_start"),
            F.col("w.end").alias("bar_end"),
            "open", "high", "low", "close", "n_ticks",
        )
    )


def sliding_volume(
    ticks: DataFrame,
    width: str = "10 minutes",
    slide: str = "5 minutes",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Sliding-window volume/activity per symbol (ST5)."""
    return (
        ticks.withWatermark("ts", watermark_delay)
        .groupBy("symbol", F.window("ts", width, slide).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_ticks"), F.sum("volume").alias("volume"))
        .select("symbol", F.col("w.start").alias("w_start"), "n_ticks", "volume")
    )


def session_activity(
    ticks: DataFrame,
    gap: str = "30 minutes",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Gap-based session windows per symbol — streaming twin of
    operators.windows.sessionize."""
    return (
        ticks.withWatermark("ts", watermark_delay)
        .groupBy("symbol", F.session_window("ts", gap).alias("s"))
        .agg(F.count(F.lit(1)).alias("n_ticks"))
        .select(
            "symbol",
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "n_ticks",
        )
    )


#: Output schema of the stateful high-watermark operator.
HWM_SCHEMA = StructType(
    [
        StructField("symbol", StringType()),
        StructField("ts", TimestampType()),
        StructField("close", DoubleType()),
        StructField("n_new", LongType()),
    ]
)

_HWM_STATE_SCHEMA = StructType([StructField("max_ts_micros", LongType())])


def incremental_new_ticks(ticks: DataFrame) -> DataFrame:
    """Faithful streaming form of the reference's per-symbol
    high-watermark dedup (fetch_stock.py:43,57,64): emit only rows
    strictly newer than the key's running max timestamp, with the max
    kept in checkpointed per-key state (applyInPandasWithState) rather
    than a driver dict — survives restart, scales per key.
    """

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (symbol,) = key
        wm = state.get[0] if state.exists else -1
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values("ts")
        micros = rows["ts"].astype("int64") // 1000
        fresh = rows[micros > wm]
        if len(fresh) > 0:
            state.update((int(micros.max()),))
            out = fresh[["ts", "close"]].copy()
            out.insert(0, "symbol", symbol)
            out["n_new"] = len(fresh)
            yield out

    return ticks.select("symbol", "ts", "close").groupBy("symbol").applyInPandasWithState(
        update,
        outputStructType=HWM_SCHEMA,
        stateStructType=_HWM_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
