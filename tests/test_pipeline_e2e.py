"""End-to-end streaming integration: raw Kafka-envelope JSON →
parse (+corrupt capture) → watermark dedup → tumbling OHLC bars →
per-symbol partitioned parquet — the full replacement for the
reference's fetch→Kafka→Spark→Mongo chain, in one checkpointed query.

Append-mode bars only materialize after the watermark passes their
window end AND a later batch evicts the state, so two driver files
with much-later events push the early windows out deterministically
(file order pinned by mtime).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import functions as F

from stock_trend_predictor_spark.streaming.ingest import (
    dedup_ticks,
    read_tick_file_stream,
)
from stock_trend_predictor_spark.streaming.windows import windowed_ohlc


def test_full_streaming_pipeline(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    ticks = [
        # AAPL bar 09:30-09:35: closes 10, 12 (plus a replayed dup)
        {"timestamp": "2024-01-01 09:30:00", "symbol": "AAPL", "close": 10.0},
        {"timestamp": "2024-01-01 09:31:00", "symbol": "AAPL", "close": 12.0},
        {"timestamp": "2024-01-01 09:30:00", "symbol": "AAPL", "close": 10.0},
        # close-only wire variant lands in the same pipeline
        {"timestamp": "2024-01-01 09:36:00", "symbol": "AAPL",
         "close_price": 11.0},
        {"timestamp": "2024-01-01 09:31:30", "symbol": "MSFT", "close": 20.0},
    ]
    (src / "b0.jsonl").write_text(
        "\n".join([json.dumps(t) for t in ticks] + ['{"broken: ']) + "\n"
    )
    # watermark pushers: advance event time, then evict finalized state
    (src / "b1.jsonl").write_text(json.dumps(
        {"timestamp": "2024-01-01 11:00:00", "symbol": "AAPL", "close": 1.0}
    ) + "\n")
    (src / "b2.jsonl").write_text(json.dumps(
        {"timestamp": "2024-01-01 11:01:00", "symbol": "AAPL", "close": 1.0}
    ) + "\n")
    now = time.time()
    for i, f in enumerate(["b0.jsonl", "b1.jsonl", "b2.jsonl"]):
        os.utime(src / f, (now - 120 + i * 60, now - 120 + i * 60))

    out = str(tmp_path / "bars")
    parsed = read_tick_file_stream(spark, str(src), max_files_per_trigger=1)
    good = parsed.where(F.col("_corrupt_record").isNull())
    # dedup_ticks already set the watermark; the window inherits it
    bars = windowed_ohlc(
        dedup_ticks(good), bucket="5 minutes", watermark_delay=None
    )
    q = (
        bars.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .partitionBy("symbol")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    rows = {
        (r["symbol"], str(r["bar_start"])): r
        for r in spark.read.parquet(out).collect()
    }
    aapl = rows[("AAPL", "2024-01-01 09:30:00")]
    # dedup removed the replayed 09:30 tick: 2 ticks, open 10, close 12
    assert (aapl["n_ticks"], aapl["open"], aapl["high"], aapl["close"]) == (
        2, 10.0, 12.0, 12.0)
    # close-only wire variant parsed into its own finalized bar
    assert rows[("AAPL", "2024-01-01 09:35:00")]["close"] == 11.0
    assert rows[("MSFT", "2024-01-01 09:30:00")]["n_ticks"] == 1
    # partitioned layout on disk (S9)
    assert (tmp_path / "bars" / "symbol=AAPL").exists()


def test_tick_api_to_upsert_to_compact_e2e(spark, tmp_path):
    """Round-2 integration: the custom polling connector feeds the
    keyed MERGE sink (last quote per symbol wins), then compaction
    tidies the table — connector -> upsert -> OPTIMIZE in one flow."""
    import time

    from pyspark.sql import functions as F

    from stock_trend_predictor_spark.sources.parquet_io import (
        compact_parquet,
    )
    from stock_trend_predictor_spark.sources.tick_api import (
        _quote,
        register_tick_api,
    )
    from stock_trend_predictor_spark.streaming.upsert import (
        read_upsert_table,
        upsert_sink,
    )

    register_tick_api(spark)
    target = str(tmp_path / "latest_quotes")
    stream = (
        spark.readStream.format("tick_api")
        .option("symbols", "AAPL,MSFT")
        .option("rows_per_batch", 5)
        .load()
    )
    q = upsert_sink(
        stream,
        target,
        checkpoint=str(tmp_path / "ckpt"),
        key="symbol",
        order_col="seq",
        processing_time="1 second",
    )
    try:
        deadline = time.time() + 90
        while time.time() < deadline:
            try:
                if read_upsert_table(spark, target).count() == 2 and any(
                    p["batchId"] >= 2 for p in q.recentProgress
                ):
                    break
            except Exception:
                pass  # target not written yet
            time.sleep(0.5)
    finally:
        q.stop()

    state = {
        r.symbol: (r.seq, r.price, r.volume)
        for r in read_upsert_table(spark, target).collect()
    }
    # exactly one row per symbol — the LATEST polled quote, matching
    # the deterministic kernel
    assert set(state) == {"AAPL", "MSFT"}
    for sym, (seq, price, volume) in state.items():
        assert seq >= 5  # at least two polls merged
        exp = _quote(sym, seq, 1_704_067_200, 60)
        assert (exp[3], exp[4]) == (price, volume)

    before, after = compact_parquet(spark, target, target_files=1)
    assert after == 1
    assert {
        r.symbol: (r.seq, r.price, r.volume)
        for r in spark.read.parquet(target).drop("_bucket").collect()
    } == state
