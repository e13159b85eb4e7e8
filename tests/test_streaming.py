"""Streaming semantics tests (SURVEY §5.3): file source +
availableNow/maxFilesPerTrigger + memory sink — deterministic, no
Kafka broker needed; the production pipeline differs only in the
source format string.
"""

from __future__ import annotations

import json
import os
import time
from collections import Counter

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import Window
from pyspark.sql import functions as F

from stock_trend_predictor_spark.streaming.ingest import (
    dedup_ticks,
    parse_tick_envelope,
    read_tick_file_stream,
)
from stock_trend_predictor_spark.streaming.routing import route_by_source
from stock_trend_predictor_spark.streaming.windows import (
    incremental_new_ticks,
    session_activity,
    sliding_volume,
    windowed_ohlc,
)

TICKS = [
    # full OHLCV bar (kafka_producer.py wire shape)
    {"timestamp": "2024-01-01 09:30:00", "symbol": "AAPL", "open": 10.0,
     "high": 12.0, "low": 9.5, "close": 11.0, "volume": 100.0, "source": "history"},
    # close-only tick (fetch_stock.py wire shape)
    {"timestamp": "2024-01-01 09:31:00", "symbol": "AAPL", "close_price": 11.5},
    # duplicate of the first (producer at-least-once redelivery)
    {"timestamp": "2024-01-01 09:30:00", "symbol": "AAPL", "open": 10.0,
     "high": 12.0, "low": 9.5, "close": 11.0, "volume": 100.0, "source": "history"},
    # second symbol, realtime
    {"timestamp": "2024-01-01 09:30:30", "symbol": "MSFT", "open": 20.0,
     "high": 21.0, "low": 19.0, "close": 20.5, "volume": 50.0, "source": "realtime"},
]
MALFORMED = '{"timestamp": "2024-01-01 09:32:00", "symbol": "AAPL", "close": '


def _write_jsonl(path, records, extra_raw=()):
    lines = [json.dumps(r) for r in records] + list(extra_raw)
    path.write_text("\n".join(lines) + "\n")


def test_progress_listener_records_batches(spark, tmp_path):
    """ST8/ST9 observability: the ProgressRecorder must see every
    microbatch with its input-row count and state metrics — the
    numbers an operator alerts on."""
    from stock_trend_predictor_spark.streaming.monitor import attach_recorder

    src = tmp_path / "in"
    src.mkdir()
    _write_jsonl(src / "batch0.jsonl", TICKS)

    rec = attach_recorder(spark)
    try:
        stream = dedup_ticks(read_tick_file_stream(spark, str(src)))
        q = (
            stream.writeStream.format("memory")
            .queryName("mon_test")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)
        # listener events are delivered asynchronously
        deadline = time.time() + 30
        while time.time() < deadline and rec.total_input_rows("mon_test") < len(TICKS):
            time.sleep(0.5)
    finally:
        spark.streams.removeListener(rec)
        spark.catalog.dropTempView("mon_test")

    assert rec.started, "no start event recorded"
    got = [e for e in rec.events if e.query_name == "mon_test"]
    assert got, "no progress events recorded"
    assert sum(e.num_input_rows for e in got) == len(TICKS)
    # dedup is stateful: state rows must be visible to the monitor
    assert any(e.state_rows_total > 0 for e in got)
    assert all("triggerExecution" in e.duration_ms for e in got)


def test_kafka_source_wiring(spark):
    """S4: assert the constructed Kafka reader options (no broker in
    the container — the option set IS the contract; the file-stream
    twin exercises the downstream pipeline)."""
    from stock_trend_predictor_spark.streaming.ingest import (
        kafka_source_options,
    )

    opts = kafka_source_options(
        topic="stock-prices",
        bootstrap_servers="broker-1:9092,broker-2:9092",
        starting_offsets="earliest",
    )
    assert opts == {
        "kafka.bootstrap.servers": "broker-1:9092,broker-2:9092",
        "subscribe": "stock-prices",
        "startingOffsets": "earliest",
    }


def test_kafka_option_names_in_spark_vocabulary(tmp_path):
    """Golden option-name contract: every key the builders emit must be
    either a ``kafka.``-prefixed client passthrough or one of the
    option names the Spark 4 structured-streaming-kafka integration
    documents. Wiring tests compare dicts the builders themselves
    produced; this one pins the NAMES against the published vocabulary
    so a typo (e.g. startingOffset) cannot pass both sides."""
    from stock_trend_predictor_spark.streaming.ingest import (
        kafka_source_options,
    )
    from stock_trend_predictor_spark.streaming.kafka import (
        kafka_sink_options,
    )

    # Source/sink option names from the Spark Structured Streaming +
    # Kafka integration guide (structured-streaming-kafka-integration).
    SOURCE_OPTS = {
        "assign", "subscribe", "subscribePattern", "startingOffsets",
        "startingOffsetsByTimestamp", "startingTimestamp",
        "endingOffsets", "endingOffsetsByTimestamp", "endingTimestamp",
        "failOnDataLoss", "kafkaConsumer.pollTimeoutMs", "fetchOffset.numRetries",
        "fetchOffset.retryIntervalMs", "maxOffsetsPerTrigger",
        "minOffsetsPerTrigger", "maxTriggerDelay", "minPartitions",
        "groupIdPrefix", "includeHeaders",
    }
    SINK_OPTS = {"topic", "includeHeaders", "checkpointLocation"}

    src = kafka_source_options("t", "b:9092", "earliest")
    for key in src:
        assert key.startswith("kafka.") or key in SOURCE_OPTS, key
    assert "subscribe" in src and "kafka.bootstrap.servers" in src

    snk = kafka_sink_options("t", "b:9092", str(tmp_path / "ckpt"))
    for key in snk:
        assert key.startswith("kafka.") or key in SINK_OPTS, key
    assert "topic" in snk and "checkpointLocation" in snk


def test_kafka_sink_wiring(spark, tmp_path):
    """S3: the producer sink's option set, wire serialization
    (to_json(struct(...)) in the reference's exact field order), and
    that the full writer — format, options, trigger — constructs
    without a broker (only start() needs one)."""
    from stock_trend_predictor_spark.streaming.ingest import (
        synthetic_tick_stream,
    )
    from stock_trend_predictor_spark.streaming.kafka import (
        WIRE_COLUMNS,
        kafka_sink_options,
        kafka_sink_writer,
        to_kafka_frame,
    )

    ckpt = str(tmp_path / "ckpt")
    opts = kafka_sink_options("stock-prices", "broker-1:9092", ckpt)
    assert opts == {
        "kafka.bootstrap.servers": "broker-1:9092",
        "topic": "stock-prices",
        "checkpointLocation": ckpt,
    }

    # wire bytes: batch-evaluate the same expression the sink uses
    batch = spark.createDataFrame(
        [("AAPL", "2024-01-01 09:30:00", 10.0, 12.0, 9.5, 11.0, 100.0)],
        "symbol string, ts string, open double, high double, low double,"
        " close double, volume double",
    ).withColumn("ts", F.to_timestamp("ts"))
    kf = to_kafka_frame(batch)
    assert [f.name for f in kf.schema.fields] == ["key", "value"]
    assert all(f.dataType.simpleString() == "binary" for f in kf.schema.fields)
    row = kf.collect()[0]
    assert bytes(row["key"]) == b"AAPL"
    wire = json.loads(bytes(row["value"]).decode())
    assert tuple(wire) == WIRE_COLUMNS  # field ORDER matches reference
    assert wire["timestamp"] == "2024-01-01 09:30:00"
    assert wire["close"] == 11.0

    # full writer constructs (format+options+trigger) with no broker
    writer = kafka_sink_writer(
        synthetic_tick_stream(spark), "stock-prices", "broker-1:9092", ckpt
    )
    assert writer is not None


def test_envelope_parse_superset_and_corrupt(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    _write_jsonl(src / "batch0.jsonl", TICKS, extra_raw=[MALFORMED])

    raw = spark.read.text(str(src)).select(F.col("value").cast("binary").alias("value"))
    parsed = parse_tick_envelope(raw)
    rows = {(r["symbol"], str(r["ts"])): r for r in parsed.collect()}

    # close-only variant folded into `close`; default source applied
    close_only = rows[("AAPL", "2024-01-01 09:31:00")]
    assert close_only["close"] == 11.5
    assert close_only["source"] == "realtime"
    # corrupt row captured, not silently dropped
    corrupt = [r for r in parsed.collect() if r["_corrupt_record"] is not None]
    assert len(corrupt) == 1 and corrupt[0]["symbol"] is None
    assert corrupt[0]["_corrupt_record"] == MALFORMED


def test_update_mode_reemits_changed_windows(spark, tmp_path):
    """ST3 update mode: a window re-emits each micro-batch that
    changes it (vs append's emit-once-when-final) — the mode for
    live dashboards reading partial aggregates."""
    src = tmp_path / "in"
    src.mkdir()
    _write_jsonl(src / "b0.jsonl", [
        {"timestamp": "2024-01-01 09:30:00", "symbol": "AAPL", "close": 10.0},
    ])
    _write_jsonl(src / "b1.jsonl", [
        {"timestamp": "2024-01-01 09:31:00", "symbol": "AAPL", "close": 12.0},
    ])
    now = time.time()
    os.utime(src / "b0.jsonl", (now - 60, now - 60))
    os.utime(src / "b1.jsonl", (now, now))

    bars = windowed_ohlc(
        read_tick_file_stream(spark, str(src), max_files_per_trigger=1),
        bucket="5 minutes",
    )
    q = (
        bars.writeStream.format("memory").queryName("upd_test")
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    emissions = sorted(
        (r["n_ticks"], r["close"])
        for r in spark.sql("SELECT * FROM upd_test").collect()
    )
    # same window emitted twice: once per batch that changed it
    assert emissions == [(1, 10.0), (2, 12.0)]
    spark.catalog.dropTempView("upd_test")


def test_rocksdb_state_store_dedup(spark, tmp_path):
    """At 100 TB streaming state must live off-heap: the RocksDB
    provider keeps dedup/aggregation state on local disk with
    changelog checkpointing, instead of the default in-heap HDFS
    provider. Same query, same results — only the state backend
    swaps."""
    orig = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        src = tmp_path / "in"
        src.mkdir()
        _write_jsonl(src / "batch0.jsonl", TICKS)
        stream = dedup_ticks(read_tick_file_stream(spark, str(src)))
        q = (
            stream.writeStream.format("memory")
            .queryName("rocksdb_dedup")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        out = spark.sql("SELECT symbol, ts FROM rocksdb_dedup").collect()
        assert len(out) == 3  # duplicate removed, same as default store
        assert len({(r["symbol"], r["ts"]) for r in out}) == 3
        spark.catalog.dropTempView("rocksdb_dedup")
    finally:
        if orig is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", orig
            )


def test_synthetic_tick_mapping_and_shutdown(spark, tmp_path):
    """S1 dev harness: the rate→tick mapping applied to a batch frame
    (deterministic in value); ST8: stop_all_streams drains actives."""
    from pyspark.sql import functions as F

    from stock_trend_predictor_spark.streaming.ingest import (
        DEV_SYMBOLS,
        stop_all_streams,
        synthetic_tick_columns,
    )

    rate_like = spark.createDataFrame(
        [(f"2024-01-01 09:30:{i:02d}", i) for i in range(9)],
        "timestamp string, value long",
    ).withColumn("timestamp", F.to_timestamp("timestamp"))
    ticks = synthetic_tick_columns(rate_like).collect()
    assert len(ticks) == 9
    assert {r["symbol"] for r in ticks} == set(DEV_SYMBOLS)
    assert all(r["high"] >= r["close"] >= r["low"] for r in ticks)

    # start a real stream, then stop it via the helper
    src = tmp_path / "in"
    src.mkdir()
    _write_jsonl(src / "b0.jsonl", TICKS[:1])
    q = (
        read_tick_file_stream(spark, str(src))
        .writeStream.format("memory").queryName("shutdown_test")
        .outputMode("append").start()
    )
    q.processAllAvailable()
    assert stop_all_streams(spark) >= 1
    assert not spark.streams.active
    spark.catalog.dropTempView("shutdown_test")


def test_cdc_envelope_routing_semantics(spark):
    """S6 change-feed parse: fullDocument-less events skipped (P6),
    .get()-style defaults applied (P7), time -> ts rename (P8) —
    byte-for-byte the router's semantics from mongo_stream_etl.py."""
    from stock_trend_predictor_spark.streaming.ingest import parse_cdc_envelope

    events = [
        {"operationType": "insert", "fullDocument": {
            "symbol": "AAPL", "open": 1.0, "close": 2.0,
            "time": "2024-01-01 09:30:00", "source": "history"}},
        {"operationType": "insert", "fullDocument": {
            "close": 5.0, "time": "2024-01-01 09:31:00"}},  # no symbol/source
        {"operationType": "invalidate"},  # no fullDocument -> skipped
    ]
    raw = spark.createDataFrame(
        [(json.dumps(e).encode(),) for e in events], "value binary"
    )
    rows = parse_cdc_envelope(raw).collect()
    assert len(rows) == 2
    by_ts = {str(r["ts"]): r for r in rows}
    assert by_ts["2024-01-01 09:30:00"]["source"] == "history"
    defaulted = by_ts["2024-01-01 09:31:00"]
    assert defaulted["symbol"] == "UNKNOWN"
    assert defaulted["source"] == "unknown"


def test_streaming_dedup_idempotent(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    _write_jsonl(src / "batch0.jsonl", TICKS)

    stream = dedup_ticks(read_tick_file_stream(spark, str(src)))
    q = (
        stream.writeStream.format("memory")
        .queryName("dedup_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("SELECT symbol, ts FROM dedup_test").collect()
    # 4 input rows, 1 duplicate (symbol, ts) removed
    assert len(out) == 3
    assert len({(r["symbol"], r["ts"]) for r in out}) == 3
    spark.catalog.dropTempView("dedup_test")


def test_route_by_source_split_is_partition(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    # valid JSON with no timestamp: no dedup key, so not a tick
    keyless = '{"symbol": "AAPL", "close": 1.0}'
    _write_jsonl(src / "batch0.jsonl", TICKS, extra_raw=[MALFORMED, keyless])
    hist, rt, dlq = (str(tmp_path / d) for d in ("hist", "rt", "dlq"))

    stream = read_tick_file_stream(spark, str(src))
    q = route_by_source(
        stream, hist, rt, checkpoint=str(tmp_path / "ckpt"), corrupt_path=dlq
    )
    q.awaitTermination(120)

    hist_rows = spark.read.parquet(hist).collect()
    rt_rows = spark.read.parquet(rt).collect()
    dlq_rows = spark.read.parquet(dlq).collect()
    # disjoint split: 2 history copies (dup not deduped here), 2 realtime,
    # 2 DLQ (the malformed and the keyless line)
    assert len(hist_rows) == 2
    assert len(rt_rows) == 2
    assert sorted(r["_raw"] for r in dlq_rows) == sorted([MALFORMED, keyless])
    assert all(r["source"] == "history" for r in hist_rows)
    assert all(r["source"] != "history" for r in rt_rows)


def test_type_error_line_does_not_displace_its_tick(spark, tmp_path):
    """A line that parses as JSON but has a field of the wrong type is
    not a tick: it goes to the DLQ, and its symbol and timestamp do not
    form a dedup key, so the valid tick with the same key that follows
    it in the file still reaches the realtime sink."""
    src = tmp_path / "in"
    src.mkdir()
    bad = '{"timestamp": "2024-01-01 09:30:00", "symbol": "AAPL", "close": "n/a"}'
    tick = {"timestamp": "2024-01-01 09:30:00", "symbol": "AAPL",
            "close": 11.0, "source": "realtime"}
    _write_jsonl(src / "b0.jsonl", [], extra_raw=[bad, json.dumps(tick)])
    hist, rt, dlq = (str(tmp_path / d) for d in ("hist", "rt", "dlq"))

    q = route_by_source(
        dedup_ticks(read_tick_file_stream(spark, str(src))),
        hist, rt, checkpoint=str(tmp_path / "ckpt"), corrupt_path=dlq,
    )
    q.awaitTermination(120)

    rt_rows = spark.read.parquet(rt).collect()
    assert [(r["symbol"], str(r["ts"]), r["close"]) for r in rt_rows] == [
        ("AAPL", "2024-01-01 09:30:00", 11.0)
    ]
    assert [r["_raw"] for r in spark.read.parquet(dlq).collect()] == [bad]


def _parquet_parts(path):
    return [
        n for n in os.listdir(path) if n.startswith("part-") and n.endswith(".parquet")
    ]


def test_route_by_source_one_file_per_route_per_batch(spark, tmp_path):
    """Each sink gains one file per micro-batch in which its route had
    rows, however many shuffle partitions the dedup spread the batch
    over; an empty route adds none. The router runs no watermark-only
    batch: the next data batch evicts the keys behind the watermark, and
    the session's setting is left as the caller had it."""
    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    src = tmp_path / "in"
    src.mkdir()
    symbols = [f"S{i:02d}" for i in range(16)]
    # batch 0: a history and a realtime tick for each of 16 symbols,
    # one bad line
    _write_jsonl(src / "b0.jsonl", [
        {"timestamp": f"2024-01-01 09:3{m}:00", "symbol": s,
         "open": 1.0, "close": 1.0, "source": source}
        for s in symbols for m, source in enumerate(("history", "realtime"))
    ], extra_raw=[MALFORMED])
    # batch 1: realtime only, an hour later; it moves the watermark past
    # every batch-0 key, which a no-data batch would then evict
    _write_jsonl(src / "b1.jsonl", [
        {"timestamp": "2024-01-01 10:45:00", "symbol": s, "close": 2.0,
         "source": "realtime"}
        for s in symbols
    ])
    now = time.time()
    os.utime(src / "b0.jsonl", (now - 60, now - 60))
    os.utime(src / "b1.jsonl", (now, now))
    hist, rt, dlq = (str(tmp_path / d) for d in ("hist", "rt", "dlq"))

    def route():
        before = spark.conf.get(key, None)
        q = route_by_source(
            dedup_ticks(read_tick_file_stream(spark, str(src), max_files_per_trigger=1)),
            hist, rt, checkpoint=str(tmp_path / "ckpt"), corrupt_path=dlq,
        )
        assert spark.conf.get(key, None) == before
        q.awaitTermination(180)
        return q.recentProgress

    inputs = [p["numInputRows"] for p in route()]
    assert inputs == [33, 16]  # no no-data batch ran
    assert len(_parquet_parts(hist)) == 1
    assert len(_parquet_parts(rt)) == 2
    assert len(_parquet_parts(dlq)) == 1
    hist_rows = spark.read.parquet(hist).collect()
    rt_rows = spark.read.parquet(rt).collect()
    assert len(hist_rows) == 16 and all(r["source"] == "history" for r in hist_rows)
    assert len(rt_rows) == 32 and all(r["source"] != "history" for r in rt_rows)
    assert spark.read.parquet(dlq).collect()[0]["_raw"] == MALFORMED

    # batch 2, a second round on the same checkpoint, with the session
    # setting Spark's default explicitly: the query still runs one batch
    _write_jsonl(src / "b2.jsonl", [
        {"timestamp": "2024-01-01 10:50:00", "symbol": s, "close": 3.0,
         "source": "realtime"}
        for s in symbols[:4]
    ])
    spark.conf.set(key, "true")
    try:
        (progress,) = route()
        assert spark.conf.get(key) == "true"
    finally:
        spark.conf.unset(key)
    # it runs with batch 1's watermark (10:35) and evicts the 32 batch-0
    # ticks; the 16 batch-1 keys, the 4 new ones and the bad line's
    # null key remain
    (state,) = progress["stateOperators"]
    assert progress["numInputRows"] == 4
    assert state["numRowsRemoved"] == 32
    assert state["numRowsTotal"] == 16 + 4 + 1
    assert len(_parquet_parts(rt)) == 3
    assert spark.read.parquet(rt).count() == 36


def test_windowed_ohlc_bars(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    ticks = [
        {"timestamp": f"2024-01-01 09:{m:02d}:00", "symbol": "AAPL",
         "close": float(c), "source": "realtime"}
        for m, c in [(30, 10.0), (31, 12.0), (33, 9.0), (36, 15.0)]
    ]
    _write_jsonl(src / "batch0.jsonl", ticks)

    stream = windowed_ohlc(read_tick_file_stream(spark, str(src)), bucket="5 minutes")
    q = (
        stream.writeStream.format("memory")
        .queryName("ohlc_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    bars = {
        str(r["bar_start"]): r
        for r in spark.sql("SELECT * FROM ohlc_test").collect()
    }
    b1 = bars["2024-01-01 09:30:00"]
    assert (b1["open"], b1["high"], b1["low"], b1["close"], b1["n_ticks"]) == (
        10.0, 12.0, 9.0, 9.0, 3)
    b2 = bars["2024-01-01 09:35:00"]
    assert b2["n_ticks"] == 1 and b2["close"] == 15.0
    spark.catalog.dropTempView("ohlc_test")


def test_sliding_and_session_windows(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    ticks = [
        {"timestamp": f"2024-01-01 09:{m:02d}:00", "symbol": "AAPL",
         "close": 1.0, "volume": float(v), "source": "realtime"}
        for m, v in [(30, 10), (33, 20), (38, 30), (52, 40)]
    ]
    _write_jsonl(src / "batch0.jsonl", ticks)

    sliding = sliding_volume(
        read_tick_file_stream(spark, str(src)), width="10 minutes",
        slide="5 minutes",
    )
    q = (
        sliding.writeStream.format("memory").queryName("slide_test")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    rows = {
        str(r["w_start"]): (r["n_ticks"], r["volume"])
        for r in spark.sql("SELECT * FROM slide_test").collect()
    }
    # 09:25-09:35 covers 09:30,09:33; 09:30-09:40 covers all three early
    assert rows["2024-01-01 09:25:00"] == (2, 30.0)
    assert rows["2024-01-01 09:30:00"] == (3, 60.0)
    assert rows["2024-01-01 09:50:00"] == (1, 40.0)
    spark.catalog.dropTempView("slide_test")

    sessions = session_activity(
        read_tick_file_stream(spark, str(src)), gap="10 minutes"
    )
    q = (
        sessions.writeStream.format("memory").queryName("sess_test")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = sorted(
        (str(r["session_start"]), r["n_ticks"])
        for r in spark.sql("SELECT * FROM sess_test").collect()
    )
    # 14-minute silence after 09:38 splits the session
    assert got == [("2024-01-01 09:30:00", 3), ("2024-01-01 09:52:00", 1)]
    spark.catalog.dropTempView("sess_test")


def test_checkpoint_restart_is_exactly_once(spark, tmp_path, monkeypatch):
    """ST2: restarting a checkpointed query re-reads NOTHING already
    committed — the durable replacement for the reference's restart-
    replays-everything behavior (no checkpointLocation anywhere in
    features_engineering.py). A batch that crashed after its first
    write is replayed on restart and rewrites its own files, so the
    history, realtime and DLQ sinks equal a clean run's."""
    src = tmp_path / "in"
    src.mkdir()
    _write_jsonl(src / "batch0.jsonl", TICKS[:2])
    hist, rt, dlq = (str(tmp_path / d) for d in ("hist", "rt", "dlq"))
    ckpt = str(tmp_path / "ckpt")

    q = route_by_source(
        read_tick_file_stream(spark, str(src)), hist, rt, checkpoint=ckpt,
        corrupt_path=dlq,
    )
    q.awaitTermination(120)
    n_first = spark.read.parquet(rt).count()

    # "restart": same checkpoint, one new file arrived while down
    _write_jsonl(src / "batch1.jsonl", [
        {"timestamp": "2024-01-01 09:40:00", "symbol": "MSFT",
         "close_price": 21.0},
    ])
    q2 = route_by_source(
        read_tick_file_stream(spark, str(src)), hist, rt, checkpoint=ckpt,
        corrupt_path=dlq,
    )
    q2.awaitTermination(120)

    rt_rows = spark.read.parquet(rt).collect()
    # old rows not duplicated; exactly the one new realtime row added
    assert len(rt_rows) == n_first + 1
    assert len({(r["symbol"], r["ts"]) for r in rt_rows}) == len(rt_rows)

    # crash: batch 1 raises after its history file is written, and the
    # restart replays it on the same checkpoint. Every sink must equal a
    # clean run's.
    from stock_trend_predictor_spark.streaming import routing

    src = _two_batch_ticks(tmp_path / "in2", extra_raw=[MALFORMED])
    real = routing.write_batch_file

    def crash_after_history(df, path, batch_id):
        real(df, path, batch_id)
        if batch_id == 1 and path.endswith("hist"):
            raise RuntimeError("injected crash")

    def route(root):
        sinks = [str(root / d) for d in ("hist", "rt", "dlq")]
        q = route_by_source(
            dedup_ticks(read_tick_file_stream(spark, src, max_files_per_trigger=1)),
            *sinks[:2], checkpoint=str(root / "ckpt"), corrupt_path=sinks[2],
        )
        return q, sinks

    monkeypatch.setattr(routing, "write_batch_file", crash_after_history)
    q, crashed = route(tmp_path / "crash")
    with pytest.raises(StreamingQueryException, match="injected crash"):
        q.awaitTermination(120)
    monkeypatch.setattr(routing, "write_batch_file", real)
    q, crashed = route(tmp_path / "crash")
    q.awaitTermination(120)
    assert [p["batchId"] for p in q.recentProgress] == [1]  # the replay
    q, clean = route(tmp_path / "clean")
    q.awaitTermination(120)
    for got, want in zip(crashed, clean):
        _assert_same_sink(spark, got, want)


def _two_batch_ticks(src, extra_raw=()):
    """Two input files read as batches 0 and 1: history and realtime
    ticks of three symbols in each, and in batch 1 a replay of a batch-0
    tick plus ``extra_raw``. Returns the directory."""
    src.mkdir()
    for b, minute in enumerate((30, 31)):
        ticks = [
            {"timestamp": f"2024-01-01 09:{minute}:{sec:02d}", "symbol": s,
             "open": 10.0 + b, "close": 11.0 + b, "source": source}
            for s in ("AAPL", "MSFT", "IBM")
            for sec, source in ((0, "history"), (30, "realtime"))
        ]
        if b:
            ticks.append(dict(ticks[0], timestamp="2024-01-01 09:30:00"))
        _write_jsonl(src / f"b{b}.jsonl", ticks, extra_raw if b else ())
        os.utime(src / f"b{b}.jsonl", (time.time() - 60 + b, time.time() - 60 + b))
    return str(src)


def _assert_same_sink(spark, got, want):
    """``got`` holds the rows of ``want`` in as many files, and no tick
    twice."""
    rows = [tuple(r) for r in spark.read.parquet(got).collect()]
    assert Counter(rows) == Counter(tuple(r) for r in spark.read.parquet(want).collect())
    assert len(_parquet_parts(got)) == len(_parquet_parts(want))
    if "ts" in spark.read.parquet(got).columns:
        keys = spark.read.parquet(got).select("symbol", "ts").collect()
        assert len(set(keys)) == len(keys)


def test_stream_stream_join_within_tolerance(spark, tmp_path):
    """Two live feeds joined on symbol + bounded event-time proximity
    (watermarks on both sides bound the join state)."""
    from stock_trend_predictor_spark.streaming.joins import join_feeds_within

    lsrc, rsrc = tmp_path / "l", tmp_path / "r"
    lsrc.mkdir()
    rsrc.mkdir()
    _write_jsonl(lsrc / "b0.jsonl", [
        {"timestamp": "2024-01-01 09:30:00", "symbol": "AAPL", "close": 10.0},
        {"timestamp": "2024-01-01 09:40:00", "symbol": "AAPL", "close": 11.0},
    ])
    _write_jsonl(rsrc / "b0.jsonl", [
        {"timestamp": "2024-01-01 09:28:00", "symbol": "AAPL", "close": 9.8},
        {"timestamp": "2024-01-01 09:29:00", "symbol": "MSFT", "close": 20.0},
        {"timestamp": "2024-01-01 09:39:00", "symbol": "AAPL", "close": 10.9},
    ])

    joined = join_feeds_within(
        read_tick_file_stream(spark, str(lsrc)),
        read_tick_file_stream(spark, str(rsrc)),
        tolerance="5 minutes",
    )
    q = (
        joined.writeStream.format("memory").queryName("ss_join")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = sorted(
        (str(r["l_ts"]), r["r_close"])
        for r in spark.sql("SELECT * FROM ss_join").collect()
    )
    # 09:30 matches the 09:28 right row (within 5m, same symbol; the
    # MSFT row and the future 09:39 row do not); 09:40 matches 09:39
    assert got == [
        ("2024-01-01 09:30:00", 9.8),
        ("2024-01-01 09:40:00", 10.9),
    ]
    spark.catalog.dropTempView("ss_join")


def test_incremental_new_ticks_stateful(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    # file 0: two ticks; file 1: one replayed (older) + one new tick.
    # FileStreamSource orders files by mtime — set them explicitly so
    # batch0 is guaranteed to be the first trigger.
    _write_jsonl(src / "batch0.jsonl", [
        {"timestamp": "2024-01-01 09:30:00", "symbol": "AAPL", "close": 10.0},
        {"timestamp": "2024-01-01 09:31:00", "symbol": "AAPL", "close": 11.0},
    ])
    _write_jsonl(src / "batch1.jsonl", [
        {"timestamp": "2024-01-01 09:31:00", "symbol": "AAPL", "close": 11.0},
        {"timestamp": "2024-01-01 09:32:00", "symbol": "AAPL", "close": 12.0},
    ])
    now = time.time()
    os.utime(src / "batch0.jsonl", (now - 60, now - 60))
    os.utime(src / "batch1.jsonl", (now, now))

    stream = incremental_new_ticks(
        read_tick_file_stream(spark, str(src), max_files_per_trigger=1)
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("hwm_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    out = sorted(
        spark.sql("SELECT ts, close FROM hwm_test").collect(),
        key=lambda r: r["ts"],
    )
    # replayed 09:31 tick suppressed by per-key state across triggers
    assert [r["close"] for r in out] == [10.0, 11.0, 12.0]
    spark.catalog.dropTempView("hwm_test")


def test_watermark_drops_late_rows(spark, tmp_path):
    """ST4 late-data semantics. Spark guarantees bounded state, not
    eager dropping: a late row is only dropped once the window's
    state has been EVICTED, which happens one batch after the
    watermark passes the window end (eviction uses the previous
    batch's watermark). Hence three batches: (0) advance event time,
    (1) evict+emit the old window, (2) the late row hits evicted
    state and is dropped by the watermark predicate."""
    src = tmp_path / "in"
    src.mkdir()
    _write_jsonl(src / "b0.jsonl", [
        {"timestamp": "2024-01-01 09:30:00", "symbol": "AAPL", "close": 10.0},
        {"timestamp": "2024-01-01 10:30:00", "symbol": "AAPL", "close": 11.0},
    ])
    _write_jsonl(src / "b1.jsonl", [
        {"timestamp": "2024-01-01 10:31:00", "symbol": "AAPL", "close": 11.5},
    ])
    _write_jsonl(src / "b2.jsonl", [
        # one hour older than the watermark (10:21) by now
        {"timestamp": "2024-01-01 09:31:00", "symbol": "AAPL", "close": 99.0},
    ])
    now = time.time()
    for i, f in enumerate(["b0.jsonl", "b1.jsonl", "b2.jsonl"]):
        os.utime(src / f, (now - 120 + i * 60, now - 120 + i * 60))

    bars = windowed_ohlc(
        read_tick_file_stream(spark, str(src), max_files_per_trigger=1),
        bucket="5 minutes",
        watermark_delay="10 minutes",
    )
    q = (
        bars.writeStream.format("memory").queryName("late_test")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)

    dropped = sum(
        p["stateOperators"][0]["numRowsDroppedByWatermark"]
        for p in q.recentProgress
        if p["stateOperators"]
    )
    assert dropped == 1
    rows = {
        str(r["bar_start"]): r
        for r in spark.sql("SELECT * FROM late_test").collect()
    }
    # the finalized 09:30 window never saw the late 99.0 tick
    assert rows["2024-01-01 09:30:00"]["n_ticks"] == 1
    assert rows["2024-01-01 09:30:00"]["close"] == 10.0
    spark.catalog.dropTempView("late_test")


def test_streaming_inference_foreachbatch(spark, tmp_path):
    """ST7: train once on history, score the stream set-oriented in
    foreachBatch, one file per batch with symbol a data column (S9),
    and none for a batch that scores no row."""
    from stock_trend_predictor_spark.ml.pergroup import train_linreg_closed_form
    from stock_trend_predictor_spark.streaming.scoring import streaming_score

    history = spark.createDataFrame(
        [("AAPL", float(o), 2.0 * o + 1.0) for o in range(1, 21)]
        + [("MSFT", float(o), 0.5 * o + 3.0) for o in range(1, 21)],
        "symbol string, open double, close double",
    )
    models = train_linreg_closed_form(history)

    src = tmp_path / "in"
    src.mkdir()
    _write_jsonl(src / "batch0.jsonl", [
        {"timestamp": "2024-01-01 09:30:00", "symbol": "AAPL",
         "open": 10.0, "close": 30.0},
        {"timestamp": "2024-01-01 09:30:00", "symbol": "MSFT",
         "open": 10.0, "close": 7.0},
        # no trained model for GOOGL → dropped by the P10 join filter
        {"timestamp": "2024-01-01 09:30:00", "symbol": "GOOGL",
         "open": 1.0, "close": 2.0},
    ])
    # a second batch that scores no row writes no file
    _write_jsonl(src / "batch1.jsonl", [
        {"timestamp": "2024-01-01 09:31:00", "symbol": "GOOGL",
         "open": 1.0, "close": 2.0},
    ])
    os.utime(src / "batch0.jsonl", (time.time() - 60, time.time() - 60))
    out = str(tmp_path / "scored")
    q = streaming_score(
        read_tick_file_stream(spark, str(src), max_files_per_trigger=1),
        models,
        out,
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    assert [p["numInputRows"] for p in q.recentProgress] == [3, 1]

    # one file for the batch, symbol stored in it, no symbol= directory
    assert not any(n.startswith("symbol=") for n in os.listdir(out))
    (part,) = _parquet_parts(out)
    assert "symbol" in spark.read.parquet(os.path.join(out, part)).columns

    rows = {r["symbol"]: r for r in spark.read.parquet(out).collect()}
    assert set(rows) == {"AAPL", "MSFT"}  # GOOGL filtered (no model)
    # linreg recovered close = 2*open + 1 → predicted 21.0 for open=10
    assert abs(rows["AAPL"]["predicted_close"] - 21.0) < 1e-6
    assert rows["AAPL"]["prediction"] == 1  # predicted above open
    assert rows["MSFT"]["prediction"] == 0  # 0.5*10+3=8 < 10
    assert abs(rows["AAPL"]["change_pct"] - 200.0) < 1e-9


def test_streaming_score_replay_after_crash_writes_once(
    spark, tmp_path, monkeypatch
):
    """A scoring batch that crashes after its write, before the batch
    commits, is replayed on restart and replaces its own file: the
    scored sink equals a clean run's, with no prediction twice."""
    from stock_trend_predictor_spark.ml.pergroup import train_linreg_closed_form
    from stock_trend_predictor_spark.streaming import scoring

    models = train_linreg_closed_form(spark.createDataFrame(
        [(s, float(o), 2.0 * o + 1.0) for s in ("AAPL", "MSFT") for o in range(1, 11)],
        "symbol string, open double, close double",
    ))
    src = _two_batch_ticks(tmp_path / "in")
    real = scoring.write_batch_file

    def crash_after_write(df, path, batch_id):
        real(df, path, batch_id)
        if batch_id == 1:
            raise RuntimeError("injected crash")

    def score(root):
        out = str(root / "scored")
        ticks = dedup_ticks(read_tick_file_stream(spark, src, max_files_per_trigger=1))
        return scoring.streaming_score(ticks, models, out, str(root / "ckpt")), out

    monkeypatch.setattr(scoring, "write_batch_file", crash_after_write)
    q, crashed = score(tmp_path / "crash")
    with pytest.raises(StreamingQueryException, match="injected crash"):
        q.awaitTermination(120)
    monkeypatch.setattr(scoring, "write_batch_file", real)
    q, crashed = score(tmp_path / "crash")
    q.awaitTermination(120)
    assert [p["batchId"] for p in q.recentProgress] == [1]  # the replay
    q, clean = score(tmp_path / "clean")
    q.awaitTermination(120)
    _assert_same_sink(spark, crashed, clean)


def test_stream_stream_left_outer_emits_unmatched_after_watermark(
    spark, tmp_path
):
    """Unmatched left rows are null-padded only once the joint
    watermark proves no match can arrive (deferred-null semantics)."""
    from stock_trend_predictor_spark.streaming.joins import (
        join_feeds_left_outer,
    )

    lsrc, rsrc = tmp_path / "l", tmp_path / "r"
    lsrc.mkdir()
    rsrc.mkdir()
    _write_jsonl(lsrc / "b0.jsonl", [
        {"timestamp": "2024-01-01 09:30:00", "symbol": "AAPL", "close": 10.0},
        {"timestamp": "2024-01-01 09:50:00", "symbol": "AAPL", "close": 12.0},
    ])
    _write_jsonl(rsrc / "b0.jsonl", [
        {"timestamp": "2024-01-01 09:28:00", "symbol": "AAPL", "close": 9.8},
    ])
    # watermark pushers in a LATER batch on both feeds: the joint
    # watermark moves to 11:20 — beyond 09:50 + 5m tolerance — which
    # is what licenses the null-padded emission of the unmatched row.
    _write_jsonl(lsrc / "b1.jsonl", [
        {"timestamp": "2024-01-01 11:30:00", "symbol": "MSFT", "close": 1.0},
    ])
    _write_jsonl(rsrc / "b1.jsonl", [
        {"timestamp": "2024-01-01 11:31:00", "symbol": "MSFT", "close": 2.0},
    ])
    now = time.time()
    for d, f, t in ((lsrc, "b0.jsonl", 60), (rsrc, "b0.jsonl", 60),
                    (lsrc, "b1.jsonl", 0), (rsrc, "b1.jsonl", 0)):
        os.utime(d / f, (now - t, now - t))

    joined = join_feeds_left_outer(
        read_tick_file_stream(spark, str(lsrc), max_files_per_trigger=1),
        read_tick_file_stream(spark, str(rsrc), max_files_per_trigger=1),
        tolerance="5 minutes",
    )
    q = (
        joined.writeStream.format("memory").queryName("ss_louter")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = sorted(
        (str(r["l_ts"]), r["r_close"])
        for r in spark.sql("SELECT * FROM ss_louter").collect()
    )
    assert ("2024-01-01 09:30:00", 9.8) in got
    assert ("2024-01-01 09:50:00", None) in got
    # the pushers themselves are unmatched but NOT yet past the
    # watermark — deferred-null semantics means they must not emit
    assert ("2024-01-01 11:30:00", None) not in got
    spark.catalog.dropTempView("ss_louter")


def test_minhash_admission_stream_equals_batch(spark, tmp_path):
    """Streaming near-dup admission (foreachBatch over 3 file-batches)
    must produce EXACTLY the keeper set of sequentially applying the
    batch update over the same splits — the stream==batch parity law.
    Also: an exact duplicate of an admitted doc is never admitted."""
    from stock_trend_predictor_spark.sources.tables import load_table
    from stock_trend_predictor_spark.streaming.admission import (
        minhash_admission_sink,
        read_admitted,
        update_admission_state,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    # three deterministic batches by doc_id band
    splits = [
        docs.where(F.col("doc_id") % 3 == i).localCheckpoint(eager=True)
        for i in range(3)
    ]

    # stream side: one parquet file per batch, maxFilesPerTrigger=1
    src = tmp_path / "in"
    src.mkdir()
    for i, part in enumerate(splits):
        part.coalesce(1).write.mode("overwrite").parquet(
            str(src / f"b{i}.parquet")
        )
    import glob
    import os
    import time

    now = time.time()
    files = []
    for i in range(3):
        (f,) = glob.glob(str(src / f"b{i}.parquet" / "*.parquet"))
        dst = src / f"batch_{i}.parquet"
        os.rename(f, dst)
        os.utime(dst, (now - 60 + i, now - 60 + i))  # arrival order
        files.append(dst)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    state_stream = str(tmp_path / "state_stream")
    q = minhash_admission_sink(
        stream, state_stream, checkpoint=str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)

    # batch side: sequential application over the same splits
    state_batch = str(tmp_path / "state_batch")
    for i, part in enumerate(splits):
        update_admission_state(spark, part, state_batch, batch_id=i)

    got_stream = {
        r["doc_id"] for r in read_admitted(spark, state_stream).collect()
    }
    got_batch = {
        r["doc_id"] for r in read_admitted(spark, state_batch).collect()
    }
    assert got_stream == got_batch
    assert got_stream, "some docs must be admitted"

    # law: replaying the last batch changes nothing (idempotence)
    update_admission_state(spark, splits[2], state_batch, batch_id=2)
    assert got_batch == {
        r["doc_id"] for r in read_admitted(spark, state_batch).collect()
    }

    # law: an exact duplicate of an admitted doc is rejected
    admitted_one = sorted(got_batch)[0]
    dup = (
        docs.where(F.col("doc_id") == admitted_one)
        .select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    )
    update_admission_state(spark, dup, state_batch, batch_id=3)
    after = {
        r["doc_id"] for r in read_admitted(spark, state_batch).collect()
    }
    assert admitted_one + 1_000_000 not in after


def test_cusum_stream_equals_batch_and_replays_noop(spark, sf_dir, tmp_path):
    """Chunked CUSUM state folding == one-shot computation with the
    same fixed params, BIT-identical (the carried cum is decimal), and
    replaying a batch id is a no-op."""
    from pyspark.sql import functions as F

    from stock_trend_predictor_spark.operators.cusum import (
        CUSUM_THRESHOLD,
        read_cusum_state,
        update_cusum_state,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    # fixed reference params estimated "offline" from the same series
    params = ev.groupBy("event_type").agg(
        (F.sum(F.col("value").cast("decimal(27,6)")).cast("double")
         / F.count(F.lit(1))).alias("mu"),
        F.stddev_samp("value").alias("sigma"),
    )

    # stream: three chunks by event_id ranges, folded sequentially
    sdir = str(tmp_path / "state")
    bounds = [0.33, 0.66, 1.0]
    ids = sorted(r.event_id for r in ev.select("event_id").collect())
    cuts = [ids[int(len(ids) * b) - 1] for b in bounds]
    lo = None
    for i, hi in enumerate(cuts):
        chunk = ev.where(
            (F.col("event_id") <= hi)
            & (F.lit(True) if lo is None else (F.col("event_id") > lo))
        )
        update_cusum_state(spark, chunk, params, sdir, batch_id=i)
        lo = hi
    streamed = {
        r.event_type: r for r in read_cusum_state(spark, sdir).collect()
    }

    # one-shot: the same scoring over the whole series at once
    bdir = str(tmp_path / "state_oneshot")
    update_cusum_state(spark, ev, params, bdir, batch_id=0)
    oneshot = {
        r.event_type: r for r in read_cusum_state(spark, bdir).collect()
    }

    assert streamed.keys() == oneshot.keys() and streamed
    for k, s in streamed.items():
        o = oneshot[k]
        assert (s.n_rows, s.n_alarm) == (o.n_rows, o.n_alarm), k
        assert s.cum == o.cum  # decimal carry -> exact equality
        assert s.peak_z == o.peak_z
        assert (s.peak_event_id, s.peak_ts) == (o.peak_event_id, o.peak_ts)
        assert s.n_alarm >= 0 and s.peak_z >= 0.0

    # replaying the last batch id must change nothing
    before = sorted(map(tuple, read_cusum_state(spark, sdir).collect()))
    chunk = ev.where(F.col("event_id") > cuts[-2])
    update_cusum_state(spark, chunk, params, sdir, batch_id=len(cuts) - 1)
    after = sorted(map(tuple, read_cusum_state(spark, sdir).collect()))
    assert before == after


def test_cusum_sink_foreachbatch_runs_and_matches(spark, sf_dir, tmp_path):
    """The actual foreachBatch sink over time-ordered file batches
    lands the same state as sequential update calls."""
    import glob
    import os
    import time as _time

    from stock_trend_predictor_spark.operators.cusum import (
        cusum_sink,
        read_cusum_state,
        update_cusum_state,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type", "ts", "event_id", "value"
    )
    params = ev.groupBy("event_type").agg(
        (F.sum(F.col("value").cast("decimal(27,6)")).cast("double")
         / F.count(F.lit(1))).alias("mu"),
        F.stddev_samp("value").alias("sigma"),
    ).localCheckpoint(eager=True)
    # three TIME-ordered chunks (CUSUM is order-sensitive)
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).collect()[0]
    span = (hi - lo) / 3
    splits = [
        ev.where(
            (F.col("ts") >= lo + i * span)
            & (F.col("ts") < (lo + (i + 1) * span if i < 2 else hi))
            | (F.lit(i == 2) & (F.col("ts") == hi))
        ).localCheckpoint(eager=True)
        for i in range(3)
    ]
    src = tmp_path / "in"
    src.mkdir()
    now = _time.time()
    for i, part in enumerate(splits):
        part.coalesce(1).write.mode("overwrite").parquet(
            str(src / f"b{i}.parquet")
        )
        (f,) = glob.glob(str(src / f"b{i}.parquet" / "*.parquet"))
        dst = src / f"batch_{i}.parquet"
        os.rename(f, dst)
        os.utime(dst, (now - 60 + i, now - 60 + i))
    stream = (
        spark.readStream.schema(
            "event_type string, ts timestamp, event_id long, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    sdir = str(tmp_path / "state_stream")
    q = cusum_sink(stream, params, sdir, checkpoint=str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    bdir = str(tmp_path / "state_seq")
    for i, part in enumerate(splits):
        update_cusum_state(spark, part, params, bdir, batch_id=i)

    got = sorted(map(tuple, read_cusum_state(spark, sdir).collect()))
    want = sorted(map(tuple, read_cusum_state(spark, bdir).collect()))
    assert got == want and got


def test_span_admission_stream_equals_batch(spark, tmp_path):
    """Streaming exact-substring admission (the dup_span_detection
    gram gate as a foreachBatch sink) must produce EXACTLY the keeper
    set of sequentially applying the batch update over the same
    splits; replaying a batch id is a no-op; an exact duplicate of an
    admitted doc is rejected (dup_fraction 1.0 > threshold)."""
    from stock_trend_predictor_spark.sources.tables import load_table
    from stock_trend_predictor_spark.streaming.admission import (
        read_admitted,
        span_admission_sink,
        update_span_admission_state,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    splits = [
        docs.where(F.col("doc_id") % 3 == i).localCheckpoint(eager=True)
        for i in range(3)
    ]

    src = tmp_path / "in"
    src.mkdir()
    for i, part in enumerate(splits):
        part.coalesce(1).write.mode("overwrite").parquet(
            str(src / f"b{i}.parquet")
        )
    import glob
    import os
    import time

    now = time.time()
    for i in range(3):
        (f,) = glob.glob(str(src / f"b{i}.parquet" / "*.parquet"))
        dst = src / f"batch_{i}.parquet"
        os.rename(f, dst)
        os.utime(dst, (now - 60 + i, now - 60 + i))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    state_stream = str(tmp_path / "state_stream")
    q = span_admission_sink(
        stream, state_stream, checkpoint=str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)

    state_batch = str(tmp_path / "state_batch")
    for i, part in enumerate(splits):
        update_span_admission_state(spark, part, state_batch, batch_id=i)

    got_stream = {
        r["doc_id"] for r in read_admitted(spark, state_stream).collect()
    }
    got_batch = {
        r["doc_id"] for r in read_admitted(spark, state_batch).collect()
    }
    assert got_stream == got_batch
    assert got_stream, "some docs must be admitted"

    # replay idempotence
    update_span_admission_state(spark, splits[2], state_batch, batch_id=2)
    assert got_batch == {
        r["doc_id"] for r in read_admitted(spark, state_batch).collect()
    }

    # an exact duplicate of an admitted doc: every gram is in state,
    # dup_fraction ~ 1 > SPAN_DUP_THRESHOLD -> rejected
    admitted_one = sorted(got_batch)[0]
    dup = (
        docs.where(F.col("doc_id") == admitted_one)
        .select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    )
    update_span_admission_state(spark, dup, state_batch, batch_id=3)
    after = {
        r["doc_id"] for r in read_admitted(spark, state_batch).collect()
    }
    assert admitted_one + 1_000_000 not in after


def test_quality_audit_stream_equals_batch(spark, sf_dir, tmp_path):
    """Streaming expectations totals over 3 file-batches must equal
    the one-shot audit of the whole table (additive fold), and a
    replayed batch id must not change the totals."""
    from stock_trend_predictor_spark.streaming.quality import (
        audit_batch,
        quality_audit_sink,
        read_quality_totals,
        update_quality_state,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "ts", "event_type", "value"
    )
    splits = [
        ev.where(F.col("event_id") % 3 == i).localCheckpoint(eager=True)
        for i in range(3)
    ]

    src = tmp_path / "in"
    src.mkdir()
    import glob
    import os
    import time

    now = time.time()
    for i, part in enumerate(splits):
        part.coalesce(1).write.mode("overwrite").parquet(
            str(src / f"b{i}.parquet")
        )
        (f,) = glob.glob(str(src / f"b{i}.parquet" / "*.parquet"))
        dst = src / f"batch_{i}.parquet"
        os.rename(f, dst)
        os.utime(dst, (now - 60 + i, now - 60 + i))
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, event_type string, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    sdir = str(tmp_path / "state")
    q = quality_audit_sink(stream, sdir, checkpoint=str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    got = {
        r.expectation: (r.n_rows, r.n_violations, r["pass"])
        for r in read_quality_totals(spark, sdir).collect()
    }
    want = {
        r.expectation: (r.n_rows, r.n_violations)
        for r in audit_batch(ev).collect()
    }
    assert set(got) == set(want)
    for k, (n, v) in want.items():
        assert got[k][0] == n and got[k][1] == v, k
        assert got[k][2] == (v == 0)
    # replay idempotence
    update_quality_state(spark, splits[2], sdir, batch_id=2)
    after = {
        r.expectation: (r.n_rows, r.n_violations)
        for r in read_quality_totals(spark, sdir).collect()
    }
    assert after == {k: (n, v) for k, (n, v) in want.items()}

    # a regressing producer must flip the verdict on ITS batch: fold
    # one synthetic batch with a null value and a non-positive print
    bad = spark.createDataFrame(
        [(10_000_000, None, "purchase", None),
         (10_000_001, None, "purchase", -1.0)],
        "event_id long, ts timestamp, event_type string, value double",
    )
    update_quality_state(spark, bad, sdir, batch_id=3)
    final = {
        r.expectation: (r.n_violations, r["pass"])
        for r in read_quality_totals(spark, sdir).collect()
    }
    base = {k: v for k, (_, v) in want.items()}
    assert final["value_not_null"][0] == base["value_not_null"] + 1
    assert final["value_positive"][0] == base["value_positive"] + 1
    assert final["ts_not_null"][0] == base["ts_not_null"] + 2
    assert not final["value_not_null"][1]


def test_ivf_maintenance_stats_fold_is_exact(spark, sf_dir):
    """Stream==batch law: with a FIXED quantizer, folding per-batch
    sufficient stats over splits equals the one-shot stats of the
    union — decimal-exact (order-independent accumulators)."""
    from stock_trend_predictor_spark.operators.ivf import kmeans_centroids
    from stock_trend_predictor_spark.operators.similarity import as_double
    from stock_trend_predictor_spark.streaming.ivf_maintenance import (
        batch_cell_stats,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    init = kmeans_centroids(
        emb.select(
            F.col("vec_id").alias("neighbor_id"),
            as_double("embedding").alias("cv"),
        ),
        k=8,
        iters=1,
        id_col="neighbor_id",
        vec_col="cv",
    )
    splits = [emb.where(F.col("vec_id") % 3 == i) for i in range(3)]
    parts = [batch_cell_stats(s, init) for s in splits]
    folded_counts = parts[0][0]
    folded_sums = parts[0][1]
    for c, s in parts[1:]:
        folded_counts = (
            folded_counts.unionByName(c)
            .groupBy("cid")
            .agg(F.sum("n").cast("bigint").alias("n"))
        )
        folded_sums = (
            folded_sums.unionByName(s)
            .groupBy("cid", "dim")
            .agg(F.sum("s").cast("decimal(38,12)").alias("s"))
        )
    one_c, one_s = batch_cell_stats(emb, init)
    got_c = {r.cid: r.n for r in folded_counts.collect()}
    want_c = {r.cid: r.n for r in one_c.collect()}
    assert got_c == want_c
    got_s = {(r.cid, r.dim): r.s for r in folded_sums.collect()}
    want_s = {(r.cid, r.dim): r.s for r in one_s.collect()}
    assert got_s == want_s  # Decimal == Decimal: bit-exact


def test_ivf_maintenance_replay_and_centroids(spark, sf_dir, tmp_path):
    """Replayed batch ids are no-ops; maintained centroids equal the
    numpy replication of the frozen-trainer fold (every batch
    assigned under init — the measured design, see module doc)."""
    import numpy as np

    from stock_trend_predictor_spark.operators.ivf import kmeans_centroids
    from stock_trend_predictor_spark.operators.similarity import as_double
    from stock_trend_predictor_spark.streaming.ivf_maintenance import (
        maintained_centroids,
        update_ivf_state,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    even = emb.where(F.col("vec_id") % 2 == 0)
    odd = emb.where(F.col("vec_id") % 2 == 1)
    init = kmeans_centroids(
        even.select(
            F.col("vec_id").alias("neighbor_id"),
            as_double("embedding").alias("cv"),
        ),
        k=8,
        iters=1,
        id_col="neighbor_id",
        vec_col="cv",
    )
    sdir = str(tmp_path / "ivf-state")
    update_ivf_state(spark, even, sdir, init, batch_id=0)
    update_ivf_state(spark, odd, sdir, init, batch_id=1)
    after = maintained_centroids(spark, sdir, init)
    # replay batch 1: state must be bit-identical
    update_ivf_state(spark, odd, sdir, init, batch_id=1)
    assert maintained_centroids(spark, sdir, init) == after

    # numpy replication: every batch assigned under the frozen init
    def vecs(df):
        rows = df.orderBy("vec_id").collect()
        return np.stack(
            [np.asarray(r["embedding"], dtype=np.float64) for r in rows]
        )

    def assign(x, cents):
        c = np.asarray(cents)
        d = ((x[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
        return d.argmin(axis=1)

    k = len(init)
    xs_even, xs_odd = vecs(even), vecs(odd)
    n = np.zeros(k)
    s = np.zeros((k, xs_even.shape[1]))
    for x in (xs_even, xs_odd):
        a = assign(x, init)
        for cid in range(k):
            m = a == cid
            n[cid] += m.sum()
            s[cid] += x[m].sum(axis=0)
    for cid in range(k):
        if n[cid] == 0:
            assert after[cid] == list(init[cid])
        else:
            want = s[cid] / n[cid]
            assert np.allclose(after[cid], want, atol=1e-9), cid


def test_ivf_maintenance_sink_end_to_end(spark, sf_dir, tmp_path):
    """The real foreachBatch sink over a file stream commits the same
    state as driver-side folds of the same batches."""
    import glob

    from stock_trend_predictor_spark.operators.ivf import kmeans_centroids
    from stock_trend_predictor_spark.operators.similarity import as_double
    from stock_trend_predictor_spark.streaming.ivf_maintenance import (
        ivf_maintenance_sink,
        maintained_centroids,
        update_ivf_state,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    splits = [
        emb.where(F.col("vec_id") % 2 == i).localCheckpoint(eager=True)
        for i in range(2)
    ]
    init = kmeans_centroids(
        splits[0].select(
            F.col("vec_id").alias("neighbor_id"),
            as_double("embedding").alias("cv"),
        ),
        k=8,
        iters=1,
        id_col="neighbor_id",
        vec_col="cv",
    )
    src = tmp_path / "in"
    src.mkdir()
    now = time.time()
    for i, part in enumerate(splits):
        part.coalesce(1).write.mode("overwrite").parquet(
            str(src / f"b{i}.parquet")
        )
        (f,) = glob.glob(str(src / f"b{i}.parquet" / "*.parquet"))
        dst = src / f"batch_{i}.parquet"
        os.rename(f, dst)
        os.utime(dst, (now - 60 + i, now - 60 + i))
    stream = (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    sdir = str(tmp_path / "stream-state")
    q = ivf_maintenance_sink(
        stream, sdir, checkpoint=str(tmp_path / "ckpt"), init_centroids=init
    )
    q.awaitTermination(120)

    ref_dir = str(tmp_path / "ref-state")
    update_ivf_state(spark, splits[0], ref_dir, init, batch_id=0)
    update_ivf_state(spark, splits[1], ref_dir, init, batch_id=1)
    got = maintained_centroids(spark, sdir, init)
    want = maintained_centroids(spark, ref_dir, init)
    assert got == want  # same folds, bit-identical state


def test_budget_admission_laws(spark, sf_dir, tmp_path):
    """streaming/budget.py hard-frontier admission: budget cap,
    stream==batch (one-shot prefix rule) under contiguous splits, a
    real writeStream run agreeing with the direct fold, monotone
    exhaustion, and replay idempotence."""
    from stock_trend_predictor_spark.streaming.budget import (
        admit_batch,
        budget_admission_sink,
        read_admitted_docs,
        read_budget_totals,
        tokenize_counts,
        update_budget_state,
    )

    budget = 800
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source", "text"
    )
    lo, hi = docs.agg(
        F.expr("percentile(doc_id, 0.33)"),
        F.expr("percentile(doc_id, 0.67)"),
    ).first()
    splits = [
        docs.where(F.col("doc_id") <= F.lit(lo)),
        docs.where(
            (F.col("doc_id") > F.lit(lo)) & (F.col("doc_id") <= F.lit(hi))
        ),
        docs.where(F.col("doc_id") > F.lit(hi)),
    ]

    sdir = str(tmp_path / "state")
    for i, part in enumerate(splits):
        update_budget_state(spark, part, sdir, budget=budget, batch_id=i)

    kept = read_admitted_docs(spark, sdir)
    totals = read_budget_totals(spark, sdir)

    # law 1: budget cap per source, exactly the committed totals
    for r in totals.collect():
        assert r.admitted_tokens <= budget, r
    recomputed = {
        r.source: r.s
        for r in kept.groupBy("source")
        .agg(F.sum("n_tok").alias("s"))
        .collect()
    }
    for r in totals.collect():
        assert recomputed.get(r.source, 0) == r.admitted_tokens

    # law 2: stream==batch — the one-shot prefix rule over doc_id order
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    oneshot = (
        tokenize_counts(docs)
        .withColumn("cum", F.sum("n_tok").over(w))
        .where(F.col("cum") <= budget)
        .select("doc_id", "source", "n_tok")
    )
    assert kept.exceptAll(oneshot).count() == 0
    assert oneshot.exceptAll(kept).count() == 0

    # law 3: monotone exhaustion — an exhausted source admits nothing,
    # even a 1-token document
    exhausted = [
        r.source for r in totals.where("exhausted").collect()
    ]
    assert exhausted, "sf0.001 corpus should exhaust at this budget"
    tiny = spark.createDataFrame(
        [(99_000_000, exhausted[0], "x")],
        "doc_id long, source string, text string",
    )
    update_budget_state(spark, tiny, sdir, budget=budget, batch_id=3)
    assert (
        read_admitted_docs(spark, sdir)
        .where(F.col("doc_id") == 99_000_000)
        .count()
        == 0
    )

    # law 4: replay idempotence
    before = read_budget_totals(spark, sdir).collect()
    update_budget_state(spark, splits[1], sdir, budget=budget, batch_id=1)
    after = read_budget_totals(spark, sdir).collect()
    assert sorted(map(tuple, before)) == sorted(map(tuple, after))

    # law 5: the real writeStream sink agrees with the direct fold
    src = tmp_path / "in"
    src.mkdir()
    import glob
    import os
    import time as _time

    now = _time.time()
    for i, part in enumerate(splits):
        part.coalesce(1).write.mode("overwrite").parquet(
            str(src / f"b{i}.parquet")
        )
        (f,) = glob.glob(str(src / f"b{i}.parquet" / "*.parquet"))
        dst = src / f"batch_{i}.parquet"
        os.rename(f, dst)
        os.utime(dst, (now - 60 + i, now - 60 + i))
    stream = (
        spark.readStream.schema("doc_id long, source string, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    sdir2 = str(tmp_path / "state2")
    q = budget_admission_sink(
        stream, sdir2, checkpoint=str(tmp_path / "ckpt2"), budget=budget
    )
    q.awaitTermination(120)
    kept2 = read_admitted_docs(spark, sdir2)
    assert kept2.exceptAll(oneshot).count() == 0
    assert oneshot.exceptAll(kept2).count() == 0
