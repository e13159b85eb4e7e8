"""Source/sink tests: CSV daily-partitioned sink (S5), Kafka
wire-format encode round-trip (S3), per-key partitioned parquet sink
(S9)."""

from __future__ import annotations

from pyspark.sql import functions as F

from stock_trend_predictor_spark.sources.csv_io import (
    read_csv_ticks,
    write_csv_daily,
)
from stock_trend_predictor_spark.streaming.ingest import parse_tick_envelope
from stock_trend_predictor_spark.streaming.kafka import to_kafka_frame


def _ticks(spark):
    rows = [
        ("AAPL", "2024-01-01 09:30:00", 10.0, 12.0, 9.5, 11.0, 100.0, "history"),
        ("AAPL", "2024-01-02 09:30:00", 11.0, 13.0, 10.5, 12.0, 200.0, "realtime"),
        ("MSFT", "2024-01-01 09:30:00", 20.0, 21.0, 19.0, 20.5, 50.0, "realtime"),
        ("MSFT", "2024-01-02 09:31:00", None, None, None, 20.7, None, "realtime"),
    ]
    return spark.createDataFrame(
        rows,
        "symbol string, ts string, open double, high double, low double, "
        "close double, volume double, source string",
    ).withColumn("ts", F.to_timestamp("ts"))


def test_csv_daily_roundtrip(spark, tmp_path):
    ticks = _ticks(spark)
    out = str(tmp_path / "csv_out")
    write_csv_daily(ticks, out)

    back = read_csv_ticks(spark, out)
    # dt partition column comes back as a string partition col; the
    # 8 canonical columns round-trip typed and value-equal.
    orig = {tuple(r) for r in ticks.collect()}
    got = {
        tuple(r)
        for r in back.select(
            "symbol", "ts", "open", "high", "low", "close", "volume", "source"
        ).collect()
    }
    assert got == orig
    # layout is date-addressable (partition pruning on read-back)
    dts = sorted(
        str(r["dt"]) for r in spark.read.option("header", True).csv(out)
        .select(F.col("dt")).distinct().collect()
    )
    assert dts == ["2024-01-01", "2024-01-02"]


def test_kafka_wire_roundtrip(spark):
    """encode (to_kafka_frame) → decode (parse_tick_envelope) is the
    identity on the OHLCV fields — proving the producer wire bytes
    match what the streaming consumer declares."""
    ticks = _ticks(spark)
    wire = to_kafka_frame(ticks)
    assert wire.columns == ["key", "value"]

    parsed = parse_tick_envelope(wire)
    got = {
        (r["symbol"], str(r["ts"]), r["open"], r["close"], r["volume"])
        for r in parsed.collect()
    }
    want = {
        (r["symbol"], str(r["ts"]), r["open"], r["close"], r["volume"])
        for r in ticks.collect()
    }
    assert got == want
    assert parsed.where(F.col("_corrupt_record").isNotNull()).count() == 0


def test_orc_roundtrip_with_pushdown(spark, tmp_path):
    """Second columnar format: ORC write/read with predicate pushdown
    — format choice is a config, not an architecture change."""
    ticks = _ticks(spark)
    out = str(tmp_path / "orc")
    ticks.write.partitionBy("symbol").orc(out)
    back = spark.read.orc(out)
    assert back.count() == ticks.count()
    one = back.where((F.col("symbol") == "AAPL") & (F.col("close") > 10.5))
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "symbol" in plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "PushedFilters: [" in plan
    assert "close" in plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """Lakehouse reality: a corpus written over months gains columns.
    mergeSchema reads old + new files as the superset schema with
    NULLs for pre-evolution rows — no rewrite of historical data."""
    out = str(tmp_path / "evolving")
    spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "doc_id long, text string"
    ).write.mode("append").parquet(out)
    spark.createDataFrame(
        [(3, "gamma", 0.9)], "doc_id long, text string, quality double"
    ).write.mode("append").parquet(out)

    merged = spark.read.option("mergeSchema", True).parquet(out)
    assert {f.name for f in merged.schema.fields} == {
        "doc_id", "text", "quality"
    }
    rows = {r["doc_id"]: r["quality"] for r in merged.collect()}
    assert rows == {1: None, 2: None, 3: 0.9}


def test_partitioned_parquet_sink(spark, tmp_path):
    """S9: per-key partitioned sink replaces the reference's
    predicted_output_{symbol} dynamic collection names."""
    from stock_trend_predictor_spark.sources.parquet_io import (
        read_partitioned,
        write_partitioned,
    )

    ticks = _ticks(spark)
    out = str(tmp_path / "by_symbol")
    write_partitioned(ticks, out, partition_by=["symbol"], sort_within=["ts"])

    # roundtrip: partition column restored, all rows intact
    back = read_partitioned(spark, out)
    assert back.count() == ticks.count()

    # partition pruning: the symbol predicate must land in
    # PartitionFilters (directory-level skip, before any IO) ...
    one = back.where(F.col("symbol") == "AAPL")
    assert one.count() == 2
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "symbol" in pf, f"symbol filter not pruned to partitions: {pf}"

    # ... and an ordinary column predicate must push to row-group
    # stats (PushedFilters), not evaluate post-scan only
    narrow = back.where(F.col("close") > 10.5)
    plan2 = narrow._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan2
    pushed = plan2.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "close" in pushed, f"close filter not pushed: {pushed}"


def test_compact_parquet_small_files(spark, tmp_path):
    """Compaction shrinks the file count without changing the data —
    the standing repair for streaming-sink file fragmentation."""
    from stock_trend_predictor_spark.sources.parquet_io import compact_parquet
    from stock_trend_predictor_spark.sources.tables import load_table

    path = str(tmp_path / "frag")
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    ev.repartition(32).write.parquet(path)  # fragment: 32 small files

    expect = sorted(map(tuple, spark.read.parquet(path).collect()), key=str)
    before, after = compact_parquet(spark, path, target_files=4)
    assert before >= 32 and after == 4
    got = sorted(map(tuple, spark.read.parquet(path).collect()), key=str)
    assert got == expect

    # re-clustered variant: still identical data, still 4 files
    before2, after2 = compact_parquet(
        spark, path, target_files=4, sort_by=["user_id", "ts"]
    )
    assert (before2, after2) == (4, 4)
    got2 = sorted(map(tuple, spark.read.parquet(path).collect()), key=str)
    assert got2 == expect


def test_jsonl_roundtrip_and_quarantine(spark, tmp_path):
    """JSONL daily sink partitions by date; the permissive reader
    splits clean rows from malformed lines (DLQ) over ONE scan."""
    from stock_trend_predictor_spark.sources.json_io import (
        read_jsonl_ticks,
        write_jsonl_daily,
    )
    from stock_trend_predictor_spark.sources.tables import ticks

    t = (
        ticks(spark, "/root/testdata/sf0.001")
        .where(F.col("open").isNotNull())
        .select("symbol", "ts", "open", "close")
        .withColumn("high", F.greatest("open", "close"))
        .withColumn("low", F.least("open", "close"))
        .withColumn("volume", F.lit(1.0))
        .withColumn("source", F.lit("test"))
        .limit(200)
    )
    out = str(tmp_path / "jsonl_out")
    write_jsonl_daily(t, out)
    import glob
    import os

    parts = glob.glob(os.path.join(out, "dt=*"))
    assert len(parts) > 1, "sink must partition by date"

    # drop a malformed file into one partition (a fresh file, not an
    # append — Spark's co-written .crc would flag a tampered part)
    with open(os.path.join(parts[0], "part-99999-bad.json"), "w") as fh:
        fh.write('{"symbol": "BAD", "ts": \n')
        fh.write("not json at all\n")

    good, dlq = read_jsonl_ticks(spark, out)
    assert good.count() == 200
    assert good.where(F.col("symbol") == "BAD").count() == 0
    bad_lines = [r._raw for r in dlq.collect()]
    assert len(bad_lines) == 2
    assert "not json at all" in bad_lines
