"""Incremental rollup maintenance (operators/incremental_agg.py):
merge law under arbitrary batch splits, persisted-state updates that
leave committed files untouched, read-back equivalence, and a
replayed streaming batch counted once."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from stock_trend_predictor_spark.operators.incremental_agg import (
    daily_partials,
    finalize,
    merge_partials,
    read_rollup,
    update_rollup_state,
)
from stock_trend_predictor_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(map(tuple, df.collect()), key=str)


def test_merge_law_arbitrary_split(spark):
    """partial(A ∪ B ∪ C) == merge(partial(A), partial(B), partial(C))
    for a split that slices WITHIN days and keys (parity of event_id —
    the least convenient split possible)."""
    ev = load_table(spark, SF_DIR, "events")
    full = finalize(daily_partials(ev, key="event_type"))
    parts = [
        daily_partials(
            ev.where(F.col("event_id") % 3 == i), key="event_type"
        )
        for i in range(3)
    ]
    inc = finalize(merge_partials(*parts))
    assert _rows(inc) == _rows(full)  # bit-identical


def test_state_update_touches_only_batch_days(spark, tmp_path):
    """A second batch writes only its own partials: every file the
    first commit wrote stays at the same path with the same mtime."""
    state = str(tmp_path / "state")
    ev = load_table(spark, SF_DIR, "events")
    b1 = ev.where(F.col("ts") < F.lit("2024-01-10").cast("timestamp"))
    b2 = ev.where(F.col("ts") >= F.lit("2024-01-10").cast("timestamp"))

    def segment_files():
        root = os.path.join(state, "seg-partials")
        return {
            os.path.join(d, f): os.path.getmtime(os.path.join(d, f))
            for d, _, files in os.walk(root)
            for f in files
        }

    update_rollup_state(spark, b1, state, key="event_type", batch_id=0)
    first = segment_files()
    assert first

    update_rollup_state(spark, b2, state, key="event_type", batch_id=1)
    after = segment_files()
    assert {f: after.get(f) for f in first} == first
    assert len(after) > len(first)

    # read-back equals the one-shot rollup
    full = finalize(daily_partials(ev, key="event_type"))
    assert _rows(read_rollup(spark, state)) == _rows(full)


def test_overlapping_day_batches_merge_not_replace(spark, tmp_path):
    """Two batches hitting the SAME day must accumulate (merge), not
    overwrite — the monoid, not last-writer-wins."""
    state = str(tmp_path / "state")
    ev = load_table(spark, SF_DIR, "events")
    for i in range(2):
        update_rollup_state(
            spark,
            ev.where(F.col("event_id") % 2 == i),
            state,
            key="event_type",
        )
    full = finalize(daily_partials(ev, key="event_type"))
    assert _rows(read_rollup(spark, state)) == _rows(full)


def test_rollup_sink_streaming_equals_batch(spark, tmp_path):
    """The streaming materialized view (file stream -> foreachBatch
    partial-merge) must equal the one-shot batch rollup of the same
    data once the stream drains."""
    from stock_trend_predictor_spark.operators.incremental_agg import (
        rollup_sink,
    )

    src = tmp_path / "in"
    src.mkdir()
    state = str(tmp_path / "state")
    ev = load_table(spark, SF_DIR, "events").select(
        "event_type", "ts", "value"
    )
    # several input files so availableNow processes multiple batches
    ev.repartition(4).write.mode("append").parquet(str(src))

    stream = spark.readStream.schema(
        "event_type string, ts timestamp, value double"
    ).option("maxFilesPerTrigger", 1).parquet(str(src))
    q = rollup_sink(
        stream,
        state,
        checkpoint=str(tmp_path / "ckpt"),
        key="event_type",
    )
    q.awaitTermination(120)

    full = finalize(daily_partials(ev, key="event_type"))
    assert _rows(read_rollup(spark, state)) == _rows(full)

    # Un-commit the last batch in the checkpoint, as a crash between
    # the sink's commit and Spark's would: the restarted query replays
    # that batch with the same id and rows, and the rollup must not
    # count it twice.
    commits = tmp_path / "ckpt" / "commits"
    last = max(int(p.name) for p in commits.iterdir() if p.name.isdigit())
    (commits / str(last)).unlink()
    (commits / f".{last}.crc").unlink()
    q = rollup_sink(
        stream,
        state,
        checkpoint=str(tmp_path / "ckpt"),
        key="event_type",
    )
    q.awaitTermination(120)
    assert [p["batchId"] for p in q.recentProgress] == [last]
    assert _rows(read_rollup(spark, state)) == _rows(full)
