"""Keyed MERGE/upsert sink (streaming/upsert.py): last-writer-wins
semantics, replay idempotence, and the scale property that a batch
rewrites ONLY the hash buckets its keys touch."""

from __future__ import annotations

import os

from pyspark.sql import Row
from pyspark.sql import functions as F

from stock_trend_predictor_spark.streaming.upsert import (
    BUCKET_COL,
    read_upsert_table,
    upsert_batch,
    upsert_sink,
)

N_BUCKETS = 8


def _bucket_of(spark, key: str) -> int:
    return (
        spark.range(1)
        .select(F.pmod(F.xxhash64(F.lit(key)), F.lit(N_BUCKETS)))
        .first()[0]
    )


def _state(spark, target):
    return {
        r.k: (r.v, r.ver)
        for r in read_upsert_table(spark, target).collect()
    }


def test_upsert_merge_semantics(spark, tmp_path):
    target = str(tmp_path / "tbl")
    b1 = spark.createDataFrame(
        [Row(k="A", v="a1", ver=1), Row(k="B", v="b1", ver=1)]
    )
    upsert_batch(spark, b1, target, key="k", order_col="ver", n_buckets=N_BUCKETS)
    assert _state(spark, target) == {"A": ("a1", 1), "B": ("b1", 1)}

    # batch 2 updates B, inserts C, and carries an in-batch dup of C
    # where the higher-ver row must win
    b2 = spark.createDataFrame(
        [
            Row(k="B", v="b2", ver=2),
            Row(k="C", v="c1", ver=1),
            Row(k="C", v="c2", ver=2),
        ]
    )
    upsert_batch(spark, b2, target, key="k", order_col="ver", n_buckets=N_BUCKETS)
    assert _state(spark, target) == {
        "A": ("a1", 1),
        "B": ("b2", 2),
        "C": ("c2", 2),
    }

    # replaying the same batch is a no-op (restart between write and
    # checkpoint commit must be safe)
    upsert_batch(spark, b2, target, key="k", order_col="ver", n_buckets=N_BUCKETS)
    assert _state(spark, target) == {
        "A": ("a1", 1),
        "B": ("b2", 2),
        "C": ("c2", 2),
    }


def test_upsert_rewrites_only_touched_buckets(spark, tmp_path):
    """Dynamic partition overwrite must leave buckets the batch does
    not touch byte-identical — that's what bounds per-batch write cost
    at table scale — and must leave the session's overwrite mode as it
    found it."""
    mode_key = "spark.sql.sources.partitionOverwriteMode"
    mode = spark.conf.get(mode_key, None)
    target = str(tmp_path / "tbl")
    # pick keys guaranteed to land in different buckets
    ka, kb = "A", next(
        k
        for k in "BCDEFGHIJK"
        if _bucket_of(spark, k) != _bucket_of(spark, "A")
    )
    b1 = spark.createDataFrame(
        [Row(k=ka, v="a1", ver=1), Row(k=kb, v="b1", ver=1)]
    )
    upsert_batch(spark, b1, target, key="k", order_col="ver", n_buckets=N_BUCKETS)

    a_dir = os.path.join(target, f"{BUCKET_COL}={_bucket_of(spark, ka)}")
    before = {
        f: os.path.getmtime(os.path.join(a_dir, f))
        for f in os.listdir(a_dir)
        if f.endswith(".parquet")
    }
    assert before

    b2 = spark.createDataFrame([Row(k=kb, v="b2", ver=2)])
    upsert_batch(spark, b2, target, key="k", order_col="ver", n_buckets=N_BUCKETS)

    after = {
        f: os.path.getmtime(os.path.join(a_dir, f))
        for f in os.listdir(a_dir)
        if f.endswith(".parquet")
    }
    assert after == before  # untouched bucket: same files, same mtimes
    assert _state(spark, target)[kb] == ("b2", 2)
    assert spark.conf.get(mode_key, None) == mode


def test_upsert_sink_streaming(spark, tmp_path):
    """foreachBatch wiring: a file stream of updates lands as merged
    keyed state, exactly-once under the checkpoint."""
    src = tmp_path / "in"
    src.mkdir()
    target = str(tmp_path / "tbl")
    spark.createDataFrame(
        [Row(k="X", v="x1", ver=1), Row(k="X", v="x2", ver=2), Row(k="Y", v="y1", ver=1)]
    ).write.mode("append").parquet(str(src))

    stream = spark.readStream.schema("k string, v string, ver long").parquet(
        str(src)
    )
    q = upsert_sink(
        stream,
        target,
        checkpoint=str(tmp_path / "ckpt"),
        key="k",
        order_col="ver",
        n_buckets=N_BUCKETS,
    )
    q.awaitTermination(60)
    assert _state(spark, target) == {"X": ("x2", 2), "Y": ("y1", 1)}


def test_upsert_matches_dict_model_random_batches(spark, tmp_path):
    """Model-based check: applying any sequence of batches must leave
    the table equal to a driver-side dict replay (last-writer-wins by
    version, new-beats-old on ties). Catches ordering/tie bugs the
    fixed scenarios miss."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    key_st = st.sampled_from(["A", "B", "C", "D", "E"])
    ver_st = st.integers(min_value=0, max_value=9)

    batch_st = st.lists(
        st.tuples(key_st, ver_st), min_size=1, max_size=6, unique=True
    )

    case_id = [0]

    @settings(
        max_examples=5,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(batches=st.lists(batch_st, min_size=1, max_size=3))
    def run(batches):
        case_id[0] += 1
        target = str(tmp_path / f"tbl{case_id[0]}")
        model: dict[str, tuple[int, str]] = {}
        for bi, batch in enumerate(batches):
            rows = [
                Row(k=k, v=f"b{bi}:{k}:{ver}", ver=ver) for k, ver in batch
            ]
            upsert_batch(
                spark,
                spark.createDataFrame(rows),
                target,
                key="k",
                order_col="ver",
                n_buckets=N_BUCKETS,
            )
            for k, ver in batch:
                # new beats old on equal version; (k, ver) unique per
                # batch so the in-batch winner is well-defined
                if k not in model or ver >= model[k][0]:
                    model[k] = (ver, f"b{bi}:{k}:{ver}")
        got = {
            r.k: (r.ver, r.v)
            for r in read_upsert_table(spark, target).collect()
        }
        assert got == model

    run()
