"""Continuously maintained DSIR importance model — the streaming twin
of ``operators/dsir.py`` for the crawl-ingest shape where the target
and raw n-gram distributions must stay current as documents arrive,
without ever re-featurizing history.

State under the statestore protocol (operators/statestore.py):

- ``raw_counts`` / ``target_counts`` (bucket, cnt) — SNAPSHOTS: the
  Laplace-model sufficient statistics, <= n_buckets rows each
  (parameter-sized — the additive-sketch class, same as cms_sink);
- ``doc_buckets`` (doc_id, bucket, n) — APPEND segments: each doc's
  hashed-feature profile, written once on arrival (a doc's features
  never change), so scoring never re-reads text.

Per batch: featurize the new docs once (hashed unigrams + bigrams),
fold the bucket counts additively into both models, append the doc
profiles. ``read_dsir_weights`` then scores EVERY doc seen so far
against the CURRENT model: weight(doc) = sum_b n_b * lr(b), with the
per-bucket log-ratio cast to decimal BEFORE the multiply — decimal
n x lr equals lr summed n times exactly, so the fold's weights are
BIT-equal to the one-shot ``dsir_log_weights`` over the same corpus
(that is the registry oracle: ``dsir_incremental_weights`` shares
``dsir_importance_weights``'s full DuckDB oracle). Replayed batch ids
are skipped before any write or compute.

Scale shape: per-batch work is batch-sized (featurize + two <= B-row
count merges + one segment append); read-time scoring joins the
doc-profile segments against a broadcast <= B-row log-ratio table and
aggregates per doc — no window, no self-join, history text never
re-read.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from stock_trend_predictor_spark.functions.text import hash60
from stock_trend_predictor_spark.operators.statestore import (
    FoldLayout,
    begin_fold,
    commit_state,
    read_state_table,
)

N_BUCKETS = 2048

#: the fold's on-disk layout: two snapshot count tables and the
#: doc-profile segments, no bucketing and no format stamp.
DSIR_LAYOUT = FoldLayout(
    name="dsir",
    tables={"raw_counts": None, "target_counts": None, "doc_buckets": None},
)


def doc_bucket_profile(
    docs: DataFrame,
    n_buckets: int = N_BUCKETS,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id_col, bucket, n) — each document's hashed unigram+bigram
    feature counts (operators/dsir.py's featurization, pre-aggregated
    per doc so the stored profile is dense-bucket-bounded)."""
    toks = docs.select(id_col, F.split(text_col, " ").alias("ts"))
    feats = toks.select(
        id_col,
        F.explode(
            F.expr(
                "if(size(ts) < 0, null, concat(ts, "
                "if(size(ts) < 2, array(), "
                "transform(sequence(1, size(ts) - 1), "
                "i -> concat(try_element_at(ts, i), ' ', "
                "try_element_at(ts, i + 1))))))"
            )
        ).alias("f"),
    )
    return (
        feats.select(
            id_col, F.pmod(hash60("f"), F.lit(n_buckets)).alias("bucket")
        )
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


def _merge_counts(
    prev: DataFrame | None, delta: DataFrame
) -> DataFrame:
    if prev is None:
        return delta
    return (
        prev.unionByName(delta)
        .groupBy("bucket")
        .agg(F.sum("cnt").cast("bigint").alias("cnt"))
    )


def update_dsir_state(
    spark: SparkSession,
    batch: DataFrame,
    state_dir: str,
    batch_id: int,
    target: Column | None = None,
    n_buckets: int = N_BUCKETS,
) -> None:
    """Fold one arrival batch of documents (doc_id, text + the columns
    ``target`` reads) into the maintained DSIR model. ``target``
    defaults to ``lang = 'en'``.

    PRECONDITION — each doc_id arrives in exactly ONE batch. The fold
    is idempotent at batch-id granularity (replays skip), but a doc
    re-arriving in a LATER batch (re-crawl) would append a second
    doc_buckets profile and double-count in both hashed models.
    Upstream owns that contract: dedupe re-crawls before the sink
    (``streaming/ingest.py``'s dropDuplicates stage, or an exact-dedup
    pass keyed on doc_id/content digest). An anti-join against the
    accumulated doc_buckets here would re-read corpus-sized state per
    batch — exactly the O(corpus) per-commit IO this design exists to
    avoid — so the invariant is an input contract, not an inline
    check."""
    if begin_fold(DSIR_LAYOUT, state_dir, batch_id) is None:
        return
    if target is None:
        target = F.col("lang") == "en"
    flagged = batch.withColumn("__is_target", target).localCheckpoint(
        eager=True
    )
    profile = doc_bucket_profile(flagged, n_buckets).localCheckpoint(
        eager=True
    )
    is_t = flagged.select("doc_id", "__is_target")
    prof_t = profile.join(is_t, "doc_id")
    raw_delta = profile.groupBy("bucket").agg(
        F.sum("n").cast("bigint").alias("cnt")
    )
    tgt_delta = (
        prof_t.where(F.col("__is_target"))
        .groupBy("bucket")
        .agg(F.sum("n").cast("bigint").alias("cnt"))
    )
    raw = _merge_counts(
        read_state_table(spark, state_dir, "raw_counts"), raw_delta
    )
    tgt = _merge_counts(
        read_state_table(spark, state_dir, "target_counts"), tgt_delta
    )
    commit_state(
        state_dir,
        {"raw_counts": raw, "target_counts": tgt},
        batch_id=batch_id,
        appends={"doc_buckets": profile.select("doc_id", "bucket", "n")},
    )
    # the commit materialized every consumer — free this batch's
    # eager blocks (continuous sinks must hold batch-bounded storage)
    from stock_trend_predictor_spark.operators.checkpoints import (
        release_local_checkpoints,
    )

    release_local_checkpoints(flagged, profile)


def _score_profiles(
    prof: DataFrame,
    rb: DataFrame,
    tb: DataFrame | None,
    n_buckets: int,
) -> DataFrame:
    """(doc_id, n_feats, __s) — every stored doc profile scored
    against the (raw, target) Laplace bucket models. The shared
    scorer behind read_dsir_weights AND retarget_dsir_weights, so a
    retargeted score is bit-identical to what a fresh fold with that
    target would read."""
    tot = rb.agg(F.sum("cnt").alias("tr")).crossJoin(
        (tb if tb is not None else rb.limit(0)).agg(
            F.coalesce(F.sum("cnt"), F.lit(0)).alias("tt")
        )
    )
    smooth = F.lit(float(n_buckets))
    lr_tab = (
        rb.withColumnRenamed("cnt", "cnt_r")
        .join(
            (tb.withColumnRenamed("cnt", "cnt_t"))
            if tb is not None
            else rb.select("bucket", F.lit(None).alias("cnt_t")).limit(0),
            "bucket",
            "left",
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            (
                F.log(
                    (F.coalesce(F.col("cnt_t"), F.lit(0)) + 1)
                    / (F.col("tt") + smooth)
                )
                - F.log((F.col("cnt_r") + 1) / (F.col("tr") + smooth))
            ).alias("lr"),
        )
    )
    # decimal lr x integer n == lr summed n times exactly — the bridge
    # that makes the fold bit-equal to the per-instance one-shot sum
    return (
        prof.join(F.broadcast(lr_tab), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("n").cast("bigint").alias("n_feats"),
            F.sum(F.col("lr").cast("decimal(27,6)") * F.col("n"))
            .cast("double")
            .alias("__s"),
        )
    )


def read_dsir_weights(
    spark: SparkSession, state_dir: str, n_buckets: int = N_BUCKETS
) -> DataFrame | None:
    """(doc_id, n_feats, __s) for every document folded so far, scored
    against the CURRENT maintained model — the same contract as
    operators/dsir.py::dsir_log_weights (callers round/alias ``__s``).
    None pre-commit."""
    rb = read_state_table(spark, state_dir, "raw_counts")
    tb = read_state_table(spark, state_dir, "target_counts")
    prof = read_state_table(spark, state_dir, "doc_buckets")
    if rb is None or prof is None:
        return None
    return _score_profiles(prof, rb, tb, n_buckets)


def retarget_dsir_weights(
    spark: SparkSession,
    state_dir: str,
    target_flags: DataFrame,
    n_buckets: int = N_BUCKETS,
) -> DataFrame | None:
    """Re-score EVERY folded document against a NEW target slice
    WITHOUT re-reading or re-featurizing any text — the cheap-retarget
    property that makes the profile-segment design pay at corpus
    scale (featurization is the dominant cost of a DSIR pass; the
    stored ``doc_buckets`` profiles make a target change one
    parameter-sized re-aggregation + the normal scoring join).

    ``target_flags`` = (doc_id, __is_target boolean), ONE ROW PER
    DOC, for the docs that define the new slice (absent doc_ids count
    as non-target; a duplicated doc_id would double-count its profile
    in the rebuilt target model — same input contract as the fold's
    arrive-exactly-once precondition). The
    new target model is rebuilt from the STORED profiles of flagged
    docs, so the result is bit-identical to what a fresh fold with
    this target predicate would have maintained (law-tested; the
    registry query carries the one-shot DuckDB oracle for the
    retargeted slice). A corpus with ZERO flagged docs degrades to
    the finite pure-Laplace weights, same as the pre-target-arrival
    edge. None pre-commit."""
    rb = read_state_table(spark, state_dir, "raw_counts")
    prof = read_state_table(spark, state_dir, "doc_buckets")
    if rb is None or prof is None:
        return None
    flagged = target_flags.where(F.col("__is_target")).select("doc_id")
    tb = (
        prof.join(flagged, "doc_id")
        .groupBy("bucket")
        .agg(F.sum("n").cast("bigint").alias("cnt"))
    )
    return _score_profiles(prof, rb, tb, n_buckets)
