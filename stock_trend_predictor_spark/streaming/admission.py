"""Continuous near-dup admission — streaming MinHash dedup as a
checkpointed foreachBatch sink (SURVEY dedup family, streaming form).

The batch-side `dedup_incremental_batch` admits a document when its
exact digest is new; here the admission test is NEAR-dup: a document
is admitted only when none of its MinHash LSH band keys collides with
an already-admitted document's band keys. State (band-key set +
admitted keeper ids) rides operators/statestore.py's versioned-dir +
atomic-META commit protocol, so the at-least-once foreachBatch replay
is a no-op and a crash never exposes partial state.

Admission semantics (deterministic, set-oriented — no sequential scan
over the batch):

1. drop every batch doc sharing ANY band key with the committed state
   (near-dup of an already-admitted doc);
2. among the survivors, a doc is admitted iff it is the min doc_id on
   EVERY band key it carries. Docs beaten on one key are rejected for
   this batch even when their beater was itself rejected — a
   deliberately conservative one-pass election (a chain A~B~C admits
   only the min of each collision key; resolving the transitive
   closure exactly would be the connected-components operator, which
   exists batch-side as dedup_cluster_assignment). Rejected docs that
   were not true near-dups of any ADMITTED doc simply retry nothing —
   they are dropped, matching crawl-admission semantics where a
   suspected dup is cheap to refetch.

Because the rule is a pure function of (state, batch), the streaming
run over batches b0..bn equals the sequential batch-mode application
of `update_admission_state` over the same splits — the stream==batch
keeper-set parity law tested in tests/test_streaming.py.

At 100 TB: band keys shuffle as 8-byte strings (never text); the state
table is keys-of-admitted-docs only (corpus-dedup-rate × 8 rows per
doc); the per-batch join against state is a broadcast when state is
small and a co-partitioned SMJ once it is not. Reference parity: this
is the streaming twin the reference's one-shot scripts never had
(streaming_processing/features_engineering.py consumes ticks, not
documents; the dedup surface is engine-added per the north-star
LLM-pipeline scope).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stock_trend_predictor_spark.operators.dedup import (
    N_BANDS,
    band_key,
    minhash_signature,
    with_shingle_hashes,
)
from stock_trend_predictor_spark.operators.statestore import (
    commit_state,
    read_state_table,
)
from stock_trend_predictor_spark.streaming.ingest import start_foreach_batch


def band_keys_for(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """(doc_id, band_id, bkey) — one row per doc per LSH band."""
    sigs = with_shingle_hashes(docs, text_col=text_col).select(
        F.col(id_col).alias("doc_id"), minhash_signature("hs").alias("sig")
    )
    return sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("band_id"), band_key(m).alias("bkey")
                    )
                    for m in range(N_BANDS)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "b.band_id", "b.bkey")


def admit_batch(
    bkeys: DataFrame, state_keys: DataFrame | None
) -> tuple[DataFrame, DataFrame]:
    """Apply the two-stage admission rule. Returns (admitted doc ids,
    admitted docs' band keys)."""
    if state_keys is not None:
        colliding = (
            bkeys.join(
                F.broadcast(state_keys), ["band_id", "bkey"], "left_semi"
            )
            .select("doc_id")
            .distinct()
        )
        cand = bkeys.join(colliding, "doc_id", "left_anti")
    else:
        cand = bkeys
    per_key_min = cand.groupBy("band_id", "bkey").agg(
        F.min("doc_id").alias("mn")
    )
    beaten = (
        cand.join(per_key_min, ["band_id", "bkey"])
        .where(F.col("doc_id") != F.col("mn"))
        .select("doc_id")
        .distinct()
    )
    admitted_ids = (
        cand.select("doc_id").distinct().join(beaten, "doc_id", "left_anti")
    )
    admitted_keys = cand.join(admitted_ids, "doc_id", "left_semi")
    return admitted_ids, admitted_keys


def update_admission_state(
    spark: SparkSession,
    batch_docs: DataFrame,
    state_dir: str,
    batch_id: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """One admission round: batch in, state (keys + keepers) out via
    the idempotent commit protocol."""
    bkeys = band_keys_for(batch_docs, id_col=id_col, text_col=text_col)
    state_keys = read_state_table(spark, state_dir, "keys")
    admitted_ids, admitted_keys = admit_batch(bkeys, state_keys)

    new_keys = admitted_keys.select("band_id", "bkey").distinct()
    if state_keys is not None:
        new_keys = state_keys.unionByName(new_keys).distinct()
    keepers = admitted_ids
    prev_keepers = read_state_table(spark, state_dir, "keepers")
    if prev_keepers is not None:
        keepers = prev_keepers.unionByName(keepers)
    commit_state(
        state_dir, {"keys": new_keys, "keepers": keepers}, batch_id=batch_id
    )


def minhash_admission_sink(
    doc_stream: DataFrame,
    state_dir: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Continuous near-dup admission: each micro-batch's novel docs
    join the keeper set; replays are skipped by batch id."""

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        update_admission_state(
            batch.sparkSession, batch, state_dir, batch_id=batch_id,
            id_col=id_col, text_col=text_col,
        )

    return start_foreach_batch(doc_stream, write_batch, checkpoint)


def read_admitted(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """The committed keeper set (doc ids admitted so far)."""
    return read_state_table(spark, state_dir, "keepers")


# ---------------------------------------------------------------------
# Exact-substring admission: the streaming twin of dup_span_detection
# (plans/span_queries.py) on the same idempotent state store.
# ---------------------------------------------------------------------

#: A document is rejected when more than this fraction of its tokens
#: sits inside spans whose every K_SPAN-gram is already owned by the
#: admitted corpus (or by a lower-id doc in the same batch).
SPAN_DUP_THRESHOLD = 0.5


def span_admit_batch(
    docs: DataFrame,
    state_grams: DataFrame | None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """One substring-admission election. Returns (admitted doc ids
    with their dup stats, admitted docs' distinct gram hashes).

    Deterministic pure function of (state, batch), like admit_batch:
    a gram position of doc d is DUPLICATED when its 60-bit hash is in
    the committed gram state, or a lower doc_id in the same batch
    carries the same gram (min-id ownership — internal repeats within
    one doc do NOT count against it). Duplicated positions merge into
    maximal spans exactly as the batch operator does (gaps-and-islands
    at distance K_SPAN), and the doc is admitted iff
    dup_tokens / n_tokens <= SPAN_DUP_THRESHOLD.

    Scale shape: only (doc_id, pos, 60-bit hash) triples shuffle —
    text never moves after hashing, same contract as the batch pass;
    the state join is hash-keyed and AQE-broadcast while the gram
    state is small.
    """
    from stock_trend_predictor_spark.plans.span_queries import (
        K_SPAN,
        gram_positions,
        merge_spans,
    )

    base = docs.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    )
    ntok = base.select(
        "doc_id", F.size(F.split("text", " ")).cast("bigint").alias("n_tokens")
    )
    grams = gram_positions(base)
    owner = grams.groupBy("h").agg(F.min("doc_id").alias("_own"))
    flagged = grams.join(owner, "h")
    if state_grams is not None:
        flagged = flagged.join(
            state_grams.select("h", F.lit(1).alias("_st")), "h", "left"
        )
    else:
        flagged = flagged.withColumn("_st", F.lit(None).cast("int"))
    dup_pos = flagged.where(
        (F.col("_own") < F.col("doc_id")) | F.col("_st").isNotNull()
    ).select("doc_id", "pos")
    per_doc = (
        merge_spans(dup_pos, k=K_SPAN)
        .groupBy("doc_id")
        .agg(F.sum("span_tokens").alias("dup_tokens"))
    )
    stats = (
        ntok.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("dup_tokens", F.lit(0).cast("bigint")).alias(
                "dup_tokens"
            ),
        )
        .withColumn(
            "dup_fraction",
            F.col("dup_tokens").cast("double") / F.col("n_tokens"),
        )
    )
    admitted = stats.where(
        F.col("dup_fraction") <= F.lit(SPAN_DUP_THRESHOLD)
    )
    admitted_grams = (
        grams.join(admitted.select("doc_id"), "doc_id", "left_semi")
        .select("h")
        .distinct()
    )
    return admitted, admitted_grams


def update_span_admission_state(
    spark: SparkSession,
    batch_docs: DataFrame,
    state_dir: str,
    batch_id: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """One substring-admission round: batch in, state (gram hashes +
    keepers) out via the idempotent commit protocol — replayed batch
    ids are no-ops, a crash never exposes partial state."""
    state_grams = read_state_table(spark, state_dir, "grams")
    admitted, admitted_grams = span_admit_batch(
        batch_docs, state_grams, id_col=id_col, text_col=text_col
    )
    new_grams = admitted_grams
    if state_grams is not None:
        new_grams = state_grams.unionByName(new_grams).distinct()
    keepers = admitted.select("doc_id")
    prev_keepers = read_state_table(spark, state_dir, "keepers")
    if prev_keepers is not None:
        keepers = prev_keepers.unionByName(keepers)
    commit_state(
        state_dir,
        {"grams": new_grams, "keepers": keepers},
        batch_id=batch_id,
    )


def span_admission_sink(
    doc_stream: DataFrame,
    state_dir: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Continuous exact-substring admission: each micro-batch is gated
    on its duplicated-token fraction against the admitted corpus."""

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        update_span_admission_state(
            batch.sparkSession, batch, state_dir, batch_id=batch_id,
            id_col=id_col, text_col=text_col,
        )

    return start_foreach_batch(doc_stream, write_batch, checkpoint)
