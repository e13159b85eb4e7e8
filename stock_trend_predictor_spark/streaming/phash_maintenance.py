"""Continuously maintained multimodal (perceptual-hash) near-dup on
the idempotent state store — the streaming twin of
``dedup_multimodal_phash`` (plans/multimodal_queries.py), extending
the maintained-curation family to the MULTIMODAL tier (r8 verdict
#7): a live media ingest must surface hamming-near-duplicate payloads
without re-hashing or re-banding yesterday's corpus per batch.

The one-shot's 4x15-bit pHash bands ARE LSH bands, so the near-dup
fold's machinery applies verbatim — ``_probe_candidates`` (the
mega-bucket-capped new-vs-index band join) with exact Hamming
verification replacing the Jaccard verify. Like the text fold, the
pigeonhole guarantee (hamming <= 2 corrupts at most 2 of 4 bands)
is a property of the BLOCKING, which is deterministic — so the folded
pair set is a PURE FUNCTION of the arrival set and the registry query
(``phash_incremental_pairs``) shares dedup_multimodal_phash's full
DuckDB value-hash oracle VERBATIM.

State = three APPEND tables (operators/statestore.py):

- ``pbands``  (doc_id, band_id, bkey, bucket) — the accumulated band
  index, ``bucket = pmod(xxhash64(band_id, bkey), P)``: per-batch
  deltas land plain (LSM hot writes), compaction rewrites
  directory-partitioned on ``bucket``, probe reads prune to the
  BATCH's bucket set past the adaptive threshold;
- ``phashes`` (doc_id, phash, bucket) — the 60-bit hashes for exact
  Hamming verification, bucketed on ``pmod(xxhash64(doc_id), P)``
  for by-candidate point lookups (the shingle-store role);
- ``pairs``   (found_in_batch, doc_a, doc_b, hamming) — every
  verified pair, stamped with the batch that DISCOVERED it. A pair
  is discovered exactly once — when its later-arriving member lands
  (the new side of that batch's probe meets the earlier member in
  the shared band bucket; intra-batch pairs surface immediately) —
  so the union over batches equals the one-shot pair set, and the
  Hamming distance is a pure function of the two stored hashes.

The tables, their bucket columns, the format stamp and the pin are
declared once, in :data:`PHASH_LAYOUT` (operators/statestore.py,
fold layouts).

Per batch (update_phash_state): band the batch's hashes once; probe
new-vs-(index ∪ batch) through the capped band join; verify at
bit_count(xor) <= 2 over the PRUNED phash read (candidates' doc
buckets only); append all three deltas in one atomic META-swap
commit. Replayed batch ids skip before any compute; eager
intermediates release post-commit (operators/checkpoints.py).

PRECONDITION (the fold-family contract): each doc_id arrives in
exactly one batch — re-crawls dedupe upstream.

Laws in tests/test_round9.py: stream == batch (union of emitted
pairs == dedup_multimodal_phash's pair set) on mod-3 and front/back
splits with pruning forced, arrival-order invariance, replay
idempotence, capped-probe pair identity, pruned-read filter capture
(bands to the batch's buckets, phashes to the candidates' buckets),
per-commit write IO batch-bounded, rebucket identity, compaction
read-identity, checkpoint-release accounting, and the format guard.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stock_trend_predictor_spark.operators.checkpoints import (
    release_local_checkpoints,
)
from stock_trend_predictor_spark.operators.statestore import (
    PRUNE_MIN_BYTES,
    FoldLayout,
    begin_fold,
    bucket_filter,
    commit_fold,
    read_state_table,
    rebucket_fold,
)
from stock_trend_predictor_spark.streaming.ingest import start_foreach_batch
from stock_trend_predictor_spark.streaming.neardup_maintenance import (
    _probe_candidates,
)

#: default on-disk hash-bucket count (bands on (band_id, bkey),
#: phashes on doc_id) — pinned per fold in META's app dict; grow via
#: :func:`rebucket_phash_state` (the sanctioned override).
N_PHASH_BUCKETS = 64

#: verified-pair Hamming ceiling — dedup_multimodal_phash's 2.
MAX_HAMMING = 2

#: the fold's on-disk layout (module docstring).
PHASH_LAYOUT = FoldLayout(
    name="phash",
    tables={
        "pbands": ("bucket", ("band_id", "bkey")),
        "phashes": ("bucket", ("doc_id",)),
        "pairs": None,
    },
    format_key="phash_format",
    version=1,
    p_key="n_phash_buckets",
    p_default=N_PHASH_BUCKETS,
)


def phash_bands(hashed: DataFrame) -> DataFrame:
    """(doc_id, band_id, bkey) — the 4x15-bit LSH band rows for
    documents carrying a 60-bit ``phash``
    (dedup_multimodal_phash's exact banding: band i =
    (phash >> 15i) & 0x7FFF). One exploded struct array, no
    per-band shuffle — the doc_bands shape."""
    from stock_trend_predictor_spark.operators.multimodal import (
        PHASH_BAND_BITS,
        PHASH_BANDS,
    )

    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band_id"),
                F.shiftright("phash", PHASH_BAND_BITS * i)
                .bitwiseAND(F.lit(32767))
                .cast("bigint")
                .alias("bkey"),
            )
            for i in range(PHASH_BANDS)
        ]
    )
    return hashed.select("doc_id", F.explode(bands).alias("b")).select(
        "doc_id",
        F.col("b.band_id").alias("band_id"),
        F.col("b.bkey").alias("bkey"),
    )


def update_phash_state(
    spark: SparkSession,
    batch: DataFrame,
    state_dir: str,
    batch_id: int,
    n_buckets: int = N_PHASH_BUCKETS,
    bucket_cap: int | None = None,
    compact_every: int | None = None,
    prune_min_bytes: int = PRUNE_MIN_BYTES,
) -> None:
    """Fold one arrival batch of (doc_id, phash) into the maintained
    multimodal near-dup state. Idempotent: replayed batch ids skip
    before any compute. ``bucket_cap`` is the mega-bucket probe guard
    (neardup_maintenance._probe_candidates — pair-set identity at any
    cap); ``compact_every=N`` runs the statestore OPTIMIZE after each
    Nth batch."""
    entry = begin_fold(PHASH_LAYOUT, state_dir, batch_id, n_buckets)
    if entry is None:
        return
    meta, p = entry
    cps: list[DataFrame] = []  # eager frames to release post-commit
    new = batch.select("doc_id", "phash").localCheckpoint(eager=True)
    cps.append(new)
    # banding feeds the bucket-set collect, the probe join, and the
    # segment write — eager once (the fold-family discipline)
    new_bands = PHASH_LAYOUT.with_bucket(
        "pbands", phash_bands(new), p
    ).localCheckpoint(eager=True)
    cps.append(new_bands)
    new_ph = PHASH_LAYOUT.with_bucket("phashes", new, p)
    # ADAPTIVE pruned probe read: only the batch's band buckets once
    # the index outgrows the threshold
    band_filter = bucket_filter(
        PHASH_LAYOUT, "pbands", p, new_bands, state_dir, meta,
        prune_min_bytes,
    )
    prev_bands = read_state_table(
        spark, state_dir, "pbands", partition_filter=band_filter
    )
    all_bands = (
        new_bands
        if prev_bands is None
        else prev_bands.unionByName(new_bands)
    )
    # candidates: a NEW doc shares a band with ANY doc folded so far
    # (pairs with both members old cannot appear — nothing is ever
    # re-discovered). Eager: the verify join and the doc-bucket
    # pruning both consume it.
    cand = _probe_candidates(
        new_bands.drop("bucket"), all_bands.drop("bucket"), bucket_cap
    ).localCheckpoint(eager=True)
    cps.append(cand)
    # ADAPTIVE pruned verify read: only the candidates' doc buckets
    ph_filter = bucket_filter(
        PHASH_LAYOUT, "phashes", p,
        cand.select(F.explode(F.array("doc_a", "doc_b")).alias("doc_id")),
        state_dir, meta, prune_min_bytes,
    )
    prev_ph = read_state_table(
        spark, state_dir, "phashes", partition_filter=ph_filter
    )
    all_ph = (
        new_ph if prev_ph is None else prev_ph.unionByName(new_ph)
    ).drop("bucket")
    a = all_ph.select(
        F.col("doc_id").alias("doc_a"), F.col("phash").alias("ph_a")
    )
    b = all_ph.select(
        F.col("doc_id").alias("doc_b"), F.col("phash").alias("ph_b")
    )
    hamming = F.bit_count(F.expr("ph_a ^ ph_b"))
    new_pairs = (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .where(hamming <= MAX_HAMMING)
        .select(
            F.lit(int(batch_id)).alias("found_in_batch"),
            "doc_a",
            "doc_b",
            hamming.cast("int").alias("hamming"),
        )
    )
    commit_fold(
        spark,
        PHASH_LAYOUT,
        state_dir,
        batch_id,
        {"pbands": new_bands, "phashes": new_ph, "pairs": new_pairs},
        p,
        compact_every,
    )
    # free this batch's eager blocks — continuous sinks hold
    # batch-bounded storage
    release_local_checkpoints(*cps)


def rebucket_phash_state(
    spark: SparkSession, state_dir: str, new_p: int
) -> bool:
    """Grow (or shrink) the fold's pinned bucket count
    (statestore.rebucket_fold): both bucketed tables rewrite under the
    new P and ``n_phash_buckets`` re-pins in ONE atomic META swap."""
    return rebucket_fold(spark, PHASH_LAYOUT, state_dir, new_p)


def read_phash_pairs(
    spark: SparkSession, state_dir: str
) -> DataFrame | None:
    """Every verified hamming-near-dup pair discovered so far with its
    discovery batch, or None pre-commit."""
    return read_state_table(spark, state_dir, "pairs")


def phash_maintenance_sink(
    doc_stream: DataFrame, state_dir: str, checkpoint: str
):
    """Continuous multimodal near-dup discovery over a document
    stream carrying (doc_id, text) payload surrogates — hashing
    happens per batch (operators/multimodal.perceptual_hash)."""

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        from stock_trend_predictor_spark.operators.multimodal import (
            attach_payload,
            perceptual_hash,
        )

        update_phash_state(
            batch.sparkSession,
            perceptual_hash(attach_payload(batch)).select(
                "doc_id", "phash"
            ),
            state_dir,
            batch_id=batch_id,
        )

    return start_foreach_batch(doc_stream, write_batch, checkpoint)
