"""Multimodal-column queries: binary payload metadata extraction via
Arrow-batched mapInPandas, oracle-checked end-to-end (the fake decode
kernel is md5-derived, so DuckDB reproduces it in SQL)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stock_trend_predictor_spark.operators.multimodal import (
    attach_payload,
    decode_metadata,
    probe_audio,
    sample_frames,
    thumbnail_dims,
)
from stock_trend_predictor_spark.sources.tables import load_table


def _register():
    from stock_trend_predictor_spark.plans.registry import register

    @register(
        "multimodal_decode_metadata",
        oracle="""
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS payload_md5,
       CAST(CAST(('0x' || substr(md5(text), 1, 4)) AS INTEGER) % 1024 + 1 AS INTEGER) AS width,
       CAST(CAST(('0x' || substr(md5(text), 5, 4)) AS INTEGER) % 1024 + 1 AS INTEGER) AS height,
       CAST(CAST(('0x' || substr(md5(text), 9, 4)) AS INTEGER) % 64 + 1 AS INTEGER) AS n_frames
FROM documents
""",
        doc="Multimodal metadata extraction: BinaryType payload → "
        "mapInPandas (Arrow-batched) decode stub → typed metadata. "
        "The Python decode kernel is md5-derived and deterministic, so "
        "the whole Arrow round-trip is oracle-checked. Real codecs "
        "would replace fake_decode (operators/multimodal.py) 1:1.",
    )
    def multimodal_decode_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        return decode_metadata(attach_payload(docs))

    @register(
        "multimodal_frame_sample",
        oracle="""
WITH decoded AS (
    SELECT doc_id,
           md5(text) AS payload_md5,
           CAST(CAST(('0x' || substr(md5(text), 1, 4)) AS INTEGER) % 1024 + 1 AS INTEGER) AS width,
           CAST(CAST(('0x' || substr(md5(text), 5, 4)) AS INTEGER) % 1024 + 1 AS INTEGER) AS height,
           CAST(CAST(('0x' || substr(md5(text), 9, 4)) AS INTEGER) % 64 + 1 AS INTEGER) AS n_frames
    FROM documents
)
SELECT doc_id,
       CAST(f.f AS INTEGER) AS frame_idx,
       md5(payload_md5 || '_' || CAST(f.f AS VARCHAR)) AS frame_fingerprint,
       CAST(greatest(1, floor(width * 256.0 / greatest(width, height))) AS INTEGER) AS thumb_w,
       CAST(greatest(1, floor(height * 256.0 / greatest(width, height))) AS INTEGER) AS thumb_h
FROM decoded, unnest(range(0, n_frames, 7)) f(f)
""",
        doc="Frame sampling + resize planning over decoded video "
        "metadata: every-7th frame index via a narrow explode "
        "(co-partitioned with the payload — where a real ffmpeg "
        "mapInPandas kernel would extract frames), aspect-preserving "
        "256px thumbnail dims as pure integer expressions. The decode "
        "stub is md5-deterministic so the whole pipeline is "
        "oracle-checked.",
    )
    def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        decoded = thumbnail_dims(decode_metadata(attach_payload(docs)))
        frames = sample_frames(
            decoded.select(
                "doc_id", "payload_md5", "n_frames", "thumb_w", "thumb_h"
            )
        )
        return frames.select(
            "doc_id", "frame_idx", "frame_fingerprint", "thumb_w", "thumb_h"
        )

    @register(
        "multimodal_audio_probe",
        oracle="""
WITH rates(i, r) AS (VALUES (0, 8000), (1, 16000), (2, 22050),
                            (3, 44100), (4, 48000)),
probed AS (
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           (SELECT r FROM rates
            WHERE i = CAST(('0x' || substr(md5(text), 1, 4)) AS INTEGER) % 5)
             AS sample_rate,
           CAST(('0x' || substr(md5(text), 5, 8)) AS BIGINT) % 10000000 + 1
             AS n_samples
    FROM documents
)
SELECT doc_id, n_bytes, CAST(sample_rate AS INTEGER) AS sample_rate,
       n_samples,
       n_samples * 1000 // sample_rate AS duration_ms
FROM probed
""",
        doc="Audio header probe: BinaryType payload -> mapInPandas "
        "(Arrow-batched) ffprobe-style stub -> sample rate / sample "
        "count / duration. Same plumbing as the image decode, "
        "audio-shaped; a real soundfile/ffprobe call replaces "
        "fake_probe_audio 1:1 (operators/multimodal.py).",
    )
    def multimodal_audio_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        return probe_audio(attach_payload(docs))

    @register(
        "multimodal_size_profile",
        oracle="""
SELECT CAST(octet_length(encode(text)) // 100 AS BIGINT) AS size_bucket_100b,
       count(*) AS n_payloads,
       CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
       CAST(min(octet_length(encode(text))) AS BIGINT) AS min_bytes,
       CAST(max(octet_length(encode(text))) AS BIGINT) AS max_bytes
FROM documents
GROUP BY 1
""",
        doc="Payload size profiling over the binary column — the "
        "storage-planning rollup of a media pipeline (pure expression, "
        "no decode).",
    )
    def multimodal_size_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        payload_len = F.octet_length(F.encode("text", "UTF-8")).cast("bigint")
        return (
            docs.select(payload_len.alias("pl"))
            .groupBy(F.floor(F.col("pl") / 100).cast("bigint").alias("size_bucket_100b"))
            .agg(
                F.count(F.lit(1)).alias("n_payloads"),
                F.sum("pl").cast("bigint").alias("total_bytes"),
                F.min("pl").cast("bigint").alias("min_bytes"),
                F.max("pl").cast("bigint").alias("max_bytes"),
            )
        )

    @register(
        "dedup_multimodal_phash",
        oracle="""
WITH hashed AS (
    SELECT doc_id,
           xor(CAST(('0x' || substr(md5(substr(text, 1, 32)), 1, 15))
                    AS BIGINT),
               doc_id % 4) AS phash
    FROM documents
), bands AS (
    SELECT doc_id, phash, i, (phash >> (15 * i)) & 32767 AS band_val
    FROM hashed, unnest([0, 1, 2, 3]) AS t(i)
), cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                    a.phash AS ph_a, b.phash AS ph_b
    FROM bands a
    JOIN bands b
      ON a.i = b.i AND a.band_val = b.band_val AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(ph_a, ph_b)) AS INTEGER) AS hamming
FROM cand
WHERE bit_count(xor(ph_a, ph_b)) <= 2
""",
        doc="Near-duplicate media detection by perceptual hash: the "
        "image-dedup analogue of dedup_minhash_lsh. The 60-bit pHash "
        "(Arrow mapInPandas kernel, operators/multimodal.py::"
        "perceptual_hash — a deterministic surrogate for the DCT "
        "hash, honestly stubbed) is banded into 4x15-bit LSH buckets; "
        "only (band, value) keys shuffle — never payloads — and "
        "hamming <= 2 verification via bit_count(xor) runs on the "
        "candidate pairs alone. Same discipline as the text LSH path: "
        "linear in the corpus, quadratic only within a bucket, and "
        "any hamming-2 pair is caught because the 2 noise bits can "
        "corrupt at most 2 of the 4 bands (pigeonhole guarantee).",
    )
    def dedup_multimodal_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
        from stock_trend_predictor_spark.operators.multimodal import (
            PHASH_BAND_BITS,
            PHASH_BANDS,
            perceptual_hash,
        )

        docs = load_table(spark, sf_dir, "documents")
        hashed = perceptual_hash(attach_payload(docs))
        bands = hashed.select(
            "doc_id",
            "phash",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("i"),
                            F.shiftright("phash", PHASH_BAND_BITS * i)
                            .bitwiseAND(F.lit(32767))
                            .alias("band_val"),
                        )
                        for i in range(PHASH_BANDS)
                    ]
                )
            ).alias("b"),
        ).select("doc_id", "phash", "b.i", "b.band_val")
        a = bands.alias("a")
        b = bands.alias("b")
        cand = (
            a.join(
                b,
                (F.col("a.i") == F.col("b.i"))
                & (F.col("a.band_val") == F.col("b.band_val"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                F.col("a.phash").alias("ph_a"),
                F.col("b.phash").alias("ph_b"),
            )
            .distinct()
        )
        hamming = F.bit_count(F.expr("ph_a ^ ph_b"))
        return cand.where(hamming <= 2).select(
            "doc_a", "doc_b", hamming.cast("int").alias("hamming")
        )

    from stock_trend_predictor_spark.plans.registry import REGISTRY

    @register(
        "phash_incremental_pairs",
        # the fold's pair union is a PURE FUNCTION of the arrival set
        # (the pigeonhole blocking is deterministic and a pair is
        # discovered exactly when its later member lands), so the
        # one-shot's full value-hash oracle applies VERBATIM — the
        # neardup_incremental_pairs oracle-sharing pattern extended
        # to the multimodal tier (r8 verdict #7).
        oracle=REGISTRY["dedup_multimodal_phash"].oracle,
        doc="CONTINUOUSLY MAINTAINED multimodal near-dup — the "
        "streaming twin of dedup_multimodal_phash: documents arrive "
        "in three deterministic batches (doc_id %% 3), each batch "
        "pHashes its own payloads once (Arrow mapInPandas kernel), "
        "folds its 4x15-bit band rows into the hash-bucketed pbands "
        "index (streaming/phash_maintenance.py), probes NEW-vs-"
        "accumulated band buckets through the mega-bucket-capped "
        "join (neardup_maintenance._probe_candidates — pair-set "
        "identity at any cap), and verifies candidates at exact "
        "bit_count(xor) <= 2 against the PRUNED phash store (the "
        "candidates' doc buckets only). Yesterday's payloads are "
        "never re-hashed or re-banded; per-commit write IO is "
        "batch-sized (three append segments), probe/verify READ IO "
        "prunes to touched buckets past the adaptive threshold. "
        "Laws (stream==batch on two splits, order invariance, replay "
        "idempotence, capped identity, pruned-read capture, write-IO "
        "boundedness, rebucket/compaction identity, format guard) in "
        "tests/test_round9.py.",
    )
    def phash_incremental_pairs(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        from stock_trend_predictor_spark.operators.checkpoints import (
            materialize_then_cleanup,
            scratch_state_dir,
        )

        from stock_trend_predictor_spark.operators.multimodal import (
            perceptual_hash,
        )
        from stock_trend_predictor_spark.streaming.phash_maintenance import (
            read_phash_pairs,
            update_phash_state,
        )

        docs = load_table(spark, sf_dir, "documents")
        state_dir = scratch_state_dir("phash-inc", sf_dir)
        for i in range(3):
            batch = perceptual_hash(
                attach_payload(docs.where(F.col("doc_id") % 3 == i))
            ).select("doc_id", "phash")
            update_phash_state(spark, batch, state_dir, batch_id=i)
        pairs = read_phash_pairs(spark, state_dir).select(
            "doc_a", "doc_b", "hamming"
        )
        return materialize_then_cleanup(pairs, state_dir)


_register()
