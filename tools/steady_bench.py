"""Steady-state fold measurement: the cost of folding ONE small batch
into an EXISTING index, at 1x vs 30x index size — the number the
birth rows (SCALE.md's whole-corpus re-folds) cannot show and the
fold family's central claim: per-batch cost tracks the BATCH, not the
index.

For each maintained fold (near-dup, decontamination, DSIR, budget
admission, SemDeDup, kNN graph, BM25 index — the complete family),
this builds the fold state over the sf0.1 tables (``SRC``) and over a
30x replica of them at $SCALEUP_DST (copied 30 times with shifted
keys; its builder, tools/scaleup.py, left the tree with the legacy
bench stack and is in the git history), then times ONE fold
of the SAME fixed 16-item batch into each and reports the commit's
write bytes (META segment diff — the write-IO law's method). The
batch items are real corpus items with remapped ids, so they are
near-duplicates of existing content and exercise the merge paths
(label revisions / toplist revisions), not just appends.

Usage:
    python tools/steady_bench.py         # prints the markdown table
    STEADY_PRUNE0=1 python tools/steady_bench.py   # ENGAGED pruned
        # regime (r8 verdict #1): every adaptive read is forced to
        # prune (prune_min_bytes=0) regardless of state size, so the
        # +16 walls measure the bucket-pruned read path the 100 TB
        # story depends on, not the below-threshold full scans the
        # r8 table mostly timed.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, "/root/repo")

SRC = "/root/testdata/sf0.1"
DST = os.environ.get("SCALEUP_DST", "/tmp/scaleup30")
#: probe-batch size — override to measure the BATCH-scaling axis of
#: the steady-state claim (cost tracks the batch): e.g.
#: STEADY_BATCH=160 re-times every fold folding a +160 batch into the
#: same 1x/30x indexes (r9 — the +16 column alone shows cost is flat
#: in INDEX size; the batch axis shows it scales with the BATCH).
BATCH = int(os.environ.get("STEADY_BATCH", "16"))
NEW_ID_BASE = 10**14

#: ENGAGED pruned regime: force every adaptive state read to prune.
PRUNE0 = os.environ.get("STEADY_PRUNE0") == "1"
#: kwargs for folds whose update takes the adaptive threshold.
_PK = {"prune_min_bytes": 0} if PRUNE0 else {}


def _get_spark():
    from stock_trend_predictor_spark import get_spark

    spark = get_spark(
        app_name="steady-bench",
        master="local[32]",
        shuffle_partitions=32,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.driver.memory": "16g",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _dir_bytes(p: str) -> int:
    total = 0
    for root, _, files in os.walk(p):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def _commit_bytes(state_dir: str, before: dict | None, after: dict) -> int:
    bseg = before.get("segments", {}) if before else {}
    written = 0
    for t, segs in after.get("segments", {}).items():
        for s in segs:
            if s not in bseg.get(t, []):
                written += _dir_bytes(os.path.join(state_dir, s))
    return written


def _vectors(spark, sf_dir):
    from pyspark.sql import functions as F

    from stock_trend_predictor_spark.operators.similarity import as_double
    from stock_trend_predictor_spark.sources.tables import (
        load_table,
        materialize_once,
    )

    return materialize_once(
        load_table(spark, sf_dir, "embeddings")
        .repartition(spark.sparkContext.defaultParallelism)
        .select("vec_id", as_double("embedding").alias("v"))
    )


def _cents_for(spark, e):
    from stock_trend_predictor_spark.operators.ivf import kmeans_centroids
    from stock_trend_predictor_spark.operators.similarity import l2norm
    from pyspark.sql import functions as F

    en = e.withColumn("nrm", l2norm(F.col("v")))
    n = en.count()
    k = max(8, n // 500)
    sample_mod = max(1, int(n // (k * 64))) if k > 64 else 1
    return kmeans_centroids(
        en, k=k, iters=3, vec_col="v", sample_mod=sample_mod
    )


def _probe_batch_vectors(spark, src_e):
    """16 real source vectors under fresh ids — near-dups of folded
    content, so merges fire."""
    from pyspark.sql import functions as F

    return (
        src_e.orderBy("vec_id")
        .limit(BATCH)
        .select(
            (F.col("vec_id") + F.lit(NEW_ID_BASE)).alias("vec_id"), "v"
        )
        .localCheckpoint(eager=True)
    )


def _probe_batch_docs(spark, sf_dir):
    from pyspark.sql import functions as F

    from stock_trend_predictor_spark.sources.tables import load_table

    return (
        load_table(spark, sf_dir, "documents")
        .orderBy("doc_id")
        .limit(BATCH)
        .select(
            (F.col("doc_id") + F.lit(NEW_ID_BASE)).alias("doc_id"), "text"
        )
        .localCheckpoint(eager=True)
    )


def _one_cell(fold_name: str, tag: str, sf_dir: str):
    """One (fold, index-scale) measurement in its OWN SparkSession —
    the fold builds localCheckpoint blocks that nothing unpersists,
    so six builds in one 16g JVM OOM; per-cell sessions keep each
    build's footprint isolated (and the timed +16 fold still runs
    warm inside its cell's session)."""
    from pyspark.sql import functions as F

    from stock_trend_predictor_spark.operators.statestore import read_meta
    from stock_trend_predictor_spark.sources.tables import load_table
    from stock_trend_predictor_spark.streaming.knngraph_maintenance import (
        update_knngraph_state,
    )
    from stock_trend_predictor_spark.streaming.retrieval_maintenance import (
        update_retrieval_state,
    )
    from stock_trend_predictor_spark.streaming.semdedup_maintenance import (
        update_semdedup_state,
    )

    from stock_trend_predictor_spark.operators import dedup as D
    from stock_trend_predictor_spark.streaming.decon_maintenance import (
        update_decon_bench,
        update_decon_docs,
    )
    from stock_trend_predictor_spark.streaming.neardup_maintenance import (
        update_neardup_state,
    )

    spark = _get_spark()
    try:
        sdir = f"/tmp/steady-{fold_name}-{tag}"
        import shutil

        shutil.rmtree(sdir, ignore_errors=True)
        if fold_name in ("semdedup", "knngraph"):
            e = _vectors(spark, sf_dir)
            cents = _cents_for(spark, e)
            upd = (
                update_semdedup_state
                if fold_name == "semdedup"
                else update_knngraph_state
            )
            # build (untimed): the whole corpus in 3 batches
            for i in range(3):
                upd(
                    spark,
                    e.where(F.col("vec_id") % 3 == i).select(
                        "vec_id", "v"
                    ),
                    sdir,
                    cents,
                    batch_id=i,
                    **_PK,
                )
            batch = _probe_batch_vectors(spark, e)
            before = read_meta(sdir)
            t0 = time.perf_counter()
            upd(spark, batch, sdir, cents, batch_id=3, **_PK)
            wall = time.perf_counter() - t0
        elif fold_name == "neardup":
            docs = load_table(spark, sf_dir, "documents").select(
                "doc_id", "text"
            )
            sh = D.with_shingle_hashes(docs).select("doc_id", "hs")
            for i in range(3):
                update_neardup_state(
                    spark,
                    sh.where(F.col("doc_id") % 3 == i),
                    sdir,
                    batch_id=i,
                    **_PK,
                )
            batch = D.with_shingle_hashes(
                _probe_batch_docs(spark, sf_dir)
            ).select("doc_id", "hs").localCheckpoint(eager=True)
            before = read_meta(sdir)
            t0 = time.perf_counter()
            update_neardup_state(spark, batch, sdir, batch_id=3, **_PK)
            wall = time.perf_counter() - t0
        elif fold_name == "phash":
            from stock_trend_predictor_spark.operators.multimodal import (
                attach_payload,
                perceptual_hash,
            )
            from stock_trend_predictor_spark.streaming.phash_maintenance import (
                update_phash_state,
            )

            docs = load_table(spark, sf_dir, "documents")
            ph = perceptual_hash(attach_payload(docs)).select(
                "doc_id", "phash"
            ).localCheckpoint(eager=True)
            for i in range(3):
                update_phash_state(
                    spark,
                    ph.where(F.col("doc_id") % 3 == i),
                    sdir,
                    batch_id=i,
                    **_PK,
                )
            batch = (
                ph.orderBy("doc_id")
                .limit(BATCH)
                .select(
                    (F.col("doc_id") + F.lit(NEW_ID_BASE)).alias(
                        "doc_id"
                    ),
                    "phash",
                )
                .localCheckpoint(eager=True)
            )
            before = read_meta(sdir)
            t0 = time.perf_counter()
            update_phash_state(spark, batch, sdir, batch_id=3, **_PK)
            wall = time.perf_counter() - t0
        elif fold_name == "manifest":
            from stock_trend_predictor_spark.streaming.manifest_maintenance import (
                update_manifest_bench,
                update_manifest_state,
            )

            docs = load_table(spark, sf_dir, "documents").select(
                "doc_id", "text", "source"
            )
            e = _vectors(spark, sf_dir)
            cents = _cents_for(spark, e)
            update_manifest_bench(
                spark,
                docs.where(F.col("doc_id") % 10**9 < 5),
                sdir,
                batch_id=0,
            )
            # budget never exhausts: the steady cost measured is the
            # composition machinery, not the reject fast-path.
            # contiguous doc_id tertiles, NOT % 3 slices — the
            # composition's arrival-order precondition is enforced at
            # runtime since r10 (out-of-order batches refuse)
            lo, hi = docs.agg(
                F.expr("percentile(doc_id, 0.33)"),
                F.expr("percentile(doc_id, 0.67)"),
            ).first()
            edges = [float("-inf"), float(lo), float(hi), float("inf")]
            for i in range(3):
                span = lambda c: (c > F.lit(edges[i])) & (
                    c <= F.lit(edges[i + 1])
                )
                update_manifest_state(
                    spark,
                    docs.where(span(F.col("doc_id"))),
                    e.where(span(F.col("vec_id"))).select(
                        "vec_id", "v"
                    ),
                    sdir,
                    cents,
                    batch_id=i + 1,
                    budget=10**12,
                    **_PK,
                )
            batch = _probe_batch_docs(spark, sf_dir).withColumn(
                "source", F.lit("steady-src")
            )
            vbatch = _probe_batch_vectors(spark, e)
            # commit bytes span every constituent dir, not just the
            # manifest's own quality table
            before = {
                sub: read_meta(
                    sdir if sub == "." else os.path.join(sdir, sub)
                )
                for sub in (".", "nd", "sem", "decon", "budget")
            }
            t0 = time.perf_counter()
            update_manifest_state(
                spark, batch, vbatch, sdir, cents, batch_id=4,
                budget=10**12, **_PK,
            )
            wall = time.perf_counter() - t0
        elif fold_name == "dsir":
            from stock_trend_predictor_spark.streaming.dsir_maintenance import (
                update_dsir_state,
            )

            docs = load_table(spark, sf_dir, "documents").select(
                "doc_id", "text", "lang"
            )
            for i in range(3):
                update_dsir_state(
                    spark,
                    docs.where(F.col("doc_id") % 3 == i),
                    sdir,
                    batch_id=i,
                )
            batch = (
                load_table(spark, sf_dir, "documents")
                .orderBy("doc_id")
                .limit(BATCH)
                .select(
                    (F.col("doc_id") + F.lit(NEW_ID_BASE)).alias(
                        "doc_id"
                    ),
                    "text",
                    "lang",
                )
                .localCheckpoint(eager=True)
            )
            before = read_meta(sdir)
            t0 = time.perf_counter()
            update_dsir_state(spark, batch, sdir, batch_id=3)
            wall = time.perf_counter() - t0
        elif fold_name == "budget":
            from stock_trend_predictor_spark.streaming.budget import (
                update_budget_state,
            )

            docs = load_table(spark, sf_dir, "documents").select(
                "doc_id", "source", "text"
            )
            # budget never exhausts: the steady cost measured is the
            # fold machinery, not the reject fast-path
            for i in range(3):
                update_budget_state(
                    spark,
                    docs.where(F.col("doc_id") % 3 == i),
                    sdir,
                    budget=10**12,
                    batch_id=i,
                )
            batch = (
                load_table(spark, sf_dir, "documents")
                .orderBy("doc_id")
                .limit(BATCH)
                .select(
                    (F.col("doc_id") + F.lit(NEW_ID_BASE)).alias(
                        "doc_id"
                    ),
                    "source",
                    "text",
                )
                .localCheckpoint(eager=True)
            )
            before = read_meta(sdir)
            t0 = time.perf_counter()
            update_budget_state(
                spark, batch, sdir, budget=10**12, batch_id=3
            )
            wall = time.perf_counter() - t0
        elif fold_name == "decon":
            docs = load_table(spark, sf_dir, "documents").select(
                "doc_id", "text"
            )
            corpus = docs.where(F.col("doc_id") % 10**9 >= 5)
            update_decon_docs(
                spark,
                corpus.where(F.col("doc_id") % 2 == 0),
                sdir,
                batch_id=0,
            )
            # the registry arrival order: the suite lands mid-corpus
            update_decon_bench(
                spark,
                docs.where(F.col("doc_id") % 10**9 < 5),
                sdir,
                batch_id=1,
            )
            update_decon_docs(
                spark,
                corpus.where(F.col("doc_id") % 2 == 1),
                sdir,
                batch_id=2,
            )
            batch = _probe_batch_docs(spark, sf_dir)
            before = read_meta(sdir)
            t0 = time.perf_counter()
            update_decon_docs(spark, batch, sdir, batch_id=3)
            wall = time.perf_counter() - t0
        else:
            docs = load_table(spark, sf_dir, "documents").select(
                "doc_id", "text"
            )
            for i in range(3):
                update_retrieval_state(
                    spark,
                    docs.where(F.col("doc_id") % 3 == i),
                    sdir,
                    batch_id=i,
                )
            batch = _probe_batch_docs(spark, sf_dir)
            before = read_meta(sdir)
            t0 = time.perf_counter()
            update_retrieval_state(spark, batch, sdir, batch_id=3)
            wall = time.perf_counter() - t0
        after = read_meta(sdir)
        if fold_name == "manifest":
            # the composition commits across five dirs — sum the
            # segment diffs of every constituent
            written = 0
            for sub, bm in before.items():
                sd = sdir if sub == "." else os.path.join(sdir, sub)
                written += _commit_bytes(sd, bm, read_meta(sd))
        else:
            written = _commit_bytes(sdir, before, after)
        state = _dir_bytes(sdir)
        print(
            f"# {fold_name} {tag}: wall={wall:.2f}s"
            f" commit={written / 1024:.0f}KB state={state / 2**20:.1f}MB",
            flush=True,
        )
        return wall, written, state
    finally:
        spark.stop()


FOLDS = (
    "neardup",
    "decon",
    "dsir",
    "budget",
    "semdedup",
    "knngraph",
    "bm25",
    "phash",
    "manifest",
)


def measure(folds=FOLDS) -> None:
    rows = []
    for fold_name in folds:
        cells = [
            _one_cell(fold_name, tag, sf_dir)
            for tag, sf_dir in (("1x", SRC), ("30x", DST))
        ]
        (w1, b1, s1), (w30, b30, s30) = cells
        rows.append(
            f"| {fold_name} | {w1:.2f} | {w30:.2f} | {w30 / w1:.2f}x |"
            f" {b1 / 1024:.0f} | {b30 / 1024:.0f} |"
            f" {s1 / 2**20:.1f} | {s30 / 2**20:.1f} |"
        )
    print(
        f"| fold | +{BATCH} fold 1x (s) | +{BATCH} fold 30x (s) |"
        " wall ratio |"
        " commit KB 1x | commit KB 30x | state MB 1x | state MB 30x |"
    )
    print("|---|---|---|---|---|---|---|---|")
    for r in rows:
        print(r)


if __name__ == "__main__":
    measure(tuple(sys.argv[1:]) or FOLDS)
