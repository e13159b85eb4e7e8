"""Continuously maintained SemDeDup on the idempotent state store —
the streaming twin of ``semdedup_keep_decision`` (Abbas et al. 2023,
arXiv:2303.09540), closing the last gap in the maintained-curation
family: lexical near-dup (neardup_maintenance), DSIR, decontamination,
budget admission, and the kNN graph (knngraph_maintenance) all fold;
SEMANTIC dedup was still one-shot-only.

A live embedding ingest must keep the corpus-level keep/drop decision
current without rescoring the corpus per batch. The fold composes the
two existing maintenance layers:

- the BLOCKING side is the kNN-graph fold's: a FROZEN coarse quantizer
  (FAISS train-then-add discipline — a vector's probed cells never
  change after arrival, membership only grows), an accumulated
  ``members`` append table hash-bucketed on cid, and one
  mega-cell-capped new-vs-touched-cells scoring join per batch
  (knngraph_maintenance._scored_new_vs_all — sim computed once,
  mirrored bit-exactly, pair-set identity at any cap);
- the CLUSTER side is the near-dup fold's: edges at exact cosine >=
  SEM_COS_THRESHOLD feed neardup_maintenance._merge_label_delta — the
  rep-contracted min-label connected-component merge whose per-batch
  work is bounded by the NEW edge count (2 rows per new pair), with
  label revisions landing under the dbucket/cbucket two-copy layout
  for touched-bucket-pruned merge reads (the dead-rep invariant
  documented there carries over verbatim: components only merge and
  labels are component mins, regardless of what the edges mean).

State = three APPEND tables (operators/statestore.py):

- ``members``    (vec_id, cid, v, nrm, bucket) — multiprobe cell
  membership with payload inline, ``bucket = pmod(xxhash64(cid), P)``;
- ``labels``     (doc_id, cluster, rev, dbucket) — latest-wins
  component-label revisions (doc_id carries the vec_id; the column
  name is the label-merge layer's contract);
- ``labels_byc`` (doc_id, cluster, rev, cbucket) — the same rows under
  the by-cluster prune key for losing-member scans.

The tables, their bucket columns, the format stamp and the pin are
declared once, in :data:`SEMDEDUP_LAYOUT` (operators/statestore.py,
fold layouts).

Per batch: assign under the frozen centroids; pruned read of the
touched cells' members; score NEW x (existing ∪ batch) cell-mate
pairs through the capped join; edges = exact cosine >= threshold,
canonicalized (min, max) and deduplicated across multiprobe
co-occurrence; merge the component labels; commit all deltas + the
replay guard in one atomic META swap.

Edge-set completeness: the one-shot enumerates every unordered pair
sharing >= 1 probed cell. Under a frozen quantizer each such pair is
enumerated by the fold EXACTLY when its later-arriving member lands
(the new side of that batch's join meets the earlier member in the
touched cell, and intra-batch pairs surface immediately), so the
union over batches is the one-shot pair set, the cosine is bit-exact
(multiplication commutes, the dimension fold order is shared), and
min-label CC over equal edge sets is equal — the folded keep decision
is a PURE FUNCTION of the arrival set. That is why the registry query
(``semdedup_incremental``) shares semdedup_keep_decision's full DuckDB
oracle VERBATIM (the knn_graph_incremental oracle-sharing pattern),
with the same flat-unsampled oracle-regime gate.

Like the kNN-graph fold, the maintained decision is a freshness
bridge between PERIODIC RETRAINS: :func:`retrain_semdedup_state`
rebuilds the state from folded members only (no source re-read)
under fresh centroids into a new dir, and the knngraph module's
fold-agnostic ``swap_current_state`` pointer makes the generation
switch atomic for readers.

Laws in tests/test_round8.py: stream == batch (== the one-shot keep
decision) on mod-3 and front/back splits with pruning forced, arrival-
order invariance, prefix parity after EVERY batch (fold == one-shot
over arrivals-so-far under the same frozen centroids), replay
idempotence, capped-join identity, per-commit label-write boundedness
(touched docs only), pruned-read filter capture, rebucket identity,
retrain == direct-build + pointer swap, compaction read-identity, and
the format guard.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stock_trend_predictor_spark.operators.ivf import CELL_CAP
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
from stock_trend_predictor_spark.streaming.knngraph_maintenance import (
    _scored_new_vs_all,
)
from stock_trend_predictor_spark.streaming.neardup_maintenance import (
    LABEL_TABLES,
    _merge_label_delta,
)

#: exact-cosine edge threshold — semdedup_keep_decision's 0.35
#: (plans/dedup_queries.py); the raw double comparison is shared, so
#: the fold's edge set is bit-identical to the one-shot's.
SEM_COS_THRESHOLD = 0.35

#: default on-disk hash-bucket count (members on cid, labels on
#: doc/cluster) — pinned per fold in META's app dict, grown via
#: :func:`rebucket_semdedup_state` (the sanctioned override).
N_SEM_BUCKETS = 64

#: the fold's on-disk layout: the kNN-graph fold's members table plus
#: the near-dup fold's two label tables.
SEMDEDUP_LAYOUT = FoldLayout(
    name="semdedup",
    tables={"members": ("bucket", ("cid",)), **LABEL_TABLES},
    format_key="semdedup_format",
    version=1,
    p_key="n_sem_buckets",
    p_default=N_SEM_BUCKETS,
)


def update_semdedup_state(
    spark: SparkSession,
    batch: DataFrame,
    state_dir: str,
    centroids: list[list[float]],
    batch_id: int,
    n_buckets: int = N_SEM_BUCKETS,
    cell_cap: int = CELL_CAP,
    prune_min_bytes: int = PRUNE_MIN_BYTES,
    compact_every: int | None = None,
) -> None:
    """Fold one arrival batch of (vec_id, v) double-array vectors into
    the maintained semantic-dedup decision under the FROZEN
    ``centroids``. Idempotent: replayed batch ids skip before any
    compute. ``compact_every=N`` runs the statestore OPTIMIZE over the
    append tables after each Nth batch. PRECONDITION (shared with
    every fold in the family): each vec_id arrives in exactly one
    batch — re-deliveries of the same batch are handled, re-crawls
    dedupe upstream."""
    from stock_trend_predictor_spark.operators.ivf import (
        assign_clusters_multiprobe,
    )
    from stock_trend_predictor_spark.operators.similarity import l2norm

    entry = begin_fold(SEMDEDUP_LAYOUT, state_dir, batch_id, n_buckets)
    if entry is None:
        return
    meta, p = entry
    from stock_trend_predictor_spark.operators.checkpoints import (
        job_phase,
    )

    new = batch.select("vec_id", "v").withColumn("nrm", l2norm(F.col("v")))
    # probed membership feeds the bucket-set collect, the scoring join
    # (both sides), the label merge's fresh rows, and the members
    # segment write — eager once (the fold-family discipline)
    cps: list[DataFrame] = []  # eager frames to release post-commit
    with job_phase(spark, f"semfold{batch_id}:assign"):
        new_m = (
            assign_clusters_multiprobe(new, centroids, nprobe=3)
            .select("vec_id", "v", "nrm", "cid")
            .localCheckpoint(eager=True)
        )
    cps.append(new_m)
    # ADAPTIVE pruned membership read: only the touched cells' buckets
    # once the members table outgrows the threshold
    mem_filter = bucket_filter(
        SEMDEDUP_LAYOUT, "members", p, new_m, state_dir, meta,
        prune_min_bytes,
    )
    prev_m = read_state_table(
        spark, state_dir, "members", partition_filter=mem_filter
    )
    if prev_m is not None:
        # the pruned read admits whole buckets; restrict to the
        # touched cells themselves (broadcast: batch-sized set).
        # Checkpoint the OLD side only (as the kNN fold does): the
        # scoring join's two consumers (cell counts + index side) then
        # read a lazy union of two checkpointed frames — the
        # touched-bucket state read still runs once, and new_m's rows
        # are not stored twice.
        touched_cids = new_m.select("cid").distinct()
        with job_phase(spark, f"semfold{batch_id}:stateread"):
            old_m = (
                prev_m.drop("bucket")
                .join(F.broadcast(touched_cids), "cid")
                .localCheckpoint(eager=True)
            )
        cps.append(old_m)
        all_m = old_m.unionByName(new_m)
    else:
        all_m = new_m
    # NEW x (existing ∪ batch) cell-mate pairs through the capped
    # join; edges at the exact-cosine threshold, canonicalized and
    # deduplicated across multiprobe co-occurrence. Eager: the label
    # merge consumes it twice (endpoint buckets + rep edges).
    with job_phase(spark, f"semfold{batch_id}:edges"):
        # dedup=False: multiprobe co-occurring copies of a pair carry
        # bit-identical sim, so thresholding BEFORE any dedup keeps
        # all copies or none and the (least, greatest) distinct below
        # collapses them — same edge set, one less full-width
        # exchange (the old (query, neighbor) dropDuplicates shuffled
        # every scored pair; the threshold drops most of them first)
        edges = (
            _scored_new_vs_all(new_m, all_m, cell_cap, dedup=False)
            .where(F.col("sim") >= SEM_COS_THRESHOLD)
            .select(
                F.least("query_id", "neighbor_id").alias("doc_a"),
                F.greatest("query_id", "neighbor_id").alias("doc_b"),
            )
            .distinct()
            .localCheckpoint(eager=True)
        )
    cps.append(edges)
    # the near-dup fold's rep-contracted CC merge, verbatim — its
    # doc_id/cluster contract carries vec ids here (the merge is
    # agnostic to what the edges mean; the dead-rep pruning argument
    # holds for any merge-only component stream)
    with job_phase(spark, f"semfold{batch_id}:merge"):
        delta = _merge_label_delta(
            spark,
            state_dir,
            new_m.select(F.col("vec_id").alias("doc_id")).distinct(),
            edges,
            batch_id,
            p,
            meta,
            prune_min_bytes,
            track=cps,
        ).localCheckpoint(eager=True)
    cps.append(delta)
    commit_fold(
        spark,
        SEMDEDUP_LAYOUT,
        state_dir,
        batch_id,
        {
            "members": SEMDEDUP_LAYOUT.with_bucket("members", new_m, p),
            **{
                t: SEMDEDUP_LAYOUT.with_bucket(t, delta, p)
                for t in LABEL_TABLES
            },
        },
        p,
        compact_every,
    )
    # free this batch's eager blocks — a continuous sink must hold
    # batch-bounded storage, not one checkpoint set per fold (six 30x
    # builds OOM'd a 16g JVM without it)
    from stock_trend_predictor_spark.operators.checkpoints import (
        release_local_checkpoints,
    )

    release_local_checkpoints(*cps)


def rebucket_semdedup_state(
    spark: SparkSession, state_dir: str, new_p: int
) -> bool:
    """Grow (or shrink) the fold's pinned bucket count
    (statestore.rebucket_fold): every bucketed table rewrites under
    the new P and ``n_sem_buckets`` re-pins in ONE atomic META swap
    (post-re-bucket reads are row-identical; pruned probes never plan
    against a mixed layout)."""
    return rebucket_fold(spark, SEMDEDUP_LAYOUT, state_dir, new_p)


def read_semdedup_keep(
    spark: SparkSession, state_dir: str
) -> DataFrame | None:
    """(vec_id, cluster, cluster_size, keep) for every vector folded
    so far — semdedup_keep_decision's exact output contract (cluster =
    min member of the cos>=threshold cell-mate component, singletons
    their own cluster, keep = the min member). None before the first
    commit."""
    from pyspark.sql import Window

    revs = read_state_table(spark, state_dir, "labels")
    if revs is None:
        return None
    latest = revs.groupBy("doc_id").agg(
        F.max_by("cluster", "rev").alias("cluster")
    )
    return latest.select(
        F.col("doc_id").alias("vec_id"),
        "cluster",
        F.count(F.lit(1))
        .over(Window.partitionBy("cluster"))
        .cast("bigint")
        .alias("cluster_size"),
        (F.col("doc_id") == F.col("cluster")).alias("keep"),
    )


def retrain_semdedup_state(
    spark: SparkSession,
    state_dir: str,
    new_centroids: list[list[float]],
    out_dir: str,
    n_buckets: int = N_SEM_BUCKETS,
    cell_cap: int = CELL_CAP,
) -> None:
    """The PERIODIC-RETRAIN leg (the knngraph_maintenance contract:
    retrain on schedule, fold in between, swap atomically at the
    boundary): rebuild the semantic-dedup state under
    ``new_centroids`` FROM FOLDED STATE ONLY — the members table
    carries each vector's payload once per probed cell, so
    dropDuplicates on the id recovers the vector set with no source
    re-read. One batch fold into a FRESH dir (the old generation
    keeps serving until :func:`swap_current_state` — reuse the
    knngraph module's pointer, the indirection is fold-agnostic);
    retrain == direct build under the new quantizer is the law."""
    vecs = read_state_table(spark, state_dir, "members")
    if vecs is None:
        raise ValueError(f"no folded state under {state_dir}")
    import shutil

    shutil.rmtree(out_dir, ignore_errors=True)
    update_semdedup_state(
        spark,
        vecs.dropDuplicates(["vec_id"]).select("vec_id", "v"),
        out_dir,
        new_centroids,
        batch_id=0,
        n_buckets=n_buckets,
        cell_cap=cell_cap,
    )


def semdedup_maintenance_sink(
    vec_stream: DataFrame,
    state_dir: str,
    checkpoint: str,
    centroids: list[list[float]],
):
    """Continuous semantic-dedup maintenance over a vector stream
    carrying (vec_id, v: array<double>)."""

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        update_semdedup_state(
            batch.sparkSession,
            batch,
            state_dir,
            centroids,
            batch_id=batch_id,
        )

    return start_foreach_batch(vec_stream, write_batch, checkpoint)
