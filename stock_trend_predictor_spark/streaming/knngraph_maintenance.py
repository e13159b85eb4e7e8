"""Continuously maintained corpus kNN graph on the idempotent state
store — the streaming twin of ``knn_graph_ivf`` (r7), completing the
maintained-curation family (near-dup, DSIR, decontamination, budget
admission: the similarity graph was the missing fold).

A live ingest must keep every vector's top-5 cell-mate neighbors
current WITHOUT rescoring the corpus per batch. The enabler is the
same FAISS train-then-add discipline as streaming/ivf_maintenance.py:
the coarse quantizer is FROZEN between retrains, so a vector's probed
cells never change after arrival, cell membership only GROWS, and a
batch can only change the lists of its own vectors and of the
existing members of the cells it touches.

State = two APPEND tables (operators/statestore.py):

- ``members``  (vec_id, cid, v, nrm, bucket) — the accumulated
  multiprobe cell membership (nprobe rows per vector, vector payload
  inline so a probe is ONE pruned read), hash-bucketed on
  ``bucket = pmod(xxhash64(cid), P)``: per-batch deltas land plain
  (LSM hot writes), compaction rewrites directory-partitioned on
  ``bucket``, and the per-batch read prunes to the BATCH'S touched
  cells' buckets;
- ``toplists`` (query_id, nbrs, rev, qbucket) — LATEST-WINS REVISIONS
  of each vector's top-5 list (the labels pattern of the near-dup
  fold). ``nbrs`` is sorted ascending by ``(ns, nb)`` where
  ``ns = -sim`` — lexicographic struct order == (sim desc, neighbor
  asc), the exact knn_graph_ivf tie rule — so the read is
  posexplode + negate, no re-sort. ``qbucket = pmod(xxhash64(
  query_id), P)`` is shared by all of a query's revisions, so the
  merge's pruned read is exact (the dbucket argument of the near-dup
  labels).

Per batch (update_knngraph_state):

1. assign the batch to its probed cells under the FROZEN centroids;
2. read EXISTING members of the touched cells only (pruned);
3. score NEW x (existing ∪ batch) pairs sharing a cell — one salted
   join (mega-cell guard below), each sim computed once; the
   (old, new) direction is the bit-exact mirror (multiplication
   commutes, the dimension fold order is shared);
4. NEW vectors get fresh top-5 lists; EXISTING vectors whose cells
   the batch touched merge their stored top-5 with the new-arrival
   candidates — ``slice(array_sort(concat(stored, delta)), 1, 5)``,
   the flatten+slice move of assign_clusters_two_level_multiprobe —
   and append a revision ONLY when the list actually changed.
   Top-k is mergeable: an entry outside the stored top-5 ranks
   below 5 among old candidates, hence below 5 in any superset, so
   stored-top-5 ∪ new-candidates loses nothing (the law tests pin
   stream == batch on every arrival split);
5. commit both deltas + the replay guard in one atomic META swap.

Because a vector's probed cells are arrival-order-independent and
top-k merge is exact, the folded graph is a PURE FUNCTION of the
arrival set — read_knn_graph == the one-shot knn_graph_ivf on the
union under the same centroids, which is why the registry query
(`knn_graph_incremental`) shares knn_graph_ivf's full DuckDB oracle
VERBATIM (the decontamination_incremental oracle-sharing pattern).

Mega-cell guard: the per-batch scoring join is new-vs-index on cid;
a viral near-dup cluster packs one cell, so index populations over
``cell_cap`` split into ceil(n/cap) deterministic sub-cells and the
batch side replicates per sub-cell (the _probe_candidates shape of
the near-dup fold; pair-set identity is law-tested). Per-commit IO:
members/toplists writes are batch-proportional (members append-only;
toplists revisions bounded by batch size x touched cell-mates, with
the changed-only filter dropping no-op revisions), reads prune to
touched buckets past PRUNE_MIN_BYTES — the same adaptive rule,
measured crossover, as the near-dup fold. Both tables, their bucket
columns, the format stamp and the pin are declared once, in
:data:`KNNGRAPH_LAYOUT` (operators/statestore.py, fold layouts).

The maintained index is a freshness bridge between PERIODIC RETRAINS
(the ivf_maintenance contract): :func:`retrain_knngraph_state`
rebuilds the graph from folded state only (no source re-read) under
fresh centroids into a new dir, and :func:`swap_current_state`
atomically repoints readers — a crash mid-retrain leaves the old
generation serving. Within a generation, the pinned bucket count
grows via :func:`rebucket_knngraph_state`, and every commit stamps
``knngraph_format`` so a mismatched layout is refused explicitly.

Laws in tests/test_round8.py: stream == batch (== knn_graph_ivf) on
mod-3 and front/back splits, arrival-order invariance, replay
idempotence, changed-only revisions, capped-join identity, pruned
reads touching only the batch's buckets, per-commit write IO
batch-bounded, retrain == direct build under the new centroids +
atomic pointer swap.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from stock_trend_predictor_spark.operators.ivf import CELL_CAP
from stock_trend_predictor_spark.operators.similarity import dot
from stock_trend_predictor_spark.operators.statestore import (
    PRUNE_MIN_BYTES,
    FoldLayout,
    begin_fold,
    bucket_expr,
    bucket_filter,
    commit_fold,
    read_state_table,
    rebucket_fold,
    write_json_atomic,
)
from stock_trend_predictor_spark.streaming.ingest import start_foreach_batch

#: default on-disk hash-bucket count for members/toplists; same
#: sizing discipline as the near-dup fold's N_BAND_BUCKETS (P ~ rows
#: / bounded-bucket-size). Pinned per fold in META's app dict; grow a
#: fold that outgrew it with :func:`rebucket_knngraph_state` (atomic
#: segment rewrite + pin update — the sanctioned override).
N_GRAPH_BUCKETS = 64

#: neighbors kept per vector — knn_graph_ivf's k.
TOP_K = 5

#: the fold's on-disk layout: members bucketed by cell, toplists by
#: query vector (module docstring).
KNNGRAPH_LAYOUT = FoldLayout(
    name="knn-graph",
    tables={
        "members": ("bucket", ("cid",)),
        "toplists": ("qbucket", ("query_id",)),
    },
    format_key="knngraph_format",
    version=1,
    p_key="n_graph_buckets",
    p_default=N_GRAPH_BUCKETS,
    remedy="retrain into a fresh dir (retrain_knngraph_state)",
)


def _nbr_struct(sim: Column, neighbor: Column) -> Column:
    """(ns=-sim, nb=neighbor): ascending lexicographic struct order
    == (sim desc, neighbor asc) — knn_graph_ivf's exact tie rule.
    Double negation is bit-exact, so -(-sim) round-trips."""
    return F.struct((-sim).alias("ns"), neighbor.alias("nb"))


def _scored_new_vs_all(
    new_m: DataFrame,
    all_m: DataFrame,
    cell_cap: int,
    dedup: bool = True,
) -> DataFrame:
    """Scored ordered pairs (query_id, neighbor_id, sim): query from
    the BATCH, neighbor from the touched-cell membership (which
    includes the batch itself, so intra-batch pairs surface), sharing
    a probed cell, deduplicated across multiprobe co-occurrence.
    Index populations over ``cell_cap`` split into deterministic
    sub-cells with batch-side replication — pair-set identical to the
    plain cid equi-join (law-tested), no join bucket builds more than
    ~cap rows.

    ``dedup=False`` skips the (query, neighbor) dropDuplicates
    exchange and returns the raw multiprobe multiset — for consumers
    that filter on ``sim`` and dedup AFTERWARDS on their own key
    (guide §2.3: filter before the exchange): co-occurring copies of
    a pair carry bit-identical ``sim`` (the same fold over the same
    arrays), so any sim-threshold keeps all copies or none and a
    downstream ``distinct()`` yields the identical pair set."""
    cnt = all_m.groupBy("cid").agg(F.count(F.lit(1)).alias("_n"))
    k_cells = (
        F.when(F.col("_n") <= cell_cap, F.lit(1))
        .otherwise(F.ceil(F.col("_n") / F.lit(int(cell_cap))))
        .cast("int")
    )
    idx = (
        all_m.join(F.broadcast(cnt), "cid")
        .withColumn("_k", k_cells)
        .withColumn("_j", bucket_expr(["vec_id"], F.col("_k")).cast("int"))
        .select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("v").alias("_nv"),
            F.col("nrm").alias("_nn"),
            "cid",
            "_j",
        )
    )
    probe = (
        new_m.join(F.broadcast(cnt), "cid")
        .withColumn("_k", k_cells)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("_qv"),
            F.col("nrm").alias("_qn"),
            "cid",
            F.explode(F.sequence(F.lit(0), F.col("_k") - 1)).alias("_j"),
        )
    )
    sim = dot(F.col("_qv"), F.col("_nv")) / (F.col("_qn") * F.col("_nn"))
    scored = (
        probe.join(idx, ["cid", "_j"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", sim.alias("sim"))
    )
    if dedup:
        scored = scored.dropDuplicates(["query_id", "neighbor_id"])
    return scored


def _top5(nbrs: Column) -> Column:
    return F.slice(F.array_sort(nbrs), 1, TOP_K)


def update_knngraph_state(
    spark: SparkSession,
    batch: DataFrame,
    state_dir: str,
    centroids: list[list[float]],
    batch_id: int,
    n_buckets: int = N_GRAPH_BUCKETS,
    cell_cap: int = CELL_CAP,
    prune_min_bytes: int = PRUNE_MIN_BYTES,
    compact_every: int | None = None,
) -> None:
    """Fold one arrival batch of (vec_id, v) double-array vectors into
    the maintained kNN graph under the FROZEN ``centroids`` (the
    ivf_maintenance retrain discipline; a retrain swaps in a fresh
    state dir). Idempotent: replayed batch ids skip before any
    compute. ``compact_every=N`` runs the statestore OPTIMIZE over
    both append tables after each Nth batch (members re-bucketed on
    ``bucket``, toplists on ``qbucket`` — the near-dup fold's
    amortized segment-count bound); None leaves compaction to the
    operator. PRECONDITION (shared with every fold in the family):
    each vec_id arrives in exactly one batch — re-deliveries of the
    same batch are handled, re-crawls dedupe upstream."""
    from stock_trend_predictor_spark.operators.ivf import (
        assign_clusters_multiprobe,
    )
    from stock_trend_predictor_spark.operators.similarity import l2norm

    from stock_trend_predictor_spark.operators.checkpoints import (
        job_phase,
    )

    entry = begin_fold(KNNGRAPH_LAYOUT, state_dir, batch_id, n_buckets)
    if entry is None:
        return
    meta, p = entry
    new = batch.select("vec_id", "v").withColumn("nrm", l2norm(F.col("v")))
    # probed membership feeds the bucket-set collect, the scoring
    # join (both sides), and the members segment write — eager once
    cps: list[DataFrame] = []  # eager frames to release post-commit
    with job_phase(spark, f"knnfold{batch_id}:assign"):
        new_m = (
            assign_clusters_multiprobe(new, centroids, nprobe=3)
            .select("vec_id", "v", "nrm", "cid")
            .localCheckpoint(eager=True)
        )
    cps.append(new_m)
    # ADAPTIVE pruned membership read: only the touched cells'
    # buckets once the members table outgrows the threshold
    mem_filter = bucket_filter(
        KNNGRAPH_LAYOUT, "members", p, new_m, state_dir, meta,
        prune_min_bytes,
    )
    prev_m = read_state_table(
        spark, state_dir, "members", partition_filter=mem_filter
    )
    touched_cids = new_m.select("cid").distinct()
    if prev_m is not None:
        # the pruned read admits whole buckets; restrict to the
        # touched cells themselves (broadcast: batch-sized set).
        # Checkpoint OLD_M, not the union: the membership feeds THREE
        # consumers — the scoring join's cell counts, its index side,
        # and the delta path's old_ids — and old_m is the only piece
        # whose recompute is a state read. With old_m pinned, all_m
        # stays a lazy union of two checkpointed frames (block reads
        # per consumer, no second touched-bucket state read), and
        # new_m's rows are not stored twice.
        with job_phase(spark, f"knnfold{batch_id}:stateread"):
            old_m = (
                prev_m.drop("bucket")
                .join(F.broadcast(touched_cids), "cid")
                .localCheckpoint(eager=True)
            )
        cps.append(old_m)
        all_m = old_m.unionByName(new_m)
    else:
        old_m = None
        all_m = new_m
    with job_phase(spark, f"knnfold{batch_id}:cand"):
        cand = _scored_new_vs_all(new_m, all_m, cell_cap).localCheckpoint(
            eager=True
        )
    cps.append(cand)

    rev = F.lit(int(batch_id)).alias("rev")
    # fresh lists: every new vector's top-5 over its full candidates
    new_ids = new_m.select("vec_id").distinct()
    fresh = (
        cand.join(
            F.broadcast(new_ids.withColumnRenamed("vec_id", "query_id")),
            "query_id",
        )
        .groupBy("query_id")
        .agg(
            _top5(
                F.collect_list(
                    _nbr_struct(F.col("sim"), F.col("neighbor_id"))
                )
            ).alias("nbrs")
        )
    )
    toplists = fresh.select("query_id", "nbrs", rev)
    if old_m is not None:
        # delta candidates for EXISTING vectors = the mirror of
        # (new query, old neighbor) scored pairs — bit-exact, sim
        # computed once
        old_ids = old_m.select("vec_id").distinct()
        # eager: the pruned-read path consumes delta TWICE (the
        # qbucket filter collect + the merge plan) — left lazy the
        # touched-cell-mate aggregation reran per consumer (measured
        # 4x the unpruned +16 wall at 30x copy-saturation)
        with job_phase(spark, f"knnfold{batch_id}:delta"):
            delta = (
                cand.join(
                    F.broadcast(
                        old_ids.withColumnRenamed("vec_id", "neighbor_id")
                    ),
                    "neighbor_id",
                )
                .groupBy("neighbor_id")
                .agg(
                    F.collect_list(
                        _nbr_struct(F.col("sim"), F.col("query_id"))
                    ).alias("_delta")
                )
                .withColumnRenamed("neighbor_id", "query_id")
                .localCheckpoint(eager=True)
            )
        cps.append(delta)
        # pruned latest-wins read of ONLY the touched queries' stored
        # lists (every revision of a query shares its qbucket)
        tl_filter = bucket_filter(
            KNNGRAPH_LAYOUT, "toplists", p, delta, state_dir, meta,
            prune_min_bytes,
        )
        stored = read_state_table(
            spark, state_dir, "toplists", partition_filter=tl_filter
        )
        if stored is not None:
            stored = stored.groupBy("query_id").agg(
                F.max_by("nbrs", "rev").alias("_stored")
            )
            merged = delta.join(stored, "query_id", "left").select(
                "query_id",
                "_delta",
                F.coalesce("_stored", F.array().cast(
                    "array<struct<ns: double, nb: bigint>>"
                )).alias("_stored"),
            )
        else:
            merged = delta.withColumn(
                "_stored",
                F.array().cast("array<struct<ns: double, nb: bigint>>"),
            )
        # changed-only revisions: a no-op merge appends nothing
        revised = (
            merged.withColumn(
                "nbrs", _top5(F.concat("_stored", "_delta"))
            )
            .where(F.col("nbrs") != F.col("_stored"))
            .select("query_id", "nbrs", rev)
        )
        toplists = toplists.unionByName(revised)

    commit_fold(
        spark,
        KNNGRAPH_LAYOUT,
        state_dir,
        batch_id,
        {
            "members": KNNGRAPH_LAYOUT.with_bucket("members", new_m, p),
            "toplists": KNNGRAPH_LAYOUT.with_bucket("toplists", toplists, p),
        },
        p,
        compact_every,
    )
    # free this batch's eager blocks — continuous sinks must hold
    # batch-bounded storage, not one checkpoint set per fold
    from stock_trend_predictor_spark.operators.checkpoints import (
        release_local_checkpoints,
    )

    release_local_checkpoints(*cps)


def rebucket_knngraph_state(
    spark: SparkSession, state_dir: str, new_p: int
) -> bool:
    """Grow (or shrink) the fold's on-disk bucket count to ``new_p``
    (statestore.rebucket_fold): members and toplists rewrite under the
    new P and ``n_graph_buckets`` re-pins in one META swap.
    Post-re-bucket reads are row-identical (law-tested). Run between
    batches; the next fold reads the new pin from META."""
    return rebucket_fold(spark, KNNGRAPH_LAYOUT, state_dir, new_p)


def read_knn_graph(
    spark: SparkSession, state_dir: str
) -> DataFrame | None:
    """(query_id, neighbor_id, sim, rank) — every folded vector's
    current top-5 cell-mate neighbors, knn_graph_ivf's exact output
    contract (stable_round(sim, 6); rank by sim desc, neighbor asc).
    None before the first commit; vectors alone in their probed cells
    emit no rows (same as the one-shot)."""
    from stock_trend_predictor_spark.functions.exact import stable_round

    revs = read_state_table(spark, state_dir, "toplists")
    if revs is None:
        return None
    latest = revs.groupBy("query_id").agg(
        F.max_by("nbrs", "rev").alias("nbrs")
    )
    return latest.select(
        "query_id", F.posexplode("nbrs").alias("_pos", "_t")
    ).select(
        "query_id",
        F.col("_t.nb").alias("neighbor_id"),
        stable_round(-F.col("_t.ns"), 6).alias("sim"),
        (F.col("_pos") + 1).cast("bigint").alias("rank"),
    )


def knngraph_maintenance_sink(
    vec_stream: DataFrame,
    state_dir: str,
    checkpoint: str,
    centroids: list[list[float]],
):
    """Continuous kNN-graph maintenance over a vector stream carrying
    (vec_id, v: array<double>)."""

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        update_knngraph_state(
            batch.sparkSession,
            batch,
            state_dir,
            centroids,
            batch_id=batch_id,
        )

    return start_foreach_batch(vec_stream, write_batch, checkpoint)


def retrain_knngraph_state(
    spark: SparkSession,
    state_dir: str,
    new_centroids: list[list[float]],
    out_dir: str,
    n_buckets: int = N_GRAPH_BUCKETS,
    cell_cap: int = CELL_CAP,
) -> None:
    """The PERIODIC RETRAIN leg of the maintained-index contract
    (streaming/ivf_maintenance.py's documented production pattern:
    retrain on schedule, fold the stream in between, swap atomically
    at the next retrain). Rebuilds the graph state under
    ``new_centroids`` from the vectors already folded — one batch
    build into a FRESH state dir (the old dir keeps serving until the
    pointer swap; see :func:`swap_current_state`), after which the
    fold continues into ``out_dir`` under the new quantizer.

    The accumulated ``members`` table carries each vector's payload
    once per probed cell; dropDuplicates on the id recovers the
    vector set without touching any upstream source — a retrain needs
    the STATE only. The rebuilt state is bit-identical to folding the
    same vectors through update_knngraph_state in one batch (it IS
    that call), so every fold law carries over; parity with the
    one-shot knn_graph_ivf under the same centroids is the law
    (tests/test_round8.py)."""
    vecs = read_state_table(spark, state_dir, "members")
    if vecs is None:
        raise ValueError(f"no folded state under {state_dir}")
    import shutil

    shutil.rmtree(out_dir, ignore_errors=True)
    update_knngraph_state(
        spark,
        vecs.dropDuplicates(["vec_id"]).select("vec_id", "v"),
        out_dir,
        new_centroids,
        batch_id=0,
        n_buckets=n_buckets,
        cell_cap=cell_cap,
    )


def swap_current_state(base_dir: str, state_dir: str) -> None:
    """Atomically point ``base_dir/CURRENT.json`` at ``state_dir`` —
    the serve-path indirection that makes a retrain invisible to
    readers: they resolve the pointer, then read that dir's committed
    META as usual. Written with statestore.write_json_atomic, like
    META itself: a crash leaves the old pointer, and the half-built
    new dir is simply unreferenced."""
    import os

    os.makedirs(base_dir, exist_ok=True)
    write_json_atomic(
        os.path.join(base_dir, "CURRENT.json"),
        {"dir": os.path.abspath(state_dir)},
    )


def current_state_dir(base_dir: str) -> str | None:
    """Resolve the serving state dir, or None before the first swap."""
    import json
    import os

    path = os.path.join(base_dir, "CURRENT.json")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        return json.load(fh)["dir"]
