"""The streaming curation CAPSTONE: one continuously maintained
per-document keep manifest composing the maintained folds — quality
gates at arrival, the near-dup fold, the SemDeDup fold, the decon
steady screen, and budget admission — into a single latest-wins
verdict row per document. The streaming twin of the
``corpus_keep_decision`` composition pattern, built from the FOLD
family instead of one-shot sub-pipelines: arrivals are featurized
once, every signal is maintained incrementally, and the manifest read
never re-touches text.

COMPOSITION CONTRACT (what this module adds over the folds it
reuses): one base dir, one commit cadence. ``update_manifest_state``
drives all five constituents for the SAME batch id under
``base_dir``:

- ``base_dir``        — the manifest's own state: an append table
  ``quality`` holding each doc's arrival-time quality row (doc_id,
  n_tokens, diversity) — pure per-doc map, computed exactly once;
- ``base_dir/nd``     — the near-dup fold (neardup_maintenance):
  LSH bands + verified pairs + maintained cluster labels;
- ``base_dir/sem``    — the SemDeDup fold (semdedup_maintenance)
  over the batch's vectors under FROZEN centroids;
- ``base_dir/decon``  — the decon steady screen (decon_maintenance):
  the bench suite registers via :func:`update_manifest_bench`,
  corpus docs score on arrival, retro-bumps on late benches;
- ``base_dir/budget`` — hard-frontier token-budget admission
  (streaming/budget.py).

Crash/replay discipline ACROSS folds: there is no cross-dir
transaction — each sub-fold commits its own dir with the shared
batch id. The manifest's own ``quality`` commit runs LAST, so its
committed batch id is the composition's low-water mark: a crash
mid-composite leaves some sub-folds ahead of the manifest, and the
at-least-once re-delivery re-runs the batch — already-committed
sub-folds skip on their replay guards, the missing ones (and the
quality commit) complete. Readers see a consistent composition at
every manifest commit boundary.

PURITY (why the registry query carries a full shared oracle): every
constituent is a pure function of the arrival set — quality rows are
per-doc maps; near-dup pairs/labels and SemDeDup components are
arrival-order-invariant (their fold laws); the decon score depends
only on (docs, bench) sets; budget admission is the doc_id-order
prefix rule, invariant under ORDER-PRESERVING batching (the one
order-sensitive constituent — the composition inherits budget.py's
precondition that arrival order is doc_id order, ENFORCED at
runtime via the committed max-doc_id watermark in META's
``progress`` entry: an out-of-order batch raises before any
constituent commit). A deterministic
CASE over pure signals is pure, so the composed verdict equals the
one-shot CASE over the constituent one-shots, and the registry
query's oracle NESTS the constituent oracles verbatim as scoped
sub-CTEs — the corpus_keep_decision nesting pattern
(plans/span_queries.py), lifted to the fold family.

Verdict precedence (first matching gate wins, the
corpus_keep_decision CASE discipline):

1. ``drop_short``          n_tokens < 20
2. ``drop_low_diversity``  distinct-token fraction < 0.3
3. ``drop_near_dup``       not its verified-pair component's min id
4. ``drop_semantic_dup``   SemDeDup keep = false for its vector
   (docs without a vector pass this gate)
5. ``drop_contaminated``   shares >= 1 shingle with the bench suite
6. ``drop_over_budget``    outside its source's admitted prefix
7. ``keep``

Scale shape: the manifest read is five latest-wins reads joined on
doc_id — each constituent read is already touched-bucket-pruned /
parameter-sized by its own fold's laws, the joins shuffle 8-byte ids
+ booleans, and text/vectors never move. Laws in
tests/test_round9.py: stream == batch (== the composed one-shot) on
two order-preserving splits, prefix parity after every batch, replay
idempotence (including a partial-crash replay: one sub-fold ahead),
and checkpoint-release accounting.

MAINTENANCE SURFACE: the quality table carries a ``dbucket``
hash-bucket column under the pinned ``n_manifest_buckets`` (plain
per-batch deltas, bucketed layout via ``compact_every`` / rebucket),
declared once in :data:`MANIFEST_LAYOUT` (operators/statestore.py,
fold layouts);
:func:`rebucket_manifest_state` re-pins P across the WHOLE
composition behind an intent marker that makes the mixed-P crash
window refuse reads instead of mis-pruning (its docstring has the
cross-dir crash argument). Laws in tests/test_round10.py: composed
rebucket identity, crash-midway refusal + re-run convergence, and
the out-of-order refusal leaving zero partial state.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from stock_trend_predictor_spark.operators.checkpoints import (
    release_local_checkpoints,
)
from stock_trend_predictor_spark.operators.statestore import (
    PRUNE_MIN_BYTES,
    FoldLayout,
    begin_fold,
    check_bucket_count,
    check_fold_format,
    commit_fold,
    read_meta,
    read_state_table,
    rebucket_fold,
    write_json_atomic,
)
from stock_trend_predictor_spark.streaming.ingest import start_foreach_batch

#: verdict thresholds — corpus_keep_decision's quality gates.
MIN_TOKENS = 20
MIN_DIVERSITY = 0.3

#: default bucket count for the quality table — matches the
#: constituents' birth default so a composed re-pin keeps one P.
N_MANIFEST_BUCKETS = 64

#: the manifest's own on-disk layout: the quality table, hash-bucketed
#: on ``dbucket`` like every other fold's doc-keyed append table.
MANIFEST_LAYOUT = FoldLayout(
    name="manifest",
    tables={"quality": ("dbucket", ("doc_id",))},
    format_key="manifest_format",
    version=2,
    p_key="n_manifest_buckets",
    p_default=N_MANIFEST_BUCKETS,
)


def _sub(base_dir: str, name: str) -> str:
    return os.path.join(base_dir, name)


def _rebucket_intent_path(base_dir: str) -> str:
    return os.path.join(base_dir, "REBUCKET.json")


def _check_no_rebucket_in_progress(base_dir: str) -> None:
    """Refuse to fold or read while a composed rebucket's intent
    marker exists — between the marker's write and its removal the
    five constituent dirs may carry MIXED bucket layouts (each dir's
    own swap is atomic, but the composition has no cross-dir
    transaction), and the only safe move is to drive the rebucket to
    completion (idempotent — re-run it)."""
    path = _rebucket_intent_path(base_dir)
    if not os.path.exists(path):
        return
    try:
        with open(path) as fh:
            target = json.load(fh).get("target_p")
    except (OSError, ValueError):
        target = "?"
    raise RuntimeError(
        f"a composed rebucket to P={target} is in progress or "
        f"crashed midway on {base_dir!r} — constituent dirs may "
        f"carry mixed bucket layouts; re-run "
        f"rebucket_manifest_state(spark, base_dir, {target}) to "
        f"completion before folding or reading"
    )


def quality_row(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, diversity) — the arrival-time quality
    signals, corpus_keep_decision's exact expressions (raw doubles;
    rounding happens only at the manifest read's output)."""
    toks = F.split("text", " ")
    return docs.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        (
            F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
        ).alias("diversity"),
    )


def update_manifest_bench(
    spark: SparkSession,
    bench_docs: DataFrame,
    base_dir: str,
    batch_id: int,
) -> None:
    """Register (or extend) the decontamination bench suite — a
    delta-gram append plus the retro-rescore of every stored doc
    (decon_maintenance.update_decon_bench). Shares the composition's
    single batch-id sequence: callers interleave bench and corpus
    batches under strictly increasing ids."""
    from stock_trend_predictor_spark.streaming.decon_maintenance import (
        update_decon_bench,
    )

    _check_no_rebucket_in_progress(base_dir)
    update_decon_bench(
        spark, bench_docs, _sub(base_dir, "decon"), batch_id
    )


def update_manifest_state(
    spark: SparkSession,
    docs_batch: DataFrame,
    vecs_batch: DataFrame,
    base_dir: str,
    centroids: list[list[float]],
    batch_id: int,
    budget: int,
    decon_filter: Column | None = None,
    prune_min_bytes: int = PRUNE_MIN_BYTES,
    compact_every: int | None = None,
) -> None:
    """Fold one arrival batch — documents carrying (doc_id, text,
    source) plus their vectors (vec_id, v) — through every
    constituent fold under ONE batch id, then commit the manifest's
    own quality delta as the composition's low-water mark (module
    docstring). ``decon_filter`` restricts which docs the decon
    screen treats as corpus (the registry convention excludes the
    bench suite's own ids — they are the benchmark, not candidates);
    the other constituents always see the whole batch.

    PRECONDITIONS (inherited from the constituents): each doc/vec
    arrives exactly once, and arrival order is doc_id order across
    batches (the budget constituent's hard-frontier law). The order
    precondition is ENFORCED, not assumed: the
    committed max folded doc_id rides META's ``progress`` watermark
    (written atomically with the quality commit — the low-water
    mark, so a partial-crash replay re-checks against the pre-batch
    value), and a batch whose min doc_id does not exceed it RAISES
    before any constituent commit — an out-of-order arrival would
    otherwise silently change budget admission.

    ``compact_every=N`` runs the statestore OPTIMIZE after each Nth
    batch across the composition's bucketed tables in one cadence:
    the near-dup and SemDeDup constituents compact their own tables,
    and the manifest's quality deltas compact into a
    dbucket-partitioned segment (the family's LSM discipline — plain
    per-batch deltas carrying the bucket column, bucketed layout via
    compaction/rebucket)."""
    from stock_trend_predictor_spark.operators import dedup as D
    from stock_trend_predictor_spark.streaming.budget import (
        update_budget_state,
    )
    from stock_trend_predictor_spark.streaming.decon_maintenance import (
        update_decon_docs,
    )
    from stock_trend_predictor_spark.streaming.neardup_maintenance import (
        update_neardup_state,
    )
    from stock_trend_predictor_spark.streaming.semdedup_maintenance import (
        update_semdedup_state,
    )

    _check_no_rebucket_in_progress(base_dir)
    entry = begin_fold(MANIFEST_LAYOUT, base_dir, batch_id)
    if entry is None:
        return  # the whole composition already folded this batch
    meta, p = entry
    # featurize the batch once — four constituents consume it
    docs = docs_batch.select("doc_id", "text", "source").localCheckpoint(
        eager=True
    )
    # enforce the budget constituent's order precondition BEFORE any
    # sub-fold commits: a refused batch must leave zero partial state
    lo_id, hi_id = docs.agg(F.min("doc_id"), F.max("doc_id")).first()
    prior_max = (meta or {}).get("progress", {}).get("max_doc_id")
    if (
        lo_id is not None
        and prior_max is not None
        and lo_id <= prior_max
    ):
        release_local_checkpoints(docs)
        raise RuntimeError(
            f"out-of-order arrival batch {batch_id}: min doc_id "
            f"{lo_id} does not exceed the committed watermark "
            f"{prior_max} — the composition requires arrival order "
            f"to be doc_id order (budget admission is an "
            f"arrival-order prefix rule; folding this batch would "
            f"silently change the admitted set)"
        )
    # the four constituents write to FOUR DISJOINT state dirs and
    # never read each other's — independent jobs, so the driver
    # submits them from a thread pool and they back-fill each other's
    # straggler tails instead of serializing four fold walls per
    # batch (the §2.6 overlap discipline). The composition's crash
    # contract is unchanged: there was never a cross-dir transaction —
    # a crash (or one constituent failing) leaves an arbitrary subset
    # of sub-folds committed, and the at-least-once re-delivery
    # converges exactly as before (committed sub-folds skip on their
    # replay guards). The manifest's own quality commit still runs
    # strictly AFTER all four succeed — the low-water mark.
    decon_docs = docs if decon_filter is None else docs.where(decon_filter)
    constituents = [
        lambda: update_neardup_state(
            spark,
            D.with_shingle_hashes(docs).select("doc_id", "hs"),
            _sub(base_dir, "nd"),
            batch_id=batch_id,
            prune_min_bytes=prune_min_bytes,
            compact_every=compact_every,
        ),
        lambda: update_semdedup_state(
            spark,
            vecs_batch.select("vec_id", "v"),
            _sub(base_dir, "sem"),
            centroids,
            batch_id=batch_id,
            prune_min_bytes=prune_min_bytes,
            compact_every=compact_every,
        ),
        lambda: update_decon_docs(
            spark,
            decon_docs.select("doc_id", "text"),
            _sub(base_dir, "decon"),
            batch_id=batch_id,
        ),
        lambda: update_budget_state(
            spark,
            docs,
            _sub(base_dir, "budget"),
            budget=int(budget),
            batch_id=batch_id,
        ),
    ]
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=4) as pool:
        futures = [pool.submit(fn) for fn in constituents]
        errs = [f.exception() for f in futures]
    for err in errs:
        if err is not None:
            release_local_checkpoints(docs)
            raise err
    # the manifest's own commit runs LAST — the composition's
    # low-water mark for the replay discipline. quality is bucketed
    # on dbucket under the pinned P, and the order-watermark advances
    # in the same atomic META swap.
    new_max = hi_id if prior_max is None else max(
        prior_max, hi_id if hi_id is not None else prior_max
    )
    commit_fold(
        spark,
        MANIFEST_LAYOUT,
        base_dir,
        batch_id,
        {"quality": MANIFEST_LAYOUT.with_bucket("quality", quality_row(docs), p)},
        p,
        compact_every,
        progress_meta={} if new_max is None else {"max_doc_id": new_max},
    )
    release_local_checkpoints(docs)


def read_curation_manifest(
    spark: SparkSession, base_dir: str
) -> DataFrame | None:
    """The current per-document verdict — one row per folded doc:
    (doc_id, n_tokens, diversity, nd_cluster, sem_keep, contaminated,
    admitted, decision), with the precedence CASE from the module
    docstring. None before the first manifest commit. Every signal is
    the constituent fold's own latest-wins read."""
    from stock_trend_predictor_spark.functions.exact import stable_round
    from stock_trend_predictor_spark.streaming.budget import (
        read_admitted_docs,
    )
    from stock_trend_predictor_spark.streaming.decon_maintenance import (
        read_decon_scores,
    )
    from stock_trend_predictor_spark.streaming.neardup_maintenance import (
        read_neardup_clusters,
    )
    from stock_trend_predictor_spark.streaming.semdedup_maintenance import (
        read_semdedup_keep,
    )

    _check_no_rebucket_in_progress(base_dir)
    check_fold_format(MANIFEST_LAYOUT, read_meta(base_dir))
    q = read_state_table(spark, base_dir, "quality")
    if q is None:
        return None
    nd = read_neardup_clusters(spark, _sub(base_dir, "nd"))
    sem = read_semdedup_keep(spark, _sub(base_dir, "sem"))
    dec = read_decon_scores(spark, _sub(base_dir, "decon"))
    bud = read_admitted_docs(spark, _sub(base_dir, "budget"))
    j = q.join(nd, "doc_id")
    if sem is not None:
        j = j.join(
            sem.select(
                F.col("vec_id").alias("doc_id"),
                F.col("keep").alias("_sem_keep"),
            ),
            "doc_id",
            "left",
        )
    else:
        j = j.withColumn("_sem_keep", F.lit(None).cast("boolean"))
    if dec is not None:
        j = j.join(
            dec.where(F.col("n_contaminated") > 0)
            .select("doc_id")
            .distinct()
            .withColumn("_dec_hit", F.lit(True)),
            "doc_id",
            "left",
        )
    else:
        j = j.withColumn("_dec_hit", F.lit(None).cast("boolean"))
    adm = (
        bud.select("doc_id").withColumn("_adm", F.lit(True))
        if bud is not None
        else None
    )
    if adm is not None:
        j = j.join(adm, "doc_id", "left")
    else:
        j = j.withColumn("_adm", F.lit(None).cast("boolean"))
    sem_keep = F.coalesce("_sem_keep", F.lit(True))
    contaminated = F.coalesce("_dec_hit", F.lit(False))
    admitted = F.coalesce("_adm", F.lit(False))
    decision = (
        F.when(F.col("n_tokens") < MIN_TOKENS, F.lit("drop_short"))
        .when(
            F.col("diversity") < MIN_DIVERSITY,
            F.lit("drop_low_diversity"),
        )
        .when(F.col("doc_id") != F.col("cluster"), F.lit("drop_near_dup"))
        .when(~sem_keep, F.lit("drop_semantic_dup"))
        .when(contaminated, F.lit("drop_contaminated"))
        .when(~admitted, F.lit("drop_over_budget"))
        .otherwise(F.lit("keep"))
    )
    return j.select(
        "doc_id",
        "n_tokens",
        stable_round("diversity", 6).alias("diversity"),
        F.col("cluster").alias("nd_cluster"),
        sem_keep.alias("sem_keep"),
        contaminated.alias("contaminated"),
        admitted.alias("admitted"),
        decision.alias("decision"),
    )


def rebucket_manifest_state(
    spark: SparkSession, base_dir: str, new_p: int
) -> bool:
    """Grow (or shrink) the COMPOSITION's bucket count in one move —
    the maintenance surface the constituent folds each expose,
    lifted to the capstone. Re-buckets every
    bucketed constituent (near-dup bands/shingles/labels, SemDeDup
    members/labels) and the manifest's own quality table under ONE
    target P, re-pinning each dir's layout parameter; decon and
    budget keep no bucketed probe tables, so there is nothing to
    rewrite there.

    Crash consistency ACROSS dirs: each constituent's rewrite+re-pin
    is atomic in ITS dir (statestore.rebucket_append_table), but
    there is no cross-dir transaction — so the composed move is
    fenced by an INTENT marker (``REBUCKET.json`` in ``base_dir``,
    written atomically before the first rewrite, removed after the
    last): while it exists, every fold/read entry point REFUSES (the
    dirs may carry mixed P), and re-running this function with the
    marker's target drives the move to completion — each
    constituent rebucket is idempotent-convergent (re-deriving an
    already-new-P table under new P is a no-op rewrite). The
    manifest's own quality rewrite runs LAST, keeping the
    composition's low-water-mark discipline: its re-pin is the
    signal the composed move completed. Returns False before the
    first manifest commit."""
    from stock_trend_predictor_spark.streaming.neardup_maintenance import (
        rebucket_neardup_state,
    )
    from stock_trend_predictor_spark.streaming.semdedup_maintenance import (
        rebucket_semdedup_state,
    )

    meta = read_meta(base_dir)
    check_fold_format(MANIFEST_LAYOUT, meta)
    if meta is None:
        return False
    new_p = check_bucket_count(new_p)
    # INTENT first — readers/folders refuse until the move completes
    intent = _rebucket_intent_path(base_dir)
    write_json_atomic(intent, {"target_p": new_p})
    rebucket_neardup_state(spark, _sub(base_dir, "nd"), new_p)
    rebucket_semdedup_state(spark, _sub(base_dir, "sem"), new_p)
    # the manifest's own rewrite + re-pin LAST (low-water mark)
    changed = rebucket_fold(spark, MANIFEST_LAYOUT, base_dir, new_p)
    os.unlink(intent)
    return changed


def manifest_maintenance_sink(
    doc_stream: DataFrame,
    base_dir: str,
    checkpoint: str,
    centroids: list[list[float]],
    budget: int,
    vec_lookup: DataFrame,
    decon_filter: Column | None = None,
):
    """Continuous manifest maintenance over a document stream.
    ``vec_lookup`` is the static (vec_id, v) side joined per batch
    (a real pipeline would carry embeddings inline on the stream;
    the join keeps the sink test-drivable from one parquet stream)."""

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        ids = batch.select(F.col("doc_id").alias("vec_id"))
        vecs = vec_lookup.join(ids, "vec_id")
        update_manifest_state(
            batch.sparkSession,
            batch,
            vecs,
            base_dir,
            centroids,
            batch_id=batch_id,
            budget=budget,
            decon_filter=decon_filter,
        )

    return start_foreach_batch(doc_stream, write_batch, checkpoint)
