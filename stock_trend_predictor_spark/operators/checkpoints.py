"""Explicit storage release for eager ``localCheckpoint`` frames.

The maintained folds (the streaming maintenance modules) eagerly
localCheckpoint their per-batch intermediates — the right call for
correctness (lineage truncation breaks read-own-target hazards and
stops multi-consumer recompute), but Spark only frees a local
checkpoint's executor blocks when the JVM garbage-collects the RDD
object, which a long-running driver may never do. A continuous
``writeStream`` sink therefore accumulated one checkpoint block set
PER BATCH, unbounded: six 30x fold builds in one 16 GiB JVM OOM'd.

``release_local_checkpoints`` frees those blocks deterministically:
a checkpointed DataFrame's analyzed plan is a ``LogicalRDD`` leaf
holding the persisted internal RDD, so walking the leaves and calling
``rdd().unpersist(False)`` releases exactly that frame's storage —
nothing shared, nothing cache-managed. The contract is the usual
localCheckpoint one, inverted: a released frame CANNOT be recomputed
(its lineage is gone), so release strictly after the last action that
consumes it. Non-checkpoint frames pass through as no-ops (their
leaves carry no ``rdd`` accessor, or the RDD was never persisted).

Verified observable: ``sc._jsc.getPersistentRDDs().size()`` returns
to its pre-fold value after every ``update_*`` call (law-tested in
tests/test_round9.py for each fold in the family).
"""

from __future__ import annotations

import contextlib
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession


@contextlib.contextmanager
def job_phase(spark: SparkSession, phase: str):
    """Label the Spark jobs of a code region (guide §1.5): appends
    ``" | <phase>"`` to the current thread's job description and
    restores the previous value on exit, so a bench's per-query label
    (``Q:<name>``) keeps wrapping the operator-level phase labels.
    Pure observability — event-log/UI attribution for multi-job
    operators (folds, Lloyd loops, CC batches); no effect on plans."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(f"{prev} | {phase}" if prev else phase)
    try:
        yield
    finally:
        sc.setJobDescription(prev)


def release_local_checkpoints(*dfs: DataFrame | None) -> None:
    """Free the executor storage blocks behind eagerly checkpointed
    DataFrames. Safe on None / non-checkpoint frames (no-op); call
    only after the last action that reads each frame — a released
    local checkpoint cannot be recomputed.

    OWNERSHIP RULE (r9): a frame is released only when its analyzed
    plan IS the checkpoint leaf — the exact shape
    ``.localCheckpoint()`` returns. A DERIVED frame (any operator
    over a checkpointed input) is a true no-op, NOT a walk to its
    leaves: those leaves are the INPUT's RDDs, owned by whoever
    created them — the first cut of this helper walked
    ``collectLeaves()`` and a constituent fold could silently free
    its CALLER's still-live input blocks (caught by
    tests/test_round9.py::test_manifest_releases_checkpoint_blocks
    going 3 → 1 instead of 3 → 3). To release, pass the handle you
    called ``.localCheckpoint(eager=True)`` on, nothing else."""
    for df in dfs:
        if df is None:
            continue
        try:
            analyzed = df._jdf.queryExecution().analyzed()
            if analyzed.getClass().getSimpleName() != "LogicalRDD":
                continue  # derived frame: not ours to free
            analyzed.rdd().unpersist(False)
        except Exception:
            pass  # never let cleanup break the fold itself


def scratch_state_dir(tag: str, sf_dir: str) -> str:
    """A registry query's throwaway fold-state dir,
    ``<tmp>/<tag>-<basename of sf_dir>-<pid>``, wiped on entry. One dir
    per (run target, process): a shared per-target dir let two
    concurrent sessions on one target wipe each other's state
    mid-fold, and a fresh mkdtemp per call leaked a dir per call.
    Callers drop it with :func:`materialize_then_cleanup` once the
    result no longer reads it."""
    path = os.path.join(
        tempfile.gettempdir(),
        f"{tag}-{os.path.basename(os.path.normpath(sf_dir))}-{os.getpid()}",
    )
    shutil.rmtree(path, ignore_errors=True)
    return path


def materialize_then_cleanup(df: DataFrame, *state_dirs: str) -> DataFrame:
    """Pin a result that lazily reads throwaway fold-state parquet,
    then delete the state dirs: dirs wiped only at the start of a
    same-pid rerun leak across processes and accumulate in the temp
    dir over repeated bench/driver invocations.

    The eager localCheckpoint materializes the read BEFORE the files
    vanish; the returned frame is self-contained (registry fold
    results are top-k / per-doc sized, so the pinned blocks are
    small and die with the session)."""
    out = df.localCheckpoint(eager=True)
    for d in state_dirs:
        shutil.rmtree(d, ignore_errors=True)
    return out
