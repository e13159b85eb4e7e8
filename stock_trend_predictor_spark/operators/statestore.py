"""Replay-idempotent, atomically-committed parquet state for
foreachBatch sinks.

foreachBatch delivers at-least-once, so any sink whose state update is
not idempotent (additive sketches, admission sets, rollups) needs a
commit protocol: state versions land in fresh ``v-{version}`` dirs
(one parquet table per name), then ``META.json`` — recording the dir,
its table names, and the last applied ``batch_id`` — is swapped in
atomically (tmp file + ``os.replace``). A replayed batch (id <= the
committed one) is skipped before any write; a crash mid-write leaves
META pointing at the previous complete version; superseded version
dirs are GC'd after the commit.

Two table classes, two write disciplines:

- **snapshot tables** (``tables=``): rewritten whole every version —
  right for parameter-sized state (sketch cells, totals, admission
  frontiers) where the rewrite is cheap and reads stay one file.
- **append tables** (``appends=``): per-batch DELTA segments written
  under ``seg-{table}/b-{batch_id}``, with META recording the list of
  COMMITTED segment paths. Right for corpus-growing, append-only
  state (band indexes, shingle stores, discovered-pair logs) — the
  per-commit write is batch-sized instead of corpus-sized, which the
  30x neardup-fold measure showed dominating the wall once the
  accumulated index outgrew the arrivals. Crash safety is unchanged:
  a segment written before a crash is invisible (META still lists the
  old segment set) and the retried batch overwrites it in place;
  reads union exactly the committed list, never a directory glob.

Append tables can additionally be **hash-bucketed on disk**
(``append_partition_by=``): a segment written with it is
directory-partitioned on the named columns (``bucket=K/`` subdirs),
and :func:`read_state_table` accepts ``partition_filter`` so a probe
that only needs a key subset reads ONLY those bucket directories —
Spark's partition pruning discards the rest at planning time, so
probe READ IO scales with the requesting batch's bucket set, not the
accumulated corpus. Scale the bucket count with the corpus (the same
nlist ~ N/500 discipline as operators/ivf.py: pick P so a bucket
holds a bounded row count) and re-bucket via
:func:`rebucket_append_table` when the corpus outgrows it — it
re-derives the bucket column under the new P, rewrites the segments,
and re-pins the layout parameter in the SAME atomic META swap (the
only sanctioned override of the first-commit-wins pin).

Segments of one table may MIX layouts — the LSM-style write path:
per-batch deltas land UNPARTITIONED (a directory-partitioned write of
a tiny delta pays repartition + per-dir committer overhead for
nothing), while compaction rewrites the accumulated list into a
bucketed segment. ``partition_filter`` stays correct across the mix:
on a bucketed segment the predicate prunes directories at planning
time; on a plain delta the bucket is an ordinary column and the same
predicate is a row filter over a batch-sized file. Steady state under
periodic compaction = one big PRUNED segment + a few small scanned
deltas — batch-proportional probe IO either way. (Reads auto-discover
each segment's layout; META's ``partitioned`` entry only remembers
the latest layout as the compaction default.)

Long-lived folds accumulate one delta segment per batch;
:func:`compact_append_table` is the OPTIMIZE step — it rewrites the
committed segment list into one segment and atomically swaps the META
list, preserving (or re-writing) the bucket layout. Reads are
row-identical before and after, and a crash between the compacted
write and the META swap is invisible (the orphan dir is never
referenced; a later compaction at a higher version overwrites its own
fresh path).

**Single-writer contract — ENFORCED.** One streaming query (or one
registry build) owns a state dir at a time. Without enforcement two
concurrent writers both read META ``v_n`` and both swap a ``v_n+1``
pointer; the second ``os.replace`` wins and silently orphans the
first writer's segments — a classic lost update that at 100 TB is
"two ingest jobs pointed at one index", an operator error the layer
must REFUSE, not absorb (r9 verdict #2). Every META-swapping entry
point (:func:`commit_state`, :func:`rebucket_append_table`,
:func:`compact_append_table`) therefore takes a pid-scoped writer
lease for the duration of its write+swap: ``WRITER.lock`` is created
atomically (content-complete via ``os.link`` of a prewritten temp —
never observable half-written), a second writer that finds a lease
held by a LIVE process raises :class:`ConcurrentWriterError`
immediately (no partial write), and a lease left by a DEAD process
(a crashed writer) is stolen so crash-retry keeps working — the
retried batch re-reads META, which still points at the last complete
version. Two threads of one process refusing each other is
intentional: same box, same bug. On a shared object store without
atomic rename the same protocol rides a conditional-put of META (the
put's version precondition IS the CAS this lease emulates locally) or
a log-structured manifest (see sources/tick_api.py's per-batch
manifest commit) — the local form here keeps the identical
read/commit API.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class ConcurrentWriterError(RuntimeError):
    """A second writer attempted to commit to a state dir whose
    writer lease is held by a live process (module docstring:
    single-writer contract). The loser gets this BEFORE writing
    anything — no segment, no META swap — so refusing is free."""


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True  # exists, owned by someone else — still alive
    return True


def _acquire_writer_lease(state_dir: str) -> str:
    """Take the state dir's writer lease or raise
    :class:`ConcurrentWriterError`. The lease file is created
    content-complete in one atomic step (``os.link`` from a
    prewritten per-pid temp), so a contender never observes a
    half-written lease. A lease whose recorded pid is dead is a
    crashed writer's leftover: steal it (remove + retry once — if
    two stealers race, the ``os.link`` exclusivity picks exactly
    one winner and the other raises)."""
    lock = os.path.join(state_dir, "WRITER.lock")
    tmp = f"{lock}.tmp.{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump({"pid": os.getpid()}, fh)
    try:
        for attempt in range(2):
            try:
                os.link(tmp, lock)
                return lock
            except FileExistsError:
                try:
                    with open(lock) as fh:
                        holder = int(json.load(fh)["pid"])
                except FileNotFoundError:
                    continue  # released between link and read — retry
                except (ValueError, KeyError, TypeError, OSError) as exc:
                    raise ConcurrentWriterError(
                        f"state dir {state_dir!r} has an unreadable "
                        f"writer lease {lock!r}; refusing to commit "
                        f"(remove it manually if no writer is live)"
                    ) from exc
                if _pid_alive(holder):
                    raise ConcurrentWriterError(
                        f"state dir {state_dir!r} is being written by "
                        f"live pid {holder}; a state dir is "
                        f"single-writer — point concurrent jobs at "
                        f"separate dirs"
                    )
                # crashed writer: steal, then retry the atomic link
                try:
                    os.unlink(lock)
                except FileNotFoundError:
                    pass
        raise ConcurrentWriterError(
            f"lost the lease-steal race twice on {state_dir!r}; "
            f"another writer is active"
        )
    finally:
        try:
            os.unlink(tmp)
        except FileNotFoundError:
            pass


def _release_writer_lease(lock: str) -> None:
    try:
        os.unlink(lock)
    except FileNotFoundError:
        pass


def read_meta(state_dir: str) -> dict | None:
    path = os.path.join(state_dir, "META.json")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        return json.load(fh)


def read_state_table(
    spark: SparkSession,
    state_dir: str,
    name: str,
    partition_filter: dict[str, list] | None = None,
) -> DataFrame | None:
    """The committed version's table ``name`` (snapshot or the union
    of an append table's committed segments), or None before the
    first commit (or if that version has no such table).

    ``partition_filter`` maps partition-column names to value lists;
    for a bucketed append table the resulting ``isin`` predicates
    prune to those bucket directories at planning time (batch-sized
    probe READ). Passing it for a non-partitioned table is still
    correct — it degrades to a plain post-scan filter."""
    meta = read_meta(state_dir)
    if meta is None:
        return None
    segs = meta.get("segments", {}).get(name)
    if segs:
        parts = [
            spark.read.parquet(os.path.join(state_dir, s)) for s in segs
        ]
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        return _apply_partition_filter(df, partition_filter)
    if name not in meta["tables"]:
        return None
    # per-table version dirs: a snapshot table not rewritten by the
    # latest commit still lives in the version dir that last wrote it
    # (carried forward by commit_state); legacy METAs without the
    # mapping fall back to the single latest dir.
    tdir = meta.get("table_dirs", {}).get(name, meta["dir"])
    df = spark.read.parquet(os.path.join(state_dir, tdir, name))
    return _apply_partition_filter(df, partition_filter)


def _apply_partition_filter(
    df: DataFrame, partition_filter: dict[str, list] | None
) -> DataFrame:
    for col, vals in (partition_filter or {}).items():
        vals = list(vals)
        # empty value set -> empty result (isin with no operands is
        # not a well-defined predicate across engines)
        df = df.where(
            F.col(col).isin(vals) if vals else F.lit(False)
        )
    return df


def _write_segment(
    df: DataFrame,
    path: str,
    partition_cols: list[str] | None,
    files_per_table: int,
) -> None:
    if partition_cols:
        # hash-repartition on the bucket columns first so each bucket
        # value lands in exactly one task -> one file per bucket dir
        # (partitionBy alone writes one file per (task, value) pair).
        # Width capped at files_per_table: a full shuffle.partitions
        # repartition measured 4x slower for batch-sized deltas, and
        # each of the few tasks just writes several bucket dirs.
        df.repartition(
            files_per_table, *[F.col(c) for c in partition_cols]
        ).write.mode("overwrite").partitionBy(*partition_cols).parquet(
            path
        )
    else:
        df.coalesce(files_per_table).write.mode("overwrite").parquet(path)


def _run_writes(
    writes: list[tuple[DataFrame, str, list[str] | None]],
    files_per_table: int,
) -> None:
    """Execute independent table writes: a single write runs inline,
    and more than one OVERLAP (each write is its own Spark job against
    its own directory, submitted from a small thread pool so a later
    job's tasks back-fill executors idled by an earlier job's
    straggler tail, instead of paying N sequential write walls per
    commit). All writes complete — or the first failure propagates —
    before the caller swaps META, so a half-written dir is never
    referenced."""
    def _labeled(df: DataFrame, path: str, pcols) -> None:
        from stock_trend_predictor_spark.operators.checkpoints import (
            job_phase,
        )

        # pool threads don't inherit the caller's thread-local job
        # description, so each write labels itself (guide §1.5)
        tag = "/".join(path.rstrip("/").split(os.sep)[-2:])
        with job_phase(df.sparkSession, f"commit:{tag}"):
            _write_segment(df, path, pcols, files_per_table)

    if len(writes) <= 1:
        for df, path, pcols in writes:
            _labeled(df, path, pcols)
        return
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(4, len(writes))) as pool:
        futures = [
            pool.submit(_labeled, df, path, pcols)
            for df, path, pcols in writes
        ]
        for f in futures:
            f.result()  # propagate the first failure before any swap


def commit_state(
    state_dir: str,
    tables: dict[str, DataFrame],
    batch_id: int | None = None,
    files_per_table: int = 1,
    appends: dict[str, DataFrame] | None = None,
    append_partition_by: dict[str, list[str]] | None = None,
    app_meta: dict | None = None,
    progress_meta: dict | None = None,
) -> bool:
    """Write every snapshot table to a fresh version dir, every append
    table's delta to a new segment, and atomically point META at the
    result. Returns False (no write at all) when ``batch_id`` was
    already applied — the replay-skip that makes an additive update
    effectively exactly-once.

    ``files_per_table`` controls write parallelism: 1 (default) is
    right for parameter-sized state where a single file keeps reads
    cheap; pass more for anything corpus-sized — a coalesce(1)
    serializes the whole write through one task, which the 30x
    neardup fold measured as a real wall-clock cost.

    ``appends`` maps table names to THIS BATCH'S new rows only; the
    committed table is the union of all committed segments (see
    module docstring). A name must be consistently snapshot or append
    across a state dir's lifetime.

    ``append_partition_by`` maps an append-table name to the columns
    THIS COMMIT'S segment is directory-partitioned on (hash-bucket
    layout for pruned probe reads — module docstring). Segments of a
    table may mix layouts (plain hot deltas + bucketed compacted
    history); the bucket columns must exist as ordinary columns in
    every plain segment so ``partition_filter`` stays meaningful
    across the mix.

    ``app_meta`` is a small JSON-able dict of APPLICATION config
    (bucket counts, thresholds) persisted inside META itself — read
    it back via read_meta()["app"] with zero Spark jobs. The FIRST
    committed value wins (later commits cannot silently change a
    layout-determining parameter); re-requesting a DIFFERENT value
    for a pinned key raises instead of silently keeping the old one
    (a caller that trusted its requested value would diverge from the
    on-disk layout with no signal — r7 advice); a 1-row parquet
    "config table" measured ~5 s per commit in driver round-trips,
    this is free.

    Snapshot tables NOT rewritten by a commit are CARRIED FORWARD:
    META records a per-table version dir (``table_dirs``), surviving
    dirs are exempt from GC, and reads resolve each table to the dir
    that last wrote it. An appends-only commit (``tables={}``) on a
    dir whose META lists snapshot tables therefore keeps them
    readable (r7 verdict: it used to GC every prior ``v-*`` dir while
    writing no new one — silent snapshot loss).

    ``progress_meta`` is the NON-pinned sibling of ``app_meta``: a
    small JSON-able dict merged last-write-wins into META's
    ``progress`` entry. Use it for running watermarks an update loop
    must carry across commits (e.g. the manifest fold's max folded
    doc_id) — values that by nature CHANGE every batch and so cannot
    live under the first-commit-wins ``app`` pin. Read back via
    ``read_meta()["progress"]``; rebucket/compact preserve it.

    Raises :class:`ConcurrentWriterError` (before any write) if
    another live process holds the dir's writer lease — the enforced
    single-writer contract (module docstring)."""
    os.makedirs(state_dir, exist_ok=True)
    lock = _acquire_writer_lease(state_dir)
    try:
        return _commit_state_locked(
            state_dir,
            tables,
            batch_id,
            files_per_table,
            appends,
            append_partition_by,
            app_meta,
            progress_meta,
        )
    finally:
        _release_writer_lease(lock)


def _commit_state_locked(
    state_dir: str,
    tables: dict[str, DataFrame],
    batch_id: int | None,
    files_per_table: int,
    appends: dict[str, DataFrame] | None,
    append_partition_by: dict[str, list[str]] | None,
    app_meta: dict | None,
    progress_meta: dict | None,
) -> bool:
    meta = read_meta(state_dir)
    if (
        meta is not None
        and batch_id is not None
        and meta.get("last_batch_id") is not None
        and batch_id <= meta["last_batch_id"]
    ):
        return False
    version = 0 if meta is None else meta["version"] + 1
    vdir = f"v-{version:010d}"
    # every table's write is an independent Spark job targeting its
    # own directory, and META is swapped only after ALL of them
    # complete — so the writes can OVERLAP (one driver thread each;
    # concurrent jobs back-fill each other's task tails instead of
    # serializing N write walls per commit). Any failure propagates
    # before the swap: a partially-written version dir / segment is
    # never referenced, exactly as in the sequential order.
    writes: list = []
    for name, df in tables.items():
        writes.append((df, os.path.join(state_dir, vdir, name), None))
    # carry forward snapshot tables this commit did not rewrite:
    # they stay in the version dir that last wrote them
    prev_dirs = (
        {
            n: meta.get("table_dirs", {}).get(n, meta["dir"])
            for n in meta["tables"]
        }
        if meta
        else {}
    )
    table_dirs = {**prev_dirs, **{n: vdir for n in tables}}
    segments = dict(meta.get("segments", {})) if meta else {}
    partitioned = dict(meta.get("partitioned", {})) if meta else {}
    for name, df in (appends or {}).items():
        # segment path keyed by version so a crash-then-retry (same
        # logical batch, new version number) never collides with a
        # committed segment; the orphan from the crashed attempt is
        # simply never referenced
        seg = os.path.join(f"seg-{name}", f"b-{version:010d}")
        pcols = (append_partition_by or {}).get(name)
        writes.append((df, os.path.join(state_dir, seg), pcols))
        segments[name] = [*segments.get(name, []), seg]
        if pcols:
            partitioned[name] = pcols
    _run_writes(writes, files_per_table)
    app = dict(meta.get("app", {})) if meta else {}
    for k, v in (app_meta or {}).items():
        if k in app and app[k] != v:
            raise ValueError(
                f"app_meta[{k!r}] is pinned to {app[k]!r} by an "
                f"earlier commit; refusing the conflicting {v!r} "
                f"(a layout-determining parameter cannot change "
                f"mid-fold — use rebucket_append_table for bucket "
                f"counts)"
            )
        app.setdefault(k, v)  # first commit wins
    progress = dict(meta.get("progress", {})) if meta else {}
    progress.update(progress_meta or {})  # last write wins, by design
    tmp = os.path.join(state_dir, "META.json.tmp")
    with open(tmp, "w") as fh:
        json.dump(
            {
                "format": 2,
                "version": version,
                "dir": vdir,
                "tables": sorted(table_dirs),
                "table_dirs": table_dirs,
                "segments": segments,
                "partitioned": partitioned,
                "app": app,
                "progress": progress,
                "last_batch_id": batch_id,
            },
            fh,
        )
    os.replace(tmp, os.path.join(state_dir, "META.json"))  # atomic commit
    live = {vdir, *table_dirs.values()}
    for name in os.listdir(state_dir):  # GC superseded versions
        if name.startswith("v-") and name not in live:
            shutil.rmtree(os.path.join(state_dir, name), ignore_errors=True)
    return True


def rebucket_append_table(
    spark: SparkSession,
    state_dir: str,
    recompute: dict,
    partition_by: dict[str, list[str]],
    app_updates: dict,
    files_per_table: int = 8,
) -> bool:
    """Re-bucket append tables under a NEW layout parameter — the
    grow lever for a fold whose corpus outgrew its on-disk bucket
    count. ``recompute`` maps table names to ``DataFrame ->
    DataFrame`` callables that RE-DERIVE the bucket column under the
    new parameter (the derivation is application knowledge — e.g.
    ``pmod(xxhash64(band_id, bkey), new_p)``); ``partition_by`` gives
    each table's directory-partition columns for the rewritten
    segment; ``app_updates`` are the layout keys to re-pin (e.g.
    ``{"n_band_buckets": new_p}``) — this is the ONE sanctioned
    override of ``commit_state``'s first-commit-wins pin, and it
    lands in the SAME atomic META swap as the segment lists, so
    readers can never observe new-P directories under an old-P pin
    (the silent mis-prune a naive directory rewrite would cause).

    ALL named tables rewrite before the single swap — tables whose
    bucket derivations share the parameter (bands + shingles) change
    together or not at all. Crash safety: rewritten segments land
    under ``seg-{name}/r-{version}`` first; a crash pre-swap leaves
    META (old segments, old pin) untouched and the orphan dirs
    unreferenced — a retry at the same version overwrites them in
    place. Old segment dirs are GC'd only after the swap. Returns
    False when no named table has committed segments. Holds the
    dir's writer lease for the whole rewrite+swap (raises
    :class:`ConcurrentWriterError` against a live concurrent
    writer — module docstring)."""
    if read_meta(state_dir) is None:
        return False
    lock = _acquire_writer_lease(state_dir)
    try:
        return _rebucket_append_table_locked(
            spark, state_dir, recompute, partition_by, app_updates,
            files_per_table,
        )
    finally:
        _release_writer_lease(lock)


def _rebucket_append_table_locked(
    spark: SparkSession,
    state_dir: str,
    recompute: dict,
    partition_by: dict[str, list[str]],
    app_updates: dict,
    files_per_table: int,
) -> bool:
    meta = read_meta(state_dir)
    if meta is None:
        return False
    version = meta["version"] + 1
    segments = dict(meta.get("segments", {}))
    partitioned = dict(meta.get("partitioned", {}))
    old_segs: list[str] = []
    rewrote = False
    for name, fn in recompute.items():
        segs = segments.get(name)
        if not segs:
            continue
        df = fn(read_state_table(spark, state_dir, name))
        pcols = partition_by.get(name)
        new_seg = os.path.join(f"seg-{name}", f"r-{version:010d}")
        _write_segment(
            df, os.path.join(state_dir, new_seg), pcols, files_per_table
        )
        old_segs.extend(segs)
        segments[name] = [new_seg]
        if pcols:
            partitioned[name] = pcols
        rewrote = True
    if not rewrote:
        return False
    app = {**meta.get("app", {}), **app_updates}
    tmp = os.path.join(state_dir, "META.json.tmp")
    with open(tmp, "w") as fh:
        json.dump(
            {
                **meta,
                "version": version,
                "segments": segments,
                "partitioned": partitioned,
                "app": app,
            },
            fh,
        )
    os.replace(tmp, os.path.join(state_dir, "META.json"))  # atomic swap
    for s in old_segs:  # GC only after the swap is durable
        shutil.rmtree(os.path.join(state_dir, s), ignore_errors=True)
    return True


def compact_append_table(
    spark: SparkSession,
    state_dir: str,
    name: str,
    files_per_table: int = 8,
    repartition_by: list[str] | None = None,
) -> bool:
    """OPTIMIZE an append table: rewrite its committed delta segments
    into ONE compacted segment and atomically swap META's segment
    list. Returns False if there is nothing to do — no committed
    segments, or a single segment with no re-layout requested
    (``repartition_by`` forces a single-segment rewrite too: that is
    the plain-delta -> bucketed-layout conversion). Reads are
    identical before/after (same row multiset — law-tested); the
    bucket layout is preserved, or a plain-delta table converts to
    the bucketed layout when ``repartition_by`` names its existing
    bucket columns. Compaction never CHANGES bucket values — growing
    a fold's bucket count is :func:`rebucket_append_table`'s job
    (it re-derives the column and re-pins the layout parameter in
    the same swap).

    Crash safety: the compacted segment lands under ``seg-{name}/
    c-{version}`` BEFORE the META swap; a crash in between leaves
    META referencing the old segment list, so the half-written (or
    fully-written-but-unreferenced) compact dir is invisible. GC of
    superseded segment dirs happens only after the swap. Holds the
    dir's writer lease across the rewrite+swap (raises
    :class:`ConcurrentWriterError` against a live concurrent
    writer)."""
    if read_meta(state_dir) is None:
        return False
    lock = _acquire_writer_lease(state_dir)
    try:
        return _compact_append_table_locked(
            spark, state_dir, name, files_per_table, repartition_by
        )
    finally:
        _release_writer_lease(lock)


def _compact_append_table_locked(
    spark: SparkSession,
    state_dir: str,
    name: str,
    files_per_table: int,
    repartition_by: list[str] | None,
) -> bool:
    meta = read_meta(state_dir)
    if meta is None:
        return False
    segs = meta.get("segments", {}).get(name)
    if not segs or (len(segs) <= 1 and repartition_by is None):
        return False
    df = read_state_table(spark, state_dir, name)
    version = meta["version"] + 1
    pcols = (
        repartition_by
        if repartition_by is not None
        else meta.get("partitioned", {}).get(name)
    )
    new_seg = os.path.join(f"seg-{name}", f"c-{version:010d}")
    _write_segment(
        df, os.path.join(state_dir, new_seg), pcols, files_per_table
    )
    segments = dict(meta.get("segments", {}))
    old_segs = segments[name]
    segments[name] = [new_seg]
    partitioned = dict(meta.get("partitioned", {}))
    if pcols:
        partitioned[name] = pcols
    else:
        partitioned.pop(name, None)
    tmp = os.path.join(state_dir, "META.json.tmp")
    with open(tmp, "w") as fh:
        json.dump({**meta, "version": version,
                   "segments": segments, "partitioned": partitioned}, fh)
    os.replace(tmp, os.path.join(state_dir, "META.json"))  # atomic swap
    for s in old_segs:  # GC only after the swap is durable
        shutil.rmtree(os.path.join(state_dir, s), ignore_errors=True)
    return True
