"""Replay-idempotent, atomically-committed parquet state for
foreachBatch sinks.

foreachBatch delivers at-least-once, so any sink whose state update is
not idempotent (additive sketches, admission sets, rollups) needs a
commit protocol. Every state change in this module follows the same
three steps:

1. take the state dir's writer lease (:func:`_writer_lease`);
2. write every new table into a directory no committed META names
   (:func:`_run_writes`);
3. swap ``META.json`` atomically (tmp file + ``os.replace``), then GC
   what the swap superseded (:func:`_swap_meta`).

A crash before step 3 leaves META pointing at the previous complete
state, and the unreferenced directories are invisible to reads.

Two table classes, two write disciplines:

- **snapshot tables** (``tables=``): rewritten whole every version
  into a fresh ``v-{version}`` dir. Right for parameter-sized state
  (sketch cells, totals, admission frontiers), where the rewrite is
  cheap and reads stay one file. A table a commit does not rewrite is
  carried forward: META's ``table_dirs`` maps each table to the
  version dir that last wrote it.
- **append tables** (``appends=``): per-batch delta segments written
  under ``seg-{table}/b-{version}``, with META recording the list of
  committed segment paths. Right for corpus-growing, append-only state
  (band indexes, shingle stores, discovered-pair logs): the per-commit
  write is batch-sized instead of corpus-sized. Reads union exactly
  the committed list, never a directory glob.

**Replay skip.** META records the last applied ``batch_id``; a batch
whose id is not above it is skipped before any write, so an additive
update is effectively exactly-once.

**Bucketed segments.** An append segment may be directory-partitioned
on bucket columns (``append_partition_by=``), and
:func:`read_state_table`'s ``partition_filter`` then prunes a probe to
the requested bucket dirs at planning time. Segments of one table may
mix layouts: per-batch deltas land unpartitioned, and compaction
rewrites the list into one bucketed segment. The filter stays correct
across the mix: it prunes directories of a bucketed segment and is a
row filter over a plain delta. META's ``partitioned`` entry remembers
the latest layout as the compaction default.

**Segment rewrites.** :func:`compact_append_table` (the OPTIMIZE step:
one segment ``c-{version}``, same rows) and
:func:`rebucket_append_table` (re-derive the bucket column under a new
parameter, ``r-{version}``) share one body. Rebucket re-pins the
layout parameter in ``app`` in the same META swap as the new segment
lists, so readers never see new-layout dirs under an old pin.

**Pinned parameters.** ``app_meta`` is first-commit-wins: a later
commit that requests a different value for a pinned key raises.
Rebucket is the only way to change a pinned value. ``progress_meta``
is the last-write-wins sibling for running watermarks.

**Single writer, enforced.** One streaming query (or one registry
build) owns a state dir at a time. Two concurrent writers would both
read META ``v_n`` and both swap a ``v_n+1``; the second swap would
silently orphan the first writer's segments. Every entry point that
swaps META therefore holds a pid-scoped lease, ``WRITER.lock``, for
the duration of its write and swap. The lease file is created
content-complete in one step (``os.link`` of a prewritten temp file).
A second writer that finds the lease held by a live process raises
:class:`ConcurrentWriterError` before writing anything. A lease left
by a dead process (a crashed writer) is stolen, so a crash-retry
keeps working. Two threads of one process refuse each other too. On
an object store without atomic rename, the same protocol rides a
conditional put of META.

:func:`write_batch_file` is the same idea for a plain tick sink: a
batch's rows land as one file named by the query and the batch id, so
a replayed batch replaces its own file instead of appending again.
"""

from __future__ import annotations

import json
import os
import shutil
from contextlib import contextmanager
from functools import reduce

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


@contextmanager
def _writer_lease(state_dir: str):
    """Hold the state dir's writer lease for the body: the one
    single-writer guard of every entry point that swaps META."""
    lock = _acquire_writer_lease(state_dir)
    try:
        yield
    finally:
        _release_writer_lease(lock)


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
    if meta["segments"].get(name):
        df = reduce(
            DataFrame.unionByName,
            (spark.read.parquet(os.path.join(state_dir, s))
             for s in meta["segments"][name]),
        )
    elif name in meta["table_dirs"]:
        df = spark.read.parquet(
            os.path.join(state_dir, meta["table_dirs"][name], name)
        )
    else:
        return None
    for col, vals in (partition_filter or {}).items():
        vals = list(vals)
        # empty value set -> empty result (isin with no operands is
        # not a well-defined predicate across engines)
        df = df.where(F.col(col).isin(vals) if vals else F.lit(False))
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


def _swap_meta(state_dir: str, meta: dict, superseded: list[str]) -> None:
    """The commit point: write ``META.json.tmp``, ``os.replace`` it
    over ``META.json``, then GC the dirs (relative to ``state_dir``)
    that the new META no longer references. A crash before the
    replace leaves the old META in force; a crash after it leaves at
    worst unreferenced garbage."""
    tmp = os.path.join(state_dir, "META.json.tmp")
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
    os.replace(tmp, os.path.join(state_dir, "META.json"))
    for rel in superseded:
        shutil.rmtree(os.path.join(state_dir, rel), ignore_errors=True)


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
    serializes the whole write through one task.

    ``appends`` maps table names to THIS BATCH'S new rows only; the
    committed table is the union of all committed segments. A name
    must be consistently snapshot or append across a state dir's
    lifetime. Snapshot tables a commit does not rewrite are carried
    forward (module docstring).

    ``append_partition_by`` maps an append-table name to the columns
    THIS COMMIT'S segment is directory-partitioned on. The bucket
    columns must exist as ordinary columns in every plain segment so
    ``partition_filter`` stays meaningful across a mix of layouts.

    ``app_meta`` is a small JSON-able dict of application config
    (bucket counts, thresholds) persisted inside META itself, read
    back via ``read_meta()["app"]`` with zero Spark jobs. The first
    committed value wins; re-requesting a different value for a
    pinned key raises, before any write, instead of silently keeping
    the old one.

    ``progress_meta`` is merged last-write-wins into META's
    ``progress`` entry: running watermarks an update loop carries
    across commits (e.g. the manifest fold's max folded doc_id).
    Rebucket and compact preserve it.

    Raises :class:`ConcurrentWriterError` (before any write) if
    another live process holds the dir's writer lease."""
    os.makedirs(state_dir, exist_ok=True)
    with _writer_lease(state_dir):
        meta = read_meta(state_dir) or {
            "version": -1, "table_dirs": {}, "segments": {},
            "partitioned": {}, "app": {}, "progress": {},
            "last_batch_id": None,
        }
        last = meta["last_batch_id"]
        if batch_id is not None and last is not None and batch_id <= last:
            return False
        app = dict(meta["app"])
        for k, v in (app_meta or {}).items():
            if app.setdefault(k, v) != v:  # first commit wins
                raise ValueError(
                    f"app_meta[{k!r}] is pinned to {app[k]!r} by an "
                    f"earlier commit; refusing the conflicting {v!r} "
                    f"(a layout-determining parameter cannot change "
                    f"mid-fold — use rebucket_append_table for bucket "
                    f"counts)"
                )
        version = meta["version"] + 1
        vdir = f"v-{version:010d}"
        writes = [
            (df, os.path.join(state_dir, vdir, name), None)
            for name, df in tables.items()
        ]
        table_dirs = {**meta["table_dirs"], **dict.fromkeys(tables, vdir)}
        segments = dict(meta["segments"])
        partitioned = dict(meta["partitioned"])
        for name, df in (appends or {}).items():
            # keyed by version, so a crashed attempt's orphan segment
            # is never referenced and a retry writes a fresh path
            seg = os.path.join(f"seg-{name}", f"b-{version:010d}")
            pcols = (append_partition_by or {}).get(name)
            writes.append((df, os.path.join(state_dir, seg), pcols))
            segments[name] = [*segments.get(name, []), seg]
            if pcols:
                partitioned[name] = pcols
        _run_writes(writes, files_per_table)
        live = {vdir, *table_dirs.values()}
        _swap_meta(
            state_dir,
            {
                "format": 2,
                "version": version,
                "dir": vdir,
                "tables": sorted(table_dirs),
                "table_dirs": table_dirs,
                "segments": segments,
                "partitioned": partitioned,
                "app": app,
                "progress": {**meta["progress"], **(progress_meta or {})},
                "last_batch_id": batch_id,
            },
            [n for n in os.listdir(state_dir)
             if n.startswith("v-") and n not in live],
        )
        return True


def _rewrite_segments(
    spark: SparkSession,
    state_dir: str,
    prefix: str,
    derive: dict,
    partition_by: dict[str, list[str] | None],
    app_updates: dict,
    files_per_table: int,
) -> bool:
    """Rewrite each named append table's committed segments into one
    segment ``seg-{name}/{prefix}-{version}``, then swap META once.

    ``derive`` maps a table to a ``DataFrame -> DataFrame`` callable,
    or to None for the identity. ``partition_by`` gives a table's new
    layout; a table it omits keeps its current one. An identity
    rewrite of a single segment with no new layout has nothing to do
    and is skipped. ``app_updates`` are re-pinned in the same swap.
    Returns False when no table was rewritten."""
    if read_meta(state_dir) is None:
        return False
    with _writer_lease(state_dir):
        meta = read_meta(state_dir)
        version = meta["version"] + 1
        segments = dict(meta["segments"])
        partitioned = dict(meta["partitioned"])
        writes, superseded = [], []
        for name, fn in derive.items():
            segs = segments.get(name)
            if not segs or (
                fn is None and len(segs) == 1 and name not in partition_by
            ):
                continue
            df = read_state_table(spark, state_dir, name)
            pcols = partition_by.get(name, partitioned.get(name))
            seg = os.path.join(f"seg-{name}", f"{prefix}-{version:010d}")
            writes.append(
                (fn(df) if fn else df, os.path.join(state_dir, seg), pcols)
            )
            superseded += segs
            segments[name] = [seg]
            if pcols:
                partitioned[name] = pcols
            else:
                partitioned.pop(name, None)
        if not writes:
            return False
        _run_writes(writes, files_per_table)
        _swap_meta(
            state_dir,
            {
                **meta,
                "version": version,
                "segments": segments,
                "partitioned": partitioned,
                "app": {**meta["app"], **app_updates},
            },
            superseded,
        )
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
    new parameter (e.g. ``pmod(xxhash64(band_id, bkey), new_p)``);
    ``partition_by`` gives each table's directory-partition columns
    for the rewritten segment; ``app_updates`` are the layout keys to
    re-pin (e.g. ``{"n_band_buckets": new_p}``). This is the one
    sanctioned override of ``commit_state``'s first-commit-wins pin,
    and it lands in the same atomic META swap as the segment lists.

    All named tables rewrite before the single swap, so tables whose
    bucket derivations share the parameter change together or not at
    all. Rewritten segments land under ``seg-{name}/r-{version}``; a
    crash before the swap leaves META (old segments, old pin) in
    force. Returns False when no named table has committed segments.
    Raises :class:`ConcurrentWriterError` against a live concurrent
    writer."""
    return _rewrite_segments(
        spark, state_dir, "r", recompute, partition_by, app_updates,
        files_per_table,
    )


def compact_append_table(
    spark: SparkSession,
    state_dir: str,
    name: str,
    files_per_table: int = 8,
    repartition_by: list[str] | None = None,
) -> bool:
    """OPTIMIZE an append table: rewrite its committed delta segments
    into ONE compacted segment ``seg-{name}/c-{version}`` and
    atomically swap META's segment list. Returns False if there is
    nothing to do — no committed segments, or a single segment with
    no re-layout requested (``repartition_by`` forces a
    single-segment rewrite too: that is the plain-delta -> bucketed
    layout conversion). Reads are row-identical before and after; the
    bucket layout is preserved unless ``repartition_by`` names new
    bucket columns. Compaction never changes bucket values; growing a
    fold's bucket count is :func:`rebucket_append_table`'s job.
    Raises :class:`ConcurrentWriterError` against a live concurrent
    writer."""
    relayout = {} if repartition_by is None else {name: repartition_by}
    return _rewrite_segments(
        spark, state_dir, "c", {name: None}, relayout, {}, files_per_table
    )


def write_batch_file(df: DataFrame, path: str, batch_id: int) -> None:
    """Write one foreachBatch batch's rows into the parquet sink
    ``path`` as the single file ``part-<query id>-<batch_id>.parquet``.

    The rows are written to the hidden ``_staging-<batch_id>`` dir
    inside the sink, then moved in with ``os.replace``: the part file
    last, after its checksum and the job's ``_SUCCESS`` marker. A
    replayed batch therefore replaces its own file instead of
    appending its rows again, and two queries pointed at one sink
    never overwrite each other's files. The move keeps the mtime the
    write gave the file. An empty result writes nothing. Must run
    inside ``foreachBatch``: the query id comes from the streaming
    query that runs the batch."""
    query_id = df.sparkSession.sparkContext.getLocalProperty(
        "sql.streaming.queryId"
    )
    if query_id is None:
        raise RuntimeError(
            "write_batch_file runs inside foreachBatch only: no "
            "streaming query id is set on this thread"
        )
    import pyarrow.parquet as pq

    staging = os.path.join(path, f"_staging-{batch_id}")
    df.coalesce(1).write.mode("overwrite").parquet(staging)
    # one task writes one file, with the schema only if the result is
    # empty; its footer has the row count
    (part,) = [n for n in os.listdir(staging) if n.startswith("part-")]
    if pq.read_metadata(os.path.join(staging, part)).num_rows:
        name = f"part-{query_id}-{batch_id:010d}.parquet"
        for n in sorted(os.listdir(staging)):  # "part-" sorts last
            os.replace(
                os.path.join(staging, n),
                os.path.join(path, n.replace(part, name)),
            )
    shutil.rmtree(staging)
