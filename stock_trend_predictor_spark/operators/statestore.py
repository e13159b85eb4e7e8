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

**Fold layouts.** Each maintained fold (the ``streaming``
maintenance modules) declares its on-disk layout once, as one
:class:`FoldLayout` module constant: its format stamp, its pinned
bucket-count key and default, and each table's bucket column and hash
columns. Four steps apply that constant, so every fold follows the
rules above the same way:

- :func:`begin_fold` refuses a dir written under another layout,
  skips a replayed batch id before any compute, and returns the
  pinned bucket count P;
- :func:`commit_fold` stamps the format and the pin (first commit
  wins), commits the batch's append segments, and every
  ``compact_every`` batches compacts each table it wrote into its
  bucketed layout;
- :func:`rebucket_fold` rewrites every bucketed table under a new P
  and re-pins P in the same META swap;
- :func:`bucket_filter` gives a probe read the ``partition_filter``
  of the buckets it needs, or None while the table is small enough
  that a full scan is cheaper.

Every bucket value is ``pmod(xxhash64(hash columns), P)``
(:func:`bucket_expr`).

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
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
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


def write_json_atomic(path: str, obj) -> None:
    """Write ``obj`` as JSON to ``path`` in one visible step: a
    ``.tmp`` sibling first, then ``os.replace`` over ``path``. A crash
    leaves the previous file (or none) in force, never a torn one."""
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(obj, fh)
    os.replace(tmp, path)


def _swap_meta(state_dir: str, meta: dict, superseded: list[str]) -> None:
    """The commit point: replace ``META.json`` atomically, then GC the
    dirs (relative to ``state_dir``) that the new META no longer
    references. A crash before the replace leaves the old META in
    force; a crash after it leaves at worst unreferenced garbage."""
    write_json_atomic(os.path.join(state_dir, "META.json"), meta)
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


#: probe reads switch from a full scan to bucket-pruned once a state
#: table outgrows this. Below it the whole table is a few parquet
#: files and pruning is pure overhead (a driver collect and an isin
#: filter per read measured ~1 s/batch at sf0.1 against a 2.5 MB
#: index); above it the pruned read keeps probe IO batch-sized. The
#: layout is always bucketed; only the read strategy adapts.
PRUNE_MIN_BYTES = 32 * 2**20


def bucket_expr(cols, p) -> Column:
    """``pmod(xxhash64(cols), p)``: the one bucket hash of every fold
    table, and of the folds' deterministic probe cells. ``p`` is a
    bucket count or a Column of per-row cell counts."""
    return F.pmod(
        F.xxhash64(*[F.col(c) for c in cols]),
        p if isinstance(p, Column) else F.lit(p),
    )


@dataclass(frozen=True)
class FoldLayout:
    """One fold's on-disk layout (module docstring, fold layouts).

    ``tables`` maps every table the fold writes to its ``(bucket
    column, hash columns)``, or to None for a table without a bucket.
    ``format_key``/``version`` is the layout stamp written into META's
    ``app`` on every commit; a fold without one is never refused.
    ``p_key``/``p_default`` is the pinned bucket count. A refusal
    reads ``"<name> state dir ..."``: ``legacy`` says what an
    unstamped dir lacks and ``remedy`` what to do about it."""

    name: str
    tables: dict[str, tuple[str, tuple[str, ...]] | None]
    format_key: str | None = None
    version: int | None = None
    p_key: str | None = None
    p_default: int | None = None
    legacy: str = (
        "has unstamped segments (written by a different fold or a "
        "pre-release layout)"
    )
    remedy: str = "re-fold into a fresh dir"

    def bucket(self, table: str, p) -> Column:
        """``table``'s bucket value under ``p`` buckets."""
        return bucket_expr(self.tables[table][1], p)

    def with_bucket(self, table: str, df: DataFrame, p) -> DataFrame:
        """``df`` with ``table``'s bucket column under ``p`` buckets."""
        return df.withColumn(self.tables[table][0], self.bucket(table, p))


def check_fold_format(layout: FoldLayout, meta: dict | None) -> None:
    """Refuse a dir written under another layout of this fold: an
    explicit stamp of another version, any of the fold's tables
    committed as a snapshot, or the fold's segments without a stamp.
    Each would fail obscurely mid-batch on a missing column."""
    if meta is None or layout.format_key is None:
        return
    fmt = meta.get("app", {}).get(layout.format_key)
    if fmt is not None and int(fmt) != layout.version:
        raise RuntimeError(
            f"{layout.name} state dir is fold format v{fmt}; this build "
            f"reads v{layout.version} — {layout.remedy} (or run the "
            f"matching build)"
        )
    ours = set(layout.tables)
    if ours & set(meta.get("tables", [])) or (
        fmt is None and ours & set(meta.get("segments", {}))
    ):
        raise RuntimeError(
            f"{layout.name} state dir {layout.legacy} — {layout.remedy}"
        )


def begin_fold(
    layout: FoldLayout, state_dir: str, batch_id: int, p: int | None = None
) -> tuple[dict | None, int | None] | None:
    """The fold entry step: refuse a foreign layout, then return None
    for a batch id already applied (skip it before any compute: the
    folds materialize intermediates eagerly), else ``(meta, P)``. P is
    the pinned bucket count, or ``p`` (default ``layout.p_default``)
    before the first commit pins it; None for a fold without a pin."""
    meta = read_meta(state_dir)
    check_fold_format(layout, meta)
    last = (meta or {}).get("last_batch_id")
    if last is not None and batch_id <= last:
        return None
    if layout.p_key is None:
        return meta, None
    return meta, pinned_bucket_count(layout, meta, p)


def pinned_bucket_count(
    layout: FoldLayout, meta: dict | None, p: int | None = None
) -> int:
    """The bucket count pinned in META's ``app``, or ``p`` (default
    ``layout.p_default``) before the first commit pins one. A JSON
    read, no Spark job."""
    requested = layout.p_default if p is None else p
    return int((meta or {}).get("app", {}).get(layout.p_key, requested))


def commit_fold(
    spark: SparkSession,
    layout: FoldLayout,
    state_dir: str,
    batch_id: int,
    appends: dict[str, DataFrame],
    p: int | None = None,
    compact_every: int | None = None,
    progress_meta: dict | None = None,
) -> None:
    """Commit one batch's append segments (8 files per table at most)
    with the layout's format stamp and pin P. After each
    ``compact_every``-th batch, compact every table this commit wrote,
    a bucketed one into its bucket-column layout."""
    app = {}
    if layout.p_key is not None:
        app[layout.p_key] = int(p)
    if layout.format_key is not None:
        app[layout.format_key] = layout.version
    commit_state(
        state_dir,
        {},
        batch_id=batch_id,
        files_per_table=8,
        appends=appends,
        app_meta=app,
        progress_meta=progress_meta,
    )
    if compact_every and batch_id > 0 and batch_id % compact_every == 0:
        for name in appends:
            spec = layout.tables[name]
            compact_append_table(
                spark, state_dir, name,
                repartition_by=None if spec is None else [spec[0]],
            )


def check_bucket_count(new_p: int) -> int:
    new_p = int(new_p)
    if new_p < 1:
        raise ValueError(f"bucket count must be >= 1, got {new_p}")
    return new_p


def rebucket_fold(
    spark: SparkSession, layout: FoldLayout, state_dir: str, new_p: int
) -> bool:
    """Grow (or shrink) a fold's pinned bucket count to ``new_p``:
    every bucketed table of the layout rewrites under ``new_p`` and
    the pin updates in the same META swap
    (:func:`rebucket_append_table`), so a pruned probe never plans
    against a mixed layout. Run it between batches; the next fold
    reads the new pin. Returns False before the first commit."""
    check_fold_format(layout, read_meta(state_dir))
    new_p = check_bucket_count(new_p)
    bucketed = {t: s for t, s in layout.tables.items() if s is not None}
    return rebucket_append_table(
        spark,
        state_dir,
        recompute={
            t: lambda df, t=t: layout.with_bucket(t, df, new_p)
            for t in bucketed
        },
        partition_by={t: [col] for t, (col, _) in bucketed.items()},
        app_updates={layout.p_key: new_p},
    )


def _state_bytes(state_dir: str, meta: dict | None, table: str) -> int:
    """On-disk bytes of an append table's committed segments (local
    metadata walk, no Spark job)."""
    if meta is None:
        return 0
    total = 0
    for seg in meta.get("segments", {}).get(table, []):
        for root, _, files in os.walk(os.path.join(state_dir, seg)):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
    return total


def bucket_filter(
    layout: FoldLayout,
    table: str,
    p: int,
    keys: DataFrame,
    state_dir: str,
    meta: dict | None,
    prune_min_bytes: int,
) -> dict[str, list] | None:
    """The ``partition_filter`` that prunes a read of ``table`` to the
    buckets of ``keys`` (a frame carrying the table's hash columns),
    or None while the committed table is under ``prune_min_bytes``.
    One driver collect of at most P values."""
    if _state_bytes(state_dir, meta, table) < prune_min_bytes:
        return None
    rows = keys.select(layout.bucket(table, p).alias("b")).distinct()
    return {layout.tables[table][0]: sorted(r["b"] for r in rows.collect())}


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
