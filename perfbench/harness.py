"""Shared run machinery: work directory, Spark session cycles, spans,
Spark status counters, directory walks and peak RSS.

Everything here measures the engine from outside: timed calls into its
public functions, Spark's status store, and the file system.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

CORES = 4
#: Set-up cycles per run; ``setup_s`` is their median. The first one
#: also starts the JVM.
SETUP_CYCLES = 3


def dir_stats(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``; (0, 0) if it does not exist."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            try:
                size += os.path.getsize(os.path.join(root, n))
            except OSError:
                continue
            files += 1
    return files, size


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size of a process, from /proc."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None


@dataclass
class Tracer:
    """Spans and counters kept in memory and written out at the end.

    ``enabled`` is False in end-to-end runs: ``span`` then only runs
    the body, and nothing is recorded.
    """

    enabled: bool
    spans: list[Span] = field(default_factory=list)
    counters: dict[str, float] = field(default_factory=dict)
    #: Time spent reading counters, the tracer's own cost.
    overhead_s: float = 0.0
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        self.spans.append(
            Span(name, time.perf_counter(), 0.0, self._stack[-1] if self._stack else None)
        )
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    @contextmanager
    def bookkeeping(self):
        """Times the body as tracing overhead."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.overhead_s += time.perf_counter() - t0

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            self.counters[name] = self.counters.get(name, 0) + value

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def median_s(self, name: str) -> float:
        d = self.durations(name)
        return statistics.median(d) if d else 0.0

    def dump(self, path: str) -> None:
        import json

        with open(path, "w") as fh:
            json.dump(
                {
                    "spans": [s.__dict__ for s in self.spans],
                    "counters": self.counters,
                },
                fh,
            )


class StageCounters:
    """Tasks, shuffle bytes and spill of the jobs of one job group, read
    from Spark's status store after the jobs end."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()

    def for_group(self, group: str) -> dict[str, int]:
        tracker = self.sc.statusTracker()
        stage_ids: set[int] = set()
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = {"tasks": 0, "shuffle_bytes": 0, "spill_bytes": 0}
        for sid in stage_ids:
            st = self.store.lastStageAttempt(sid)
            out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            out["shuffle_bytes"] += st.shuffleReadBytes() + st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out


class Workdir:
    """Per-run scratch tree inside the checkout, removed at the end."""

    def __init__(self, root: str, name: str) -> None:
        self.path = os.path.join(root, ".perfbench_work", f"{name}-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        for sub in ("tmp", "local", "warehouse"):
            os.makedirs(os.path.join(self.path, sub))

    def sub(self, *parts: str) -> str:
        p = os.path.join(self.path, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def remove(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        parent = os.path.dirname(self.path)
        try:
            os.rmdir(parent)
        except OSError:
            pass


def spark_conf(work: Workdir) -> dict[str, str]:
    """Keeps every file Spark writes inside the work directory."""
    tmp = os.path.join(work.path, "tmp")
    return {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work.path, "local"),
        "spark.sql.warehouse.dir": os.path.join(work.path, "warehouse"),
        # -XX:-UsePerfData: no hsperfdata file under /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


class Session:
    """Starts and restarts the engine's SparkSession.

    ``start`` stops any running session and starts a fresh one with
    ``stock_trend_predictor_spark.get_spark``; with the workload's
    warm-up after it, that is one set-up cycle.
    """

    def __init__(self, work: Workdir, tracer: Tracer, master: str) -> None:
        self.work = work
        self.tracer = tracer
        self.master = master
        self.spark = None

    def start(self, master: str | None = None):
        from stock_trend_predictor_spark import get_spark

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(
                app_name="perfbench",
                master=master or self.master,
                shuffle_partitions=CORES,
                extra_conf=spark_conf(self.work),
            )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            from stock_trend_predictor_spark.streaming.ingest import stop_all_streams

            stop_all_streams(self.spark)
            self.spark.stop()
            self.spark = None

    def shutdown_jvm(self) -> None:
        """End the gateway JVM (and the Python workers it started) and
        wait for it: the gateway exits when its stdin closes."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - last resort at exit
                proc.kill()
                proc.wait(timeout=10)
        SparkContext._gateway = None
        SparkContext._jvm = None

    def jvm_pid(self) -> int:
        return int(self.spark._jvm.ProcessHandle.current().pid())
