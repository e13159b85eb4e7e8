"""``tick_stream``: the paper's pipeline, driven end to end.

1. Backfill (closed loop): a history backlog is drained through
   ``route_by_source(dedup_ticks(read_tick_file_stream(...)))``.
2. Train: per-symbol models with ``ml.pergroup.train_linreg_closed_form``
   from the routed history; the traced run also trains a RandomForest
   with ``ml.pipeline.train_and_evaluate``.
3. Live (open loop): a generator thread publishes ``LIVE_RATE`` ticks/s,
   one file every ``LIVE_PERIOD_S``; each round drains the router, then
   ``streaming_score`` over the realtime sink. Both sinks are hard-wired
   to ``trigger(availableNow=True)``, so the benchmark starts the rounds
   itself, on the schedule of a processing-time trigger of
   ``TRIGGER_S`` (see ``run``).

A live tick's latency runs from its due time to the mtime of the
scoring-sink file that holds its row. Both are moved to the monotonic
clock, so a step of the wall clock during the run does not shift them.
Each scoring round's ticks give one median latency per round.
"""

from __future__ import annotations

import math
import os
import shutil
import time
from dataclasses import dataclass

from perfbench import stats, ticks
from perfbench.harness import SETUP_CYCLES, StageCounters

#: History backlog drained in the timed backfill: one round, one file
#: per micro-batch; ``pass_s`` is the fastest batch.
BACKFILL_FILES = 4
BACKFILL_PER_FILE = 4_000
#: Ticks per warm-up file; one file is drained in each set-up cycle.
WARMUP_TICKS = 250
LIVE_RATE = 1_000
LIVE_PERIOD_S = 1.0
#: Interval of the emulated processing-time trigger of the live phase:
#: longer than a warm route-plus-score round (3.2-4.5 s on 4 cores, up
#: to 5.5 s when other tenants load the host), so that rounds do not
#: queue. At 5 s a loaded host's first round overran it, and the second
#: round's latency swung with the overrun.
TRIGGER_S = 6.0


@dataclass(frozen=True)
class RoutePaths:
    """The router's input directory, its three sinks and its checkpoint."""

    inbox: str
    history: str
    realtime: str
    dlq: str
    checkpoint: str

    @classmethod
    def under(cls, base: str) -> "RoutePaths":
        os.makedirs(os.path.join(base, "in"), exist_ok=True)
        os.makedirs(os.path.join(base, "sink", "realtime"), exist_ok=True)
        return cls(*(os.path.join(base, *p) for p in (
            ("in",), ("sink", "history"), ("sink", "realtime"), ("sink", "dlq"),
            ("ck", "route"),
        )))


class TickStream:
    name = "tick_stream"

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        w = ctx.work
        self.paths = RoutePaths.under(w.path)
        self.stage_dir = w.sub("staged")
        self.scored = os.path.join(w.path, "sink", "scored")
        self.ck_score = os.path.join(w.path, "ck", "score")
        self.ledger = ticks.Ledger()
        self.warmups = 0
        self.route_rounds: list[dict] = []
        self.score_rounds: list[dict] = []
        #: scoring-sink file -> its mtime on the perf_counter() clock
        self.scored_at: dict[str, float] = {}
        #: scoring-sink file -> index of the scoring round that wrote it
        self.scored_round: dict[str, int] = {}

    # -- inputs (untimed, outside set-up) ------------------------------
    def make_inputs(self) -> None:
        gen = ticks.TickGenerator(self.ctx.seed, self.ledger)
        ticks.write_history(
            gen, self.stage_dir, WARMUP_TICKS * SETUP_CYCLES, WARMUP_TICKS, "warm"
        )
        ticks.write_history(
            gen, self.stage_dir, BACKFILL_FILES * BACKFILL_PER_FILE, BACKFILL_PER_FILE,
            "hist", first_index=WARMUP_TICKS * SETUP_CYCLES,
        )
        self.live_gen = ticks.TickGenerator(self.ctx.seed + 1_000_003, self.ledger)
        if self.ctx.tracer.enabled:
            # The first warm-up file and the first backfill file again,
            # for the single-core baseline.
            stage1 = self.ctx.work.sub("staged1")
            for name in ("warm-00000.json", "hist-00000.json"):
                shutil.copy(os.path.join(self.stage_dir, name), stage1)

    # -- rounds ----------------------------------------------------------
    def _drain(
        self, spark, paths: RoutePaths, tag: str, files_per_batch: int | None = None
    ) -> dict:
        """One routing round: drain ``paths.inbox`` into its sinks, at
        most ``files_per_batch`` input files per micro-batch (the
        engine's default when None)."""
        from stock_trend_predictor_spark.streaming.ingest import (
            dedup_ticks,
            read_tick_file_stream,
        )
        from stock_trend_predictor_spark.streaming.routing import route_by_source

        t0 = time.perf_counter()
        with self.ctx.tracer.span("streaming.routing.round"):
            q = route_by_source(
                dedup_ticks(read_tick_file_stream(spark, paths.inbox, files_per_batch)),
                paths.history, paths.realtime, paths.checkpoint, paths.dlq,
            )
            q.awaitTermination()
        return self._round_record(spark, q, time.perf_counter() - t0, tag)

    def _route_round(self, spark, tag: str, files_per_batch: int | None = None) -> dict:
        r = self._drain(spark, self.paths, tag, files_per_batch)
        self.route_rounds.append(r)
        return r

    def _score_round(self, spark, models, tag: str) -> dict:
        from stock_trend_predictor_spark.streaming.scoring import streaming_score

        tr = self.ctx.tracer
        t0 = time.perf_counter()
        with tr.span("streaming.scoring.round"):
            src = spark.readStream.schema(self.tick_schema).parquet(self.paths.realtime)
            q = streaming_score(src, models, self.scored, self.ck_score)
            q.awaitTermination()
        end = time.perf_counter()
        # wall-clock offset read right after the files were written
        offset = time.time() - time.perf_counter()
        for root, _, names in os.walk(self.scored):
            for n in names:
                path = os.path.join(root, n)
                if n.endswith(".parquet") and path not in self.scored_at:
                    self.scored_at[path] = os.stat(path).st_mtime_ns / 1e9 - offset
                    self.scored_round[path] = len(self.score_rounds)
        r = self._round_record(spark, q, end - t0, tag)
        self.score_rounds.append(r)
        return r

    def _round_record(self, spark, q, secs: float, tag: str) -> dict:
        progress = q.recentProgress
        rec = {
            "tag": tag,
            "s": secs,
            "rows": sum(p.get("numInputRows", 0) for p in progress),
            "batches": len(progress),
            # wall time of each micro-batch that read input
            "batch_ms": [
                int(p["durationMs"]["triggerExecution"])
                for p in progress if p.get("numInputRows")
            ],
            "duration_ms": {},
            "state_rows": max(
                (sum(s.get("numRowsTotal", 0) for s in p.get("stateOperators") or [])
                 for p in progress),
                default=0,
            ),
            "run_id": str(q.runId),
        }
        for p in progress:
            for k, v in (p.get("durationMs") or {}).items():
                rec["duration_ms"][k] = rec["duration_ms"].get(k, 0) + int(v)
        if self.ctx.tracer.enabled:
            with self.ctx.tracer.bookkeeping():
                rec["stages"] = StageCounters(spark).for_group(rec["run_id"])
        return rec

    # -- phases ------------------------------------------------------------
    def _publish(self, name: str) -> None:
        """Move a staged input file into the router's input directory."""
        os.rename(os.path.join(self.stage_dir, name), os.path.join(self.paths.inbox, name))

    def warm_up(self, spark) -> None:
        """One set-up cycle's warm-up: drain one small history file."""
        self._publish(f"warm-{self.warmups:05d}.json")
        self.warmups += 1
        self._route_round(spark, "warmup")

    def run(self, spark, seconds: float) -> dict:
        from pyspark.sql import functions as F

        from stock_trend_predictor_spark.ml.pergroup import train_linreg_closed_form
        from stock_trend_predictor_spark.ml.pipeline import (
            train_and_evaluate,
            with_movement_label,
        )
        from stock_trend_predictor_spark.sources.tables import materialize_once
        from stock_trend_predictor_spark.streaming.scoring import streaming_score

        tr = self.ctx.tracer
        self.tick_schema = spark.read.parquet(self.paths.history).schema

        # (a) backfill: closed loop, the whole backlog in one drain
        # round of one file per micro-batch
        for name in sorted(os.listdir(self.stage_dir)):
            if name.startswith("hist"):
                self._publish(name)
        backfill = self._route_round(spark, "backfill", files_per_batch=1)

        # (b) train from the routed history
        t0 = time.perf_counter()
        hist = spark.read.parquet(self.paths.history)
        with tr.span("ml.pergroup.train_linreg_closed_form"):
            models = materialize_once(train_linreg_closed_form(hist))
        train_s = time.perf_counter() - t0
        accuracy = None
        if tr.enabled:
            # The RandomForest feeds no live scoring; it costs about as
            # much as the rest of the run's training and is measured in
            # the traced run only.
            with tr.span("ml.pipeline.train_and_evaluate"):
                bars = hist.where(F.col("open").isNotNull())
                accuracy = train_and_evaluate(with_movement_label(bars)).accuracy
        self.models = {r["symbol"]: (r["slope"], r["intercept"]) for r in models.collect()}

        # Untimed: the run's first streaming_score is cold, and a cold
        # first live round overran the trigger and delayed the next one.
        # Warm it on the routed history, into a sink of its own.
        warm = self.ctx.work.sub("warm_score")
        streaming_score(
            spark.readStream.schema(self.tick_schema).parquet(self.paths.history),
            models, os.path.join(warm, "sink"), os.path.join(warm, "ck"),
        ).awaitTermination()

        # (c) live: open-loop feed. Round k starts at k * TRIGGER_S on
        # the feed's clock, half a file period after a publish, or at
        # once when the previous round overran, as Spark's
        # processing-time trigger would start it. On one clock with the
        # feed, which files a round finds does not depend on when the
        # run's earlier phases happened to end.
        feed = ticks.LiveFeed(
            self.live_gen, self.paths.inbox, LIVE_RATE, LIVE_PERIOD_S, seconds
        )
        backlog_max = 0
        feed.start()
        next_round = feed.t0_mono + TRIGGER_S + LIVE_PERIOD_S / 2
        try:
            while True:
                delay = next_round - time.perf_counter()
                if delay > 0:
                    time.sleep(delay)
                # the last round is the first to start after the last publish
                last = not feed.is_alive()
                published = len(feed.late_ms) * int(LIVE_RATE * LIVE_PERIOD_S)
                live_routed = sum(r["rows"] for r in self.route_rounds if r["tag"] == "live")
                backlog_max = max(backlog_max, published - live_routed)
                self._route_round(spark, "live")
                self._score_round(spark, models, "live")
                if last:
                    break
                next_round += TRIGGER_S
        finally:
            feed.stop()
            feed.join(timeout=30)
        if feed.is_alive():
            raise RuntimeError("live feed did not stop")
        if feed.error is not None:
            raise feed.error
        live_s = time.perf_counter() - feed.t0_mono
        self.feed = feed

        return {
            "backfill_batch_s": [ms / 1000.0 for ms in backfill["batch_ms"]],
            "backfill_round_s": backfill["s"],
            "train_s": train_s,
            "accuracy": accuracy,
            "live_s": live_s,
            "backlog_max": backlog_max,
        }

    def single_core_baseline(self, session) -> dict:
        """The single-core baseline for ``backfill_ticks_per_s``: on
        ``local[1]``, into sinks of its own, drain one warm-up file
        (untimed), then one backfill file in one timed batch."""
        spark = session.start(master="local[1]")
        w = self.ctx.work
        paths = RoutePaths.under(os.path.join(w.path, "local1"))
        for name in ("warm-00000.json", "hist-00000.json"):
            os.rename(os.path.join(w.path, "staged1", name), os.path.join(paths.inbox, name))
            batch_ms = self._drain(spark, paths, "local1")["batch_ms"]
        return {"backfill_ticks_per_s_local1": BACKFILL_PER_FILE * 1000.0 / batch_ms[0]}

    # -- output check (untimed) ----------------------------------------------
    def check(self, spark) -> dict:
        """Compare every sink with the ledger. Returns failures by kind,
        the attempted count and the live latencies."""
        from pyspark.sql import functions as F

        fails = {"history": 0, "realtime": 0, "scored": 0, "predicted_close": 0}
        # rows written twice to the history or realtime sink: replays
        # the dedup let through
        doubled = 0
        hist_want = set(self.ledger.by_source("history"))
        rt_ticks = self.ledger.by_source("realtime")
        for sink, want in (("history", hist_want), ("realtime", set(rt_ticks))):
            path = self.paths.history if sink == "history" else self.paths.realtime
            got = [
                (r[0], r[1])
                for r in spark.read.parquet(path)
                .select("symbol", F.unix_millis("ts")).collect()
            ]
            got_set = set(got)
            doubled += len(got) - len(got_set)
            fails[sink] = len(want ^ got_set) + (len(got) - len(got_set))

        scored_rows = spark.read.parquet(self.scored).select(
            "symbol", F.unix_millis("ts").alias("ts_ms"), "open",
            "predicted_close", F.input_file_name().alias("f"),
        ).collect()
        want_scored = {k for k in rt_ticks if k[0] in self.models}
        got_scored = [(r["symbol"], r["ts_ms"]) for r in scored_rows]
        fails["scored"] = len(want_scored ^ set(got_scored)) + (
            len(got_scored) - len(set(got_scored))
        )
        for r in scored_rows:
            slope, intercept = self.models[r["symbol"]]
            if r["open"] is None:
                ok = r["predicted_close"] is None
            else:
                want = math.floor((intercept + slope * r["open"]) * 1e6 + 0.5) / 1e6
                ok = r["predicted_close"] == want
            fails["predicted_close"] += 0 if ok else 1

        dlq = self.paths.dlq
        dlq_rows = spark.read.parquet(dlq).count() if os.path.exists(dlq) else 0
        # Seed defect: every malformed line dedups on (symbol, ts) =
        # (null, null), so the DLQ keeps one of them. Each lost line
        # counts as failed, in its own category.
        malformed_lost = self.ledger.malformed - dlq_rows
        # mtimes on the feed's clock: ms since the epoch
        written_ms = {
            path: self.feed.t0_ms + (at - self.feed.t0_mono) * 1000.0
            for path, at in self.scored_at.items()
        }
        rows = [(r["symbol"], r["ts_ms"], r["f"].removeprefix("file://")) for r in scored_rows]
        lat = stats.tick_latencies_ms(rows, written_ms, {k: k[1] for k in rt_ticks})
        # a tick written twice counts from its first round, as its latency does
        round_of: dict[tuple[str, int], int] = {}
        for sym, ts_ms, path in rows:
            r = self.scored_round[path]
            round_of[(sym, ts_ms)] = min(r, round_of.get((sym, ts_ms), r))
        return {
            "fails": fails,
            "malformed_lost": malformed_lost,
            "dlq_rows": dlq_rows,
            "doubled": doubled,
            "attempted": len(self.ledger.ticks) + self.ledger.malformed,
            "latencies_ms": list(lat.values()),
            "round_latencies_ms": stats.round_medians_ms(lat, round_of),
        }
