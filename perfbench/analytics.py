"""``stock_analytics``: closed loop, one client.

Each pass runs a fixed, read-only mix of ``plans`` registry queries
over the derived ticks view and the TPC-H tables, forcing every output
row through the ``noop`` sink. The seed sets the generated tables and
the query order of each pass. The first pass is the output check: each
query is collected and compared with its DuckDB oracle through
``stock_trend_predictor_spark.testing`` (untimed; it also warms every
query's code paths). Timed passes follow until ``--seconds`` have
passed and at least ``MIN_PASSES`` passes have run.
"""

from __future__ import annotations

import os
import random
import time

from perfbench import tables
from perfbench.harness import StageCounters

#: The paper's feature-engineering and per-symbol-model surface: the
#: flagship movement rate, rolling windows, a technical indicator,
#: per-symbol model training and an exact-decimal aggregate. The other
#: queries of these families are left out so that a pass stays short
#: enough for ``MIN_PASSES`` passes in one run.
MIX = (
    "flagship_movement_rate", "rolling_features", "rsi_cutler_14",
    "pergroup_linreg_models", "q1_pricing_summary",
)
#: Scale of the generated tables (lineitem ~ 6M * SF rows).
SF = 0.01
#: Each query's fastest call, behind ``pass_s`` and ``latency_ms``, is
#: taken over at least this many passes.
MIN_PASSES = 4


class StockAnalytics:
    name = "stock_analytics"
    mix = MIX

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.data = os.path.join(ctx.work.path, "data")
        self.checks: dict[str, str] = {}
        self.calls: list[tuple[str, float]] = []
        self.errors: list[str] = []

    def make_inputs(self) -> None:
        tables.generate(self.data, self.ctx.seed, SF)

    def warm_up(self, spark) -> None:
        """One set-up cycle's warm-up: scan every input table once."""
        from stock_trend_predictor_spark.sources.tables import load_tables

        for df in load_tables(spark, self.data).values():
            df.count()

    # -- passes -------------------------------------------------------------
    def _check_pass(self, spark) -> None:
        from stock_trend_predictor_spark.testing import check_query, duck_connection

        con = duck_connection(self.data)
        try:
            for q in self.mix:
                try:
                    res = check_query(spark, con, q, self.data)
                    self.checks[q] = "ok" if res.ok else str(res)
                except Exception as e:  # noqa: BLE001 - a failed check is a result
                    self.checks[q] = f"{type(e).__name__}: {e}"[:300]
        finally:
            con.close()

    def _timed_call(self, spark, q: str, call: int) -> None:
        from stock_trend_predictor_spark.plans import REGISTRY

        tr = self.ctx.tracer
        group = f"perfbench-{q}-{call}"
        if tr.enabled:
            with tr.bookkeeping():
                spark.sparkContext.setJobGroup(group, q)
        t0 = time.perf_counter()
        try:
            with tr.span(f"plans.{q}"):
                REGISTRY[q].fn(spark, self.data).write.format("noop").mode(
                    "overwrite"
                ).save()
        except Exception as e:  # noqa: BLE001 - counted as a failed operation
            self.errors.append(f"{q}: {type(e).__name__}: {e}"[:300])
            return
        self.calls.append((q, time.perf_counter() - t0))
        if tr.enabled:
            with tr.bookkeeping():
                for k, v in StageCounters(spark).for_group(group).items():
                    tr.count(f"plans.{q}.{k}", v)

    def run(self, spark, seconds: float) -> dict:
        t0 = time.perf_counter()
        self._check_pass(spark)
        check_s = time.perf_counter() - t0
        rng = random.Random(self.ctx.seed)
        passes: list[float] = []
        t_start = time.perf_counter()
        call = 0
        while len(passes) < MIN_PASSES or time.perf_counter() - t_start < seconds:
            order = list(self.mix)
            rng.shuffle(order)
            t0 = time.perf_counter()
            for q in order:
                self._timed_call(spark, q, call)
                call += 1
            passes.append(time.perf_counter() - t0)
        return {"passes": passes, "check_s": check_s}

    def check(self, spark) -> dict:
        failed_checks = {q: v for q, v in self.checks.items() if v != "ok"}
        return {
            "failed_checks": failed_checks,
            "errors": list(self.errors),
            "attempted": len(self.checks) + len(self.calls) + len(self.errors),
            "failed": len(failed_checks) + len(self.errors),
        }
