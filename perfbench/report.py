"""Turns one run's measurements into the printed report and the JSON
result line.

End-to-end metrics (``--trace 0``) carry the same names on every
workload; what each one measures on each workload is in
perfbench/README.md. Per-layer metrics (``--trace 1``) cover every
layer on every workload: a layer the workload bypasses reports 0, the
predicted value for a bypass.
"""

from __future__ import annotations

import math
import statistics

from perfbench import stats
from perfbench.analytics import MIX
from perfbench.tick_stream import BACKFILL_PER_FILE

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "latency_ms": "ms",
}
#: Every end-to-end figure the traced run reports as ``traced.<name>``.
#: The tail is left out of the end-to-end line: on ``stock_analytics``
#: it is the slowest query alone, and on ``tick_stream`` it rests on
#: the last few drain rounds of the run.
TRACED = {**END_TO_END, "latency_tail_ms": "ms"}

_ROUTE_PHASES = ("addBatch", "walCommit", "commitOffsets", "latestOffset", "getBatch",
                 "queryPlanning")
_SCORE_PHASES = ("addBatch", "latestOffset", "getBatch", "queryPlanning")


def _per_layer_units() -> dict[str, tuple[str, str]]:
    """Every per-layer metric: name -> (unit, better)."""
    m: dict[str, tuple[str, str]] = {
        "session.get_spark_s": ("s", "lower"),
        "process.peak_rss_mb": ("MB", "lower"),
        "perfbench.trace_overhead_s": ("s", "lower"),
    }
    for q, phases in (("routing", _ROUTE_PHASES), ("scoring", _SCORE_PHASES)):
        m[f"streaming.{q}.round_s"] = ("s", "lower")
        for ph in phases:
            m[f"streaming.{q}.batch_ms.{ph}"] = ("ms", "lower")
        m[f"streaming.{q}.files_written"] = ("count", "lower")
        m[f"streaming.{q}.bytes_written"] = ("B", "lower")
        for k in ("tasks", "shuffle_bytes", "spill_bytes"):
            m[f"streaming.{q}.{k}"] = ("count" if k == "tasks" else "B", "lower")
    m.update({
        "streaming.ingest.dedup_state_rows": ("count", "lower"),
        "streaming.checkpoint_bytes": ("B", "lower"),
        "streaming.ingest.rows_in": ("count", "higher"),
        "streaming.ingest.rows_malformed": ("count", "higher"),
        "streaming.ingest.replays_dropped": ("ratio", "higher"),
        "streaming.ingest.backlog_max_ticks": ("count", "lower"),
        "loadgen.late_max_ms": ("ms", "lower"),
        "streaming.backfill_ticks_per_s": ("1/s", "higher"),
        "streaming.backfill_ticks_per_s_local1": ("1/s", "higher"),
        "ml.pergroup.train_linreg_closed_form_s": ("s", "lower"),
        "ml.pipeline.train_and_evaluate_s": ("s", "lower"),
        "ml.pipeline.accuracy": ("ratio", "higher"),
    })
    for q in MIX:
        m[f"plans.{q}_s"] = ("s", "lower")
        for k in ("tasks", "shuffle_bytes", "spill_bytes"):
            m[f"plans.{q}.{k}"] = ("count" if k == "tasks" else "B", "lower")
    for name, unit in TRACED.items():
        m[f"traced.{name}"] = (unit, "lower")
    return m


PER_LAYER = _per_layer_units()


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def tick_check_passes(fails: dict[str, int], dlq_rows: int, malformed: int) -> bool:
    """No tick is missing, doubled or wrong in any sink, and the DLQ is
    no worse than the seed's: its dedup defect keeps exactly one of any
    number of malformed lines, so the DLQ must hold at least one line
    when any was sent, and never more lines than were sent."""
    return not any(fails.values()) and min(1, malformed) <= dlq_rows <= malformed


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def live_rounds(rounds: list[dict]) -> list[dict]:
    return [r for r in rounds if r["tag"] == "live"]


def _tick_end_to_end(wl, result: dict, checked: dict) -> tuple[dict, list[str]]:
    lat = checked["latencies_ms"]
    s = stats.summarize(lat)
    batches = result["backfill_batch_s"]
    rounds = checked["round_latencies_ms"]
    e2e = {
        "pass_s": min(batches),
        "latency_ms": min(rounds),
        "latency_tail_ms": stats.percentile(lat, 99.0),
    }
    human = [
        f"backfill_ticks_per_s: {BACKFILL_PER_FILE / e2e['pass_s']:.1f} ticks/s"
        f" (fastest of {len(batches)} micro-batches of {BACKFILL_PER_FILE} ticks)",
        stats.fmt_timing("backfill_batch_s", "s", batches)
        + " batches: " + ", ".join(f"{b:.2f}" for b in batches),
        f"backfill round: {result['backfill_round_s']:.2f} s for"
        f" {len(batches) * BACKFILL_PER_FILE} ticks, query start included",
        f"train_s: {result['train_s']:.3f} s (per-symbol linear models)",
        f"live phase: {result['live_s']:.2f} s wall, backlog max"
        f" {result['backlog_max']} lines",
        "live round s (route+score): " + ", ".join(
            f"{r['s']:.2f}+{c['s']:.2f}"
            for r, c in zip(live_rounds(wl.route_rounds), live_rounds(wl.score_rounds))
        ),
        "live rounds: " + ", ".join(
            f"{k} {len(rs)} rounds, {sum(r['batches'] for r in rs)} batches, median"
            f" {statistics.median(r['s'] for r in rs):.2f} s"
            for k, rs in (("route", live_rounds(wl.route_rounds)),
                          ("score", live_rounds(wl.score_rounds)))
        ),
        stats.fmt_timing("live_latency_ms", "ms", lat),
        f"live_latency_p50_ms: {s['p50']:.1f} ms; live_latency_p99_ms:"
        f" {e2e['latency_tail_ms']:.1f} ms (n={len(lat)})",
        "live round median latency ms: " + ", ".join(f"{r:.0f}" for r in rounds)
        + f"; latency_ms is the fastest round's, {e2e['latency_ms']:.1f} ms",
    ]
    return e2e, human


def _batch_end_to_end(wl, result: dict) -> tuple[dict, list[str]]:
    passes = result["passes"]
    per_query: dict[str, list[float]] = {}
    for q, secs in wl.calls:
        per_query.setdefault(q, []).append(secs)
    best_ms = {q: min(v) * 1000.0 for q, v in per_query.items()}
    tail_q = max(best_ms, key=best_ms.get)
    e2e = {
        "pass_s": sum(best_ms.values()) / 1000.0,
        "latency_ms": geomean(list(best_ms.values())),
        "latency_tail_ms": best_ms[tail_q],
    }
    human = [
        stats.fmt_timing("analytics_pass_s", "s", passes)
        + " passes: " + ", ".join(f"{p:.2f}" for p in passes),
        f"best pass (each query's fastest call, summed): {e2e['pass_s']:.3f} s",
        f"query latency: geometric mean of the per-query fastest calls"
        f" {e2e['latency_ms']:.1f} ms over {len(best_ms)} queries",
        f"slowest query: {tail_q} fastest call {e2e['latency_tail_ms']:.1f} ms",
        f"output-check pass (untimed, cold): {result['check_s']:.2f} s",
    ]
    for q in wl.mix:
        if q in per_query:
            human.append("  " + stats.fmt_timing(f"plans.{q}_s", "s", per_query[q]))
    return e2e, human


def _tick_layers(wl, result: dict, checked: dict, tracer) -> dict[str, float]:
    from perfbench.harness import dir_stats

    live_route = live_rounds(wl.route_rounds)
    live_score = live_rounds(wl.score_rounds)
    out: dict[str, float] = {}
    for q, rounds, phases, sinks in (
        ("routing", live_route, _ROUTE_PHASES,
         (wl.paths.history, wl.paths.realtime, wl.paths.dlq)),
        ("scoring", live_score, _SCORE_PHASES, (wl.scored,)),
    ):
        out[f"streaming.{q}.round_s"] = statistics.median(r["s"] for r in rounds)
        batches = sum(r["batches"] for r in rounds) or 1
        for ph in phases:
            out[f"streaming.{q}.batch_ms.{ph}"] = (
                sum(r["duration_ms"].get(ph, 0) for r in rounds) / batches
            )
        files = size = 0
        for path in sinks:
            f, b = dir_stats(path)
            files, size = files + f, size + b
        out[f"streaming.{q}.files_written"] = files
        out[f"streaming.{q}.bytes_written"] = size
        every = wl.route_rounds if q == "routing" else wl.score_rounds
        for k in ("tasks", "shuffle_bytes", "spill_bytes"):
            out[f"streaming.{q}.{k}"] = sum(r["stages"][k] for r in every)
    rows_in = sum(r["rows"] for r in wl.route_rounds)
    replays = wl.ledger.replays
    out.update({
        "streaming.ingest.dedup_state_rows": max(r["state_rows"] for r in wl.route_rounds),
        "streaming.checkpoint_bytes": (
            dir_stats(wl.paths.checkpoint)[1] + dir_stats(wl.ck_score)[1]
        ),
        "streaming.ingest.rows_in": rows_in,
        "streaming.ingest.rows_malformed": checked["dlq_rows"],
        "streaming.ingest.replays_dropped": (replays - checked["doubled"]) / max(1, replays),
        "streaming.ingest.backlog_max_ticks": result["backlog_max"],
        "loadgen.late_max_ms": max(wl.feed.late_ms),
        "streaming.backfill_ticks_per_s": (
            BACKFILL_PER_FILE / min(result["backfill_batch_s"])
        ),
        "streaming.backfill_ticks_per_s_local1": result.get("backfill_ticks_per_s_local1", 0.0),
        "ml.pergroup.train_linreg_closed_form_s": tracer.median_s(
            "ml.pergroup.train_linreg_closed_form"
        ),
        "ml.pipeline.train_and_evaluate_s": tracer.median_s("ml.pipeline.train_and_evaluate"),
        "ml.pipeline.accuracy": result["accuracy"],
    })
    return out


def _batch_layers(wl, tracer) -> dict[str, float]:
    out: dict[str, float] = {}
    for q in wl.mix:
        out[f"plans.{q}_s"] = tracer.median_s(f"plans.{q}")
        calls = max(1, sum(1 for c, _ in wl.calls if c == q))
        for k in ("tasks", "shuffle_bytes", "spill_bytes"):
            out[f"plans.{q}.{k}"] = tracer.counters.get(f"plans.{q}.{k}", 0) / calls
    return out


def build(workload, wl, result, checked, setup, rss_mb, tracer, seconds) -> dict:
    if workload == "tick_stream":
        e2e, human = _tick_end_to_end(wl, result, checked)
        fails = checked["fails"]
        failed = sum(fails.values()) + checked["malformed_lost"]
        correct = tick_check_passes(fails, checked["dlq_rows"], wl.ledger.malformed)
        human.append(
            f"output check: {fails}; malformed lines lost by dedup (known"
            f" defect): {checked['malformed_lost']} of {wl.ledger.malformed}"
        )
    else:
        e2e, human = _batch_end_to_end(wl, result)
        failed = checked["failed"]
        correct = failed == 0
        human.append(f"output check: {len(wl.checks)} oracle comparisons,"
                     f" failed {checked['failed_checks'] or 'none'}; errors"
                     f" {checked['errors'] or 'none'}")
    attempted = checked["attempted"]
    e2e["setup_s"] = statistics.median(setup)
    human[:0] = [
        f"workload {workload}: local[4], run {seconds:g} s,"
        f" trace {'on' if tracer.enabled else 'off'}",
        stats.fmt_timing("setup_s", "s", setup)
        + " cycles: " + ", ".join(f"{s:.3f}" for s in setup),
        f"peak_rss_mb: {rss_mb:.1f} MB",
    ]
    human.append(f"failed_ratio: {failed / attempted:.6f} ({failed} of {attempted})")

    if tracer.enabled:
        layers = {name: 0.0 for name in PER_LAYER}
        layers["session.get_spark_s"] = tracer.median_s("session.get_spark")
        layers["process.peak_rss_mb"] = rss_mb
        layers["perfbench.trace_overhead_s"] = tracer.overhead_s
        if workload == "tick_stream":
            layers.update(_tick_layers(wl, result, checked, tracer))
        else:
            layers.update(_batch_layers(wl, tracer))
        for name, v in e2e.items():
            layers[f"traced.{name}"] = v
        unknown = set(layers) - set(PER_LAYER)
        if unknown:
            raise RuntimeError(f"per-layer metrics without a declared unit: {unknown}")
        metrics = {k: _metric(float(v), PER_LAYER[k][0]) for k, v in layers.items()}
    else:
        metrics = {k: _metric(float(e2e[k]), unit) for k, unit in END_TO_END.items()}
    for k, unit in TRACED.items():
        human.append(f"{k}: {e2e[k]:.6g} {unit}")
    return {
        "human": human,
        "result": {
            "correct": bool(correct),
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": metrics,
        },
    }
