"""Percentiles with sample counts, the tick-to-sink latency join and
the per-round latency of the live phase.

Pure functions (no Spark), so the benchmark's own arithmetic is unit
tested in ``perfbench/tests``.
"""

from __future__ import annotations

import math
import statistics

#: Percentiles a timing may be reported at, lowest first.
LADDER = (50.0, 90.0, 99.0, 99.9)
#: A percentile is reported only when at least this many samples lie
#: beyond it.
MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolation percentile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def samples_beyond(n: int, p: float) -> int:
    """How many of ``n`` samples lie above the p-th percentile."""
    return int(math.floor(n * (100.0 - p) / 100.0 + 1e-9))


def highest_supported(n: int, ladder=LADDER) -> float | None:
    """Highest ladder percentile above the median with at least
    MIN_BEYOND samples beyond it, or None when there is none."""
    best = None
    for p in ladder:
        if p > 50.0 and samples_beyond(n, p) >= MIN_BEYOND:
            best = p
    return best


def summarize(values: list[float]) -> dict:
    """Median, the highest supported percentile and the sample count."""
    out: dict = {"n": len(values), "p50": statistics.median(values)}
    top = highest_supported(len(values))
    if top is not None:
        out["tail_p"] = top
        out["tail"] = percentile(values, top)
    return out


def fmt_timing(name: str, unit: str, values: list[float]) -> str:
    """One human-readable line: median, supported tail, sample count."""
    s = summarize(values)
    line = f"{name}: p50={s['p50']:.4g} {unit}"
    if "tail" in s:
        line += f", p{s['tail_p']:g}={s['tail']:.4g} {unit}"
    return line + f" (n={s['n']})"


def tick_latencies_ms(
    rows: list[tuple[str, int, str]],
    written_ms: dict[str, float],
    due_ms: dict[tuple[str, int], int],
) -> dict[tuple[str, int], float]:
    """Join sink rows to the generator's due times.

    ``rows`` are (symbol, ts_ms, file) read back from a sink,
    ``written_ms`` maps each sink file to when it was written and
    ``due_ms`` maps (symbol, ts_ms) to when the generator was due to
    send the tick, both on the generator's clock. A tick's latency is
    its file's write time minus its due time. Rows the generator did
    not send are skipped; if a tick was written twice, the first write
    counts.
    """
    out: dict[tuple[str, int], float] = {}
    for sym, ts_ms, path in rows:
        key = (sym, ts_ms)
        due = due_ms.get(key)
        if due is None:
            continue
        lat = written_ms[path] - due
        if key not in out or lat < out[key]:
            out[key] = lat
    return out


def round_medians_ms(
    lat: dict[tuple[str, int], float], round_of: dict[tuple[str, int], int]
) -> list[float]:
    """Median latency of the ticks each scoring round wrote, in round
    order. ``round_of`` maps a tick to the round that wrote it."""
    by_round: dict[int, list[float]] = {}
    for key, v in lat.items():
        by_round.setdefault(round_of[key], []).append(v)
    return [statistics.median(by_round[r]) for r in sorted(by_round)]
