"""Seeded tick generator for the ``tick_stream`` workload.

Writes Kafka-envelope JSON lines (one tick per line, the bytes a
producer would put in a Kafka ``value``) into the directory that
``streaming.ingest.read_tick_file_stream`` reads. Every original tick
has a unique (symbol, timestamp); the mix is

- 50 symbols drawn with Zipf(1.1) skew,
- about 80% full OHLCV bars and 20% close-only ``close_price`` ticks,
- about 1% exact replays of a recent line and 0.2% malformed lines.

A :class:`Ledger` records every line written, so the output check can
compare the sinks with what was sent. Content is a pure function of the
seed; only the live phase's timestamps follow the wall clock, because
a live tick's timestamp is its due time (its creation time in ms) and
latency is read back from it.
"""

from __future__ import annotations

import json
import os
import random
import threading
import time
from dataclasses import dataclass, field

N_SYMBOLS = 50
ZIPF_S = 1.1
CLOSE_ONLY_P = 0.2
REPLAY_P = 0.01
MALFORMED_P = 0.002

#: History ticks are stamped from this epoch (2024-01-01T00:00:00Z),
#: one millisecond apart, so every history (symbol, ts) is unique and
#: older than any live tick.
HISTORY_EPOCH_MS = 1_704_067_200_000


def symbols() -> list[str]:
    return [f"S{i:03d}" for i in range(N_SYMBOLS)]


def zipf_weights(n: int = N_SYMBOLS, s: float = ZIPF_S) -> list[float]:
    return [1.0 / (k**s) for k in range(1, n + 1)]


def iso_ms(ts_ms: int) -> str:
    """ISO-8601 UTC string with millisecond precision."""
    secs, ms = divmod(ts_ms, 1000)
    return time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(secs)) + f".{ms:03d}Z"


@dataclass
class Tick:
    symbol: str
    ts_ms: int
    source: str
    close: float
    open: float | None  # None for a close-only tick

    def line(self) -> str:
        doc: dict = {"timestamp": iso_ms(self.ts_ms), "symbol": self.symbol}
        if self.open is None:
            doc["close_price"] = self.close
        else:
            hi = round(max(self.open, self.close) + 0.25, 2)
            lo = round(min(self.open, self.close) - 0.25, 2)
            doc.update(
                open=self.open, high=hi, low=lo, close=self.close,
                volume=float(100 + (self.ts_ms % 900)),
            )
        doc["source"] = self.source
        return json.dumps(doc, separators=(",", ":"))


@dataclass
class Ledger:
    """What the generator sent: original ticks keyed by (symbol, ts_ms)
    and the count of every injected line kind."""

    ticks: dict[tuple[str, int], Tick] = field(default_factory=dict)
    lines: int = 0
    replays: int = 0
    malformed: int = 0
    close_only: int = 0

    def add(self, t: Tick) -> None:
        key = (t.symbol, t.ts_ms)
        if key in self.ticks:
            raise ValueError(f"tick {key} generated twice")
        self.ticks[key] = t
        if t.open is None:
            self.close_only += 1

    def by_source(self, source: str) -> dict[tuple[str, int], Tick]:
        return {k: t for k, t in self.ticks.items() if t.source == source}


class TickGenerator:
    """Deterministic tick content for one seed.

    ``batch(n, source, ts_of)`` returns the lines of ``n`` original
    ticks with replays and malformed lines mixed in; ``ts_of(i)`` gives
    the i-th tick's timestamp in ms. All randomness comes from one
    ``random.Random(seed)`` stream, so the same seed and the same call
    sequence give the same lines.
    """

    def __init__(self, seed: int, ledger: Ledger | None = None) -> None:
        self.rng = random.Random(seed)
        self.ledger = ledger if ledger is not None else Ledger()
        self._symbols = symbols()
        self._cum = []
        acc = 0.0
        for w in zipf_weights():
            acc += w
            self._cum.append(acc)
        self._price = {s: 50.0 + 5.0 * (i % 40) for i, s in enumerate(self._symbols)}
        self._recent: list[str] = []

    def _symbol(self) -> str:
        return self.rng.choices(self._symbols, cum_weights=self._cum)[0]

    def _tick(self, ts_ms: int, source: str) -> Tick:
        sym = self._symbol()
        prev = self._price[sym]
        close = round(max(1.0, prev * (1.0 + self.rng.gauss(0.0, 0.01))), 2)
        self._price[sym] = close
        if self.rng.random() < CLOSE_ONLY_P:
            return Tick(sym, ts_ms, source, close, None)
        return Tick(sym, ts_ms, source, close, round(prev, 2))

    def _malformed(self, ts_ms: int) -> str:
        # a producer cut off mid-record: valid prefix, no closing brace
        rec = '{"timestamp":"' + iso_ms(ts_ms) + '","symbol":"S0'
        return rec[: len(rec) - self.rng.randint(0, 12)]

    def batch(self, n: int, source: str, ts_of) -> list[str]:
        out: list[str] = []
        for i in range(n):
            t = self._tick(ts_of(i), source)
            self.ledger.add(t)
            line = t.line()
            out.append(line)
            self._recent.append(line)
            if len(self._recent) > 64:
                del self._recent[0]
            if self.rng.random() < REPLAY_P:
                out.append(self.rng.choice(self._recent))
                self.ledger.replays += 1
            if self.rng.random() < MALFORMED_P:
                out.append(self._malformed(t.ts_ms))
                self.ledger.malformed += 1
        self.ledger.lines += len(out)
        return out


def write_lines(directory: str, name: str, lines: list[str]) -> str:
    """Publish one input file atomically: write under a dot-name (the
    file source skips hidden files), then rename into place."""
    tmp = os.path.join(directory, f".{name}.tmp")
    path = os.path.join(directory, name)
    with open(tmp, "w") as fh:
        fh.write("\n".join(lines))
        fh.write("\n")
    os.rename(tmp, path)
    return path


def write_history(
    gen: TickGenerator, directory: str, n_ticks: int, per_file: int, prefix: str,
    first_index: int = 0,
) -> int:
    """History backlog: ``n_ticks`` ticks stamped from HISTORY_EPOCH_MS.
    Returns the number of files written."""
    files = 0
    for start in range(0, n_ticks, per_file):
        n = min(per_file, n_ticks - start)
        base = HISTORY_EPOCH_MS + first_index + start
        lines = gen.batch(n, "history", lambda i, b=base: b + i)
        write_lines(directory, f"{prefix}-{files:05d}.json", lines)
        files += 1
    return files


class LiveFeed(threading.Thread):
    """Open-loop realtime feed: ``rate`` ticks/s, one file every
    ``period_s``. Tick i is due at ``t0_ms + i * 1000 / rate`` and is
    stamped with that due time; the file holding the ticks due in a
    period is published at the period's end, whatever the system under
    test is doing. ``late_ms`` records how far each publish ran behind
    its schedule.

    The schedule runs on the monotonic clock from ``t0_mono``, the
    ``time.perf_counter()`` reading taken with ``t0_ms`` when the feed
    starts: the wall clock can step while a run is in progress."""

    def __init__(
        self, gen: TickGenerator, directory: str, rate: int, period_s: float,
        duration_s: float,
    ) -> None:
        super().__init__(name="tick-live-feed", daemon=True)
        self.gen = gen
        self.directory = directory
        self.rate = rate
        self.period_s = period_s
        self.n_periods = max(1, int(round(duration_s / period_s)))
        self.late_ms: list[float] = []
        self.t0_ms = 0
        self.t0_mono = 0.0
        self.error: BaseException | None = None
        self._halt = threading.Event()

    def start(self) -> None:
        self.t0_mono = time.perf_counter()
        self.t0_ms = int(time.time() * 1000)
        super().start()

    def run(self) -> None:
        try:
            self._run()
        except BaseException as e:  # noqa: BLE001 - reported by the caller
            self.error = e

    def _run(self) -> None:
        per = int(round(self.rate * self.period_s))
        step_ms = 1000.0 / self.rate
        for k in range(self.n_periods):
            due = self.t0_mono + (k + 1) * self.period_s
            delay = due - time.perf_counter()
            if delay > 0 and self._halt.wait(delay):
                return
            first = k * per
            lines = self.gen.batch(
                per, "realtime",
                lambda i, f=first: self.t0_ms + int((f + i) * step_ms),
            )
            write_lines(self.directory, f"live-{k:05d}.json", lines)
            self.late_ms.append((time.perf_counter() - due) * 1000.0)

    def stop(self) -> None:
        self._halt.set()
