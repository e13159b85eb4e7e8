"""The tick generator is a pure function of its seed, and its ledger
counts every injected line kind exactly."""

import json
import os

import pytest

from perfbench import ticks


def _lines(seed: int, n: int = 5_000) -> tuple[list[str], ticks.Ledger]:
    gen = ticks.TickGenerator(seed)
    lines = gen.batch(n, "history", lambda i: ticks.HISTORY_EPOCH_MS + i)
    return lines, gen.ledger


def test_same_seed_same_lines():
    a, _ = _lines(7)
    b, _ = _lines(7)
    c, _ = _lines(8)
    assert a == b
    assert a != c


def test_ledger_counts_match_the_lines():
    lines, ledger = _lines(3, 20_000)
    seen: set[str] = set()
    originals = replays = malformed = close_only = 0
    keys = set()
    for line in lines:
        try:
            doc = json.loads(line)
        except json.JSONDecodeError:
            malformed += 1
            continue
        if line in seen:
            replays += 1
            continue
        seen.add(line)
        originals += 1
        keys.add((doc["symbol"], doc["timestamp"]))
        close_only += "close_price" in doc
    assert ledger.lines == len(lines)
    assert ledger.malformed == malformed > 0
    assert ledger.replays == replays > 0
    assert ledger.close_only == close_only
    assert len(ledger.ticks) == originals == len(keys) == 20_000


def test_mix_is_near_the_stated_shares():
    _, ledger = _lines(11, 50_000)
    n = len(ledger.ticks)
    assert abs(ledger.close_only / n - ticks.CLOSE_ONLY_P) < 0.01
    assert abs(ledger.replays / n - ticks.REPLAY_P) < 0.002
    assert abs(ledger.malformed / n - ticks.MALFORMED_P) < 0.001
    counts: dict[str, int] = {}
    for sym, _ in ledger.ticks:
        counts[sym] = counts.get(sym, 0) + 1
    # Zipf(1.1): the top symbol is far more frequent than the median one
    top = counts[ticks.symbols()[0]]
    assert top > 20 * sorted(counts.values())[len(counts) // 2]


def test_history_files_and_by_source(tmp_path):
    gen = ticks.TickGenerator(5)
    files = ticks.write_history(gen, str(tmp_path), 1_000, 300, "hist")
    assert files == 4
    assert sorted(os.listdir(tmp_path)) == [f"hist-{i:05d}.json" for i in range(4)]
    text = "".join(p.read_text() for p in sorted(tmp_path.iterdir()))
    assert text.count("\n") == gen.ledger.lines
    assert len(gen.ledger.by_source("history")) == 1_000
    assert gen.ledger.by_source("realtime") == {}


def test_overlapping_timestamps_are_refused(tmp_path):
    gen = ticks.TickGenerator(5)
    ticks.write_history(gen, str(tmp_path), 500, 500, "warm")
    with pytest.raises(ValueError):
        ticks.write_history(gen, str(tmp_path), 500, 500, "hist", first_index=250)


def test_iso_ms_round_trip():
    assert ticks.iso_ms(ticks.HISTORY_EPOCH_MS + 1_234) == "2024-01-01T00:00:01.234Z"
