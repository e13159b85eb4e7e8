"""Mechanical enforcement of the sweep-ordering protocol rule
(COVERAGE.md, r10): a captured full-sweep log (the stdout of
``tools/driver_sim.py``) must agree with the LIVE registry —
same query set, same per-query oracle/rows-only mode, zero failures.

The r9 verdict's finding #1 was exactly this class of drift: the
sweep ran one commit before the ``pq_embedding_codes`` oracle landed,
so the flagship correctness artifact said 319+11 while the registry
said 320+10. The prose rule ("sweep AFTER the last registry-touching
commit") prevents the recurrence only if someone checks; this tool IS
the check — run it against the log right after capturing it, and
again before shipping the round:

    python tools/driver_sim.py > sweep.log
    python tools/check_sweep_fresh.py sweep.log

Exit 0 = the artifact matches the registry exactly. Exit 1 prints
every disagreement: missing/extra queries, mode flips (a query the
registry oracles but the log ran rows-only — the r9 staleness shape),
per-query FAIL lines, or a non-zero FAILURES trailer.

Parsing is deliberately tolerant of the sweep's tty artifacts
(progress-bar carriage returns can glue a result line onto a spinner
line), so the same checker works on a raw captured log.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: result-line shapes driver_sim.py prints per query
_OK = re.compile(r"\[(OK|FAIL)\] (\w+):")
_ROWS_ONLY = re.compile(r"\[rows-only\] (\w+):")
_FAILURES = re.compile(r"^FAILURES: (\d+)\s*$")


def parse_log(path: str) -> tuple[dict[str, str], int | None]:
    """-> ({query_name: 'oracled' | 'rows-only' | 'FAIL'}, failures)."""
    modes: dict[str, str] = {}
    failures: int | None = None
    with open(path, encoding="utf-8", errors="replace") as f:
        for raw in f:
            # progress bars end in \r without \n; split so a glued
            # "[OK] ..." segment still parses as its own line
            for line in raw.replace("\r", "\n").split("\n"):
                m = _OK.search(line)
                if m:
                    modes[m.group(2)] = (
                        "oracled" if m.group(1) == "OK" else "FAIL"
                    )
                    continue
                m = _ROWS_ONLY.search(line)
                if m:
                    modes[m.group(1)] = "rows-only"
                    continue
                m = _FAILURES.match(line)
                if m:
                    failures = int(m.group(1))
    return modes, failures


def check(log_path: str) -> list[str]:
    """-> list of disagreement strings; empty == fresh."""
    import __spark_entry__ as E

    qs, oracles = set(E.queries()), set(E.oracle_sql())
    modes, failures = parse_log(log_path)
    probs: list[str] = []
    if failures is None:
        probs.append("no FAILURES trailer — truncated or partial log")
    elif failures != 0:
        probs.append(f"FAILURES: {failures} (must be 0)")
    for name, mode in sorted(modes.items()):
        if name not in qs:
            probs.append(f"{name}: in log but not in registry")
        elif mode == "FAIL":
            probs.append(f"{name}: FAILED in the sweep")
        elif mode == "oracled" and name not in oracles:
            probs.append(
                f"{name}: log oracled it but the registry has no oracle"
            )
        elif mode == "rows-only" and name in oracles:
            probs.append(
                f"{name}: registry oracles it but the log ran rows-only"
                " — the r9 staleness shape; re-sweep"
            )
    for name in sorted(qs - set(modes)):
        probs.append(f"{name}: in registry but absent from the log")
    return probs


def main() -> int:
    if len(sys.argv) != 2:
        print(__doc__)
        return 2
    probs = check(sys.argv[1])
    modes, _ = parse_log(sys.argv[1])
    n_or = sum(1 for m in modes.values() if m == "oracled")
    n_ro = sum(1 for m in modes.values() if m == "rows-only")
    if probs:
        for p in probs:
            print(f"STALE: {p}")
        print(f"{sys.argv[1]}: {len(probs)} disagreement(s) vs the registry")
        return 1
    print(
        f"{sys.argv[1]}: FRESH — {n_or} oracle-checked + {n_ro} rows-only"
        " match the live registry exactly, FAILURES: 0"
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
