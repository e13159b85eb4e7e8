"""Interleaved A/B of two checkouts on one perfbench workload.

Runs ``perfbench/run.py`` (end-to-end metrics, tracing off) in a parent
checkout and a change checkout, one pair per seed, swapping which side
runs first every pair. For each end-to-end metric of ``BENCHMARK.json``
it prints each side's median and quartiles, the change's wins out of
the pairs (ties count for neither), whether the medians differ by more
than the parent's interquartile range, and the change's median ratio
against the metric's ``bound``; then the ``failed`` count of each run,
by seed.

Usage (from the repository root):

    python3 tools/perfbench_ab.py PARENT_DIR CHANGE_DIR \\
        --workload tick_stream --pairs 10 --first-seed 31

Both checkouts run with the benchmark's own ``run_seconds``, read from
the parent's ``BENCHMARK.json``. Standard library only.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import stats  # noqa: E402


def run_once(checkout: str, workload: str, seed: int, seconds: float) -> dict:
    """One untraced benchmark run; its JSON result line."""
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload,
        "--seed", str(seed), "--seconds", f"{seconds:g}", "--trace", "0",
    ]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    try:
        return json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        sys.exit(
            f"{checkout}: seed {seed} exited {proc.returncode} without a"
            f" result line\n{proc.stderr[-2000:]}"
        )


def quartiles(values: list[float]) -> tuple[float, ...]:
    return tuple(stats.percentile(values, p) for p in (25.0, 50.0, 75.0))


def summary(metrics: list[dict], runs: dict[str, list[dict]]) -> list[str]:
    """One line per end-to-end metric, then the failed counts.

    Each metric line ends with the change's median as a ratio of the
    parent's, against the metric's ``bound``: "within bound", "worse
    than bound", or "unresolved" when the parent's own IQR/median is
    wider than the bound and not every change run beats every parent
    run.
    """
    n = len(runs["parent"])
    out = []
    for m in metrics:
        name, lower, bound = m["name"], m["better"] == "lower", m["bound"]
        vals = {
            side: [r["metrics"][name]["value"] for r in rs] for side, rs in runs.items()
        }
        wins = sum(
            (c < p) if lower else (c > p)
            for p, c in zip(vals["parent"], vals["change"])
        )
        p25, p50, p75 = quartiles(vals["parent"])
        c25, c50, c75 = quartiles(vals["change"])
        delta = c50 - p50
        better = delta < 0 if lower else delta > 0
        gain = wins * 10 >= n * 9 and better and abs(delta) > p75 - p25
        spread = (p75 - p25) / p50
        worse_by = (delta if lower else -delta) / p50
        all_better = (
            max(vals["change"]) < min(vals["parent"]) if lower
            else min(vals["change"]) > max(vals["parent"])
        )
        if spread > bound and not all_better:
            verdict = f"unresolved (parent IQR/median {spread:.3f})"
        elif worse_by > bound:
            verdict = "worse than bound"
        else:
            verdict = "within bound"
        out.append(
            f"{name} ({m['unit']}): parent {p50:.4g} [{p25:.4g}, {p75:.4g}],"
            f" change {c50:.4g} [{c25:.4g}, {c75:.4g}], median"
            f" {delta / p50:+.1%}; change wins {wins}/{n}; parent IQR"
            f" {p75 - p25:.4g}; gain claimable: {'yes' if gain else 'no'};"
            f" median ratio {c50 / p50:.3f}, bound {bound:g}: {verdict}"
        )
    for side, rs in runs.items():
        out.append(
            f"{side} failed by seed: "
            + ", ".join(f"{r['seed']}:{r['failed']}/{r['attempted']}" for r in rs)
            + f"; all correct: {all(r['correct'] for r in rs)}"
        )
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("parent")
    p.add_argument("change")
    p.add_argument("--workload", required=True)
    p.add_argument("--pairs", type=int, required=True)
    p.add_argument("--first-seed", type=int, required=True)
    args = p.parse_args(argv)

    with open(os.path.join(args.parent, "BENCHMARK.json")) as f:
        bench = json.load(f)
    dirs = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    runs: dict[str, list[dict]] = {"parent": [], "change": []}
    for i in range(args.pairs):
        seed = args.first_seed + i
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            r = run_once(dirs[side], args.workload, seed, bench["run_seconds"])
            r["seed"] = seed
            runs[side].append(r)
            print(f"{side} {json.dumps(r)}", flush=True)
    print(f"workload {args.workload}: {args.pairs} pairs, seeds"
          f" {args.first_seed}-{args.first_seed + args.pairs - 1}")
    for line in summary(bench["end_to_end"], runs):
        print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
