"""Repo benchmark: one workload per run, one JSON result line.

Usage (from the repository root):

    python3 perfbench/run.py --workload tick_stream --seed 1 --seconds 12 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the
same workload with spans and counters on and prints the per-layer
metrics. The last line of standard output is the JSON result:
``{"correct", "attempted", "failed", "metrics"}``. See
perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WORKLOADS = ("tick_stream", "stock_analytics")


class Context:
    def __init__(self, args, work, tracer) -> None:
        self.seed = args.seed
        self.seconds = args.seconds
        self.work = work
        self.tracer = tracer


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    # The engine package must be importable from the checkout; without
    # it the benchmark fails here, before any result is printed.
    import stock_trend_predictor_spark  # noqa: F401

    from perfbench import report
    from perfbench.harness import SETUP_CYCLES, Session, Tracer, Workdir, vm_hwm_mb

    work = Workdir(ROOT, args.workload)
    # Spark, the Python workers and the engine's fold state all write
    # under TMPDIR; keep it inside the checkout.
    os.environ["TMPDIR"] = os.path.join(work.path, "tmp")
    import tempfile

    tempfile.tempdir = None
    tracer = Tracer(enabled=bool(args.trace))
    ctx = Context(args, work, tracer)
    session = Session(work, tracer, master="local[4]")
    try:
        if args.workload == "tick_stream":
            from perfbench.tick_stream import TickStream

            wl = TickStream(ctx)
        else:
            from perfbench.analytics import StockAnalytics

            wl = StockAnalytics(ctx)

        t_gen = time.perf_counter()
        wl.make_inputs()
        gen_s = time.perf_counter() - t_gen

        setup = []
        for i in range(SETUP_CYCLES):
            t0 = time.perf_counter()
            spark = session.start()
            wl.warm_up(spark)
            t1 = time.perf_counter()
            setup.append(t1 - (PROCESS_START + gen_s if i == 0 else t0))
        jvm_pid = session.jvm_pid()

        result = wl.run(spark, args.seconds)
        checked = wl.check(spark)
        if tracer.enabled and args.workload == "tick_stream":
            result.update(wl.single_core_baseline(session))
        rss_mb = vm_hwm_mb(jvm_pid) + vm_hwm_mb()
        out = report.build(
            args.workload, wl, result, checked, setup, rss_mb, tracer, args.seconds
        )
        if tracer.enabled:
            tracer.dump(os.path.join(ROOT, ".perfbench_trace.json"))
    finally:
        session.stop()
        session.shutdown_jvm()
        work.remove()
    for line in out["human"]:
        print(line)
    print(json.dumps(out["result"]))
    return 0 if out["result"]["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
