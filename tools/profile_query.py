"""Time registry queries one at a time, the way perfbench times them.

Usage:
    python tools/profile_query.py NAME [NAME ...] [--runs N] [--explain DIR]

After a warm-up at sf0.001, each query is written to the noop sink
--runs times on local[$SPARK_GRAFT_CPUS] with
shuffle.partitions=$SPARK_GRAFT_CPUS. The "best" figure is the fastest
call, which is the statistic perfbench's stock_analytics workload
reports per query (perfbench/README.md: the host steals CPU in
episodes, so the fastest of several samples of the same work is the
stable number); "median" and "samples" are printed too. Use it to
iterate on a few queries without a whole benchmark run.

With --explain DIR, also writes DIR/<name>.txt with the
``explain("formatted")`` output of each query.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def main(argv: list[str]) -> int:
    names = [a for a in argv[1:] if not a.startswith("--")]
    runs = 3
    if "--runs" in argv:
        runs = int(argv[argv.index("--runs") + 1])
        names = [n for n in names if n != str(runs)]
    explain_dir = None
    if "--explain" in argv:
        explain_dir = argv[argv.index("--explain") + 1]
        names = [n for n in names if n != explain_dir]

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from stock_trend_predictor_spark import get_spark
    from stock_trend_predictor_spark.plans import REGISTRY

    spark = get_spark(
        app_name="stp-profile",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "16g",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    warm = REGISTRY["flagship_movement_rate"]
    warm.fn(spark, "/root/testdata/sf0.001").write.format("noop").mode(
        "overwrite"
    ).save()
    REGISTRY["pergroup_linreg_models"].fn(
        spark, "/root/testdata/sf0.001"
    ).write.format("noop").mode("overwrite").save()

    out: dict[str, dict] = {}
    for name in names:
        q = REGISTRY[name]
        samples = []
        for _ in range(runs):
            t0 = time.perf_counter()
            df = q.fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            samples.append(round(time.perf_counter() - t0, 3))
        out[name] = {
            "best": min(samples),
            "median": sorted(samples)[len(samples) // 2],
            "samples": samples,
        }
        print(json.dumps({name: out[name]}), flush=True)
        if explain_dir:
            os.makedirs(explain_dir, exist_ok=True)
            df = q.fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            Path(explain_dir, f"{name}.txt").write_text(plan)
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
