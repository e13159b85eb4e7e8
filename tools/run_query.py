"""Run any registry query from the command line.

Usage:
    python tools/run_query.py                 # list all queries
    python tools/run_query.py NAME [SF_DIR]   # run one, show rows + plan
    python tools/run_query.py NAME --explain  # plan only

The operational entry point for a human driving the engine: every
operator in SURVEY §2 / COVERAGE.md is runnable by name.
"""

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main(argv: list[str]) -> int:
    from pyspark.sql import SparkSession

    from stock_trend_predictor_spark.plans import REGISTRY

    if len(argv) < 2:
        width = max(len(n) for n in REGISTRY)
        for name in sorted(REGISTRY):
            q = REGISTRY[name]
            oracle = "oracle" if q.oracle else "rows-only"
            doc = " ".join(q.doc.split())[:80]
            print(f"{name:<{width}}  [{oracle}]  {doc}")
        print(f"\n{len(REGISTRY)} queries")
        return 0

    name = argv[1]
    if name not in REGISTRY:
        print(f"unknown query {name!r}; run with no args to list")
        return 2
    explain_only = "--explain" in argv
    sf_dir = next(
        (a for a in argv[2:] if not a.startswith("--")),
        "/root/testdata/sf0.001",
    )
    spark = (
        SparkSession.builder.master("local[4]")
        .appName(f"run-{name}")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    df = REGISTRY[name].fn(spark, sf_dir)
    if explain_only:
        df.explain("formatted")
        return 0
    df.show(20, truncate=False)
    print(f"({df.count()} rows at {sf_dir})")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
