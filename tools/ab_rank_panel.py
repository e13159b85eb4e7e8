"""Measured answer to r4 verdict #6: does sharing one (grp, value)
aggregate across the rank-test family actually win?

Same-session alternating A/B at the bench SF:

- A (shared):   rank_tests_panel — Kruskal-Wallis + all pairwise
  Mann-Whitney from ONE (grp, value) aggregate; pair fan-out over the
  aggregated value table.
- B (unshared): kruskal_wallis_event_types run separately PLUS a
  pairwise Mann-Whitney built the standalone way (raw events tagged to
  every pair BEFORE aggregating — the mann_whitney_u_pairwise shape on
  the same events data), i.e. what running the family members
  individually costs.

Wilcoxon/Friedman are NOT in the panel by design: they rank paired /
blocked hour-of-day MEAN tables (#symbols x 24 — driver-sized), so
there is no raw pass to share; measured here as context only.

Usage: python tools/ab_rank_panel.py  [N_RUNS]
"""

from __future__ import annotations

import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF = "/root/testdata/sf0.1"


def main() -> None:
    runs = int(sys.argv[1]) if len(sys.argv) > 1 else 5

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from stock_trend_predictor_spark import get_spark
    from stock_trend_predictor_spark.plans import REGISTRY
    from stock_trend_predictor_spark.sources.tables import load_table

    spark = get_spark(
        app_name="ab-rank-panel",
        master="local[32]",
        shuffle_partitions=32,
        extra_conf={"spark.ui.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    def run_noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def unshared_mw_events(spark, sf_dir):
        """Standalone-shape pairwise MW over events: raw rows tagged to
        every pair first (the k-1x raw fan-out the panel avoids)."""
        ev = (
            load_table(spark, sf_dir, "events")
            .where(F.col("value").isNotNull())
            .select(F.col("event_type").alias("grp"), F.col("value").alias("v"))
        )
        syms = ev.select("grp").distinct()
        pairs = (
            syms.select(F.col("grp").alias("sym_a"))
            .join(syms.select(F.col("grp").alias("sym_b")))
            .where(F.col("sym_a") < F.col("sym_b"))
        )
        tagged = ev.join(
            F.broadcast(pairs),
            (F.col("grp") == F.col("sym_a"))
            | (F.col("grp") == F.col("sym_b")),
        ).select(
            "sym_a",
            "sym_b",
            "v",
            F.when(F.col("grp") == F.col("sym_a"), 1).otherwise(0).alias(
                "from_a"
            ),
        )
        grp_tab = tagged.groupBy("sym_a", "sym_b", "v").agg(
            F.count(F.lit(1)).cast("bigint").alias("t"),
            F.sum("from_a").cast("bigint").alias("ta"),
        )
        wp = (
            Window.partitionBy("sym_a", "sym_b")
            .orderBy("v")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        prnk = grp_tab.withColumn(
            "min_rank", F.coalesce(F.sum("t").over(wp), F.lit(0)) + 1
        )
        contrib = (
            F.col("ta") * (F.col("min_rank") + (F.col("t") - 1) / F.lit(2.0))
        ).cast("decimal(38,6)")
        pagg = prnk.groupBy("sym_a", "sym_b").agg(
            F.sum("t").cast("bigint").alias("n"),
            F.sum("ta").cast("bigint").alias("na"),
            F.sum(contrib).cast("double").alias("ra"),
            F.sum(
                F.col("t").cast("decimal(38,0)") * F.col("t") * F.col("t")
                - F.col("t")
            ).alias("tie_sum"),
        )
        pn_d = F.col("n").cast("double")
        pna_d = F.col("na").cast("double")
        pnb_d = pn_d - pna_d
        ua = F.col("ra") - pna_d * (pna_d + 1) / F.lit(2.0)
        mu = pna_d * pnb_d / F.lit(2.0)
        sigma = F.sqrt(
            F.greatest(
                pna_d * pnb_d / F.lit(12.0)
                * (
                    (pn_d + 1)
                    - F.col("tie_sum").cast("double") / (pn_d * (pn_d - 1))
                ),
                F.lit(0.0),
            )
        )
        return pagg.select(
            "sym_a", "sym_b", "n", ua.alias("u_a"),
            ((ua - mu) / sigma).alias("z"),
        )

    # warmup both shapes once
    run_noop(REGISTRY["rank_tests_panel"].fn(spark, SF))
    run_noop(REGISTRY["kruskal_wallis_event_types"].fn(spark, SF))
    run_noop(unshared_mw_events(spark, SF))

    shared: list[float] = []
    unshared: list[float] = []
    wilcoxon: list[float] = []
    friedman: list[float] = []
    for _ in range(runs):
        t0 = time.perf_counter()
        run_noop(REGISTRY["rank_tests_panel"].fn(spark, SF))
        shared.append(time.perf_counter() - t0)

        t0 = time.perf_counter()
        run_noop(REGISTRY["kruskal_wallis_event_types"].fn(spark, SF))
        run_noop(unshared_mw_events(spark, SF))
        unshared.append(time.perf_counter() - t0)

        t0 = time.perf_counter()
        run_noop(REGISTRY["wilcoxon_signed_rank_halves"].fn(spark, SF))
        wilcoxon.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        run_noop(REGISTRY["friedman_hod_symbols"].fn(spark, SF))
        friedman.append(time.perf_counter() - t0)

    med = statistics.median
    print(
        f"runs={runs} sf={SF}\n"
        f"shared  rank_tests_panel        median={med(shared):.3f}s "
        f"samples={[round(x, 3) for x in shared]}\n"
        f"unshared KW + raw-fanout MW     median={med(unshared):.3f}s "
        f"samples={[round(x, 3) for x in unshared]}\n"
        f"ratio shared/unshared = {med(shared) / med(unshared):.3f}\n"
        f"context: wilcoxon median={med(wilcoxon):.3f}s "
        f"friedman median={med(friedman):.3f}s (no raw pass to share)"
    )
    spark.stop()


if __name__ == "__main__":
    main()
