"""Statistical hypothesis tests over the tick stream: Wald-Wolfowitz
runs test, ARCH(1) LM test, and the Ljung-Box Q portmanteau.

The diagnostics a quant runs BEFORE trusting a trend model: is the
up/down sequence even non-random (runs test)? does volatility cluster
(ARCH)? is there any serial correlation to exploit at all (Ljung-Box)?
The reference trains its classifier without asking any of these
(ml_model/predict_from_vm4.py:29-39 fits directly on raw OHLCV rows).

All three reduce to decimal-exact sufficient sums over one per-symbol
sort — counts and sums are order-independent, the test statistics are
fixed IEEE trees on them, and the accept/reject flags compare against
published critical-value constants. One shuffle per test at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from stock_trend_predictor_spark.functions.exact import (
    stable_round,
    stable_round_sql,
)
from stock_trend_predictor_spark.sources.tables import (
    TICKS_ORACLE_CTE,
    load_table,
    materialize_once,
    ticks,
)

#: wide decimal for delta^2 / delta^4 products: integer part up to 1e26
#: (deltas reach ~1e4, so 4th-power sums need the width), 12 exact dp.
HI_DECIMAL = "decimal(38,12)"

#: chi-square critical values: chi2(1) and chi2(10) at 5%.
CHI2_1_5PCT = 3.841
CHI2_10_5PCT = 18.307

LB_LAGS = 10


def _register():
    from stock_trend_predictor_spark.plans.registry import register

    # ------------------------------------------------------------------
    @register(
        "runs_test_updown",
        oracle=f"""
WITH {TICKS_ORACLE_CTE.strip()},
dirs AS (
    SELECT symbol, ts, tick_id,
           CAST(sign(close - open) AS BIGINT) AS dir
    FROM ticks WHERE open IS NOT NULL AND close <> open
), seq AS (
    SELECT symbol, dir,
           lag(dir) OVER (PARTITION BY symbol
                          ORDER BY ts, tick_id) AS prev_dir
    FROM dirs
), counts AS (
    SELECT symbol,
           CAST(count(*) FILTER (WHERE dir = 1) AS BIGINT) AS n_up,
           CAST(count(*) FILTER (WHERE dir = -1) AS BIGINT) AS n_down,
           CAST(1 + count(*) FILTER (WHERE prev_dir IS NOT NULL
                                     AND dir <> prev_dir) AS BIGINT) AS runs
    FROM seq GROUP BY 1
), stats AS (
    SELECT symbol, n_up, n_down, runs,
           2.0 * n_up * n_down / (n_up + n_down) + 1.0 AS mu,
           sqrt((2.0 * n_up * n_down)
                * (2.0 * n_up * n_down - n_up - n_down)
                / ((CAST(n_up + n_down AS DOUBLE))
                   * (n_up + n_down) * (n_up + n_down - 1))) AS sigma
    FROM counts WHERE n_up > 0 AND n_down > 0 AND n_up + n_down > 1
)
SELECT symbol, n_up, n_down, runs,
       {stable_round_sql('(runs - mu) / sigma', 6)} AS z_stat,
       abs((runs - mu) / sigma) > 1.96 AS nonrandom_5pct
FROM stats
""",
        doc="Wald-Wolfowitz runs test on the up/down tick sequence "
        "per symbol: too FEW runs = trending, too MANY = mean-"
        "reverting, |z| <= 1.96 = indistinguishable from a coin — "
        "the first sanity check before training any movement "
        "classifier. Zero deltas are excluded (classic dichotomous "
        "form). Counts are exact integers off one per-symbol sort "
        "(the lag finds run boundaries); mu/sigma are closed-form "
        "doubles on those integers, identical cross-engine.",
    )
    def runs_test_updown(spark: SparkSession, sf_dir: str) -> DataFrame:
        t = ticks(spark, sf_dir).where(
            F.col("open").isNotNull() & (F.col("close") != F.col("open"))
        )
        d = F.signum(F.col("close") - F.col("open")).cast("bigint")
        s = Window.partitionBy("symbol").orderBy("ts", "tick_id")
        seq = t.select("symbol", "ts", "tick_id", d.alias("dir")).withColumn(
            "prev_dir", F.lag("dir").over(s)
        )
        counts = seq.groupBy("symbol").agg(
            F.count(F.when(F.col("dir") == 1, 1)).alias("n_up"),
            F.count(F.when(F.col("dir") == -1, 1)).alias("n_down"),
            (
                F.lit(1)
                + F.count(
                    F.when(
                        F.col("prev_dir").isNotNull()
                        & (F.col("dir") != F.col("prev_dir")),
                        1,
                    )
                )
            ).cast("bigint").alias("runs"),
        )
        n1, n2 = F.col("n_up"), F.col("n_down")
        mu = 2.0 * n1 * n2 / (n1 + n2) + 1.0
        sigma = F.sqrt(
            (2.0 * n1 * n2)
            * (2.0 * n1 * n2 - n1 - n2)
            / ((n1 + n2).cast("double") * (n1 + n2) * (n1 + n2 - 1))
        )
        z = (F.col("runs") - mu) / sigma
        return counts.where((n1 > 0) & (n2 > 0) & (n1 + n2 > 1)).select(
            "symbol",
            "n_up",
            "n_down",
            "runs",
            stable_round(z, 6).alias("z_stat"),
            (F.abs(z) > 1.96).alias("nonrandom_5pct"),
        )

    # ------------------------------------------------------------------
    @register(
        "arch_lm_test",
        oracle=f"""
WITH {TICKS_ORACLE_CTE.strip()},
sq AS (
    SELECT symbol, ts, tick_id,
           (close - open) * (close - open) AS x
    FROM ticks WHERE open IS NOT NULL
), lagged AS (
    SELECT symbol, x,
           lag(x) OVER (PARTITION BY symbol ORDER BY ts, tick_id) AS y
    FROM sq
), sums AS (
    SELECT symbol, CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE) AS sx,
           CAST(SUM(CAST(y AS DECIMAL(38,12))) AS DOUBLE) AS sy,
           CAST(SUM(CAST(x * y AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
           CAST(SUM(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
           CAST(SUM(CAST(y * y AS DECIMAL(38,12))) AS DOUBLE) AS syy
    FROM lagged WHERE y IS NOT NULL GROUP BY 1
), stats AS (
    SELECT symbol, n,
           (n * sxy - sx * sy) * (n * sxy - sx * sy)
           / ((n * sxx - sx * sx) * (n * syy - sy * sy)) AS r2
    FROM sums
)
SELECT symbol, n AS n_pairs,
       {stable_round_sql('n * r2', 6)} AS lm_stat,
       n * r2 > {CHI2_1_5PCT} AS arch_present_5pct
FROM stats
""",
        doc="ARCH(1) Lagrange-multiplier test per symbol: regress the "
        "squared tick delta on its lag; LM = n * R^2 vs chi2(1). "
        "Significant = volatility clusters, so a homoskedastic "
        "movement model (the reference's) is misspecified and "
        "vol-aware features (realized_vol_daily, EWMA) earn their "
        "keep. R^2 of the single-lag regression is corr^2 — five "
        "decimal(38,12) sufficient sums (delta^4 terms need the "
        "width) over the existing per-symbol sort, nothing else.",
    )
    def arch_lm_test(spark: SparkSession, sf_dir: str) -> DataFrame:
        t = ticks(spark, sf_dir).where(F.col("open").isNotNull())
        x = (F.col("close") - F.col("open")) * (
            F.col("close") - F.col("open")
        )
        s = Window.partitionBy("symbol").orderBy("ts", "tick_id")
        lagged = (
            t.select("symbol", "ts", "tick_id", x.alias("x"))
            .withColumn("y", F.lag("x").over(s))
            .where(F.col("y").isNotNull())
        )
        xx, yy = F.col("x"), F.col("y")
        sums = lagged.groupBy("symbol").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(xx.cast(HI_DECIMAL)).cast("double").alias("sx"),
            F.sum(yy.cast(HI_DECIMAL)).cast("double").alias("sy"),
            F.sum((xx * yy).cast(HI_DECIMAL)).cast("double").alias("sxy"),
            F.sum((xx * xx).cast(HI_DECIMAL)).cast("double").alias("sxx"),
            F.sum((yy * yy).cast(HI_DECIMAL)).cast("double").alias("syy"),
        )
        n = F.col("n")
        sx, sy = F.col("sx"), F.col("sy")
        sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
        r2 = ((n * sxy - sx * sy) * (n * sxy - sx * sy)) / (
            (n * sxx - sx * sx) * (n * syy - sy * sy)
        )
        return sums.select(
            "symbol",
            n.alias("n_pairs"),
            stable_round(n * r2, 6).alias("lm_stat"),
            (n * r2 > CHI2_1_5PCT).alias("arch_present_5pct"),
        )

    # ------------------------------------------------------------------
    _lb_lag_cols = ",\n           ".join(
        f"lag(r, {k}) OVER s AS r{k}" for k in range(1, LB_LAGS + 1)
    )
    _lb_union = "\n    UNION ALL ".join(
        f"SELECT symbol, {k} AS k, r, r{k} AS rk FROM lagged"
        f" WHERE r{k} IS NOT NULL"
        for k in range(1, LB_LAGS + 1)
    )

    @register(
        "ljung_box_q",
        oracle=f"""
WITH {TICKS_ORACLE_CTE.strip()},
rets AS (
    SELECT symbol, ts, tick_id, close - open AS r
    FROM ticks WHERE open IS NOT NULL
), base AS (
    SELECT symbol, CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CAST(r AS DECIMAL(27,6))) AS DOUBLE) / count(*) AS rbar,
           CAST(SUM(CAST(r * r AS DECIMAL(38,12))) AS DOUBLE)
             - count(*) * (CAST(SUM(CAST(r AS DECIMAL(27,6))) AS DOUBLE)
                           / count(*))
                       * (CAST(SUM(CAST(r AS DECIMAL(27,6))) AS DOUBLE)
                           / count(*)) AS css
    FROM rets GROUP BY 1
), lagged AS (
    SELECT symbol, r,
           {_lb_lag_cols}
    FROM rets
    WINDOW s AS (PARTITION BY symbol ORDER BY ts, tick_id)
), pairs AS (
    {_lb_union}
), rho AS (
    SELECT p.symbol, p.k, b.n,
           CAST(SUM(CAST((p.r - b.rbar) * (p.rk - b.rbar)
                         AS DECIMAL(38,12))) AS DOUBLE) / b.css AS rho_k
    FROM pairs p JOIN base b USING (symbol)
    GROUP BY p.symbol, p.k, b.n, b.css
)
SELECT symbol, CAST(any_value(n) AS BIGINT) AS n_obs,
       {stable_round_sql(
           'CAST(any_value(n) AS DOUBLE) * (any_value(n) + 2)'
           ' * SUM(rho_k * rho_k / (n - k))', 6)} AS q_stat,
       CAST(any_value(n) AS DOUBLE) * (any_value(n) + 2)
         * SUM(rho_k * rho_k / (n - k)) > {CHI2_10_5PCT}
           AS autocorrelated_5pct
FROM rho GROUP BY 1
""",
        doc=f"Ljung-Box portmanteau on tick deltas per symbol: "
        f"Q = n(n+2) * sum over k=1..{LB_LAGS} of rho_k^2/(n-k) vs "
        "chi2(10) — 'is there ANY serial correlation to model?', the "
        "go/no-go gate for the whole trend-prediction premise. "
        "Autocorrelations use the standard full-series-mean "
        "normalization: one base aggregate per symbol (mean + "
        "centered sum of squares), ten lag columns off ONE sort "
        "(same stack shape as the banded Mann-Kendall), cross "
        "products decimal-summed per (symbol, lag), and the "
        "10-term Q fold per symbol. The 10-row-per-symbol rho table "
        "is the only thing the final aggregate touches.",
    )
    def ljung_box_q(spark: SparkSession, sf_dir: str) -> DataFrame:
        t = ticks(spark, sf_dir).where(F.col("open").isNotNull())
        rets = t.select(
            "symbol",
            "ts",
            "tick_id",
            (F.col("close") - F.col("open")).alias("r"),
        )
        r = F.col("r")
        rbar = F.sum(r.cast("decimal(27,6)")).cast("double") / F.count(
            F.lit(1)
        )
        base = rets.groupBy("symbol").agg(
            F.count(F.lit(1)).alias("n"),
            rbar.alias("rbar"),
            (
                F.sum((r * r).cast(HI_DECIMAL)).cast("double")
                - F.count(F.lit(1)) * rbar * rbar
            ).alias("css"),
        )
        s = Window.partitionBy("symbol").orderBy("ts", "tick_id")
        lagged = rets.withColumns(
            {f"r{k}": F.lag("r", k).over(s) for k in range(1, LB_LAGS + 1)}
        )
        stack_args = ", ".join(f"{k}, r{k}" for k in range(1, LB_LAGS + 1))
        pairs = lagged.selectExpr(
            "symbol", "r", f"stack({LB_LAGS}, {stack_args}) AS (k, rk)"
        ).where(F.col("rk").isNotNull())
        rho = (
            pairs.join(F.broadcast(base), "symbol")
            .groupBy("symbol", "k", "n", "css")
            .agg(
                (
                    F.sum(
                        (
                            (F.col("r") - F.col("rbar"))
                            * (F.col("rk") - F.col("rbar"))
                        ).cast(HI_DECIMAL)
                    ).cast("double")
                    / F.first("css")
                ).alias("rho_k")
            )
        )
        n = F.any_value("n")
        # n*(n+2) through DOUBLE: the bigint product overflows int64
        # at n ~ 3e9 ticks per symbol (oracle mirrors the cast)
        q = n.cast("double") * (n + 2) * F.sum(
            F.col("rho_k") * F.col("rho_k") / (F.col("n") - F.col("k"))
        )
        return rho.groupBy("symbol").agg(
            n.cast("bigint").alias("n_obs"),
            stable_round(q, 6).alias("q_stat"),
            (q > CHI2_10_5PCT).alias("autocorrelated_5pct"),
        )

    # ------------------------------------------------------------------
    VR_Q = 4
    _VR_Z_SQL = (
        f"(ratio - 1.0) / sqrt(2.0 * ({VR_Q} - 1.0)"
        f" * (2.0 * {VR_Q} - 1.0) / (3.0 * {VR_Q} * n1))"
    )

    @register(
        "variance_ratio_test",
        oracle=f"""
WITH {TICKS_ORACLE_CTE.strip()},
rets AS (
    SELECT symbol, ts, tick_id, close,
           close - open AS r1,
           close - lag(close, {VR_Q}) OVER s AS rq
    FROM ticks
    WHERE open IS NOT NULL
    WINDOW s AS (PARTITION BY symbol ORDER BY ts, tick_id)
), sums AS (
    SELECT symbol,
           CAST(count(r1) AS BIGINT) AS n1,
           CAST(SUM(CAST(r1 AS DECIMAL(27,6))) AS DOUBLE) AS s1,
           CAST(SUM(CAST(r1 * r1 AS DECIMAL(38,12))) AS DOUBLE) AS s11,
           CAST(count(rq) AS BIGINT) AS nq,
           CAST(SUM(CAST(rq AS DECIMAL(27,6))) AS DOUBLE) AS sq,
           CAST(SUM(CAST(rq * rq AS DECIMAL(38,12))) AS DOUBLE) AS sqq
    FROM rets GROUP BY 1
), vr AS (
    SELECT symbol, n1,
           ((sqq - sq * sq / nq) / nq)
           / ({VR_Q} * ((s11 - s1 * s1 / n1) / n1)) AS ratio
    FROM sums WHERE n1 > {VR_Q} AND nq > 0
)
SELECT symbol, n1 AS n_obs,
       {stable_round_sql('ratio', 6)} AS vr{VR_Q},
       {stable_round_sql(_VR_Z_SQL, 6)} AS z_stat
FROM vr
""",
        doc=f"Lo-MacKinlay variance-ratio test per symbol at q = "
        f"{VR_Q}: under a random walk, the variance of {VR_Q}-tick "
        "returns is exactly q times the 1-tick variance; VR > 1 = "
        "momentum, VR < 1 = mean reversion — the quantitative "
        "companion to the runs test, and the direct empirical check "
        "of the reference's premise that short-horizon movement is "
        "predictable at all. Both return horizons come from the SAME "
        "per-symbol sort (the q-lag reuses the window); variances "
        "from decimal sufficient sums ((38,12) for the squared "
        "terms); the homoskedastic z uses the closed-form asymptotic "
        "variance 2(q-1)(2q-1)/(3qn).",
    )
    def variance_ratio_test(spark: SparkSession, sf_dir: str) -> DataFrame:
        t = ticks(spark, sf_dir).where(F.col("open").isNotNull())
        s = Window.partitionBy("symbol").orderBy("ts", "tick_id")
        rets = t.select(
            "symbol",
            (F.col("close") - F.col("open")).alias("r1"),
            (F.col("close") - F.lag("close", VR_Q).over(s)).alias("rq"),
        )
        r1, rq = F.col("r1"), F.col("rq")
        sums = rets.groupBy("symbol").agg(
            F.count(r1).alias("n1"),
            F.sum(r1.cast("decimal(27,6)")).cast("double").alias("s1"),
            F.sum((r1 * r1).cast(HI_DECIMAL)).cast("double").alias("s11"),
            F.count(rq).alias("nq"),
            F.sum(rq.cast("decimal(27,6)")).cast("double").alias("sq"),
            F.sum((rq * rq).cast(HI_DECIMAL)).cast("double").alias("sqq"),
        )
        n1, nq = F.col("n1"), F.col("nq")
        var1 = (F.col("s11") - F.col("s1") * F.col("s1") / n1) / n1
        varq = (F.col("sqq") - F.col("sq") * F.col("sq") / nq) / nq
        ratio = varq / (VR_Q * var1)
        z = (ratio - 1.0) / F.sqrt(
            2.0 * (VR_Q - 1.0) * (2.0 * VR_Q - 1.0) / (3.0 * VR_Q * n1)
        )
        return sums.where((n1 > VR_Q) & (nq > 0)).select(
            "symbol",
            n1.alias("n_obs"),
            stable_round(ratio, 6).alias(f"vr{VR_Q}"),
            stable_round(z, 6).alias("z_stat"),
        )

    # ------------------------------------------------------------------
    @register(
        "kpss_level_stat",
        oracle=f"""
WITH {TICKS_ORACLE_CTE.strip()},
rets AS (
    SELECT symbol, ts, tick_id, close - open AS r
    FROM ticks WHERE open IS NOT NULL
), base AS (
    SELECT symbol, CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CAST(r AS DECIMAL(27,6))) AS DOUBLE) / count(*) AS rbar,
           CAST(SUM(CAST(r * r AS DECIMAL(38,12))) AS DOUBLE) / count(*)
             - (CAST(SUM(CAST(r AS DECIMAL(27,6))) AS DOUBLE) / count(*))
               * (CAST(SUM(CAST(r AS DECIMAL(27,6))) AS DOUBLE) / count(*))
               AS s2
    FROM rets GROUP BY 1
), partials AS (
    SELECT rt.symbol,
           CAST(SUM(CAST(rt.r AS DECIMAL(27,6))) OVER w AS DOUBLE)
             - row_number() OVER w2 * b.rbar AS st
    FROM rets rt JOIN base b USING (symbol)
    WINDOW w AS (PARTITION BY rt.symbol ORDER BY rt.ts, rt.tick_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           w2 AS (PARTITION BY rt.symbol ORDER BY rt.ts, rt.tick_id)
), eta AS (
    SELECT p.symbol, b.n,
           CAST(SUM(CAST(p.st * p.st AS DECIMAL(38,12))) AS DOUBLE)
             / (CAST(b.n AS DOUBLE) * b.n * b.s2) AS stat
    FROM partials p JOIN base b USING (symbol)
    GROUP BY 1, 2, b.s2
)
SELECT symbol, n AS n_obs,
       {stable_round_sql('stat', 6)} AS kpss_stat,
       stat > 0.463 AS nonstationary_5pct
FROM eta
""",
        doc="KPSS level-stationarity statistic per symbol (lag-0 "
        "long-run variance): eta = sum of squared partial sums of "
        "the demeaned tick deltas over n^2 * sigma^2, vs the 0.463 "
        "5% critical value — the complement of the Dickey-Fuller "
        "direction used in the cointegration test (KPSS's null IS "
        "stationarity). The running partial sum accumulates in "
        "decimal over the uniquely-ordered window (exact at any "
        "partitioning, same pattern as cusum_drift_summary); the "
        "mean joins in from a one-row-per-symbol broadcast. One "
        "per-symbol sort + two combinable aggregates.",
    )
    def kpss_level_stat(spark: SparkSession, sf_dir: str) -> DataFrame:
        t = ticks(spark, sf_dir).where(F.col("open").isNotNull())
        rets = t.select(
            "symbol",
            "ts",
            "tick_id",
            (F.col("close") - F.col("open")).alias("r"),
        )
        r = F.col("r")
        rbar = F.sum(r.cast("decimal(27,6)")).cast("double") / F.count(
            F.lit(1)
        )
        base = rets.groupBy("symbol").agg(
            F.count(F.lit(1)).alias("n"),
            rbar.alias("rbar"),
            (
                F.sum((r * r).cast(HI_DECIMAL)).cast("double")
                / F.count(F.lit(1))
                - rbar * rbar
            ).alias("s2"),
        )
        s = Window.partitionBy("symbol").orderBy("ts", "tick_id")
        run = s.rowsBetween(Window.unboundedPreceding, 0)
        partials = rets.join(F.broadcast(base), "symbol").select(
            "symbol",
            "n",
            "s2",
            (
                F.sum(r.cast("decimal(27,6)")).over(run).cast("double")
                - F.row_number().over(s) * F.col("rbar")
            ).alias("st"),
        )
        st = F.col("st")
        eta = partials.groupBy("symbol", "n", "s2").agg(
            (
                F.sum((st * st).cast(HI_DECIMAL)).cast("double")
                / (F.col("n").cast("double") * F.col("n") * F.col("s2"))
            ).alias("stat")
        )
        return eta.select(
            "symbol",
            F.col("n").alias("n_obs"),
            stable_round(F.col("stat"), 6).alias("kpss_stat"),
            (F.col("stat") > 0.463).alias("nonstationary_5pct"),
        )

    # ------------------------------------------------------------------
    from stock_trend_predictor_spark.plans.registry import REGISTRY

    _sub = {
        name: REGISTRY[name].oracle
        for name in (
            "runs_test_updown",
            "arch_lm_test",
            "ljung_box_q",
            "variance_ratio_test",
            "kpss_level_stat",
        )
    }

    @register(
        "ks_test_pairwise",
        oracle=f"""
WITH {TICKS_ORACLE_CTE.strip()},
rets AS (
    SELECT symbol, tick_id, close - open AS r
    FROM ticks WHERE open IS NOT NULL
), pairs AS (
    SELECT DISTINCT a.symbol AS sym_a, b.symbol AS sym_b
    FROM rets a, rets b WHERE a.symbol < b.symbol
), tagged AS (
    SELECT p.sym_a, p.sym_b, r.r, r.tick_id,
           CASE WHEN r.symbol = p.sym_a THEN 1 ELSE 0 END AS from_a
    FROM pairs p
    JOIN rets r ON r.symbol = p.sym_a OR r.symbol = p.sym_b
), counts AS (
    SELECT sym_a, sym_b,
           CAST(SUM(from_a) AS BIGINT) AS na,
           CAST(SUM(1 - from_a) AS BIGINT) AS nb
    FROM tagged GROUP BY 1, 2
), cdf AS (
    SELECT t.sym_a, t.sym_b, c.na, c.nb,
           CAST(SUM(t.from_a) OVER w AS DOUBLE) / c.na
             - CAST(SUM(1 - t.from_a) OVER w AS DOUBLE) / c.nb AS gap
    FROM tagged t
    JOIN counts c ON c.sym_a = t.sym_a AND c.sym_b = t.sym_b
    WINDOW w AS (PARTITION BY t.sym_a, t.sym_b
                 ORDER BY t.r, t.from_a, t.tick_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT sym_a, sym_b,
       CAST(any_value(na) AS BIGINT) AS n_a,
       CAST(any_value(nb) AS BIGINT) AS n_b,
       {stable_round_sql('max(abs(gap))', 6)} AS ks_d,
       max(abs(gap)) > 1.36 * sqrt(CAST(any_value(na) + any_value(nb)
                                        AS DOUBLE)
                                   / (any_value(na) * any_value(nb)))
           AS differ_5pct
FROM cdf GROUP BY 1, 2
""",
        doc="Two-sample Kolmogorov-Smirnov test for every unordered "
        "symbol pair: D = max |F_a - F_b| over the merged sorted "
        "return sample — do two symbols even share a return "
        "distribution? (If they do not, pooling them in one model — "
        "which the reference's per-ticker design implicitly avoids "
        "and a global model implicitly assumes — is wrong; this "
        "query is the check.) The empirical-CDF gap comes from ONE "
        "cumulative window per pair over the tagged union, ordered "
        "by (r, tag, tick_id) — a total order, so the step sequence "
        "and its max are bit-deterministic. The 1.36*sqrt((na+nb)/"
        "(na*nb)) flag is the classic 5% asymptotic. Pair fan-out "
        "multiplies the hours... tick-return table by #pairs "
        "(symbol-universe-bounded, never data-bounded).",
    )
    def ks_test_pairwise(spark: SparkSession, sf_dir: str) -> DataFrame:
        t = ticks(spark, sf_dir).where(F.col("open").isNotNull())
        rets = t.select(
            "symbol",
            "tick_id",
            (F.col("close") - F.col("open")).alias("r"),
        )
        syms = rets.select("symbol").distinct()
        pairs = (
            syms.select(F.col("symbol").alias("sym_a"))
            .join(syms.select(F.col("symbol").alias("sym_b")))
            .where(F.col("sym_a") < F.col("sym_b"))
        )
        tagged = rets.join(
            F.broadcast(pairs),
            (F.col("symbol") == F.col("sym_a"))
            | (F.col("symbol") == F.col("sym_b")),
        ).select(
            "sym_a",
            "sym_b",
            "r",
            "tick_id",
            F.when(F.col("symbol") == F.col("sym_a"), 1).otherwise(0).alias(
                "from_a"
            ),
        )
        counts = tagged.groupBy("sym_a", "sym_b").agg(
            F.sum("from_a").alias("na"),
            F.sum(F.lit(1) - F.col("from_a")).alias("nb"),
        )
        w = (
            Window.partitionBy("sym_a", "sym_b")
            .orderBy("r", "from_a", "tick_id")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        cdf = tagged.join(F.broadcast(counts), ["sym_a", "sym_b"]).withColumn(
            "gap",
            F.sum("from_a").over(w).cast("double") / F.col("na")
            - F.sum(F.lit(1) - F.col("from_a")).over(w).cast("double")
            / F.col("nb"),
        )
        na, nb = F.any_value("na"), F.any_value("nb")
        d = F.max(F.abs(F.col("gap")))
        return cdf.groupBy("sym_a", "sym_b").agg(
            na.cast("bigint").alias("n_a"),
            nb.cast("bigint").alias("n_b"),
            stable_round(d, 6).alias("ks_d"),
            (
                d
                > 1.36
                * F.sqrt((na + nb).cast("double") / (na * nb))
            ).alias("differ_5pct"),
        )

    # ------------------------------------------------------------------
    @register(
        "mann_whitney_u_pairwise",
        oracle=f"""
WITH {TICKS_ORACLE_CTE.strip()},
rets AS (
    SELECT symbol, tick_id, close - open AS r
    FROM ticks WHERE open IS NOT NULL
), pairs AS (
    SELECT DISTINCT a.symbol AS sym_a, b.symbol AS sym_b
    FROM rets a, rets b WHERE a.symbol < b.symbol
), tagged AS (
    SELECT p.sym_a, p.sym_b, r.r,
           CASE WHEN r.symbol = p.sym_a THEN 1 ELSE 0 END AS from_a
    FROM pairs p
    JOIN rets r ON r.symbol = p.sym_a OR r.symbol = p.sym_b
), grp AS (
    SELECT sym_a, sym_b, r,
           CAST(count(*) AS BIGINT) AS t,
           CAST(SUM(from_a) AS BIGINT) AS ta
    FROM tagged GROUP BY 1, 2, 3
), rnk AS (
    SELECT sym_a, sym_b, t, ta,
           COALESCE(SUM(t) OVER (PARTITION BY sym_a, sym_b ORDER BY r
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) + 1 AS min_rank
    FROM grp
), agg AS (
    SELECT sym_a, sym_b,
           CAST(SUM(t) AS BIGINT) AS n,
           CAST(SUM(ta) AS BIGINT) AS na,
           CAST(SUM(CAST(ta * (min_rank + (t - 1) / 2.0)
                         AS DECIMAL(38,6))) AS DOUBLE) AS ra,
           SUM(CAST(t AS DECIMAL(38,0)) * t * t - t) AS tie_sum
    FROM rnk GROUP BY 1, 2
), stat AS (
    SELECT sym_a, sym_b, n, na, n - na AS nb,
           ra - CAST(na AS DOUBLE) * (CAST(na AS DOUBLE) + 1) / 2.0 AS ua,
           CAST(na AS DOUBLE) * (CAST(n AS DOUBLE) - CAST(na AS DOUBLE))
               / 2.0 AS mu,
           sqrt(greatest(CAST(na AS DOUBLE)
                * (CAST(n AS DOUBLE) - CAST(na AS DOUBLE)) / 12.0
                * ((CAST(n AS DOUBLE) + 1)
                   - CAST(tie_sum AS DOUBLE)
                     / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1))),
                0.0)) AS sigma
    FROM agg
)
SELECT sym_a, sym_b,
       CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       {stable_round_sql('ua', 6)} AS u_a,
       {stable_round_sql('(ua - mu) / sigma', 6)} AS z,
       abs((ua - mu) / sigma) > 1.959963984540054 AS differ_5pct
FROM stat
""",
        doc="Two-sample Mann-Whitney U (rank-sum) test for every "
        "unordered symbol pair — the nonparametric complement of "
        "ks_test_pairwise: does one symbol's return distribution "
        "stochastically dominate the other's? Ties get average ranks "
        "via ONE per-(pair, value) group pass: min_rank = cumulative "
        "group-size window + 1, so rank sums are exact halves and "
        "accumulate in DECIMAL (order-independent). Normal "
        "approximation with the full tie correction "
        "sigma^2 = na*nb/12 * ((N+1) - sum(t^3 - t)/(N(N-1))); no "
        "continuity correction (documented, matched in the oracle). "
        "Shuffle budget: one (pair, value) aggregate + one pair "
        "window + one pair aggregate — pair fan-out is symbol-"
        "universe-bounded, never data-bounded.",
    )
    def mann_whitney_u_pairwise(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        t = ticks(spark, sf_dir).where(F.col("open").isNotNull())
        rets = t.select(
            "symbol", (F.col("close") - F.col("open")).alias("r")
        )
        syms = rets.select("symbol").distinct()
        pairs = (
            syms.select(F.col("symbol").alias("sym_a"))
            .join(syms.select(F.col("symbol").alias("sym_b")))
            .where(F.col("sym_a") < F.col("sym_b"))
        )
        tagged = rets.join(
            F.broadcast(pairs),
            (F.col("symbol") == F.col("sym_a"))
            | (F.col("symbol") == F.col("sym_b")),
        ).select(
            "sym_a",
            "sym_b",
            "r",
            F.when(F.col("symbol") == F.col("sym_a"), 1)
            .otherwise(0)
            .alias("from_a"),
        )
        grp = tagged.groupBy("sym_a", "sym_b", "r").agg(
            F.count(F.lit(1)).alias("t"),
            F.sum("from_a").cast("bigint").alias("ta"),
        )
        wr = (
            Window.partitionBy("sym_a", "sym_b")
            .orderBy("r")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        rnk = grp.withColumn(
            "min_rank",
            F.coalesce(F.sum("t").over(wr), F.lit(0)) + 1,
        )
        contrib = (
            F.col("ta")
            * (F.col("min_rank") + (F.col("t") - 1) / F.lit(2.0))
        ).cast("decimal(38,6)")
        agg = rnk.groupBy("sym_a", "sym_b").agg(
            F.sum("t").cast("bigint").alias("n"),
            F.sum("ta").cast("bigint").alias("na"),
            F.sum(contrib).cast("double").alias("ra"),
            # tie cube in DECIMAL(38,0): t*t*t-t overflows int64 once a
            # single tied value has count > ~2.1M (cube > 2^63); decimal
            # sums stay exact AND order-independent (ADVICE r4)
            F.sum(
                F.col("t").cast("decimal(38,0)") * F.col("t") * F.col("t")
                - F.col("t")
            ).alias("tie_sum"),
        )
        n, na = F.col("n"), F.col("na")
        nb = n - na
        # every pairwise count product goes through DOUBLE first:
        # na*nb / na*(na+1) / n*(n-1) in bigint overflow at n ~ 3e9 —
        # real territory for a 100 TB events table (oracle mirrors)
        na_d, n_d = na.cast("double"), n.cast("double")
        nb_d = n_d - na_d
        ua = F.col("ra") - na_d * (na_d + 1) / F.lit(2.0)
        mu = na_d * nb_d / F.lit(2.0)
        sigma = F.sqrt(
            F.greatest(
                na_d * nb_d / F.lit(12.0)
                * (
                    (n_d + 1)
                    - F.col("tie_sum").cast("double") / (n_d * (n_d - 1))
                ),
                F.lit(0.0),
            )
        )
        return agg.select(
            "sym_a",
            "sym_b",
            na.alias("n_a"),
            nb.cast("bigint").alias("n_b"),
            stable_round(ua, 6).alias("u_a"),
            stable_round((ua - mu) / sigma, 6).alias("z"),
            (F.abs((ua - mu) / sigma) > 1.959963984540054).alias(
                "differ_5pct"
            ),
        )

    # ------------------------------------------------------------------
    @register(
        "wilcoxon_signed_rank_halves",
        oracle=f"""
WITH ev AS (
    SELECT event_type AS symbol,
           CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
           CAST(floor(epoch(ts) / 3600) % 24 AS BIGINT) AS hod,
           value
    FROM events WHERE value > 0
), bounds AS (
    SELECT CAST(floor((min(day) + max(day)) / 2.0) AS BIGINT) AS mid
    FROM ev
), hm AS (
    SELECT symbol, hod,
           CASE WHEN day <= b.mid THEN 1 ELSE 2 END AS half,
           CAST(SUM(CAST(value AS {{DECIMAL_T}})) AS DOUBLE)
               / count(*) AS m
    FROM ev CROSS JOIN bounds b
    GROUP BY 1, 2, 3
), paired AS (
    SELECT h1.symbol, h1.hod, h2.m - h1.m AS d
    FROM hm h1 JOIN hm h2
      ON h1.symbol = h2.symbol AND h1.hod = h2.hod
     AND h1.half = 1 AND h2.half = 2
    WHERE h2.m - h1.m != 0
), grp AS (
    SELECT symbol, abs(d) AS absd,
           CAST(count(*) AS BIGINT) AS t,
           CAST(count(*) FILTER (WHERE d > 0) AS BIGINT) AS tpos
    FROM paired GROUP BY 1, 2
), rnk AS (
    SELECT symbol, t, tpos,
           COALESCE(SUM(t) OVER (PARTITION BY symbol ORDER BY absd
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) + 1 AS min_rank
    FROM grp
), agg AS (
    SELECT symbol,
           CAST(SUM(t) AS BIGINT) AS n,
           CAST(SUM(CAST(tpos * (min_rank + (t - 1) / 2.0)
                         AS DECIMAL(38,6))) AS DOUBLE) AS w_plus,
           CAST(SUM(t * t * t - t) AS BIGINT) AS tie_sum
    FROM rnk GROUP BY 1
), stat AS (
    SELECT symbol, n, w_plus,
           n * (n + 1) / 4.0 AS mu,
           sqrt(greatest(n * (n + 1) * (2 * n + 1) / 24.0
                         - CAST(tie_sum AS DOUBLE) / 48.0, 0.0)) AS sigma
    FROM agg
)
SELECT symbol, n AS n_pairs,
       {{w_plus_sql}} AS w_plus,
       {{z_sql}} AS z,
       abs((w_plus - mu) / sigma) > 1.959963984540054 AS shifted_5pct
FROM stat
""".replace("{DECIMAL_T}", "DECIMAL(27,6)")
   .replace("{w_plus_sql}", stable_round_sql("w_plus", 6))
   .replace("{z_sql}", stable_round_sql("(w_plus - mu) / sigma", 6)),
        doc="Wilcoxon signed-rank test per symbol — the PAIRED "
        "complement of mann_whitney_u_pairwise: did the hour-of-day "
        "value profile SHIFT between the first and second half of "
        "the observation window? Pairs are the 24 hод means (decimal-"
        "exact) of each half, split at the global mid-day; zero "
        "differences drop (the standard treatment), |d| ranks get "
        "the same average-rank group construction as Mann-Whitney "
        "(min_rank window over aggregated (symbol, |d|) groups, "
        "DECIMAL rank sums), and z carries the tie correction "
        "sigma^2 = n(n+1)(2n+1)/24 - sum(t^3 - t)/48. value > 0 "
        "bad-print hygiene matches the volatility tier. Everything "
        "after the per-(symbol, hour, half) mean aggregate operates "
        "on a #symbols x 24 table — driver-sized at any SF.",
    )
    def wilcoxon_signed_rank_halves(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        from stock_trend_predictor_spark.functions.exact import DECIMAL_T

        ev = (
            load_table(spark, sf_dir, "events")
            .where(F.col("value") > 0)
            .select(
                F.col("event_type").alias("symbol"),
                F.floor(F.unix_timestamp("ts") / F.lit(86400))
                .cast("bigint")
                .alias("day"),
                (F.floor(F.unix_timestamp("ts") / F.lit(3600)) % 24)
                .cast("bigint")
                .alias("hod"),
                "value",
            )
        )
        bounds = ev.agg(
            F.floor((F.min("day") + F.max("day")) / F.lit(2.0))
            .cast("bigint")
            .alias("mid")
        )
        hm = (
            ev.crossJoin(F.broadcast(bounds))
            .groupBy(
                "symbol",
                "hod",
                F.when(F.col("day") <= F.col("mid"), 1)
                .otherwise(2)
                .alias("half"),
            )
            .agg(
                (
                    F.sum(F.col("value").cast(DECIMAL_T)).cast("double")
                    / F.count(F.lit(1))
                ).alias("m")
            )
        )
        h1 = hm.where(F.col("half") == 1).select(
            "symbol", "hod", F.col("m").alias("m1")
        )
        h2 = hm.where(F.col("half") == 2).select(
            "symbol", "hod", F.col("m").alias("m2")
        )
        paired = (
            h1.join(h2, ["symbol", "hod"])
            .select("symbol", (F.col("m2") - F.col("m1")).alias("d"))
            .where(F.col("d") != 0)
        )
        grp = paired.groupBy(
            "symbol", F.abs("d").alias("absd")
        ).agg(
            F.count(F.lit(1)).cast("bigint").alias("t"),
            F.count_if(F.col("d") > 0).cast("bigint").alias("tpos"),
        )
        wr = (
            Window.partitionBy("symbol")
            .orderBy("absd")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        rnk = grp.withColumn(
            "min_rank", F.coalesce(F.sum("t").over(wr), F.lit(0)) + 1
        )
        contrib = (
            F.col("tpos")
            * (F.col("min_rank") + (F.col("t") - 1) / F.lit(2.0))
        ).cast("decimal(38,6)")
        agg = rnk.groupBy("symbol").agg(
            F.sum("t").cast("bigint").alias("n"),
            F.sum(contrib).cast("double").alias("w_plus"),
            F.sum(
                F.col("t") * F.col("t") * F.col("t") - F.col("t")
            ).cast("bigint").alias("tie_sum"),
        )
        n = F.col("n")
        mu = n * (n + 1) / F.lit(4.0)
        sigma = F.sqrt(
            F.greatest(
                n * (n + 1) * (2 * n + 1) / F.lit(24.0)
                - F.col("tie_sum").cast("double") / F.lit(48.0),
                F.lit(0.0),
            )
        )
        z = (F.col("w_plus") - mu) / sigma
        return agg.select(
            "symbol",
            n.alias("n_pairs"),
            stable_round(F.col("w_plus"), 6).alias("w_plus"),
            stable_round(z, 6).alias("z"),
            (F.abs(z) > 1.959963984540054).alias("shifted_5pct"),
        )

    # ------------------------------------------------------------------
    @register(
        "kruskal_wallis_event_types",
        oracle="""
WITH vals AS (
    SELECT event_type AS grp, value AS v FROM events
    WHERE value IS NOT NULL
), g AS (
    SELECT grp, v, CAST(count(*) AS BIGINT) AS t FROM vals GROUP BY 1, 2
), vg AS (
    SELECT v, CAST(SUM(t) AS BIGINT) AS tv FROM g GROUP BY v
), rnk AS (
    SELECT v, tv,
           COALESCE(SUM(tv) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) + 1 AS min_rank
    FROM vg
), per_grp AS (
    SELECT g.grp,
           CAST(SUM(g.t) AS BIGINT) AS n_j,
           CAST(SUM(CAST(g.t * (r.min_rank + (r.tv - 1) / 2.0)
                         AS DECIMAL(38,6))) AS DOUBLE) AS r_j
    FROM g JOIN rnk r ON r.v = g.v
    GROUP BY g.grp
), tot AS (
    SELECT CAST(SUM(n_j) AS BIGINT) AS n,
           count(*) AS k,
           SUM(r_j * r_j / n_j) AS s
    FROM per_grp
), ties AS (
    SELECT SUM(CAST(tv AS DECIMAL(38,0)) * tv * tv - tv) AS tie_sum FROM vg
), stat AS (
    SELECT t.n, t.k,
           12.0 / (t.n * (t.n + 1.0)) * t.s - 3.0 * (t.n + 1.0) AS h,
           1.0 - CAST(ti.tie_sum AS DOUBLE)
                 / (CAST(t.n AS DOUBLE) * t.n * t.n - t.n) AS c
    FROM tot t CROSS JOIN ties ti
)
SELECT CAST(n AS BIGINT) AS n_total,
       CAST(k AS BIGINT) AS k_groups,
       {h_sql} AS h_stat,
       {hc_sql} AS h_corrected,
       (h / c) > 9.487729036781154 AS differ_5pct
FROM stat
""".replace("{h_sql}", stable_round_sql("h", 6))
   .replace("{hc_sql}", stable_round_sql("h / c", 6)),
        doc="Kruskal-Wallis H across the 5 event types — the "
        "independent k-sample member of the rank-test family "
        "(Mann-Whitney is its k=2 case; Wilcoxon the paired case): "
        "do the value distributions differ across types at all? "
        "Pooled average ranks come from ONE (value)-group pass "
        "(min_rank window over aggregated counts — the same "
        "construction all three tests share), per-group rank sums "
        "accumulate in DECIMAL, H gets the full tie correction "
        "1 - sum(t^3 - t)/(N^3 - N), and the 5%% flag compares "
        "against the chi-square(k-1=4) critical value. One value "
        "aggregate + windows over the distinct-value table — never "
        "the raw rows — then driver-sized arithmetic.",
    )
    def kruskal_wallis_event_types(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        vals = (
            load_table(spark, sf_dir, "events")
            .where(F.col("value").isNotNull())
            .select(F.col("event_type").alias("grp"), F.col("value").alias("v"))
        )
        g = vals.groupBy("grp", "v").agg(
            F.count(F.lit(1)).cast("bigint").alias("t")
        )
        vg = g.groupBy("v").agg(F.sum("t").cast("bigint").alias("tv"))
        wr = Window.orderBy("v").rowsBetween(
            Window.unboundedPreceding, -1
        )
        rnk = vg.withColumn(
            "min_rank", F.coalesce(F.sum("tv").over(wr), F.lit(0)) + 1
        )
        contrib = (
            F.col("t")
            * (F.col("min_rank") + (F.col("tv") - 1) / F.lit(2.0))
        ).cast("decimal(38,6)")
        per_grp = (
            g.join(rnk, "v")
            .groupBy("grp")
            .agg(
                F.sum("t").cast("bigint").alias("n_j"),
                F.sum(contrib).cast("double").alias("r_j"),
            )
        )
        tot = per_grp.agg(
            F.sum("n_j").cast("bigint").alias("n"),
            F.count(F.lit(1)).alias("k"),
            F.sum(F.col("r_j") * F.col("r_j") / F.col("n_j")).alias("s"),
        )
        # DECIMAL(38,0) cube: a single value tied > ~2.1M times
        # overflows int64 (ADVICE r4; same fix as mann_whitney)
        ties = vg.agg(
            F.sum(
                F.col("tv").cast("decimal(38,0)")
                * F.col("tv") * F.col("tv") - F.col("tv")
            ).alias("tie_sum")
        )
        n = F.col("n")
        h = (
            F.lit(12.0) / (n * (n + F.lit(1.0))) * F.col("s")
            - F.lit(3.0) * (n + F.lit(1.0))
        )
        c = F.lit(1.0) - F.col("tie_sum").cast("double") / (
            n.cast("double") * n * n - n
        )
        return (
            tot.crossJoin(F.broadcast(ties))
            .select(
                n.alias("n_total"),
                F.col("k").cast("bigint").alias("k_groups"),
                stable_round(h, 6).alias("h_stat"),
                stable_round(h / c, 6).alias("h_corrected"),
                ((h / c) > 9.487729036781154).alias("differ_5pct"),
            )
        )

    # ------------------------------------------------------------------
    @register(
        "friedman_hod_symbols",
        oracle="""
WITH ev AS (
    SELECT event_type AS symbol,
           CAST(floor(epoch(ts) / 3600) % 24 AS BIGINT) AS hod,
           value
    FROM events WHERE value > 0
), cell AS (
    SELECT hod, symbol,
           CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE)
               / count(*) AS m
    FROM ev GROUP BY 1, 2
), g AS (
    SELECT hod, m, CAST(count(*) AS BIGINT) AS tv,
           list_sort(list(symbol)) AS syms
    FROM cell GROUP BY hod, m
), rnk AS (
    SELECT hod, m, tv, syms,
           COALESCE(SUM(tv) OVER (PARTITION BY hod ORDER BY m
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) + 1 AS min_rank
    FROM g
), ranked AS (
    SELECT hod, unnest(syms) AS symbol,
           min_rank + (tv - 1) / 2.0 AS avg_rank, tv
    FROM rnk
), per_sym AS (
    SELECT symbol,
           CAST(SUM(CAST(avg_rank AS DECIMAL(38,6))) AS DOUBLE) AS r_j
    FROM ranked GROUP BY symbol
), dims AS (
    SELECT CAST(count(DISTINCT hod) AS BIGINT) AS b,
           CAST(count(DISTINCT symbol) AS BIGINT) AS k
    FROM cell
), ties AS (
    SELECT CAST(SUM(tv * tv * tv - tv) AS BIGINT) AS tie_sum FROM g
), stat AS (
    SELECT d.b, d.k,
           12.0 / (d.b * d.k * (d.k + 1.0))
             * (SELECT SUM(r_j * r_j) FROM per_sym)
             - 3.0 * d.b * (d.k + 1.0) AS fr,
           1.0 - CAST(t.tie_sum AS DOUBLE)
                 / (d.b * d.k * (CAST(d.k AS DOUBLE) * d.k - 1.0)) AS c
    FROM dims d CROSS JOIN ties t
)
SELECT CAST(b AS BIGINT) AS n_blocks, CAST(k AS BIGINT) AS k_treatments,
       {fr_sql} AS friedman_stat,
       {frc_sql} AS friedman_corrected,
       (fr / c) > 9.487729036781154 AS differ_5pct
FROM stat
""".replace("{fr_sql}", stable_round_sql("fr", 6))
   .replace("{frc_sql}", stable_round_sql("fr / c", 6)),
        doc="Friedman test over the 24 x 5 hour-of-day x symbol mean-"
        "value matrix — the PAIRED k-sample member of the rank-test "
        "family (blocks = hours, treatments = symbols): does any "
        "symbol systematically rank higher within the same hour? "
        "Within-block average ranks use the shared group-rank "
        "construction (per-(hod, m) groups, min_rank window, "
        "DECIMAL rank sums); the statistic carries the tie "
        "correction 1 - sum(t^3 - t)/(b k (k^2 - 1)) and the 5%% "
        "flag is chi-square(k-1=4). The cell matrix is 24 x 5 — "
        "everything after the one (hod, symbol) mean aggregate is "
        "driver-sized at any SF. value > 0 hygiene matches the "
        "volatility tier.",
    )
    def friedman_hod_symbols(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        from stock_trend_predictor_spark.functions.exact import DECIMAL_T

        ev = (
            load_table(spark, sf_dir, "events")
            .where(F.col("value") > 0)
            .select(
                F.col("event_type").alias("symbol"),
                (F.floor(F.unix_timestamp("ts") / F.lit(3600)) % 24)
                .cast("bigint")
                .alias("hod"),
                "value",
            )
        )
        cell = ev.groupBy("hod", "symbol").agg(
            (
                F.sum(F.col("value").cast(DECIMAL_T)).cast("double")
                / F.count(F.lit(1))
            ).alias("m")
        )
        g = cell.groupBy("hod", "m").agg(
            F.count(F.lit(1)).cast("bigint").alias("tv"),
            F.array_sort(F.collect_list("symbol")).alias("syms"),
        )
        wr = (
            Window.partitionBy("hod")
            .orderBy("m")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        rnk = g.withColumn(
            "min_rank", F.coalesce(F.sum("tv").over(wr), F.lit(0)) + 1
        )
        ranked = rnk.select(
            "hod",
            F.explode("syms").alias("symbol"),
            (F.col("min_rank") + (F.col("tv") - 1) / F.lit(2.0)).alias(
                "avg_rank"
            ),
        )
        per_sym = ranked.groupBy("symbol").agg(
            F.sum(F.col("avg_rank").cast("decimal(38,6)"))
            .cast("double")
            .alias("r_j")
        )
        dims = cell.agg(
            F.countDistinct("hod").cast("bigint").alias("b"),
            F.countDistinct("symbol").cast("bigint").alias("k"),
        )
        ties = g.agg(
            F.sum(
                F.col("tv") * F.col("tv") * F.col("tv") - F.col("tv")
            ).cast("bigint").alias("tie_sum")
        )
        ssum = per_sym.agg(
            F.sum(F.col("r_j") * F.col("r_j")).alias("s2")
        )
        b, k = F.col("b"), F.col("k")
        fr = (
            F.lit(12.0) / (b * k * (k + F.lit(1.0))) * F.col("s2")
            - F.lit(3.0) * b * (k + F.lit(1.0))
        )
        c = F.lit(1.0) - F.col("tie_sum").cast("double") / (
            b * k * (k.cast("double") * k - F.lit(1.0))
        )
        return (
            dims.crossJoin(F.broadcast(ties))
            .crossJoin(F.broadcast(ssum))
            .select(
                b.alias("n_blocks"),
                k.alias("k_treatments"),
                stable_round(fr, 6).alias("friedman_stat"),
                stable_round(fr / c, 6).alias("friedman_corrected"),
                ((fr / c) > 9.487729036781154).alias("differ_5pct"),
            )
        )

    # ------------------------------------------------------------------
    @register(
        "effect_sizes_pairwise",
        oracle=f"""
WITH {TICKS_ORACLE_CTE.strip()},
rets AS (
    SELECT symbol, tick_id, close - open AS r
    FROM ticks WHERE open IS NOT NULL
), pairs AS (
    SELECT DISTINCT a.symbol AS sym_a, b.symbol AS sym_b
    FROM rets a, rets b WHERE a.symbol < b.symbol
), tagged AS (
    SELECT p.sym_a, p.sym_b, r.r,
           CASE WHEN r.symbol = p.sym_a THEN 1 ELSE 0 END AS from_a
    FROM pairs p
    JOIN rets r ON r.symbol = p.sym_a OR r.symbol = p.sym_b
), grp AS (
    SELECT sym_a, sym_b, r,
           CAST(count(*) AS BIGINT) AS t,
           CAST(SUM(from_a) AS BIGINT) AS ta
    FROM tagged GROUP BY 1, 2, 3
), rnk AS (
    SELECT sym_a, sym_b, t, ta,
           COALESCE(SUM(t) OVER (PARTITION BY sym_a, sym_b ORDER BY r
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) + 1 AS min_rank
    FROM grp
), uagg AS (
    SELECT sym_a, sym_b,
           CAST(SUM(t) AS BIGINT) AS n,
           CAST(SUM(ta) AS BIGINT) AS na,
           CAST(SUM(CAST(ta * (min_rank + (t - 1) / 2.0)
                         AS DECIMAL(38,6))) AS DOUBLE) AS ra
    FROM rnk GROUP BY 1, 2
), hourly AS (
    SELECT symbol, CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hr,
           CAST(SUM(CAST(close - open AS DECIMAL(27,6))) AS DOUBLE)
               / count(*) AS m
    FROM ticks WHERE open IS NOT NULL
    GROUP BY 1, 2
), hl AS (
    SELECT sym_a, sym_b, AVG(d) AS hl_shift FROM (
        SELECT p.sym_a, p.sym_b, hb.m - ha.m AS d,
               row_number() OVER (PARTITION BY p.sym_a, p.sym_b
                                  ORDER BY hb.m - ha.m) AS rn,
               count(*) OVER (PARTITION BY p.sym_a, p.sym_b) AS cnt
        FROM pairs p
        JOIN hourly ha ON ha.symbol = p.sym_a
        JOIN hourly hb ON hb.symbol = p.sym_b
    ) WHERE rn = CAST(floor((cnt + 1) / 2.0) AS BIGINT)
         OR rn = CAST(floor((cnt + 2) / 2.0) AS BIGINT)
    GROUP BY 1, 2
)
SELECT u.sym_a, u.sym_b,
       {{cd_sql}} AS cliffs_delta,
       {{hl_sql}} AS hl_shift
FROM uagg u JOIN hl ON hl.sym_a = u.sym_a AND hl.sym_b = u.sym_b
""".replace("{cd_sql}", stable_round_sql(
            "2.0 * (u.ra - u.na * (u.na + 1) / 2.0)"
            " / (u.na * (u.n - u.na)) - 1.0", 6))
   .replace("{hl_sql}", stable_round_sql("hl.hl_shift", 6)),
        doc="Effect sizes for every symbol pair — the magnitude "
        "companion to the rank-test family (a significant "
        "Mann-Whitney z says distributions DIFFER; these say by HOW "
        "MUCH): Cliff's delta = 2U/(n_a n_b) - 1 in [-1, 1], exact "
        "from the SAME average-rank aggregate the U test uses (tied "
        "pairs contribute half, which the midrank formulation gives "
        "for free), and the Hodges-Lehmann location shift = median "
        "of pairwise differences of the decimal-exact HOURLY mean "
        "returns (the full-sample HL is an na x nb pair blowup; the "
        "hourly-mean form keeps the pair table hours^2-bounded — "
        "documented estimator choice, identical in the oracle). The "
        "median is an exact rank SELECTION, not an aggregate: "
        "exact percentile() buffers every difference as JVM map "
        "entries in one buffer per pair (measured: OOMs a 1 GiB "
        "driver at sf0.1's 5.2M diffs), so the engine ranks via "
        "prefix_scan_rank partitioned by pair — uniform value-grid "
        "buckets from the hourly-mean min/max (cut placement only "
        "moves load, never the rank), Tungsten sort per (pair, "
        "bucket), broadcast carry-in offsets — and keeps the rows "
        "at rank floor((n+1)/2) and floor((n+2)/2), averaging the "
        "two (one row when n is odd; a+b is order-exact IEEE for "
        "two values). Oracle mirrors the same selection with "
        "row_number, so both engines average identical doubles.",
    )
    def effect_sizes_pairwise(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        from stock_trend_predictor_spark.functions.exact import DECIMAL_T
        from stock_trend_predictor_spark.operators.rank import (
            prefix_scan_rank,
        )

        t = ticks(spark, sf_dir).where(F.col("open").isNotNull())
        rets = t.select(
            "symbol", (F.col("close") - F.col("open")).alias("r")
        )
        # hourly is symbols x hours — parameter-sized; materializing it
        # once feeds pairs/bounds/counts/both diff sides off ONE base
        # scan instead of five.
        hourly = materialize_once(
            t.groupBy(
                "symbol",
                F.floor(F.unix_timestamp("ts") / F.lit(3600))
                .cast("bigint")
                .alias("hr"),
            ).agg(
                (
                    F.sum(
                        (F.col("close") - F.col("open")).cast(DECIMAL_T)
                    ).cast("double")
                    / F.count(F.lit(1))
                ).alias("m")
            )
        )
        syms = hourly.select("symbol").distinct()
        pairs = (
            syms.select(F.col("symbol").alias("sym_a"))
            .join(syms.select(F.col("symbol").alias("sym_b")))
            .where(F.col("sym_a") < F.col("sym_b"))
        )
        tagged = rets.join(
            F.broadcast(pairs),
            (F.col("symbol") == F.col("sym_a"))
            | (F.col("symbol") == F.col("sym_b")),
        ).select(
            "sym_a",
            "sym_b",
            "r",
            F.when(F.col("symbol") == F.col("sym_a"), 1)
            .otherwise(0)
            .alias("from_a"),
        )
        grp = tagged.groupBy("sym_a", "sym_b", "r").agg(
            F.count(F.lit(1)).cast("bigint").alias("t"),
            F.sum("from_a").cast("bigint").alias("ta"),
        )
        wr = (
            Window.partitionBy("sym_a", "sym_b")
            .orderBy("r")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        rnk = grp.withColumn(
            "min_rank",
            F.coalesce(F.sum("t").over(wr), F.lit(0)) + 1,
        )
        contrib = (
            F.col("ta")
            * (F.col("min_rank") + (F.col("t") - 1) / F.lit(2.0))
        ).cast("decimal(38,6)")
        uagg = rnk.groupBy("sym_a", "sym_b").agg(
            F.sum("t").cast("bigint").alias("n"),
            F.sum("ta").cast("bigint").alias("na"),
            F.sum(contrib).cast("double").alias("ra"),
        )
        ha = hourly.select(
            F.col("symbol").alias("sym_a"), F.col("m").alias("ma")
        )
        hb = hourly.select(
            F.col("symbol").alias("sym_b"), F.col("m").alias("mb")
        )
        # hours^2-per-pair diff table: spread the expansion across
        # tasks (pairs is a handful of rows in one partition — without
        # the repartition the whole blowup runs in a single task),
        # then rank per pair with the two-level prefix scan and keep
        # only the middle row(s). See doc for why not percentile().
        n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
        # NOT materialized: the hours^2 expansion re-runs for the
        # rank's counts pass and window pass, but each re-expansion
        # off the materialized hourly is one broadcast probe — far
        # cheaper than pinning hours^2 rows in block storage
        # (measured: localCheckpoint here OOMs a 1 GiB driver).
        diffs = (
            pairs.join(F.broadcast(ha), "sym_a")
            .repartition(n_shuffle)
            .join(F.broadcast(hb), "sym_b")
            .select(
                "sym_a",
                "sym_b",
                (F.col("mb") - F.col("ma")).alias("d"),
            )
        )
        bounds = hourly.agg(
            F.min("m").alias("lo"), F.max("m").alias("hi")
        ).collect()[0]  # parameter-sized: one row
        lo_d = float(bounds["lo"]) - float(bounds["hi"])
        width = max(2.0 * (float(bounds["hi"]) - float(bounds["lo"])), 1e-12)
        n_b = 64
        grid = F.least(
            F.lit(n_b - 1),
            F.greatest(
                F.lit(0),
                F.floor((F.col("d") - F.lit(lo_d)) / F.lit(width) * n_b),
            ),
        ).cast("int")
        ranked = prefix_scan_rank(
            diffs,
            grid,
            ["d"],
            rank_name="rk",
            partition_cols=["sym_a", "sym_b"],
        )
        hcnt = hourly.groupBy("symbol").agg(
            F.count(F.lit(1)).cast("bigint").alias("hc")
        )
        pcnt = (
            pairs.join(
                hcnt.select(
                    F.col("symbol").alias("sym_a"),
                    F.col("hc").alias("hca"),
                ),
                "sym_a",
            )
            .join(
                hcnt.select(
                    F.col("symbol").alias("sym_b"),
                    F.col("hc").alias("hcb"),
                ),
                "sym_b",
            )
            .select(
                "sym_a",
                "sym_b",
                (F.col("hca") * F.col("hcb")).alias("cnt"),
            )
        )
        hl = (
            ranked.join(F.broadcast(pcnt), ["sym_a", "sym_b"])
            .where(
                (F.col("rk") == F.floor((F.col("cnt") + 1) / 2))
                | (F.col("rk") == F.floor((F.col("cnt") + 2) / 2))
            )
            .groupBy("sym_a", "sym_b")
            .agg(F.avg("d").alias("hl_shift"))
        )
        n, na = F.col("n"), F.col("na")
        cliffs = (
            F.lit(2.0)
            * (F.col("ra") - na * (na + 1) / F.lit(2.0))
            / (na * (n - na))
            - F.lit(1.0)
        )
        return uagg.join(hl, ["sym_a", "sym_b"]).select(
            "sym_a",
            "sym_b",
            stable_round(cliffs, 6).alias("cliffs_delta"),
            stable_round(F.col("hl_shift"), 6).alias("hl_shift"),
        )

    # ------------------------------------------------------------------
    @register(
        "movement_mutual_information",
        oracle=f"""
WITH {TICKS_ORACLE_CTE.strip()},
dirs AS (
    SELECT symbol, ts, tick_id,
           CASE WHEN close > open THEN 1 ELSE 0 END AS up
    FROM ticks WHERE open IS NOT NULL AND close <> open
), seq AS (
    SELECT symbol, up,
           lag(up) OVER (PARTITION BY symbol
                         ORDER BY ts, tick_id) AS prev_up
    FROM dirs
), cells AS (
    SELECT symbol, prev_up, up, CAST(count(*) AS BIGINT) AS c
    FROM seq WHERE prev_up IS NOT NULL GROUP BY 1, 2, 3
), m AS (
    SELECT symbol, prev_up, up, c,
           CAST(SUM(c) OVER (PARTITION BY symbol) AS BIGINT) AS n,
           CAST(SUM(c) OVER (PARTITION BY symbol, prev_up) AS BIGINT) AS cx,
           CAST(SUM(c) OVER (PARTITION BY symbol, up) AS BIGINT) AS cy
    FROM cells
)
SELECT symbol, CAST(any_value(n) AS BIGINT) AS n_pairs,
       {stable_round_sql(
           'SUM((CAST(c AS DOUBLE) / n)'
           ' * ln((CAST(c AS DOUBLE) * n) / (CAST(cx AS DOUBLE) * cy)))',
           8)} AS mi_nats,
       {stable_round_sql('2.0 * any_value(n) * SUM((CAST(c AS DOUBLE) / n)'
           ' * ln((CAST(c AS DOUBLE) * n) / (CAST(cx AS DOUBLE) * cy)))',
           6)} AS g_stat
FROM m GROUP BY 1
""",
        doc="Mutual information between consecutive movement "
        "directions per symbol — the information-theoretic upper "
        "bound on what ANY predictor of the next move can extract "
        "from the last one (the reference's classifier consumes "
        "exactly this signal; MI says how much exists). Computed "
        "from the exact 2x2 transition contingency: marginals via "
        "windows over the 4-row-per-symbol cell table, "
        "MI = sum p(x,y) ln(p(x,y)/(p(x)p(y))) in nats, plus the "
        "G-statistic 2*N*MI (~chi2(1)) for significance. Zero "
        "deltas excluded (same dichotomy as the runs test). Counts "
        "are exact; the log terms are a fixed IEEE tree over them.",
    )
    def movement_mutual_information(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        t = ticks(spark, sf_dir).where(
            F.col("open").isNotNull() & (F.col("close") != F.col("open"))
        )
        s = Window.partitionBy("symbol").orderBy("ts", "tick_id")
        seq = t.select(
            "symbol",
            "ts",
            "tick_id",
            F.when(F.col("close") > F.col("open"), 1).otherwise(0).alias("up"),
        ).withColumn("prev_up", F.lag("up").over(s))
        cells = (
            seq.where(F.col("prev_up").isNotNull())
            .groupBy("symbol", "prev_up", "up")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        m = cells.withColumns(
            {
                "n": F.sum("c").over(Window.partitionBy("symbol")),
                "cx": F.sum("c").over(Window.partitionBy("symbol", "prev_up")),
                "cy": F.sum("c").over(Window.partitionBy("symbol", "up")),
            }
        )
        c = F.col("c").cast("double")
        term = (c / F.col("n")) * F.log(
            (c * F.col("n")) / (F.col("cx").cast("double") * F.col("cy"))
        )
        mi = F.sum(term)
        return m.groupBy("symbol").agg(
            F.any_value("n").cast("bigint").alias("n_pairs"),
            stable_round(mi, 8).alias("mi_nats"),
            stable_round(2.0 * F.any_value("n") * mi, 6).alias("g_stat"),
        )

    # ------------------------------------------------------------------
    @register(
        "stat_tests_panel",
        oracle=f"""
WITH runs_t AS MATERIALIZED (
{_sub['runs_test_updown']}
), arch_t AS MATERIALIZED (
{_sub['arch_lm_test']}
), lb_t AS MATERIALIZED (
{_sub['ljung_box_q']}
), vr_t AS MATERIALIZED (
{_sub['variance_ratio_test']}
), kpss_t AS MATERIALIZED (
{_sub['kpss_level_stat']}
)
SELECT r.symbol,
       r.z_stat AS runs_z,
       a.lm_stat AS arch_lm,
       l.q_stat AS ljung_box_q,
       v.vr4 AS variance_ratio4,
       k.kpss_stat,
       CAST(CASE WHEN r.nonrandom_5pct THEN 1 ELSE 0 END
          + CASE WHEN a.arch_present_5pct THEN 1 ELSE 0 END
          + CASE WHEN l.autocorrelated_5pct THEN 1 ELSE 0 END AS BIGINT)
           AS n_structure_flags
FROM runs_t r
JOIN arch_t a USING (symbol)
JOIN lb_t l USING (symbol)
JOIN vr_t v USING (symbol)
JOIN kpss_t k USING (symbol)
""",
        doc="The one-call diagnostics panel: every stationarity / "
        "randomness / clustering statistic in this module joined "
        "into a single wide row per symbol, plus a count of the "
        "structure flags (non-random sequence, ARCH effects, serial "
        "correlation) — what a modeling team reads before deciding "
        "whether the trend-prediction premise holds for a symbol at "
        "all. Same composition pattern as trend_consensus_verdict: "
        "sub-queries reused as-is, oracles nested as MATERIALIZED "
        "sub-CTEs, each already one row per symbol before the joins.",
    )
    def stat_tests_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
        r = REGISTRY["runs_test_updown"].fn(spark, sf_dir).select(
            "symbol",
            F.col("z_stat").alias("runs_z"),
            "nonrandom_5pct",
        )
        a = REGISTRY["arch_lm_test"].fn(spark, sf_dir).select(
            "symbol", F.col("lm_stat").alias("arch_lm"), "arch_present_5pct"
        )
        lq = REGISTRY["ljung_box_q"].fn(spark, sf_dir).select(
            "symbol",
            F.col("q_stat").alias("ljung_box_q"),
            "autocorrelated_5pct",
        )
        v = REGISTRY["variance_ratio_test"].fn(spark, sf_dir).select(
            "symbol", F.col("vr4").alias("variance_ratio4")
        )
        k = REGISTRY["kpss_level_stat"].fn(spark, sf_dir).select(
            "symbol", "kpss_stat"
        )
        j = r.join(a, "symbol").join(lq, "symbol").join(v, "symbol").join(
            k, "symbol"
        )
        flags = (
            F.when(F.col("nonrandom_5pct"), 1).otherwise(0)
            + F.when(F.col("arch_present_5pct"), 1).otherwise(0)
            + F.when(F.col("autocorrelated_5pct"), 1).otherwise(0)
        ).cast("bigint")
        return j.select(
            "symbol",
            "runs_z",
            "arch_lm",
            "ljung_box_q",
            "variance_ratio4",
            "kpss_stat",
            flags.alias("n_structure_flags"),
        )


_register()


#: chi-square(4) critical value at 5% (k=5 event types - 1).
CHI2_4_5PCT = 9.487729036781154
#: two-sided normal critical value at 5%.
Z_5PCT = 1.959963984540054


def _register_panel():
    from stock_trend_predictor_spark.plans.registry import register

    @register(
        "rank_tests_panel",
        oracle=f"""
WITH ev AS (
    SELECT event_type AS grp, value AS v
    FROM events WHERE value IS NOT NULL
), g AS (
    SELECT grp, v, CAST(count(*) AS BIGINT) AS t FROM ev GROUP BY 1, 2
), vg AS (
    SELECT v, CAST(SUM(t) AS BIGINT) AS tv FROM g GROUP BY 1
), rnk AS (
    SELECT v, tv,
           COALESCE(SUM(tv) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) + 1 AS min_rank
    FROM vg
), per_grp AS (
    SELECT g.grp, CAST(SUM(g.t) AS BIGINT) AS n_j,
           CAST(SUM(CAST(g.t * (r.min_rank + (r.tv - 1) / 2.0)
                         AS DECIMAL(38,6))) AS DOUBLE) AS r_j
    FROM g JOIN rnk r ON r.v = g.v
    GROUP BY 1
), tot AS (
    SELECT CAST(SUM(n_j) AS BIGINT) AS n, SUM(r_j * r_j / n_j) AS s
    FROM per_grp
), ties AS (
    SELECT SUM(CAST(tv AS DECIMAL(38,0)) * tv * tv - tv) AS tie_sum
    FROM vg
), kw AS (
    SELECT t.n,
           12.0 / (t.n * (t.n + 1.0)) * t.s - 3.0 * (t.n + 1.0) AS h,
           1.0 - CAST(ti.tie_sum AS DOUBLE)
                 / (CAST(t.n AS DOUBLE) * t.n * t.n - t.n) AS c
    FROM tot t CROSS JOIN ties ti
), grps AS (
    SELECT DISTINCT grp FROM g
), pairs AS (
    SELECT a.grp AS sym_a, b.grp AS sym_b
    FROM grps a JOIN grps b ON a.grp < b.grp
), pg AS (
    SELECT p.sym_a, p.sym_b, g.v,
           CAST(SUM(g.t) AS BIGINT) AS t,
           CAST(SUM(CASE WHEN g.grp = p.sym_a THEN g.t ELSE 0 END)
                AS BIGINT) AS ta
    FROM g JOIN pairs p ON g.grp = p.sym_a OR g.grp = p.sym_b
    GROUP BY 1, 2, 3
), prnk AS (
    SELECT sym_a, sym_b, v, t, ta,
           COALESCE(SUM(t) OVER (PARTITION BY sym_a, sym_b ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) + 1 AS min_rank
    FROM pg
), pagg AS (
    SELECT sym_a, sym_b,
           CAST(SUM(t) AS BIGINT) AS n,
           CAST(SUM(ta) AS BIGINT) AS na,
           CAST(SUM(CAST(ta * (min_rank + (t - 1) / 2.0)
                         AS DECIMAL(38,6))) AS DOUBLE) AS ra,
           SUM(CAST(t AS DECIMAL(38,0)) * t * t - t) AS tie_sum
    FROM prnk GROUP BY 1, 2
), mw AS (
    SELECT sym_a, sym_b, n,
           ra - CAST(na AS DOUBLE) * (CAST(na AS DOUBLE) + 1) / 2.0
               AS ua,
           CAST(na AS DOUBLE)
               * (CAST(n AS DOUBLE) - CAST(na AS DOUBLE)) / 2.0 AS mu,
           sqrt(greatest(CAST(na AS DOUBLE)
                * (CAST(n AS DOUBLE) - CAST(na AS DOUBLE)) / 12.0
                * ((CAST(n AS DOUBLE) + 1)
                   - CAST(tie_sum AS DOUBLE)
                     / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1))),
                0.0)) AS sigma
    FROM pagg
)
SELECT 'kruskal_wallis' AS test, '*' AS grp_a, '*' AS grp_b,
       n,
       {stable_round_sql('h', 6)} AS stat,
       {stable_round_sql('h / c', 6)} AS z,
       (h / c) > {CHI2_4_5PCT} AS sig
FROM kw
UNION ALL
SELECT 'mann_whitney', sym_a, sym_b, n,
       {stable_round_sql('ua', 6)},
       {stable_round_sql('(ua - mu) / sigma', 6)},
       abs((ua - mu) / sigma) > {Z_5PCT}
FROM mw
""",
        doc="Shared-pass rank-test panel (r4 verdict #6): Kruskal-"
        "Wallis across all k event types AND all k(k-1)/2 pairwise "
        "Mann-Whitney tests from ONE (grp, value) aggregate over the "
        "raw events — the single heavy pass both tests share. The "
        "pooled distinct-value table feeds KW's rank construction; "
        "the PAIRWISE rank tables are re-derived by fanning the "
        "AGGREGATED counts (never raw rows) out to pairs, so the "
        "pair fan-out is distinct-value-bounded. One output row per "
        "test: KW carries (stat=H, z=tie-corrected H) vs "
        "chi-square(k-1); each MW pair carries (stat=U_a, z) vs "
        "N(0,1). Same tie corrections, DECIMAL rank sums, and "
        "overflow-hardened (decimal cube / double product) "
        "arithmetic as the standalone family members.",
    )
    def rank_tests_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
        ev = (
            load_table(spark, sf_dir, "events")
            .where(F.col("value").isNotNull())
            .select(
                F.col("event_type").alias("grp"),
                F.col("value").alias("v"),
            )
        )
        # THE shared pass: one (grp, value) aggregate
        g = ev.groupBy("grp", "v").agg(
            F.count(F.lit(1)).cast("bigint").alias("t")
        )
        # ---- Kruskal-Wallis from pooled ranks
        vg = g.groupBy("v").agg(F.sum("t").cast("bigint").alias("tv"))
        wr = Window.orderBy("v").rowsBetween(
            Window.unboundedPreceding, -1
        )
        rnk = vg.withColumn(
            "min_rank", F.coalesce(F.sum("tv").over(wr), F.lit(0)) + 1
        )
        contrib = (
            F.col("t")
            * (F.col("min_rank") + (F.col("tv") - 1) / F.lit(2.0))
        ).cast("decimal(38,6)")
        per_grp = (
            g.join(rnk, "v")
            .groupBy("grp")
            .agg(
                F.sum("t").cast("bigint").alias("n_j"),
                F.sum(contrib).cast("double").alias("r_j"),
            )
        )
        tot = per_grp.agg(
            F.sum("n_j").cast("bigint").alias("n"),
            F.sum(F.col("r_j") * F.col("r_j") / F.col("n_j")).alias("s"),
        )
        ties = vg.agg(
            F.sum(
                F.col("tv").cast("decimal(38,0)")
                * F.col("tv") * F.col("tv") - F.col("tv")
            ).alias("tie_sum")
        )
        n = F.col("n")
        h = (
            F.lit(12.0) / (n * (n + F.lit(1.0))) * F.col("s")
            - F.lit(3.0) * (n + F.lit(1.0))
        )
        c = F.lit(1.0) - F.col("tie_sum").cast("double") / (
            n.cast("double") * n * n - n
        )
        kw_row = tot.crossJoin(F.broadcast(ties)).select(
            F.lit("kruskal_wallis").alias("test"),
            F.lit("*").alias("grp_a"),
            F.lit("*").alias("grp_b"),
            n.alias("n"),
            stable_round(h, 6).alias("stat"),
            stable_round(h / c, 6).alias("z"),
            ((h / c) > CHI2_4_5PCT).alias("sig"),
        )
        # ---- pairwise Mann-Whitney from the SAME aggregate: fan the
        # (grp, value) counts (not raw rows) out to unordered pairs
        grps = g.select("grp").distinct()
        pairs = (
            grps.select(F.col("grp").alias("sym_a"))
            .join(grps.select(F.col("grp").alias("sym_b")))
            .where(F.col("sym_a") < F.col("sym_b"))
        )
        pg = (
            g.join(
                F.broadcast(pairs),
                (F.col("grp") == F.col("sym_a"))
                | (F.col("grp") == F.col("sym_b")),
            )
            .groupBy("sym_a", "sym_b", "v")
            .agg(
                F.sum("t").cast("bigint").alias("t"),
                F.sum(
                    F.when(F.col("grp") == F.col("sym_a"), F.col("t"))
                    .otherwise(F.lit(0))
                ).cast("bigint").alias("ta"),
            )
        )
        wp = (
            Window.partitionBy("sym_a", "sym_b")
            .orderBy("v")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        prnk = pg.withColumn(
            "min_rank", F.coalesce(F.sum("t").over(wp), F.lit(0)) + 1
        )
        contrib2 = (
            F.col("ta")
            * (F.col("min_rank") + (F.col("t") - 1) / F.lit(2.0))
        ).cast("decimal(38,6)")
        pagg = prnk.groupBy("sym_a", "sym_b").agg(
            F.sum("t").cast("bigint").alias("n"),
            F.sum("ta").cast("bigint").alias("na"),
            F.sum(contrib2).cast("double").alias("ra"),
            F.sum(
                F.col("t").cast("decimal(38,0)")
                * F.col("t") * F.col("t") - F.col("t")
            ).alias("tie_sum"),
        )
        pn, pna = F.col("n"), F.col("na")
        pn_d, pna_d = pn.cast("double"), pna.cast("double")
        pnb_d = pn_d - pna_d
        ua = F.col("ra") - pna_d * (pna_d + 1) / F.lit(2.0)
        mu = pna_d * pnb_d / F.lit(2.0)
        sigma = F.sqrt(
            F.greatest(
                pna_d * pnb_d / F.lit(12.0)
                * (
                    (pn_d + 1)
                    - F.col("tie_sum").cast("double")
                    / (pn_d * (pn_d - 1))
                ),
                F.lit(0.0),
            )
        )
        mw_rows = pagg.select(
            F.lit("mann_whitney").alias("test"),
            F.col("sym_a").alias("grp_a"),
            F.col("sym_b").alias("grp_b"),
            pn.alias("n"),
            stable_round(ua, 6).alias("stat"),
            stable_round((ua - mu) / sigma, 6).alias("z"),
            (F.abs((ua - mu) / sigma) > Z_5PCT).alias("sig"),
        )
        return kw_row.unionByName(mw_rows)


_register_panel()
