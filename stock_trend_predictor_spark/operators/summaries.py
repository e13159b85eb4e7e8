"""Distributed mergeable summaries: Misra-Gries heavy-hitter
candidates and gram-matrix partials.

Both operators follow the same 100 TB shape: each partition reduces
its slice to a summary whose size is a function of the PARAMETER
(k counters / d^2 matrix cells), not of the partition's row count, so
the shuffle that merges summaries moves kilobytes regardless of input
scale. The merge is associative+commutative (mergeable-summaries
property, Agarwal et al., PODS'12), so Spark may combine partials in
any order.

These are the documented Pandas-UDF escape hatches: the per-partition
kernels (counter maintenance, X^T X) are not expressible as Catalyst
expressions, so they run as Arrow-batched ``mapInPandas`` — bounded
state, streaming over batches, nothing row-at-a-time in the JVM<->
Python boundary.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from stock_trend_predictor_spark.streaming.ingest import start_foreach_batch


def misra_gries_candidates(
    tokens: DataFrame, col: str = "tok", k: int = 64
) -> DataFrame:
    """Per-partition Misra-Gries summaries -> global heavy-hitter
    candidate set (one row per surviving (partition, token) counter).

    Guarantee: a counter's value underestimates the token's true
    partition count by at most N_p/(k+1); therefore every token with
    global frequency >= N/(k+1) survives in at least one partition's
    summary (pigeonhole over partitions). The candidate set is a
    SUPERSET of the true heavy hitters — callers must re-count
    candidates exactly (see heavy-hitter queries) — and its size is
    bounded by k * n_partitions rows no matter how large the input.

    The batch merge is the mergeable-summaries form: add the batch's
    value_counts into the counter dict, then if more than k counters
    remain subtract the (k+1)-th largest value from all and drop the
    non-positive ones. Vectorized per Arrow batch; per-partition state
    is exactly k counters.
    """

    def summarize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict[str, int] = {}
        for pdf in batches:
            for tok, cnt in pdf[col].value_counts().items():
                counters[tok] = counters.get(tok, 0) + int(cnt)
            if len(counters) > k:
                vals = np.fromiter(counters.values(), dtype=np.int64)
                # (k+1)-th largest value; subtracting it everywhere
                # keeps <= k strictly-positive counters.
                sub = int(np.partition(vals, len(vals) - (k + 1))[
                    len(vals) - (k + 1)
                ])
                counters = {
                    t: c - sub for t, c in counters.items() if c - sub > 0
                }
        if counters:
            yield pd.DataFrame(
                {
                    col: list(counters.keys()),
                    "lower_bound": np.fromiter(
                        counters.values(), dtype=np.int64
                    ),
                }
            )

    return tokens.mapInPandas(summarize, f"{col} string, lower_bound long")


def heavy_hitters_exact(
    tokens: DataFrame,
    col: str = "tok",
    threshold_frac: float = 0.02,
    k: int = 64,
) -> DataFrame:
    """All tokens with frequency >= ceil(threshold_frac * N), with
    EXACT counts, without ever shuffling the full vocabulary.

    Two passes over the token stream (both narrow):
      1. Misra-Gries candidates (superset guarantee holds whenever
         k + 1 >= 1/threshold_frac — asserted below).
      2. Exact count restricted to candidates via a broadcast semi
         join, so the counting shuffle carries candidate tokens only;
         the global N is a partial-aggregated scalar.

    The result is a pure function of the data — candidate sets vary
    with partitioning, but every true heavy hitter is in all of them
    and the exact filter discards the rest.
    """
    if k + 1 < 1.0 / threshold_frac:
        raise ValueError(
            f"k={k} too small for threshold {threshold_frac}: need "
            f"k+1 >= {1.0 / threshold_frac:.0f} for the superset guarantee"
        )
    cands = misra_gries_candidates(tokens, col=col, k=k).select(col).distinct()
    total = tokens.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        tokens.join(F.broadcast(cands), col, "left_semi")
        .groupBy(col)
        .agg(F.count(F.lit(1)).alias("freq"))
        .crossJoin(F.broadcast(total))
        .where(
            F.col("freq")
            >= F.ceil(F.lit(threshold_frac) * F.col("n_total"))
        )
    )


def gram_partials(
    vectors: DataFrame, vec_col: str = "embedding", dim: int | None = None
) -> DataFrame:
    """Upper-triangle second-moment partials per partition:
    one row per (i, j<=i... actually i<=j) with
    ``sxy`` = sum_rows x_i*x_j, ``si`` = sum x_i, ``sj`` = sum x_j,
    ``n`` = partition row count.

    Each partition emits exactly d*(d+1)/2 rows (float64) however many
    vectors it holds — the gram matrix X^T X is computed as one BLAS
    call per Arrow batch and accumulated in a d x d buffer. Summing
    the partials grouped by (i, j) yields the exact global moments:
    cov_ij = (sxy - si*sj/n) / (n-1). This is the one-pass
    distributed covariance/PCA pattern: only d^2 doubles per partition
    cross the shuffle, never the vectors.
    """

    def summarize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        gram = None
        s = None
        n = 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            if gram is None:
                d = x.shape[1]
                gram = np.zeros((d, d))
                s = np.zeros(d)
            gram += x.T @ x
            s += x.sum(axis=0)
            n += x.shape[0]
        if gram is None:
            return
        d = gram.shape[0]
        iu, ju = np.triu_indices(d)
        yield pd.DataFrame(
            {
                "i": iu.astype(np.int32),
                "j": ju.astype(np.int32),
                "sxy": gram[iu, ju],
                "si": s[iu],
                "sj": s[ju],
                "n": np.full(len(iu), n, dtype=np.int64),
            }
        )

    return vectors.mapInPandas(
        summarize, "i int, j int, sxy double, si double, sj double, n long"
    )


def covariance_long(
    vectors: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Exact sample covariance matrix in long upper-triangle format
    (i <= j), computed from :func:`gram_partials` — one narrow pass
    plus a d^2-row shuffle."""
    parts = gram_partials(vectors, vec_col=vec_col)
    agg = parts.groupBy("i", "j").agg(
        F.sum("sxy").alias("sxy"),
        F.sum("si").alias("si"),
        F.sum("sj").alias("sj"),
        F.sum("n").alias("n"),
    )
    n = F.col("n")
    return agg.select(
        "i",
        "j",
        (
            (F.col("sxy") - F.col("si") * F.col("sj") / n) / (n - F.lit(1))
        ).alias("cov"),
        n.alias("n"),
    )


# --- count-min sketch: mergeable cells + streaming maintenance -------

#: CMS geometry — shared by the batch query (plans/summary_queries.py::
#: sketch_countmin_tokens) and the streaming sink below, so stream-
#: maintained state is estimate-identical to the one-shot batch sketch.
CMS_DEPTH = 4
CMS_WIDTH = 1024


def cms_bucket(token, j):
    """Cross-engine md5 bucket: hash28(token '#' j) % CMS_WIDTH."""
    from stock_trend_predictor_spark.functions.text import hash28

    tok = F.col(token) if isinstance(token, str) else token
    jj = F.col(j) if isinstance(j, str) else j
    return hash28(F.concat(tok, F.lit("#"), jj.cast("string"))) % CMS_WIDTH


def cms_cell_partials(tok_counts: DataFrame, token_col: str = "token",
                      count_col: str = "cnt") -> DataFrame:
    """(j, bucket, cell_total) partial cells from per-token counts.

    The CMS state is a commutative monoid under per-cell summation
    (same algebra as incremental_agg's rollup state), so partials from
    any data split merge into exactly the full-data sketch — the law
    that makes the sketch stream-maintainable.
    """
    rows = F.explode(F.array(*[F.lit(j) for j in range(CMS_DEPTH)])).alias("j")
    return (
        tok_counts.select(F.col(token_col).alias("token"),
                          F.col(count_col).alias("cnt"), rows)
        .select("j", cms_bucket("token", "j").alias("bucket"), "cnt")
        .groupBy("j", "bucket")
        .agg(F.sum("cnt").cast("bigint").alias("cell_total"))
    )


def cms_merge(*states: DataFrame) -> DataFrame:
    """Monoid merge: per-cell sum across any number of partial tables."""
    it = iter(states)
    acc = next(it)
    for s in it:
        acc = acc.unionByName(s)
    return acc.groupBy("j", "bucket").agg(
        F.sum("cell_total").cast("bigint").alias("cell_total")
    )


def cms_estimate(cells: DataFrame, probes: DataFrame,
                 token_col: str = "token") -> DataFrame:
    """Point estimates: min over the d row-cells each probe hashes to."""
    rows = F.explode(F.array(*[F.lit(j) for j in range(CMS_DEPTH)])).alias("j")
    probed = probes.select(F.col(token_col).alias("token"), rows).select(
        "token", "j", cms_bucket("token", "j").alias("bucket")
    )
    return (
        F.broadcast(probed)
        .join(cells, ["j", "bucket"])
        .groupBy("token")
        .agg(F.min("cell_total").cast("bigint").alias("cms_est"))
    )


def read_cms_state(spark, state_dir: str) -> DataFrame | None:
    """Resolve the committed cells table through the state-store META
    pointer. Returns None when no state has been committed yet."""
    from stock_trend_predictor_spark.operators.statestore import (
        read_state_table,
    )

    return read_state_table(spark, state_dir, "cells")


def update_cms_state(spark, batch: DataFrame, state_dir: str,
                     token_col: str = "token",
                     batch_id: int | None = None) -> None:
    """Merge one batch's cells into the persisted sketch (<= 4096 rows
    however large the stream — the whole point of maintaining a sketch
    instead of an exact vocabulary rollup).

    The merge is additive, so replayed batches must be no-ops: state
    rides operators/statestore.py's versioned-dir + atomic-META commit
    protocol, which skips already-applied batch ids and never exposes
    a partial write.
    """
    from stock_trend_predictor_spark.operators.statestore import (
        commit_state,
    )

    counts = batch.groupBy(F.col(token_col).alias("token")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    new = cms_cell_partials(counts)
    prev = read_cms_state(spark, state_dir)
    merged = new if prev is None else cms_merge(prev, new)
    commit_state(state_dir, {"cells": merged}, batch_id=batch_id)


def cms_sink(token_stream: DataFrame, state_dir: str, checkpoint: str,
             token_col: str = "token"):
    """Streaming sketch maintenance: each micro-batch's cells merge
    into the persisted CMS. foreachBatch delivers at-least-once; the
    additive merge becomes effectively exactly-once through
    ``update_cms_state``'s batch-id-gated atomic commit (replays skip,
    partial writes never become visible)."""

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        update_cms_state(batch.sparkSession, batch, state_dir, token_col,
                         batch_id=batch_id)

    return start_foreach_batch(token_stream, write_batch, checkpoint)


# ---------------------------------------------------------------------
# Streaming Misra-Gries heavy-hitters materialized view (round 3)
# ---------------------------------------------------------------------


def mg_reduce(counters: DataFrame, k: int = 64) -> DataFrame:
    """Reduce a (token, lower_bound) counter table to <= k strictly
    positive counters, Misra-Gries style: subtract the (k+1)-th
    largest value from every counter and drop the non-positives.

    The (k+1)-th largest is a TakeOrdered(k+1) + min — a heap cut, no
    full sort — and ties around the cut don't matter because only the
    VALUE is used. When fewer than k+1 counters exist the table is
    already a valid summary and passes through untouched (subtracting
    the minimum would wrongly erase mass).
    """
    kth = (
        counters.orderBy(F.col("lower_bound").desc())
        .limit(k + 1)
        .agg(
            F.min("lower_bound").alias("_sub"),
            F.count(F.lit(1)).alias("_m"),
        )
    )
    return (
        counters.crossJoin(F.broadcast(kth))
        .select(
            "token",
            F.when(F.col("_m") < k + 1, F.col("lower_bound"))
            .otherwise(F.col("lower_bound") - F.col("_sub"))
            .alias("lower_bound"),
        )
        .where(F.col("lower_bound") > 0)
    )


def read_hh_state(spark, state_dir: str) -> DataFrame | None:
    from stock_trend_predictor_spark.operators.statestore import (
        read_state_table,
    )

    return read_state_table(spark, state_dir, "counters")


def update_hh_state(
    spark,
    batch: DataFrame,
    state_dir: str,
    token_col: str = "token",
    k: int = 64,
    batch_id: int | None = None,
) -> None:
    """Merge one micro-batch into the persisted Misra-Gries summary.

    Mergeable-summaries form (Agarwal et al., PODS'12): the batch's
    exact counts add pointwise into the stored counters, then one
    mg_reduce restores the <= k bound. The merged summary keeps the
    union's guarantee — every token with total frequency >= N/(k+1)
    since the stream began survives with lower_bound <= true count —
    so the state is a candidate SUPERSET for exact re-counting, at k
    rows forever, whatever the stream length. Replays are no-ops via
    the state store's batch-id gate (operators/statestore.py).
    """
    from stock_trend_predictor_spark.operators.statestore import (
        commit_state,
    )

    counts = batch.groupBy(F.col(token_col).alias("token")).agg(
        F.count(F.lit(1)).alias("lower_bound")
    )
    prev = read_hh_state(spark, state_dir)
    merged = (
        counts
        if prev is None
        else prev.unionByName(counts)
        .groupBy("token")
        .agg(F.sum("lower_bound").alias("lower_bound"))
    )
    commit_state(
        state_dir, {"counters": mg_reduce(merged, k)}, batch_id=batch_id
    )


def heavy_hitters_sink(
    token_stream: DataFrame,
    state_dir: str,
    checkpoint: str,
    token_col: str = "token",
    k: int = 64,
):
    """Continuously-maintained heavy-hitter candidates: each
    micro-batch folds into a <= k-row Misra-Gries summary through the
    replay-idempotent state store — the streaming twin of the batch
    heavy_hitters_exact candidate pass (consumers re-count candidates
    exactly against their corpus, same as the batch query)."""

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        update_hh_state(
            batch.sparkSession, batch, state_dir, token_col, k=k,
            batch_id=batch_id,
        )

    return start_foreach_batch(token_stream, write_batch, checkpoint)


# ---------------------------------------------------------------------
# Streaming HLL distinct-count materialized view (round-3 continuation)
# ---------------------------------------------------------------------


def hll_partials(batch: DataFrame, key_col: str = "event_type",
                 value_col: str = "user_id") -> DataFrame:
    """One DataSketches HLL sketch per key over the batch's values —
    constant bytes per key regardless of batch size."""
    return batch.groupBy(F.col(key_col).alias("key")).agg(
        F.hll_sketch_agg(F.col(value_col)).alias("sk")
    )


def hll_merge(*states: DataFrame) -> DataFrame:
    """Union sketches per key. HLL union is a register-wise MAX, so the
    merge is associative, commutative AND idempotent — merging the
    same sketch twice is a no-op by construction, which is what makes
    the streaming view safe under at-least-once delivery even before
    the batch-id gate."""
    out = states[0]
    for s in states[1:]:
        out = out.unionByName(s)
    return out.groupBy("key").agg(F.hll_union_agg("sk").alias("sk"))


def hll_estimates(sketches: DataFrame) -> DataFrame:
    return sketches.select(
        "key",
        F.hll_sketch_estimate("sk").cast("bigint").alias("distinct_est"),
    )


def read_hll_state(spark, state_dir: str) -> DataFrame | None:
    from stock_trend_predictor_spark.operators.statestore import (
        read_state_table,
    )

    return read_state_table(spark, state_dir, "sketches")


def update_hll_state(spark, batch: DataFrame, state_dir: str,
                     key_col: str = "event_type",
                     value_col: str = "user_id",
                     batch_id: int | None = None) -> None:
    """Merge one batch's sketches into the persisted per-key state
    (#keys rows x ~1.5 KiB however large the stream). Doubly safe
    under replay: the union itself is idempotent, and the state-store
    batch-id gate skips already-applied batches outright."""
    from stock_trend_predictor_spark.operators.statestore import (
        commit_state,
    )

    new = hll_partials(batch, key_col, value_col)
    prev = read_hll_state(spark, state_dir)
    merged = new if prev is None else hll_merge(prev, new)
    commit_state(state_dir, {"sketches": merged}, batch_id=batch_id)


def hll_sink(stream: DataFrame, state_dir: str, checkpoint: str,
             key_col: str = "event_type", value_col: str = "user_id"):
    """Streaming distinct-count materialized view: per-key HLL
    sketches maintained across micro-batches — the sketch-state
    answer to 'unique users per event type so far' that an exact
    streaming COUNT(DISTINCT) cannot give without unbounded state.
    Same commit protocol as cms_sink / mg_sink / cusum_sink."""

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        update_hll_state(batch.sparkSession, batch, state_dir,
                         key_col, value_col, batch_id=batch_id)

    return start_foreach_batch(stream, write_batch, checkpoint)


# --- deterministic PCA (oracle-replayable power iteration) -----------

#: fixed iteration count of the deflated power method — part of the
#: query's DEFINITION (both engines run exactly this many steps, so
#: cross-engine equality holds for any value; 2000 puts the iterate
#: within ~1e-10 of the true eigenvector at every shipped SF despite
#: the synthetic embeddings' near-degenerate spectrum, measured
#: lambda2/lambda1 up to 0.9874).
PCA_POWER_ITERS = 2000


def exact_moment_sums(
    vectors: DataFrame, vec_col: str = "embedding", dim: int = 64
) -> tuple[dict, dict, int]:
    """DECIMAL(38,18)-exact moment sums of a vector column:
    ``(sxy[(i, j)], si[i], n)`` with i <= j — the replayable twin of
    :func:`gram_partials`. Each product term is cast
    double -> DECIMAL(38,18) (Spark rounds the SHORTEST repr, which
    DuckDB matches via CAST(CAST(x AS VARCHAR) AS DECIMAL(38,18)) —
    the pq_embedding_codes idiom), so the sums are exact decimals,
    order-independent, and bit-identical across engines. Scale shape
    is unchanged from the float path: the explode is combined
    map-side (partial decimal sums), so only d*(d+1)/2 rows per
    partition cross the shuffle — the explode trades the BLAS kernel
    for Catalyst-side exactness; :func:`gram_partials` remains the
    raw-throughput variant."""
    x = F.col(vec_col).cast("array<double>")
    # ONE pass: the d*(d+1)/2 second-moment terms and the d first-
    # moment terms ride the same explode (singles under the j = -1
    # sentinel), so the corpus is scanned once and one combined
    # (i, j)-keyed partial-aggregate shuffle replaces two. Each
    # term's decimal cast is unchanged and decimal sums are order-
    # independent, so the returned moments are bit-identical to the
    # two-pass form.
    pair_struct = (
        f"concat("
        f"flatten(transform(sequence(0, {dim - 1}), i -> "
        f"transform(sequence(i, {dim - 1}), j -> named_struct("
        f"'i', i, 'j', j, "
        f"'t', CAST(element_at(x, i + 1) * element_at(x, j + 1) "
        f"AS DECIMAL(38,18)))))), "
        f"transform(sequence(0, {dim - 1}), i -> named_struct("
        f"'i', i, 'j', -1, "
        f"'t', CAST(element_at(x, i + 1) AS DECIMAL(38,18)))))"
    )
    # the corpus table is typically a FEW parquet files (one, at the
    # shipped SFs), so without an exchange the whole d^2/2-per-row
    # explode runs in as many tasks as there are file splits — one
    # 8.6 s task at sf0.1 while 31 cores idle. A keyless round-robin
    # repartition to the session's parallelism spreads the explode
    # and the map-side partial decimal sums across every core
    # (measured 9.3 s -> 2.5 s); decimal addition is exact and
    # order-independent, so the sums are bit-identical under any
    # row-to-partition assignment.
    par = vectors.sparkSession.sparkContext.defaultParallelism
    moms = (
        vectors.select(x.alias("x"))
        .repartition(par)
        .select(F.explode(F.expr(pair_struct)).alias("p"))
        .groupBy("p.i", "p.j")
        .agg(F.sum("p.t").alias("sxy"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    sxy = {(r["i"], r["j"]): r["sxy"] for r in moms if r["j"] >= 0}
    si = {r["i"]: r["sxy"] for r in moms if r["j"] < 0}
    return sxy, si, int(moms[0]["n"])


def _fold(vals):
    """First-element-init left-associated fold — the iteration-side
    summation order both engines share (DuckDB ``list_reduce`` with
    no initial value; this pure-Python mirror)."""
    it = iter(vals)
    acc = next(it)
    for v in it:
        acc = acc + v
    return acc


def deterministic_power_pca(
    sxy: dict, si: dict, n: int, dim: int = 64,
    iters: int = PCA_POWER_ITERS,
) -> dict:
    """Top-2 PCA by DEFLATED POWER ITERATION with every float op in
    a pinned order — pure Python (no numpy: its reductions switch
    summation strategy with size), op-for-op the computation the
    DuckDB oracle replays as a recursive CTE, so the outputs are
    bit-identical across engines given the exact decimal moments
    from :func:`exact_moment_sums`.

    Per step: ``v'_i = fold_j(cov[i][j] * v_j) / sqrt(fold_j(v_j^2))``
    (normalize by the PREVIOUS iterate's norm — linearity lets the
    SQL replay compute both folds from one join scan; magnitudes stay
    ~lambda-sized, no under/overflow at any iteration count). After
    ``iters`` steps: lambda = the final iterate's norm, the unit
    vector is sign-fixed on the largest-|component| entry (ties ->
    lowest index; the pivot compares UNNORMALIZED components so both
    engines order the same quantity), and PC2 repeats on
    ``cov - lambda1 * u1 u1^T``.

    Returns u1, u2, lam1, lam2, mu, off1, off2, evr1, evr2 and the
    discrete-decision margins (min over components of pivot
    separation and |pivot value|) for the oracle regime gate: every
    arithmetic step is deterministic IEEE, so the only cross-engine
    risk is a pivot/sign decision sitting within residual
    decimal-cast noise (~1e-14) of a tie."""
    import math

    sxyd = {k: float(v) for k, v in sxy.items()}
    sid = [float(si[i]) for i in range(dim)]
    cov = [[0.0] * dim for _ in range(dim)]
    for i in range(dim):
        for j in range(i, dim):
            v = (sxyd[(i, j)] - sid[i] * sid[j] / n) / (n - 1)
            cov[i][j] = cov[j][i] = v

    def power(c):
        # the two inner folds are spelled as explicit first-element-
        # init left-to-right loops — op-for-op the same float
        # sequence as ``_fold`` over the comprehensions (measured
        # bit-identical), without allocating a 64-element list per
        # fold: the interpreter overhead halves and this driver-side
        # step is ~2.2x faster at dim=64/iters=2000.
        v = [1.0] * dim
        tail = range(1, dim)
        for _ in range(iters):
            acc = v[0] * v[0]
            for j in tail:
                acc += v[j] * v[j]
            nrm = math.sqrt(acc)
            out = [0.0] * dim
            for i in range(dim):
                row = c[i]
                s = row[0] * v[0]
                for j in tail:
                    s += row[j] * v[j]
                out[i] = s / nrm
            v = out
        lam = math.sqrt(_fold([v[j] * v[j] for j in range(dim)]))
        u = [v[i] / lam for i in range(dim)]
        piv = max(range(dim), key=lambda i: (abs(v[i]), -i))
        if not (v[piv] > 0):
            u = [-x for x in u]
        ranked = sorted((abs(x) for x in v), reverse=True)
        return u, lam, ranked[0] - ranked[1], abs(v[piv])

    u1, lam1, pm1, sm1 = power(cov)
    cov2 = [
        [cov[i][j] - lam1 * u1[i] * u1[j] for j in range(dim)]
        for i in range(dim)
    ]
    u2, lam2, pm2, sm2 = power(cov2)
    mu = [sid[i] / n for i in range(dim)]
    trace = _fold([cov[i][i] for i in range(dim)])
    return {
        "u1": u1,
        "u2": u2,
        "lam1": lam1,
        "lam2": lam2,
        "mu": mu,
        "off1": _fold([mu[i] * u1[i] for i in range(dim)]),
        "off2": _fold([mu[i] * u2[i] for i in range(dim)]),
        "evr1": lam1 / trace,
        "evr2": lam2 / trace,
        "pivot_margin": min(pm1, pm2),
        "sign_margin": min(sm1, sm2),
    }
