"""IVF (inverted-file) approximate nearest neighbor — the coarse-
quantizer scale path next to the hyperplane-LSH variant in
operators/similarity.py.

Build: a few Lloyd iterations of k-means over the corpus, expressed as
DataFrame ops — assignment is plan-literal centroids up to the codegen
cap and a one-row broadcast matrix past it; the update step
accumulates per-(cell, dim) DECIMAL(38,9) sufficient sums (exact,
order-independent — round 6) with the mean taken in the driver, so
the trained quantizer is bit-reproducible across runs AND engines.
Per iteration the only driver traffic is the k×dim stats (a model,
not data) — the corpus never leaves the executors.

Search: a query probes its nprobe nearest centroids and exact-scores
only those clusters' members. Probe cost ≈ nprobe/k of the corpus —
the IVF trade dial. At 100 TB the assignment column would be written
back partitioned by cluster id so a probe prunes whole files.

Search results stay approximate by construction (recall measured
against brute_force_topk in tests/test_similarity.py), but the
quantizer's determinism means pipelines BUILT on the cell assignment
(dedup_embedding_ivf, semdedup_keep_decision) carry full DuckDB
value-hash oracles that replay Lloyd's exactly — see
plans/dedup_queries.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from stock_trend_predictor_spark.operators.similarity import as_double, dot, l2norm


def _sq_dist_to(vec_col: Column, centroid: list[float]) -> Column:
    c = F.array(*[F.lit(float(x)) for x in centroid])
    diff = F.zip_with(vec_col, c, lambda a, b: a - b)
    return F.aggregate(
        F.zip_with(diff, diff, lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
    )


#: past this many centroids the k unrolled per-centroid distance
#: expressions blow whole-stage-codegen method limits; the broadcast-
#: join path (one HOF over a joined centroid matrix) takes over
LITERAL_CENTROID_CAP = 64


def _with_dists(
    corpus: DataFrame,
    centroids: list[list[float]],
    vec_col: str,
    use_join: bool | None = None,
) -> DataFrame:
    """``corpus`` plus a ``_d`` column: squared L2 distance to every
    centroid, index-aligned with ``centroids``.

    Two physically different, numerically IDENTICAL strategies (law-
    tested in tests/test_similarity.py):

    - ``use_join=False``: k unrolled fold expressions over
      plan-literal centroids — zero join, stays in codegen;
    - ``use_join=True``: the k×dim matrix ships as a ONE-ROW
      broadcast (BroadcastNestedLoopJoin of a single row — data
      path, not plan literals) and the distance array is a single
      ``transform`` HOF over it, so plan size and codegen cost stay
      O(1) in k. Each element runs the same (a-b)*(a-b) left-fold as
      the literal path, so results are bit-identical. At k beyond
      ~10^4 the N x k fold cost itself is the wall — switch to
      :func:`assign_clusters_two_level` (IMI-style hierarchical
      assignment, N x ~3*sqrt(k)).

    ``use_join=None`` picks by the cap; tests pass True/False to pin
    the equality law. (r11 measured a default flip to the join path
    at small k: an ISOLATED 3-iteration Lloyd train read parity —
    2.32 s join vs 2.50 s literal — but the full queries regressed
    ~2x, canary-normalized: knn_graph_ivf 6.4 -> 13.4 s best-of-3,
    semdedup_keep_decision 8.9 -> 11.7 s. The BNLJ broadcast build
    and the per-row HOF fold cost more across the many assignment
    call sites than the literal plan's per-iteration janino compiles.
    Reverted; the cap split stands.)

    r12 (guide §1.2 per-task work / r11 hand-off #1): the literal
    branch is now ONE plan-literal k×dim matrix + the join path's
    ``transform`` HOF — not k unrolled per-centroid fold expressions.
    Catalyst analyzes a single nested-array literal instead of a
    k×(4·dim)-node HOF forest, and the generated projection source no
    longer inlines centroid VALUES (array literals ride the codegen
    references array), so a fresh-centroid plan per Lloyd iteration
    stops recompiling a new janino class each time. Per-element
    arithmetic is the exact (a-b)*(a-b) left-fold of the old unrolled
    spelling (the HOF twin is interpreted either way — HOFs are
    CodegenFallback), so results stay bit-identical; isolated A/B at
    k=16, dim=64: 1.45 s → 0.90 s per fresh-centroid assignment pass,
    identical assignments. The cap split with the broadcast-join path
    stands: past the cap a k×dim literal would ship with every task
    closure, the one-row broadcast ships once per executor.
    """
    if use_join is None:
        use_join = len(centroids) > LITERAL_CENTROID_CAP
    if not use_join:
        m = F.lit([[float(x) for x in c] for c in centroids])
        dist = F.transform(
            m,
            lambda c: F.aggregate(
                F.zip_with(
                    F.zip_with(F.col(vec_col), c, lambda a, b: a - b),
                    F.zip_with(F.col(vec_col), c, lambda a, b: a - b),
                    lambda a, b: a * b,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )
        return corpus.withColumn("_d", dist)
    spark = corpus.sparkSession
    cents_df = spark.createDataFrame(
        [([[float(x) for x in c] for c in centroids],)],
        "_cents array<array<double>>",
    )
    dist = F.transform(
        F.col("_cents"),
        lambda c: F.aggregate(
            F.zip_with(
                F.zip_with(F.col(vec_col), c, lambda a, b: a - b),
                F.zip_with(F.col(vec_col), c, lambda a, b: a - b),
                lambda a, b: a * b,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    return (
        corpus.join(F.broadcast(cents_df))
        .withColumn("_d", dist)
        .drop("_cents")
    )


def assign_clusters(
    corpus: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "v",
    use_join: bool | None = None,
) -> DataFrame:
    """Nearest-centroid id per row (ties → lowest cid). Centroids ship
    as plan literals up to LITERAL_CENTROID_CAP, as a one-row
    broadcast past it — a narrow map either way, no shuffle."""
    return (
        _with_dists(corpus, centroids, vec_col, use_join)
        .withColumn(
            "cid",
            (F.array_position(F.col("_d"), F.array_min(F.col("_d"))) - 1).cast(
                "int"
            ),
        )
        .drop("_d")
    )


def kmeans_centroids(
    corpus: DataFrame,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "v",
    sample_mod: int = 1,
) -> list[list[float]]:
    """Deterministic Lloyd's: seeds are the k lowest-id vectors; each
    iteration re-assigns (plan-literal centroids up to the codegen
    cap, one-row broadcast join past it) and re-averages (posexplode
    + groupBy mean). Only k×dim floats cross the driver boundary per
    iteration.

    ``sample_mod > 1`` trains on the deterministic hash-slice
    ``xxhash64(id) % sample_mod == 0`` — the sample-trained half of
    the r5-verdict #4 lever: a coarse quantizer only needs enough
    points per cell to place centroids, so Lloyd's cost stays bounded
    while the FULL corpus is assigned exactly once afterwards. The
    slice is a pure function of ids (reproducible under any
    partitioning), and seeds stay the k lowest ids OF THE SLICE."""
    from stock_trend_predictor_spark.operators.checkpoints import job_phase

    spark = corpus.sparkSession
    if sample_mod > 1:
        corpus = corpus.where(
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(sample_mod)) == 0
        )
    with job_phase(spark, "lloyd:seed"):
        seeds = corpus.orderBy(id_col).limit(k).select(vec_col).collect()
    centroids = [[float(x) for x in r[vec_col]] for r in seeds]
    assert len(centroids) == k, (
        f"training sample has only {len(centroids)} rows < k={k}; "
        "lower sample_mod"
    )
    dim = len(centroids[0])
    for _it in range(iters):
        assigned = assign_clusters(corpus, centroids, vec_col)
        # CROSS-ENGINE-DETERMINISTIC update (round 6): the old
        # F.avg(double) summed in shuffle-arrival order, so two runs —
        # or two engines — could disagree in the last ulp and flip a
        # Voronoi-boundary assignment, which is exactly why the two
        # IVF-quantized registry queries had no DuckDB oracle. The
        # per-(cell, dim) sufficient stats now accumulate as
        # DECIMAL(38,9) — exact integer arithmetic, any order, any
        # partitioning (the pq.py codebook trick) — and the mean is
        # float(sum)/n in the driver. Scale 9 keeps the scaled sums
        # under 2^53 for cells up to ~10^7 members (|x| < 1), where
        # DuckDB's decimal->double cast is verified bit-equal to
        # Python's float(Decimal), so an oracle can replay Lloyd's
        # exactly. Only (cell, dim) stats cross the driver boundary —
        # a model, not data.
        with job_phase(spark, f"lloyd:iter{_it}"):
            stats = (
                assigned.select(
                    "cid", F.posexplode(vec_col).alias("pos", "x")
                )
                .groupBy("cid", "pos")
                .agg(
                    F.sum(F.col("x").cast("decimal(38,9)")).alias("s"),
                    F.count(F.lit(1)).alias("n"),
                )
                .collect()
            )
        acc: dict[int, dict[int, float]] = {}
        for r in stats:
            acc.setdefault(r["cid"], {})[r["pos"]] = float(r["s"]) / r["n"]
        # empty clusters keep their previous centroid
        centroids = [
            [acc[i][p] for p in sorted(acc[i])] if i in acc else centroids[i]
            for i in range(k)
        ]
        assert all(len(c) == dim for c in centroids)
    return centroids


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_clusters: int = 16,
    nprobe: int = 2,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF search: exact cosine top-k within the nprobe nearest
    clusters of each query.

    The DECLARED ANN path (round 4): the data-adaptive coarse
    quantizer beats the data-oblivious LSH limit on this corpus —
    nlist=16/nprobe=2 measures recall@10 = 1.000 at probe fraction
    0.123 on the RECALL.json protocol, vs the best LSH Pareto point of
    0.938 @ 0.401 (see operators/similarity.py for the full sweep
    note). nlist scales with sqrt(n) at real corpus sizes; nprobe is
    the recall dial.

    Pass ``centroids`` to search a PRE-BUILT quantizer (e.g. the
    continuously-maintained index from streaming/ivf_maintenance.py)
    instead of rebuilding one in batch."""
    from pyspark.sql.window import Window

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double(vec_col).alias("cv")
    ).withColumn("cn", l2norm(F.col("cv")))
    if centroids is None:
        # the Lloyd build consumes c twice per iteration and the
        # probe join once more — materialize the prepared view so the
        # scan+cast+norm pipeline runs once, not 2*iters+1 times
        # (with a PRE-BUILT quantizer c is read once; stay lazy)
        from stock_trend_predictor_spark.sources.tables import (
            materialize_once,
        )

        c = materialize_once(c)
        centroids = kmeans_centroids(c, k=n_clusters, iters=iters,
                                     id_col="neighbor_id", vec_col="cv")
    c = assign_clusters(c, centroids, "cv")

    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(vec_col).alias("qv")
    ).withColumn("qn", l2norm(F.col("qv")))
    qd = _with_dists(q, centroids, "qv")
    # nprobe nearest centroid ids per query
    probe = qd.select(
        "query_id", "qv", "qn",
        F.explode(
            F.slice(
                F.transform(
                    F.array_sort(
                        F.zip_with(
                            F.col("_d"),
                            F.sequence(F.lit(0), F.lit(len(centroids) - 1)),
                            lambda d, i: F.struct(d.alias("d"), i.alias("i")),
                        )
                    ),
                    lambda s: s["i"],
                ),
                1,
                nprobe,
            )
        ).alias("cid"),
    )
    sim = dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        c.join(F.broadcast(probe), "cid")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", sim.alias("sim"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def _group_centroids(
    centroids: list[list[float]], g: int, iters: int = 3
) -> tuple[list[list[float]], list[int]]:
    """Cluster the CENTROIDS into g groups (driver-side numpy Lloyd's
    over a parameter-sized k x dim matrix — a model of a model, never
    data). Deterministic: seeds are the first g centroids, argmin
    ties break to the lowest group index. Returns (group centers,
    gid per centroid)."""
    import numpy as np

    c = np.asarray(centroids, dtype=np.float64)
    centers = c[:g].copy()
    gid = np.zeros(len(c), dtype=int)
    for _ in range(iters):
        d = ((c[:, None, :] - centers[None, :, :]) ** 2).sum(-1)
        gid = d.argmin(1)
        for j in range(g):
            members = c[gid == j]
            if len(members):
                centers[j] = members.mean(0)
    return centers.tolist(), gid.tolist()


def assign_clusters_two_level(
    corpus: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "v",
    n_groups: int | None = None,
    gprobe: int = 2,
) -> DataFrame:
    """Hierarchical (IMI-style) cell assignment — the documented lever
    PAST the flat join path: at nlist ~ N/500 a 10^9-vector corpus
    needs k ~ 2*10^6 cells, and even the one-row-broadcast flat
    assignment is N x k distance folds. Two levels cut that to
    N x (g + gprobe * k/g) ~ N x 3*sqrt(k) at the default
    g = sqrt(k): the k centroids are themselves clustered into g
    groups (driver-side numpy over the parameter-sized centroid
    matrix), each vector probes its gprobe nearest GROUP centers
    (narrow map, group centers ride the plan), then scans only those
    groups' member centroids through a broadcast (gid -> members)
    array — one fold expression, no per-centroid codegen.

    APPROXIMATE by construction: the true nearest centroid can sit in
    a non-probed group (Voronoi boundary), so this is a blocking
    assignment, not an exact argmin — gprobe is the accuracy dial,
    and with n_groups=1 it degenerates to the EXACT flat assignment
    (law-tested). Agreement with the exact assignment is measured and
    floor-pinned in tests/test_similarity.py. Measured on the 30x
    NEAR-RANDOM corpus (60k vectors, k=512 — the worst case for
    coarse pruning, every centroid nearly equidistant): gprobe 2/4/8
    agrees 0.71/0.88/0.98 with the exact argmin at 7.0/11.0/18.6 s vs
    the flat join's 19.5 s — so at this k the default buys 2.8x for
    blocking-grade assignment, and the crossover widens as ~k/(3sqrt
    k) with k (SCALE.md r6). Clustered real embeddings sit far above
    this agreement floor because group structure then FOLLOWS data
    structure. Cost shape: stage 1 is a narrow map; stage 2 is a
    broadcast join on gid + one argmin fold + a (id, best)-sized
    groupBy — the only shuffle, gprobe rows per vector of a 2-field
    struct."""
    import math

    k = len(centroids)
    g = n_groups if n_groups is not None else max(1, int(math.sqrt(k)))
    centers, gids = _group_centroids(centroids, g)
    spark = corpus.sparkSession
    members: list[list[tuple[int, list[float]]]] = [[] for _ in range(g)]
    for c_idx, gj in enumerate(gids):
        members[gj].append((c_idx, [float(x) for x in centroids[c_idx]]))
    # probe only NON-EMPTY groups: numpy Lloyd can leave a group with
    # zero member centroids, and a vector whose every probe landed on
    # empty groups would vanish through the inner join below — probing
    # a dense re-indexed center list makes every probe productive
    dense = [j for j in range(g) if members[j]]
    mdf = spark.createDataFrame(
        [(new_j, members[j]) for new_j, j in enumerate(dense)],
        "_gid int, _members array<struct<cid: int, c: array<double>>>",
    )
    probed = assign_clusters_multiprobe(
        corpus.select(id_col, vec_col),
        [centers[j] for j in dense],
        nprobe=min(gprobe, len(dense)),
        vec_col=vec_col,
    ).withColumnRenamed("cid", "_gid")

    def _sq(m):
        diff = F.zip_with(F.col(vec_col), m["c"], lambda a, b: a - b)
        return F.aggregate(
            F.zip_with(diff, diff, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    # argmin over the probed group's members: strict < keeps the
    # FIRST minimal member, and members are in ascending cid order,
    # so ties break to the lowest cid — the flat-assignment rule
    best = F.aggregate(
        F.col("_members"),
        F.struct(
            F.lit(float("inf")).alias("d"), F.lit(2**31 - 1).alias("cid")
        ),
        lambda acc, m: F.when(
            _sq(m) < acc["d"],
            F.struct(_sq(m).alias("d"), m["cid"].alias("cid")),
        ).otherwise(acc),
    )
    per_probe = (
        probed.join(F.broadcast(mdf), "_gid")
        .select(id_col, best.alias("_best"))
    )
    # cross-probe reduce: lexicographic struct min == (min d, then
    # min cid) — matches the flat tie rule
    assigned = per_probe.groupBy(id_col).agg(
        F.min("_best")["cid"].alias("cid")
    )
    return corpus.join(assigned, id_col)


def assign_clusters_multiprobe(
    corpus: DataFrame,
    centroids: list[list[float]],
    nprobe: int = 2,
    vec_col: str = "v",
    use_join: bool | None = None,
) -> DataFrame:
    """Each row exploded to its ``nprobe`` nearest centroids (column
    ``cid``). Multi-probe assignment is what makes coarse-quantizer
    blocking usable for PAIR problems: two near-duplicates sitting on
    opposite sides of a Voronoi boundary still share their second-
    nearest cell with high probability, so within-cell enumeration
    recovers the pair. Cost is nprobe x rows — still narrow, no
    shuffle; centroids ride along as plan literals up to the codegen
    cap and as a one-row broadcast past it."""
    d = _with_dists(corpus, centroids, vec_col, use_join)
    # rank centroid ids by distance (stable: ties break on cid) and
    # keep the first nprobe
    ranked = F.transform(
        F.array_sort(
            F.zip_with(
                F.col("_d"),
                F.sequence(F.lit(0), F.lit(len(centroids) - 1)),
                lambda dist, i: F.struct(
                    dist.alias("dist"), i.alias("cid")
                ),
            )
        ),
        lambda s: s["cid"],
    )
    return (
        d.withColumn("_probes", F.slice(ranked, 1, nprobe))
        .drop("_d")
        .withColumn("cid", F.explode("_probes"))
        .drop("_probes")
    )


def assign_clusters_two_level_multiprobe(
    corpus: DataFrame,
    centroids: list[list[float]],
    nprobe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "v",
    n_groups: int | None = None,
    gprobe: int = 2,
) -> DataFrame:
    """Each row exploded to its ``nprobe`` best centroids AMONG the
    ``gprobe`` probed groups — the two-level (IMI-style) twin of
    :func:`assign_clusters_multiprobe`, for BLOCKING past the flat
    crossover: a pair problem at nlist ~ N/500 needs multiprobe cell
    sets, and the flat ranked-slice is an N x k distance fold that the
    group hierarchy cuts to ~N x (g + gprobe * k/g).

    APPROXIMATE like :func:`assign_clusters_two_level`: a true
    top-nprobe centroid in a non-probed group is missed (blocking
    recall dial = gprobe). With ``n_groups=1`` every member centroid
    is scanned and the output is IDENTICAL to the flat multiprobe
    (law-tested in tests/test_round7.py). Tie rule matches the flat
    path: candidates sort by (distance, cid).

    Cost shape: stage 1 narrow map over group centers; stage 2 one
    broadcast join on gid + a per-probe candidate transform + one
    (id)-keyed groupBy that flattens gprobe candidate arrays and
    slices the best nprobe — the only shuffle carries gprobe x
    ~(k/g) 12-byte structs per vector."""
    import math

    k = len(centroids)
    g = n_groups if n_groups is not None else max(1, int(math.sqrt(k)))
    centers, gids = _group_centroids(centroids, g)
    spark = corpus.sparkSession
    members: list[list[tuple[int, list[float]]]] = [[] for _ in range(g)]
    for c_idx, gj in enumerate(gids):
        members[gj].append((c_idx, [float(x) for x in centroids[c_idx]]))
    dense = [j for j in range(g) if members[j]]
    mdf = spark.createDataFrame(
        [(new_j, members[j]) for new_j, j in enumerate(dense)],
        "_gid int, _members array<struct<cid: int, c: array<double>>>",
    )
    probed = assign_clusters_multiprobe(
        corpus.select(id_col, vec_col),
        [centers[j] for j in dense],
        nprobe=min(gprobe, len(dense)),
        vec_col=vec_col,
    ).withColumnRenamed("cid", "_gid")

    def _sq(m):
        diff = F.zip_with(F.col(vec_col), m["c"], lambda a, b: a - b)
        return F.aggregate(
            F.zip_with(diff, diff, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    cand = F.transform(
        F.col("_members"),
        lambda m: F.struct(_sq(m).alias("dist"), m["cid"].alias("cid")),
    )
    per_probe = probed.join(F.broadcast(mdf), "_gid").select(
        id_col, cand.alias("_cand")
    )
    # cross-probe merge: flatten the probed groups' candidate arrays,
    # lexicographic struct sort == (dist, then cid) — the flat tie
    # rule — and keep the first nprobe (a cid lives in exactly one
    # group, so no duplicates to collapse)
    topn = per_probe.groupBy(id_col).agg(
        F.slice(
            F.array_sort(F.flatten(F.collect_list("_cand"))),
            1,
            nprobe,
        ).alias("_top")
    )
    exploded = topn.select(
        id_col, F.explode("_top").alias("_t")
    ).select(id_col, F.col("_t.cid").alias("cid"))
    return corpus.join(exploded, id_col)


#: mega-cell guard threshold for cell_knn_pairs. Cells at or under it
#: take the DEGENERATE single-split plan (k=1 — literally the plain
#: cid equi-join with a constant extra join key); bigger cells split
#: into ceil(n/cap) deterministic neighbor-splits so no join hash
#: bucket builds more than ~cap rows. Sized at 2x the
#: MULTIPROBE-EFFECTIVE design cell — nprobe(3) x the nlist ~ N/500
#: target = ~1500 expected rows per cid join key — so it arms only
#: for genuinely viral cells (a near-dup cluster packing its
#: replicas into one cell), never for healthy ones: the r8
#: same-session 30x A/B measured the split machinery at ~9% overhead
#: when armed on AVERAGE cells (152.8 s capped@1000 vs 139.8 s plain
#: on the dup-saturated corpus, whose max cell is only ~1.5x the
#: average — no skew to flatten, pure insurance cost). Identity is
#: law-tested at any cap; read at call time, so a test can patch it.
CELL_CAP = 3000


def cell_knn_pairs(
    probed: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "v",
    nrm_col: str = "nrm",
    cell_cap: int | None = None,
) -> DataFrame:
    """Scored, deduplicated ORDERED candidate pairs (query_id,
    neighbor_id, sim) over IVF cell-mates — the candidate stage of
    the corpus kNN graph, mega-cell-capped (r7 verdict #1).

    ``probed`` carries one row per (vector, probed cell): ``id_col``,
    ``vec_col`` (double array), ``nrm_col`` (precomputed l2 norm),
    ``cid``. The plain ``join(rhs, "cid")`` is quadratic in a cell's
    population AND lands each cell in ONE join hash bucket; here the
    neighbor side of any cell over ``cell_cap`` splits into
    ceil(n/cap) deterministic sub-cells (``pmod(xxhash64(id), k)``)
    and the query side replicates across them, so the same pair
    multiset emerges from bounded buckets (identity law-tested at any
    cap — the cap is plan-invisible to consumers and to the DuckDB
    oracle). Ordinary cells are the degenerate k=1 case: same plan,
    no branch, no extra stage. Cell populations come from a map-side-
    combinable groupBy broadcast back onto the corpus (nlist rows —
    the centroid set is already driver-sized by construction), so the
    corpus itself shuffles exactly once, on the (cid, split) join
    key.

    Each UNORDERED pair scores its cosine once (query_id <
    neighbor_id) and mirrors into both orientations: multiplication
    commutes and the fold order over dimensions is shared, so the
    mirrored sim is bit-identical to scoring the reversed pair."""
    cap = CELL_CAP if cell_cap is None else int(cell_cap)
    # probed feeds three consumers (counts, query side, neighbor
    # side); materialize once so the multiprobe assignment compute
    # never re-runs
    probed = probed.localCheckpoint(eager=True)
    cnt = probed.groupBy("cid").agg(F.count(F.lit(1)).alias("_n"))
    cellized = (
        probed.join(F.broadcast(cnt), "cid")
        .withColumn(
            "_k",
            F.when(F.col("_n") <= cap, F.lit(1))
            .otherwise(F.ceil(F.col("_n") / F.lit(cap)))
            .cast("int"),
        )
        .withColumn(
            "_s",
            F.pmod(F.xxhash64(F.col(id_col)), F.col("_k")).cast("int"),
        )
    )
    lhs = cellized.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        F.col(nrm_col).alias("_qn"),
        "cid",
        F.explode(F.sequence(F.lit(0), F.col("_k") - 1)).alias("_j"),
    )
    rhs = cellized.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_nv"),
        F.col(nrm_col).alias("_nn"),
        "cid",
        F.col("_s").alias("_j"),
    )
    sim = dot(F.col("_qv"), F.col("_nv")) / (F.col("_qn") * F.col("_nn"))
    half = (
        lhs.join(rhs, ["cid", "_j"])
        .where(F.col("query_id") < F.col("neighbor_id"))
        .select("query_id", "neighbor_id", sim.alias("sim"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return half.unionByName(
        half.select(
            F.col("neighbor_id").alias("query_id"),
            F.col("query_id").alias("neighbor_id"),
            "sim",
        )
    )
