"""Similarity-search queries over the embeddings table."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stock_trend_predictor_spark.functions.exact import stable_round, stable_round_sql
from stock_trend_predictor_spark.operators.similarity import (
    brute_force_topk,
    lsh_topk,
)
from stock_trend_predictor_spark.sources.tables import load_table

#: kNN label-vote parameters: fixed query-set size and vote k.
KNN_VOTE_NQ = 200
KNN_VOTE_K = 5

_COS_SQL = (
    "list_inner_product(CAST(c.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[]))"
    " / (sqrt(list_inner_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))"
    " * sqrt(list_inner_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[]))))"
)


def _pq_codes_oracle_sql() -> str:
    """DuckDB replay of the deterministic PQ codebook build + encode
    (operators/pq.py::pq_codebooks / pq_encode — m=16 subspaces of
    dsub=4 dims, ksub=16 centroids, 3 Lloyd rounds over the 64-dim
    embeddings).

    Float-parity ledger, term by term:
    - subvector loads: list element FLOAT -> DOUBLE casts are exact;
    - assignment distance: the literal left-associated expression
      numpy evaluates — ((c1²+c2²)+c3²)+c4² − 2·(((x1c1+x2c2)+x3c3)
      +x4c4) (numpy's axis-reductions and einsum loops are
      sequential below the 128-element pairwise threshold), ties to
      the lowest cid (argmin-first);
    - decimal mean terms: CAST(CAST(x AS VARCHAR) AS DECIMAL(38,18))
      — DuckDB's double->VARCHAR is the shortest repr, so the
      decimal term equals Spark's BigDecimal.valueOf(x).setScale(18,
      HALF_UP) (a DIRECT double->decimal cast would round the binary
      expansion instead and diverge at digits 17–18);
    - mean: CAST(CAST(sum AS VARCHAR) AS DOUBLE)/count — decimal ->
      VARCHAR is exact and VARCHAR -> DOUBLE is correctly rounded,
      i.e. exactly the driver's float(Decimal)/n;
    - empty cells keep the previous centroid (LEFT JOIN + coalesce).
    Residual ~1e-14 centroid noise cannot flip a code while the
    registry query's margin gate holds (see the register comment);
    recon_mse is compared under stable_round(6), wide enough for
    summation-order noise in the 64-term mean."""
    from stock_trend_predictor_spark.operators.pq import (
        PQ_ITERS,
        PQ_KSUB,
        PQ_M,
    )

    dsub = 4  # 64-dim embeddings / PQ_M=16
    xd = " + ".join(f"x.x{p} * cb.c{p}" for p in range(1, dsub + 1))
    cn = " + ".join(f"cb.c{p} * cb.c{p}" for p in range(1, dsub + 1))
    xcols = ",\n           ".join(
        f"CAST(e.embedding[s.sub * {dsub} + {p}] AS DOUBLE) AS x{p}"
        for p in range(1, dsub + 1)
    )
    seedcols = ",\n           ".join(
        f"CAST(r.embedding[s.sub * {dsub} + {p}] AS DOUBLE) AS c{p}"
        for p in range(1, dsub + 1)
    )
    parts = [
        f"""
WITH xs AS MATERIALIZED (
    SELECT e.vec_id, CAST(s.sub AS INT) AS sub,
           {xcols}
    FROM embeddings e, range({PQ_M}) s(sub)
), cb0 AS (
    SELECT CAST(s.sub AS INT) AS sub, CAST(r.rn - 1 AS INT) AS cid,
           {seedcols}
    FROM (SELECT embedding,
                 row_number() OVER (ORDER BY vec_id) AS rn
          FROM embeddings ORDER BY vec_id LIMIT {PQ_KSUB}) r,
         range({PQ_M}) s(sub)
)"""
    ]
    mucols = ",\n           ".join(
        f"CAST(CAST(SUM(CAST(CAST(x.x{p} AS VARCHAR) AS DECIMAL(38,18)))"
        f" AS VARCHAR) AS DOUBLE) / COUNT(*) AS c{p}"
        for p in range(1, dsub + 1)
    )
    cbcols = ",\n           ".join(
        f"coalesce(m.c{p}, p.c{p}) AS c{p}" for p in range(1, dsub + 1)
    )
    for i in range(1, PQ_ITERS + 1):
        parts.append(f""", a{i} AS (
    SELECT vec_id, sub, cid FROM (
        SELECT x.vec_id, x.sub, cb.cid,
               row_number() OVER (
                   PARTITION BY x.vec_id, x.sub
                   ORDER BY ({cn}) - 2.0 * ({xd}), cb.cid) AS rk
        FROM xs x JOIN cb{i - 1} cb ON cb.sub = x.sub
    ) WHERE rk = 1
), mu{i} AS (
    SELECT a.sub, a.cid,
           {mucols}
    FROM a{i} a JOIN xs x ON x.vec_id = a.vec_id AND x.sub = a.sub
    GROUP BY a.sub, a.cid
), cb{i} AS (
    SELECT p.sub, p.cid,
           {cbcols}
    FROM cb{i - 1} p LEFT JOIN mu{i} m
      ON m.sub = p.sub AND m.cid = p.cid
)""")
    sq = " + ".join(
        f"(x.x{p} - cb.c{p}) * (x.x{p} - cb.c{p})"
        for p in range(1, dsub + 1)
    )
    parts.append(f""", enc AS (
    SELECT vec_id, sub, cid, sqerr FROM (
        SELECT x.vec_id, x.sub, cb.cid,
               ({sq}) AS sqerr,
               row_number() OVER (
                   PARTITION BY x.vec_id, x.sub
                   ORDER BY ({cn}) - 2.0 * ({xd}), cb.cid) AS rk
        FROM xs x JOIN cb{PQ_ITERS} cb ON cb.sub = x.sub
    ) WHERE rk = 1
)
SELECT vec_id,
       list(cid ORDER BY sub) AS codes,
       {stable_round_sql(f'SUM(sqerr) / {PQ_M * dsub}', 6)} AS recon_mse
FROM enc
GROUP BY vec_id""")
    return "".join(parts)


def _mmr_oracle(k_steps: int, n_cand: int, lam: float) -> str:
    """The greedy MMR selection UNROLLED as chained CTEs (the
    bpe_train_merges treatment — a fixed selection budget needs no
    recursive CTE): step s{i} picks argmax of
    lam*rel - (1-lam)*max(sim to selected) with neighbor_id tie-break.
    Float parity: every dot product on both engines is the SAME
    sequential fold (list_inner_product == zip_with/aggregate ==
    the kernel's dimension-ordered outer-product accumulation), and
    the (1-lam) literal is emitted as repr(1-lam) so the IEEE
    subtraction artifact (0.30000000000000004) matches the Python
    kernel exactly."""
    one_minus = repr(1.0 - lam)
    parts = [
        f"""
WITH ev AS MATERIALIZED (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), q AS (SELECT vec_id, v FROM ev WHERE vec_id < 8),
cand AS MATERIALIZED (
    SELECT query_id, neighbor_id, rel FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               list_inner_product(c.v, q.v)
               / (sqrt(list_inner_product(q.v, q.v))
                  * sqrt(list_inner_product(c.v, c.v))) AS rel,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY list_inner_product(c.v, q.v)
                            / (sqrt(list_inner_product(q.v, q.v))
                               * sqrt(list_inner_product(c.v, c.v))) DESC,
                            c.vec_id) AS rn
        FROM ev c JOIN q ON c.vec_id != q.vec_id
    ) WHERE rn <= {n_cand}
), psim AS MATERIALIZED (
    SELECT a.query_id, a.neighbor_id AS n1, b.neighbor_id AS n2,
           list_inner_product(ea.v, eb.v)
           / (sqrt(list_inner_product(ea.v, ea.v))
              * sqrt(list_inner_product(eb.v, eb.v))) AS sim
    FROM cand a
    JOIN cand b ON a.query_id = b.query_id
                AND a.neighbor_id != b.neighbor_id
    JOIN ev ea ON ea.vec_id = a.neighbor_id
    JOIN ev eb ON eb.vec_id = b.neighbor_id
), s0(query_id, neighbor_id, rel, score, mmr_rank) AS (
    SELECT CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS INT) WHERE false
)"""
    ]
    for i in range(1, k_steps + 1):
        parts.append(f""", p{i} AS MATERIALIZED (
    SELECT query_id, neighbor_id, rel, score FROM (
        SELECT c.query_id, c.neighbor_id, c.rel,
               {lam!r} * c.rel
                 - COALESCE(pen.mx * {one_minus}, 0.0) AS score,
               row_number() OVER (
                   PARTITION BY c.query_id
                   ORDER BY {lam!r} * c.rel
                            - COALESCE(pen.mx * {one_minus}, 0.0) DESC,
                            c.neighbor_id) AS rn
        FROM cand c
        LEFT JOIN (
            SELECT p.query_id, p.n1 AS neighbor_id, max(p.sim) AS mx
            FROM psim p
            JOIN s{i - 1} s ON s.query_id = p.query_id
                           AND s.neighbor_id = p.n2
            GROUP BY p.query_id, p.n1
        ) pen ON pen.query_id = c.query_id
             AND pen.neighbor_id = c.neighbor_id
        WHERE NOT EXISTS (
            SELECT 1 FROM s{i - 1} s
            WHERE s.query_id = c.query_id
              AND s.neighbor_id = c.neighbor_id)
    ) WHERE rn = 1
), s{i} AS MATERIALIZED (
    SELECT * FROM s{i - 1}
    UNION ALL
    SELECT query_id, neighbor_id, rel, score, {i} FROM p{i}
)""")
    parts.append(f"""
SELECT query_id, neighbor_id,
       {stable_round_sql('rel', 6)} AS relevance,
       {stable_round_sql('score', 6)} AS mmr_score,
       CAST(mmr_rank AS INT) AS mmr_rank
FROM s{k_steps}
""")
    return "".join(parts)


def _register():
    from stock_trend_predictor_spark.plans.registry import register

    @register(
        "knn_bruteforce_cosine",
        oracle=f"""
WITH scored AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           {_COS_SQL} AS sim
    FROM embeddings c
    JOIN (SELECT * FROM embeddings WHERE vec_id < 8) q
      ON c.vec_id != q.vec_id
), ranked AS (
    SELECT query_id, neighbor_id, sim,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY sim DESC, neighbor_id) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, {stable_round_sql('sim', 6)} AS sim, rank
FROM ranked WHERE rank <= 10
""",
        doc="Exact brute-force cosine top-10 for 8 query vectors: "
        "broadcast queries against the corpus (single narrow corpus "
        "scan), sequential-fold dot product (bit-identical to DuckDB's "
        "list_inner_product), per-query ranked window. The exact "
        "baseline that the LSH path is recall-checked against.",
    )
    def knn_bruteforce_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
        emb = load_table(spark, sf_dir, "embeddings")
        res = brute_force_topk(emb, emb.where(F.col("vec_id") < 8), k=10)
        return res.select(
            "query_id",
            "neighbor_id",
            stable_round(F.col("sim"), 6).alias("sim"),
            "rank",
        )

    @register(
        "ann_lsh_cosine",
        oracle=None,  # approximate by design; recall-tested vs brute force
        doc="Approximate top-10 via multi-probe random-hyperplane LSH "
        "(L=24 tables x k=12 planes, Hamming-radius-2 query probes) — "
        "candidate scoring only within probed sign-pattern buckets. "
        "DEMOTED to the candidate-generation role since round 4: a "
        "measured sweep (hyperplane + cross-polytope families) shows "
        "no data-oblivious hash reaches recall 0.9 at probe <= 0.15 "
        "on this near-random corpus (LSH exponent rho ~ 0.73 puts the "
        "probe floor at ~0.135); ann_ivf_cosine is the declared ANN "
        "path. Current Pareto point: recall@10 0.938 at probe 0.401, "
        "published per round in RECALL.json. No SQL oracle "
        "(approximate); tests/test_similarity.py floors the recall.",
    )
    def ann_lsh_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
        emb = load_table(spark, sf_dir, "embeddings")
        res = lsh_topk(emb, emb.where(F.col("vec_id") < 8), k=10)
        return res.select(
            "query_id",
            "neighbor_id",
            stable_round(F.col("sim"), 6).alias("sim"),
            "rank",
        )

    # r8 verdict #4: the IVF search runs on the decimal-deterministic
    # quantizer (operators/ivf.kmeans_centroids), the exact property
    # that let knn_graph_ivf ship a full value-hash oracle — the
    # BLOCKING is the spec and DuckDB replays it: even-iterations
    # Lloyd (seeds = 16 lowest ids), corpus assignment = argmin with
    # lowest-cid ties, query probes = 2 nearest centroids, exact
    # cosine top-10 ranked on the RAW sim (rounding only at output,
    # like knn_bruteforce_cosine).
    from stock_trend_predictor_spark.plans.dedup_queries import (
        _DIST_SQL,
        _lloyd_ctes_sql,
    )

    _ivf_cos = (
        "list_inner_product(q.v, n.v) / "
        "(sqrt(list_inner_product(q.v, q.v)) * "
        "sqrt(list_inner_product(n.v, n.v)))"
    )

    @register(
        "ann_ivf_cosine",
        oracle=f"""
WITH {_lloyd_ctes_sql('16', 2)},
asg AS MATERIALIZED (
    SELECT vec_id, v, cid FROM (
        SELECT e.vec_id, e.v, c.cid,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY {_DIST_SQL}, c.cid) AS rn
        FROM e CROSS JOIN c2 c
    ) WHERE rn = 1
), qp AS (
    SELECT vec_id, v, cid FROM (
        SELECT e.vec_id, e.v, c.cid,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY {_DIST_SQL}, c.cid) AS rn
        FROM (SELECT * FROM e WHERE vec_id < 8) e CROSS JOIN c2 c
    ) WHERE rn <= 2
), scored AS (
    SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
           {_ivf_cos} AS sim
    FROM qp q JOIN asg n
      ON n.cid = q.cid AND n.vec_id != q.vec_id
), ranked AS (
    SELECT query_id, neighbor_id, sim,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY sim DESC, neighbor_id) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, {stable_round_sql('sim', 6)} AS sim,
       CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 10
""",
        doc="IVF approximate top-10 — the DECLARED ANN path: "
        "deterministic Lloyd's k-means coarse quantizer "
        "(DataFrame-native iterations — only the nlist x dim centroid "
        "matrix crosses the driver per round), then exact cosine "
        "within each query's nprobe=2 of nlist=16 clusters. Measured "
        "recall@10 1.000 at probe fraction 0.123 (RECALL.json) — the "
        "data-ADAPTIVE quantizer beats the data-oblivious LSH "
        "theoretical probe floor (~0.135) on this corpus. Probe cost "
        "~ nprobe/nlist of the corpus; at scale the cluster id "
        "becomes the partition column so probes prune files. FULL "
        "value-hash oracle since r9 (r8 verdict #4): the decimal-"
        "deterministic quantizer makes the blocking replayable, so "
        "correctness is exact while recall vs brute force (asserted "
        "in tests/test_similarity.py) stays the published quality "
        "dial. Scale-9 decimal sums keep the replay bit-exact up to "
        "~10^7 corpus rows per cell-dim — far past every oracle SF.",
    )
    def ann_ivf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
        from stock_trend_predictor_spark.operators.ivf import ivf_topk

        emb = load_table(spark, sf_dir, "embeddings")
        res = ivf_topk(emb, emb.where(F.col("vec_id") < 8), k=10)
        return res.select(
            "query_id",
            "neighbor_id",
            stable_round(F.col("sim"), 6).alias("sim"),
            "rank",
        )

    @register(
        "pq_embedding_codes",
        # Full oracle since r9 (was rows-only): the decimal-sum Lloyd
        # makes every codebook value a pure function of the
        # assignment sets, so DuckDB replays the whole build as
        # chained CTEs — seeds (lowest-16 rows' subvectors), then per
        # iteration one assignment (row_number over the EXACT
        # float expression numpy evaluates: left-associated
        # cnorm2 - 2*dot, cid tie-break = argmin-first) and one
        # decimal mean (terms cast via VARCHAR so DuckDB rounds the
        # SHORTEST double repr exactly like Spark's
        # BigDecimal.valueOf; the sum re-reads as VARCHAR -> DOUBLE,
        # i.e. the correctly-rounded float(Decimal) the driver
        # computes), empty cells keeping the previous centroid.
        # Cross-engine decimal-cast noise can still perturb replayed
        # centroids by ~1e-14 relative, so code equality is
        # engine-exact ONLY while every argmin margin dominates it:
        # the registry query measures the min margin per Lloyd round
        # plus the final encode (operators/pq.py::
        # pq_min_assign_margin) under SPARK_GRAFT_ORACLE_RUN and
        # raises RuntimeError below 1e-9 (measured: 3.3e-7 at
        # sf0.001, 2.5e-6 at sf0.01 — five orders of headroom over
        # the noise, three under the gate). recon_mse compares under
        # stable_round(6); the numpy-replication law stays.
        oracle=_pq_codes_oracle_sql(),
        doc="Product-quantization encoding of the embeddings table "
        "(Jegou et al. 2011): 16 subspaces x 16 centroids (4-bit "
        "codes) from the deterministic per-subspace Lloyd build, "
        "encoded in one Arrow matmul pass — output is (vec_id, 16 "
        "codes, reconstruction MSE). The memory half of the "
        "billion-scale ANN layout next to ann_ivf_cosine: a 64-dim "
        "float32 vector becomes 16 4-bit codes (32x smaller "
        "residency). Laws: exact equality with a local numpy PQ and "
        "a mean-reconstruction-error ceiling (operators/pq.py).",
    )
    def pq_embedding_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
        import os

        from stock_trend_predictor_spark.operators.pq import (
            pq_codebooks,
            pq_encode,
            pq_min_assign_margin,
        )
        from stock_trend_predictor_spark.operators.similarity import (
            as_double,
        )

        emb = load_table(spark, sf_dir, "embeddings")
        probe = (
            [] if os.environ.get("SPARK_GRAFT_ORACLE_RUN") else None
        )
        books = pq_codebooks(emb, margin_probe=probe)
        if probe is not None:
            import numpy as np

            probe.append(
                pq_min_assign_margin(
                    emb.select(as_double("embedding").alias("v")),
                    np.asarray(books, dtype=np.float64),
                )
            )
            if min(probe) < 1e-9:
                raise RuntimeError(
                    "pq_embedding_codes oracle regime violated: min "
                    f"argmin margin {min(probe):.3e} < 1e-9 — the "
                    "~1e-14 cross-engine decimal-cast noise in the "
                    "replayed centroids could flip a code; rerun "
                    "without the oracle or retune the gate"
                )
        return pq_encode(emb, books).select(
            "vec_id",
            "codes",
            stable_round(F.col("recon_mse"), 6).alias("recon_mse"),
        )

    @register(
        "ann_pq_adc_cosine",
        oracle=None,  # approximate by design; recall published in
        # RECALL.json and floor-asserted in tests/test_round4.py
        doc="Approximate top-10 by ADC (asymmetric distance "
        "computation) over PQ codes with an exact refine stage — the "
        "standard FAISS-style IVFPQ+refine pipeline: each of the 8 "
        "fixed queries carries an exact subvector-centroid "
        "lookup table in the task closure (16x16 at the tuned m=16); "
        "the corpus side streams "
        "ONLY (id, codes) for the shortlist scan (the PQ memory "
        "contract at 100 TB — original vectors untouched for the "
        "full corpus), then the 200-per-query shortlist alone is "
        "re-scored against true vectors (a broadcast of NQ x 200 ids "
        "into one narrow corpus scan). Completes the IVF (probe "
        "pruning) + PQ (residency compression) story; recall@10 vs "
        "brute force published per round in RECALL.json.",
    )
    def ann_pq_adc_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
        from stock_trend_predictor_spark.operators.pq import (
            pq_adc_topk,
            pq_codebooks,
            pq_encode,
        )
        from stock_trend_predictor_spark.operators.similarity import (
            as_double,
            cosine,
        )

        emb = load_table(spark, sf_dir, "embeddings")
        queries = emb.where(F.col("vec_id") < 8)
        books = pq_codebooks(emb)
        codes = pq_encode(emb, books)
        from stock_trend_predictor_spark.operators.pq import (
            PQ_REFINE_SHORTLIST,
        )

        shortlist = pq_adc_topk(
            codes, queries, books, k=PQ_REFINE_SHORTLIST
        ).select("query_id", "neighbor_id")
        qv = queries.select(
            F.col("vec_id").alias("query_id"),
            as_double("embedding").alias("qv"),
        )
        refined = (
            emb.select(
                F.col("vec_id").alias("neighbor_id"),
                as_double("embedding").alias("cv"),
            )
            .join(F.broadcast(shortlist), "neighbor_id")
            .join(F.broadcast(qv), "query_id")
            .select(
                "query_id",
                "neighbor_id",
                cosine(F.col("qv"), F.col("cv")).alias("sim"),
            )
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("sim").desc(), F.col("neighbor_id")
        )
        return (
            refined.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 10)
            .select(
                "query_id",
                "neighbor_id",
                stable_round(F.col("sim"), 6).alias("sim"),
                "rank",
            )
        )

    @register(
        "ann_ivfpq_cosine",
        oracle=None,  # approximate by design; recall published in
        # RECALL.json and floor-asserted in tests/test_round4.py
        doc="The full billion-scale ANN layout in ONE query — "
        "IVF + PQ + refine, the canonical FAISS IVFPQ pipeline: the "
        "coarse quantizer prunes the probe to each query's nprobe=2 "
        "of 16 cells (probe fraction ~0.12 — at 100 TB the cell id "
        "is the partition column, so this prunes FILES), ADC scores "
        "only the probed cells' PQ codes (8 B/vec residency — "
        "original vectors untouched), and the exact refine stage "
        "re-scores the 200-deep shortlist against true vectors. "
        "Composes kmeans_centroids/assign_clusters (operators/ivf.py) "
        "with pq_codebooks/pq_encode/pq_adc_score_pairs "
        "(operators/pq.py). At this bench SF the probed cells hold "
        "only ~250 candidates so the ADC cut is mild by construction "
        "(documented); at real cell sizes the 200-of-cell shortlist "
        "is the point. Recall@10 vs brute force per round in "
        "RECALL.json.",
    )
    def ann_ivfpq_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
        from stock_trend_predictor_spark.operators.ivf import (
            _sq_dist_to,
            assign_clusters,
            kmeans_centroids,
        )
        from stock_trend_predictor_spark.operators.pq import (
            PQ_REFINE_SHORTLIST,
            pq_adc_score_pairs,
            pq_codebooks,
            pq_encode,
        )
        from stock_trend_predictor_spark.operators.similarity import (
            as_double,
            cosine,
        )

        emb = load_table(spark, sf_dir, "embeddings")
        queries = emb.where(F.col("vec_id") < 8)

        cvec = emb.select(
            F.col("vec_id"), as_double("embedding").alias("cv")
        )
        cents = kmeans_centroids(
            cvec, k=16, iters=2, id_col="vec_id", vec_col="cv"
        )
        assigned = assign_clusters(cvec, cents, "cv").select(
            "vec_id", "cid"
        )
        books = pq_codebooks(emb)
        codes = pq_encode(emb, books).join(assigned, "vec_id")

        qd = queries.select(
            F.col("vec_id").alias("query_id"),
            as_double("embedding").alias("qv"),
        ).withColumn(
            "_d", F.array(*[_sq_dist_to(F.col("qv"), cc) for cc in cents])
        )
        qprobe = qd.select(
            "query_id",
            F.explode(
                F.slice(
                    F.transform(
                        F.array_sort(
                            F.zip_with(
                                F.col("_d"),
                                F.sequence(F.lit(0), F.lit(len(cents) - 1)),
                                lambda d, i: F.struct(
                                    d.alias("d"), i.alias("i")
                                ),
                            )
                        ),
                        lambda st: st["i"],
                    ),
                    1,
                    2,
                )
            ).alias("cid"),
        )
        cand = (
            codes.join(F.broadcast(qprobe), "cid")
            .where(F.col("vec_id") != F.col("query_id"))
            .select(
                "query_id",
                F.col("vec_id").alias("neighbor_id"),
                "codes",
            )
        )
        scored = pq_adc_score_pairs(cand, queries, books)
        wsl = Window.partitionBy("query_id").orderBy(
            F.col("sim_adc").desc(), F.col("neighbor_id")
        )
        shortlist = (
            scored.withColumn("_r", F.row_number().over(wsl))
            .where(F.col("_r") <= PQ_REFINE_SHORTLIST)
            .select("query_id", "neighbor_id")
        )
        qv = queries.select(
            F.col("vec_id").alias("query_id"),
            as_double("embedding").alias("qv"),
        )
        refined = (
            emb.select(
                F.col("vec_id").alias("neighbor_id"),
                as_double("embedding").alias("cv"),
            )
            .join(F.broadcast(shortlist), "neighbor_id")
            .join(F.broadcast(qv), "query_id")
            .select(
                "query_id",
                "neighbor_id",
                cosine(F.col("qv"), F.col("cv")).alias("sim"),
            )
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("sim").desc(), F.col("neighbor_id")
        )
        return (
            refined.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 10)
            .select(
                "query_id",
                "neighbor_id",
                stable_round(F.col("sim"), 6).alias("sim"),
                "rank",
            )
        )

    @register(
        "array_function_battery",
        oracle=f"""
WITH e AS (
    SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
)
SELECT vec_id, label,
       len(v) AS dims,
       len(list_filter(v, x -> x > 0)) AS n_positive,
       CAST(list_max(v) AS DOUBLE) AS max_coord,
       {stable_round_sql(
           'list_aggregate(list_transform(v, x -> abs(x)), '
           "'sum')", 6)} AS l1_norm,
       CAST(list_contains(list_transform(v, x -> x > 0.5), true) AS INT)
         AS any_gt_half,
       {stable_round_sql('list_sort(v, ' + "'DESC'" + ')[1] + '
                         'list_sort(v, ' + "'DESC'" + ')[2]', 6)}
         AS top2_sum
FROM e
""",
        doc="Array higher-order-function battery over the embedding "
        "column: size, filter-count, max, transform+aggregate L1 norm, "
        "exists, sort+slice — the ArrayType surface (SURVEY §1.2's "
        "new-engine type additions), all codegen'd, mirrored by "
        "DuckDB's list_* functions. Note: sequential-fold aggregate "
        "keeps cross-engine bit-exactness for the L1 sum.",
    )
    def array_function_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
        from stock_trend_predictor_spark.operators.similarity import as_double

        e = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "label", as_double("embedding").alias("v")
        )
        v = F.col("v")
        desc = F.reverse(F.array_sort(v))
        return e.select(
            "vec_id",
            "label",
            F.size(v).alias("dims"),
            F.size(F.filter(v, lambda x: x > 0)).alias("n_positive"),
            F.array_max(v).cast("double").alias("max_coord"),
            stable_round(
                F.aggregate(
                    F.transform(v, F.abs),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                6,
            ).alias("l1_norm"),
            F.exists(v, lambda x: x > 0.5).cast("int").alias("any_gt_half"),
            stable_round(
                F.element_at(desc, 1) + F.element_at(desc, 2), 6
            ).alias("top2_sum"),
        )

    @register(
        "embedding_int8_quantize",
        oracle=f"""
WITH e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), scaled AS (
    SELECT vec_id, v,
           127.0 / greatest(list_max(list_transform(v, x -> abs(x))), 1e-12)
             AS scale
    FROM e
)
SELECT vec_id,
       {stable_round_sql('scale', 6)} AS scale,
       CAST(list_aggregate(
            list_transform(v, x -> CAST(floor(x * scale + 0.5) AS BIGINT)),
            'sum') AS BIGINT) AS q_checksum,
       CAST(len(list_filter(
            list_transform(v, x -> CAST(floor(x * scale + 0.5) AS BIGINT)),
            q -> abs(q) = 127)) AS BIGINT) AS n_saturated
FROM scaled
""",
        doc="Symmetric int8 quantization of the embedding column (the "
        "4x storage shrink a 100 TB vector corpus ships with): "
        "per-vector scale = 127/max|x|, elementwise floor(x*scale+0.5) "
        "— the one rounding formula with identical semantics in both "
        "engines. Narrow, pure codegen; outputs the scale plus a "
        "checksum/saturation count over the quantized vector (the "
        "array itself stays internal — driver hashing cannot take "
        "array columns).",
    )
    def embedding_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
        from stock_trend_predictor_spark.operators.similarity import as_double

        e = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", as_double("embedding").alias("v")
        )
        scale = F.lit(127.0) / F.greatest(
            F.array_max(F.transform(F.col("v"), F.abs)), F.lit(1e-12)
        )
        scaled = e.withColumn("scale", scale)
        q = F.transform(
            F.col("v"),
            lambda x: F.floor(x * F.col("scale") + F.lit(0.5)).cast("bigint"),
        )
        qb = scaled.withColumn("q", q)
        return qb.select(
            "vec_id",
            stable_round(F.col("scale"), 6).alias("scale"),
            F.aggregate(
                F.col("q"), F.lit(0).cast("bigint"), lambda acc, x: acc + x
            ).alias("q_checksum"),
            F.size(F.filter(F.col("q"), lambda v: F.abs(v) == 127))
            .cast("bigint")
            .alias("n_saturated"),
        )

    @register(
        "embedding_norm_stats",
        oracle=f"""
SELECT label,
       count(*) AS n_vectors,
       {stable_round_sql(
           'min(sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),'
           ' CAST(embedding AS DOUBLE[]))))', 6)} AS min_norm,
       {stable_round_sql(
           'max(sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),'
           ' CAST(embedding AS DOUBLE[]))))', 6)} AS max_norm
FROM embeddings
GROUP BY label
""",
        doc="Per-label L2-norm stats — vector math entirely in "
        "codegen'd higher-order expressions; min/max are order-"
        "independent so no decimal trick needed.",
    )
    def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
        from stock_trend_predictor_spark.operators.similarity import as_double, l2norm

        emb = load_table(spark, sf_dir, "embeddings")
        norm = l2norm(as_double("embedding"))
        return (
            emb.select("label", norm.alias("norm"))
            .groupBy("label")
            .agg(
                F.count(F.lit(1)).alias("n_vectors"),
                stable_round(F.min("norm"), 6).alias("min_norm"),
                stable_round(F.max("norm"), 6).alias("max_norm"),
            )
        )

    centroid_cos_sql = stable_round_sql(
        "CAST(dot AS DOUBLE)"
        " / nullif(sqrt(CAST(na2 AS DOUBLE) * CAST(nb2 AS DOUBLE)), 0)",
        6,
    )

    @register(
        "label_centroid_distances",
        oracle="""
WITH dims AS (
    SELECT label, i.i AS dim, CAST(embedding[i.i] AS DOUBLE) AS v
    FROM embeddings, (SELECT unnest(range(1, 65)) AS i) AS i
), s AS (
    SELECT label, dim,
           CAST(floor(sum(v) * 1000000.0 + 0.5) / 1000000.0
                AS DECIMAL(15,6)) AS s
    FROM dims
    GROUP BY label, dim
), pairs AS (
    SELECT a.label AS label_a, b.label AS label_b,
           -- DECIMAL(19,6) operand casts force DuckDB's int128
           -- multiply path (see rolling_pair_correlation note)
           CAST(sum(CAST(a.s AS DECIMAL(19,6)) * CAST(b.s AS DECIMAL(19,6)))
                AS DECIMAL(38,12)) AS dot,
           CAST(sum(CAST(a.s AS DECIMAL(19,6)) * CAST(a.s AS DECIMAL(19,6)))
                AS DECIMAL(38,12)) AS na2,
           CAST(sum(CAST(b.s AS DECIMAL(19,6)) * CAST(b.s AS DECIMAL(19,6)))
                AS DECIMAL(38,12)) AS nb2
    FROM s a
    JOIN s b ON a.dim = b.dim AND a.label < b.label
    GROUP BY a.label, b.label
)
SELECT label_a, label_b, {centroid_cos_sql} AS centroid_cos
FROM pairs
""".replace("{centroid_cos_sql}", centroid_cos_sql),
        doc="Inter-class centroid similarity matrix — the embedding-"
        "space class-separation audit (confusable-label detection) a "
        "training pipeline runs on labeled embeddings. Centroid "
        "cosine == sum-vector cosine (scale invariance), so no "
        "division by counts is needed: per-(label, dim) sums reduce "
        "map-side (d doubles per label cross the shuffle, never "
        "vectors), are pinned to exact 6-dp decimals (absorbing "
        "double-summation order noise), and every downstream product/"
        "sum is decimal-exact — the pairwise stage is bit-"
        "deterministic by construction. The label-pair join is over "
        "#labels x d rows: broadcast-sized at any corpus scale.",
    )
    def label_centroid_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
        emb = load_table(spark, sf_dir, "embeddings")
        dims = emb.select(
            "label", F.posexplode("embedding").alias("dim", "v")
        ).select("label", "dim", F.col("v").cast("double").alias("v"))
        s = dims.groupBy("label", "dim").agg(
            stable_round(F.sum("v"), 6).cast("decimal(15,6)").alias("s")
        )
        a = s.select(
            F.col("label").alias("label_a"), "dim", F.col("s").alias("sa")
        )
        b = s.select(
            F.col("label").alias("label_b"), "dim", F.col("s").alias("sb")
        )
        pairs = (
            a.join(b, "dim")
            .where(F.col("label_a") < F.col("label_b"))
            .groupBy("label_a", "label_b")
            .agg(
                F.sum(F.col("sa") * F.col("sb"))
                .cast("decimal(38,12)")
                .alias("dot"),
                F.sum(F.col("sa") * F.col("sa"))
                .cast("decimal(38,12)")
                .alias("na2"),
                F.sum(F.col("sb") * F.col("sb"))
                .cast("decimal(38,12)")
                .alias("nb2"),
            )
        )
        return pairs.select(
            "label_a",
            "label_b",
            stable_round(
                F.col("dot").cast("double")
                / F.nullif(
                    F.sqrt(
                        F.col("na2").cast("double")
                        * F.col("nb2").cast("double")
                    ),
                    F.lit(0.0),
                ),
                6,
            ).alias("centroid_cos"),
        )

    @register(
        "mmr_diverse_topk",
        oracle=_mmr_oracle(10, 50, 0.7),
        # + exact-equality Python law in tests/test_similarity.py
        doc="Maximal Marginal Relevance diverse top-10 for the same 8 "
        "query vectors as knn_bruteforce_cosine: exact top-50 "
        "candidates per query (broadcast queries, narrow corpus scan, "
        "heap cut), then the greedy lam=0.7 MMR selection inside ONE "
        "Arrow batch per query (operators/similarity.py::mmr_rerank). "
        "The curation/retrieval operator that stops near-duplicate "
        "neighbors from crowding a result set — candidate generation "
        "scales with the corpus, the k x 50 x dim selection never "
        "shuffles. Deterministic: ties select the lowest neighbor_id.",
    )
    def mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
        from stock_trend_predictor_spark.operators.similarity import mmr_rerank

        emb = load_table(spark, sf_dir, "embeddings")
        cands = brute_force_topk(emb, emb.where(F.col("vec_id") < 8), k=50)
        res = mmr_rerank(cands, emb, k=10, lam=0.7)
        return res.select(
            "query_id",
            "neighbor_id",
            stable_round(F.col("relevance"), 6).alias("relevance"),
            stable_round(F.col("mmr_score"), 6).alias("mmr_score"),
            "mmr_rank",
        )


_register()


def _register_vote():
    from stock_trend_predictor_spark.plans.registry import register

    @register(
        "knn_label_vote",
        oracle=f"""
WITH q AS (
    SELECT * FROM embeddings WHERE vec_id < {KNN_VOTE_NQ}
), scored AS (
    SELECT q.vec_id AS query_id, q.label AS true_label,
           c.vec_id AS neighbor_id, c.label AS cand_label,
           {_COS_SQL} AS sim
    FROM embeddings c JOIN q ON c.vec_id != q.vec_id
), ranked AS (
    SELECT query_id, true_label, cand_label,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY sim DESC, neighbor_id) AS rank
    FROM scored
), votes AS (
    SELECT query_id, true_label, cand_label,
           CAST(count(*) AS BIGINT) AS n_votes
    FROM ranked WHERE rank <= {KNN_VOTE_K}
    GROUP BY 1, 2, 3
), pred AS (
    SELECT query_id, true_label, cand_label AS pred_label,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY n_votes DESC, cand_label) AS rk
    FROM votes
)
SELECT true_label AS label,
       CAST(count(*) AS BIGINT) AS n_queries,
       CAST(count(*) FILTER (WHERE pred_label = true_label) AS BIGINT)
           AS n_correct,
       {stable_round_sql(
           "CAST(count(*) FILTER (WHERE pred_label = true_label)"
           " AS DOUBLE) / count(*)", 6)} AS accuracy
FROM pred WHERE rk = 1
GROUP BY 1
""",
        doc=f"Leave-one-out {KNN_VOTE_K}-NN classification over the "
        f"embedding column: the first {KNN_VOTE_NQ} vectors are "
        f"classified by majority label vote of their {KNN_VOTE_K} "
        f"nearest cosine neighbors (self excluded), reporting "
        f"accuracy per true label — the standard embedding-quality "
        f"probe run before trusting vectors for semantic dedup. "
        f"Same broadcast-queries-scan-corpus-once shape as "
        f"knn_bruteforce_cosine (queries are a FIXED count, so cost "
        f"stays #queries x corpus at any SF); vote argmax tie-breaks "
        f"(votes DESC, label) and neighbor ranking (sim DESC, id), "
        f"so the verdicts are deterministic end-to-end.",
    )
    def knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
        emb = load_table(spark, sf_dir, "embeddings")
        labels = emb.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("cand_label"),
        )
        qlab = emb.where(F.col("vec_id") < KNN_VOTE_NQ).select(
            F.col("vec_id").alias("query_id"),
            F.col("label").alias("true_label"),
        )
        res = brute_force_topk(
            emb, emb.where(F.col("vec_id") < KNN_VOTE_NQ), k=KNN_VOTE_K
        )
        # broadcast the NQ x K vote table (the genuinely small side)
        # against the corpus-sized labels frame — labels is scanned
        # once and never shuffled OR broadcast; qlab is query-filtered
        # (NQ rows) so its broadcast is parameter-sized too
        votes = (
            labels.join(F.broadcast(res), "neighbor_id")
            .join(F.broadcast(qlab), "query_id")
            .groupBy("query_id", "true_label", "cand_label")
            .agg(F.count(F.lit(1)).alias("n_votes"))
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("n_votes").desc(), "cand_label"
        )
        pred = (
            votes.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") == 1)
        )
        hit = F.when(
            F.col("cand_label") == F.col("true_label"), 1
        ).otherwise(0)
        return pred.groupBy(F.col("true_label").alias("label")).agg(
            F.count(F.lit(1)).alias("n_queries"),
            F.sum(hit).alias("n_correct"),
            stable_round(
                F.sum(hit).cast("double") / F.count(F.lit(1)), 6
            ).alias("accuracy"),
        )


_register_vote()


def _register_retrieval_metrics():
    from stock_trend_predictor_spark.plans.registry import register

    @register(
        "knn_retrieval_metrics",
        oracle=f"""
WITH q AS (
    SELECT * FROM embeddings WHERE vec_id < {KNN_VOTE_NQ}
), scored AS (
    SELECT q.vec_id AS query_id, q.label AS true_label,
           c.vec_id AS neighbor_id, c.label AS cand_label,
           {_COS_SQL} AS sim
    FROM embeddings c JOIN q ON c.vec_id != q.vec_id
), ranked AS (
    SELECT query_id, true_label, cand_label,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY sim DESC, neighbor_id) AS rnk
    FROM scored
), top10 AS (
    SELECT query_id, true_label, rnk,
           CAST(cand_label = true_label AS INT) AS rel
    FROM ranked WHERE rnk <= 10
), per_query AS (
    SELECT query_id, any_value(true_label) AS true_label,
           CAST(SUM(rel) AS DOUBLE) / 10 AS p_at_10,
           COALESCE(1.0 / MIN(CASE WHEN rel = 1 THEN rnk END), 0.0)
               AS rr,
           SUM(rel / log2(CAST(rnk + 1 AS DOUBLE))) AS dcg
    FROM top10 GROUP BY query_id
), ideal AS (
    -- IDCG@10: all of the query's relevant hits packed at the top
    SELECT query_id,
           SUM(1.0 / log2(CAST(i + 1 AS DOUBLE))) AS idcg
    FROM (
        SELECT t.query_id, unnest(range(1, CAST(n_rel AS INTEGER) + 1)) AS i
        FROM (SELECT query_id, SUM(rel) AS n_rel FROM top10
              GROUP BY query_id) t
        WHERE n_rel > 0
    ) GROUP BY query_id
)
SELECT p.true_label AS label,
       CAST(count(*) AS BIGINT) AS n_queries,
       {stable_round_sql('avg(p.p_at_10)', 6)} AS mean_p_at_10,
       {stable_round_sql('avg(p.rr)', 6)} AS mrr,
       {stable_round_sql(
           'avg(CASE WHEN i.idcg IS NULL THEN 0.0'
           ' ELSE p.dcg / i.idcg END)', 6)} AS mean_ndcg_at_10
FROM per_query p LEFT JOIN ideal i ON i.query_id = p.query_id
GROUP BY 1
""",
        doc=f"Retrieval-quality metrics for the embedding index, per "
        f"true label: precision@10, MRR, and NDCG@10 with binary "
        f"relevance = neighbor shares the query's label, over the "
        f"exact cosine top-10 of the first {KNN_VOTE_NQ} vectors — "
        f"the eval-tier companion to knn_label_vote (accuracy says "
        f"WHETHER the vote wins; NDCG says how well the RANKING "
        f"concentrates relevant neighbors at the top, which is what "
        f"a semantic-dedup or RAG consumer of these vectors actually "
        f"experiences). IDCG packs each query's realized relevant "
        f"count at the head, so NDCG is 1.0 exactly when all "
        f"relevant hits outrank all irrelevant ones; queries with "
        f"zero relevant neighbors contribute 0 (documented, matched "
        f"in the oracle). Same broadcast-queries/narrow-corpus scan "
        f"as every knn query; the metric arithmetic runs on the "
        f"NQ x 10 ranked table — driver-sized at any corpus scale. "
        f"avg() over per-query doubles is order-dependent at the "
        f"1e-16 level, hidden by stable rounding at 1e-6 (same "
        f"contract as auc_roc_movement).",
    )
    def knn_retrieval_metrics(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        emb = load_table(spark, sf_dir, "embeddings")
        labels = emb.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("cand_label"),
        )
        qlab = emb.where(F.col("vec_id") < KNN_VOTE_NQ).select(
            F.col("vec_id").alias("query_id"),
            F.col("label").alias("true_label"),
        )
        top10 = brute_force_topk(
            emb, emb.where(F.col("vec_id") < KNN_VOTE_NQ), k=10
        )
        rel_rows = (
            labels.join(F.broadcast(top10), "neighbor_id")
            .join(F.broadcast(qlab), "query_id")
            .select(
                "query_id",
                "true_label",
                F.col("rank").alias("rnk"),
                (F.col("cand_label") == F.col("true_label"))
                .cast("int")
                .alias("rel"),
            )
        )
        per_query = rel_rows.groupBy("query_id").agg(
            F.any_value("true_label").alias("true_label"),
            (F.sum("rel").cast("double") / F.lit(10)).alias("p_at_10"),
            F.coalesce(
                F.lit(1.0)
                / F.min(F.when(F.col("rel") == 1, F.col("rnk"))),
                F.lit(0.0),
            ).alias("rr"),
            F.sum(
                F.col("rel")
                / F.log2((F.col("rnk") + 1).cast("double"))
            ).alias("dcg"),
            F.sum("rel").alias("n_rel"),
        )
        ideal = (
            per_query.where(F.col("n_rel") > 0)
            .select(
                "query_id",
                F.explode(
                    F.sequence(F.lit(1), F.col("n_rel").cast("int"))
                ).alias("i"),
            )
            .groupBy("query_id")
            .agg(
                F.sum(
                    F.lit(1.0) / F.log2((F.col("i") + 1).cast("double"))
                ).alias("idcg")
            )
        )
        joined = per_query.join(ideal, "query_id", "left")
        ndcg = F.when(
            F.col("idcg").isNull(), F.lit(0.0)
        ).otherwise(F.col("dcg") / F.col("idcg"))
        return joined.groupBy(F.col("true_label").alias("label")).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_queries"),
            stable_round(F.avg("p_at_10"), 6).alias("mean_p_at_10"),
            stable_round(F.avg("rr"), 6).alias("mrr"),
            stable_round(F.avg(ndcg), 6).alias("mean_ndcg_at_10"),
        )


_register_retrieval_metrics()



def _register_maintained_ivf():
    from stock_trend_predictor_spark.plans.dedup_queries import (
        _DIST_SQL,
        _lloyd_ctes_sql,
    )
    from stock_trend_predictor_spark.plans.registry import register

    # r8 verdict #4: the maintained index is replayable end-to-end —
    # the frozen trainer is even-id-trained decimal Lloyd (seeds = 16
    # lowest EVEN ids), the folded per-cell sufficient stats are
    # order-free DECIMAL(38,12) sums whose union over the two batches
    # equals ONE decimal mean over the full corpus assigned under the
    # frozen trainer (maintained_centroids' float(s)/n == DuckDB's
    # CAST(decimal AS DOUBLE)/n, bit-equal while n*10^12 < 2^53 — the
    # registry fn gates the oracle regime), and the serve path is
    # ivf_topk under the refreshed centroids at nprobe=4.
    _m_cos = (
        "list_inner_product(q.v, n.v) / "
        "(sqrt(list_inner_product(q.v, q.v)) * "
        "sqrt(list_inner_product(n.v, n.v)))"
    )

    @register(
        "ann_ivf_maintained",
        oracle=f"""
WITH {_lloyd_ctes_sql('16', 2, train_where='WHERE vec_id % 2 = 0')},
a0 AS MATERIALIZED (
    -- full-corpus assignment under the FROZEN first-batch trainer
    -- (both folded batches use it; decimal sums are order-free, so
    -- the union of batch stats == one corpus-wide aggregate)
    SELECT vec_id, v, cid FROM (
        SELECT e.vec_id, e.v, c.cid,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY {_DIST_SQL}, c.cid) AS rn
        FROM e CROSS JOIN c2 c
    ) WHERE rn = 1
), cm AS MATERIALIZED (
    -- maintained centroids: per-cell decimal mean of every folded
    -- vector, seed centroid where no vector ever landed
    SELECT p.cid, COALESCE(m.c, p.c) AS c
    FROM c2 p LEFT JOIN (
        SELECT cid, list(mu ORDER BY dim) AS c FROM (
            SELECT cid, dim,
                   CAST(sum(CAST(x AS DECIMAL(38,12))) AS DOUBLE)
                       / count(*) AS mu
            FROM (SELECT cid, unnest(v) AS x,
                         unnest(range(1, len(v) + 1)) AS dim
                  FROM a0)
            GROUP BY cid, dim
        ) GROUP BY cid
    ) m ON m.cid = p.cid
), am AS MATERIALIZED (
    -- serve-time corpus assignment under the REFRESHED quantizer
    SELECT vec_id, v, cid FROM (
        SELECT e.vec_id, e.v, c.cid,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY {_DIST_SQL}, c.cid) AS rn
        FROM e CROSS JOIN cm c
    ) WHERE rn = 1
), qp AS (
    SELECT vec_id, v, cid FROM (
        SELECT e.vec_id, e.v, c.cid,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY {_DIST_SQL}, c.cid) AS rn
        FROM (SELECT * FROM e WHERE vec_id < 8) e CROSS JOIN cm c
    ) WHERE rn <= 4
), scored AS (
    SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
           {_m_cos} AS sim
    FROM qp q JOIN am n
      ON n.cid = q.cid AND n.vec_id != q.vec_id
), ranked AS (
    SELECT query_id, neighbor_id, sim,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY sim DESC, neighbor_id) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, {stable_round_sql('sim', 6)} AS sim,
       CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 10
""",
        doc="ANN search served from the CONTINUOUSLY MAINTAINED IVF "
        "index (streaming/ivf_maintenance.py, r4 verdict #7): the "
        "embeddings arrive as two micro-batches folded into the "
        "versioned state store as per-cell (count, decimal vector-sum) "
        "sufficient stats under a FROZEN first-batch trainer; the "
        "coarse quantizer is refreshed as s/n (k x d driver-side "
        "doubles) and ivf_topk probes it WITHOUT any batch rebuild. "
        "Served at nprobe=4 (probe fraction 0.25): measured round-5 "
        "contract is recall@10 0.76 at sf0.1 — the ceiling of ANY "
        "half-corpus-trained quantizer on this near-random corpus "
        "(full-corpus batch rebuild restores 1.000; mini-batch "
        "evolving assignment measures WORSE, 0.36-0.63) — so the "
        "maintained index is the freshness bridge BETWEEN periodic "
        "retrains, not a retrain replacement. State traffic per "
        "commit is k x d decimals regardless of corpus size; "
        "replayed batches are no-ops. Published recall alongside the "
        "batch IVF in RECALL.json. FULL value-hash oracle since r9 "
        "(r8 verdict #4): frozen-trainer assignment + order-free "
        "decimal stats make the whole fold replayable; the oracle "
        "regime is gated at 9000 corpus rows (DECIMAL(38,12)->DOUBLE "
        "bit-equality needs n*10^12 < 2^53) — RuntimeError past it "
        "under SPARK_GRAFT_ORACLE_RUN, same discipline as "
        "knn_graph_ivf's sampled-Lloyd gate.",
    )
    def ann_ivf_maintained(spark: SparkSession, sf_dir: str) -> DataFrame:
        import os
        import shutil

        from stock_trend_predictor_spark.operators.checkpoints import (
            scratch_state_dir,
        )
        from stock_trend_predictor_spark.operators.ivf import (
            ivf_topk,
            kmeans_centroids,
        )
        from stock_trend_predictor_spark.operators.similarity import (
            as_double,
        )
        from stock_trend_predictor_spark.streaming.ivf_maintenance import (
            maintained_centroids,
            update_ivf_state,
        )

        emb = load_table(spark, sf_dir, "embeddings")
        if os.environ.get("SPARK_GRAFT_ORACLE_RUN"):
            n = emb.count()
            if n > 9000:
                raise RuntimeError(
                    f"ann_ivf_maintained oracle invalid past 9000 "
                    f"corpus rows (n={n}): the DECIMAL(38,12)->DOUBLE "
                    "cast bit-equality needs n*10^12 < 2^53"
                )
        seed_view = emb.select(
            F.col("vec_id").alias("neighbor_id"),
            as_double("embedding").alias("cv"),
        )
        # seed quantizer from the FIRST batch only (what a live system
        # has before the stream starts), then fold both batches
        even = emb.where(F.col("vec_id") % 2 == 0)
        odd = emb.where(F.col("vec_id") % 2 == 1)
        init = kmeans_centroids(
            seed_view.where(F.col("neighbor_id") % 2 == 0),
            k=16,
            iters=2,
            id_col="neighbor_id",
            vec_col="cv",
        )
        state_dir = scratch_state_dir("ivf-maint", sf_dir)
        update_ivf_state(spark, even, state_dir, init, batch_id=0)
        update_ivf_state(spark, odd, state_dir, init, batch_id=1)
        cents = maintained_centroids(spark, state_dir, init)
        # a None here means the fold never committed — falling through
        # would let ivf_topk train a fresh batch quantizer and publish
        # its ~1.0 recall as the MAINTAINED index's number
        assert cents is not None, "IVF maintenance state missing"
        # cents is a collected driver-side model — the state dir has
        # no further reader, so drop it now instead of leaking one
        # per-pid copy per sweep into /tmp (r8 ADVICE)
        shutil.rmtree(state_dir, ignore_errors=True)
        return ivf_topk(
            emb,
            emb.where(F.col("vec_id") < 8),
            k=10,
            nprobe=4,
            centroids=cents,
        ).select(
            "query_id",
            "neighbor_id",
            stable_round(F.col("sim"), 6).alias("sim"),
            "rank",
        )


_register_maintained_ivf()


def _register_hard_negatives():
    from stock_trend_predictor_spark.plans.registry import register

    @register(
        "hard_negative_mining",
        oracle=f"""
WITH scored AS (
    SELECT q.vec_id AS query_id, q.label AS query_label,
           c.vec_id AS neighbor_id, c.label AS neighbor_label,
           {_COS_SQL} AS sim
    FROM embeddings c
    JOIN (SELECT * FROM embeddings WHERE vec_id < 16) q
      ON c.vec_id != q.vec_id
), ranked AS (
    SELECT query_id, query_label, neighbor_id, neighbor_label, sim,
           CASE WHEN neighbor_label = query_label
                THEN 'positive' ELSE 'hard_negative' END AS role,
           row_number() OVER (
               PARTITION BY query_id,
                            (neighbor_label = query_label)
               ORDER BY sim DESC, neighbor_id) AS rank
    FROM scored
)
SELECT query_id, CAST(query_label AS INT) AS query_label, role,
       CAST(rank AS INT) AS rank, neighbor_id,
       CAST(neighbor_label AS INT) AS neighbor_label,
       {stable_round_sql('sim', 6)} AS sim
FROM ranked WHERE rank <= 5
""",
        doc="Contrastive-training pair mining over the labeled "
        "embeddings table: for each anchor, the 5 nearest SAME-label "
        "vectors (positives) and the 5 nearest DIFFERENT-label "
        "vectors (hard negatives — the near-boundary examples that "
        "make contrastive/metric-learning batches informative, "
        "per the in-batch-negatives recipe of dense-retrieval "
        "training). One narrow corpus scan against the broadcast "
        "anchor set, sequential-fold cosine (bit-identical to "
        "DuckDB's list_inner_product), ONE window partitioned by "
        "(anchor, same-label flag) serving both roles — no second "
        "pass, no per-role scan. Scale shape: anchors are the small "
        "side (a training batch), so cost is anchors x corpus with "
        "the corpus scanned once; swap the exact scan for the IVF "
        "probe path (ann_ivf_cosine) when the corpus side outgrows "
        "brute force — mining quality then degrades gracefully with "
        "measured recall (RECALL.json), not silently.",
    )
    def hard_negative_mining(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        from stock_trend_predictor_spark.operators.similarity import (
            as_double,
            dot,
            l2norm,
        )

        emb = load_table(spark, sf_dir, "embeddings")
        q = (
            emb.where(F.col("vec_id") < 16)
            .select(
                F.col("vec_id").alias("query_id"),
                F.col("label").alias("query_label"),
                as_double("embedding").alias("qv"),
            )
            .withColumn("qn", l2norm(F.col("qv")))
        )
        c = emb.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("neighbor_label"),
            as_double("embedding").alias("cv"),
        ).withColumn("cn", l2norm(F.col("cv")))
        sim = dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
        same = F.col("neighbor_label") == F.col("query_label")
        scored = c.join(
            F.broadcast(q), F.col("neighbor_id") != F.col("query_id")
        ).select(
            "query_id",
            F.col("query_label").cast("int").alias("query_label"),
            same.alias("is_same"),
            "neighbor_id",
            F.col("neighbor_label").cast("int").alias("neighbor_label"),
            sim.alias("sim"),
        )
        w = Window.partitionBy("query_id", "is_same").orderBy(
            F.col("sim").desc(), F.col("neighbor_id")
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 5)
            .select(
                "query_id",
                "query_label",
                F.when(F.col("is_same"), F.lit("positive"))
                .otherwise(F.lit("hard_negative"))
                .alias("role"),
                "rank",
                "neighbor_id",
                "neighbor_label",
                stable_round(F.col("sim"), 6).alias("sim"),
            )
        )


_register_hard_negatives()
