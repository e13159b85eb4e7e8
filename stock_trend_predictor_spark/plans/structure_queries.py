"""Structure-discovery queries: set-similarity join, skyline frontier,
dependency audit, degree distribution, robust stats, RAG chunking.

These extend the engine's corpus-engineering surface beyond the
reference's row-at-a-time scope (reference has no joins at all —
data_collection/*.py and ml_model/*.py are single-collection scans),
re-expressed as set-oriented Spark plans that survive a 100 TB input:

- ``jaccard_prefix_filter_pairs``: EXACT Jaccard-threshold
  self-join via prefix filtering (SSJoin/PPJoin family, Chaudhuri
  ICDE'06 / Xiao WWW'08) — the scalable alternative to MinHash when
  the answer must be exact: candidates only where *rarest-token
  prefixes* collide, never an all-pairs product.
- ``skyline_parts``: 2-D Pareto frontier via a two-level
  (bucket-local window + tiny cross-bucket prefix-min broadcast)
  decomposition — no global single-partition window.
- ``fd_violation_profile``: approximate functional-dependency audit
  (g3 measure) — two-level hash aggregation only.
- ``copurchase_degree_distribution``: log2-bucketed degree histogram
  of the co-purchase graph (companion to triangle_count_copurchase).
- ``winsorized_stats_per_type``: percentile-clamped robust mean/std
  (companion to trimmed_mean_per_type's drop-based trimming).
- ``doc_chunk_overlap``: overlapping token-window chunking (the RAG
  ingestion shape) — pure codegen sequence/slice, no Python row work.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stock_trend_predictor_spark.functions.exact import (
    exact_sum,
    exact_sum_sql,
    stable_round,
    stable_round_sql,
)
from stock_trend_predictor_spark.sources.tables import load_table

#: Jaccard threshold for the prefix-filter join. J >= 0.8 implies the
#: rarest (1 - 0.8)|x| + 1 tokens of each side must collide, and
#: min(|x|,|y|) >= tau * max(|x|,|y|) — both pruning rules are lossless.
JACCARD_TAU = 0.8

#: RAG chunking geometry: 32-token windows advancing 24 tokens — a
#: 25% overlap so no sentence is split across a hard boundary.
CHUNK_W, CHUNK_S = 32, 24


def _register():
    from stock_trend_predictor_spark.plans.registry import register

    @register(
        "jaccard_prefix_filter_pairs",
        oracle=f"""
WITH sample AS (
    SELECT doc_id, list_distinct(string_split(text, ' ')) AS ts
    FROM documents WHERE doc_id % 5 = 0
), tok AS (
    SELECT doc_id, unnest(ts) AS tok FROM sample
), cand AS (
    -- J >= tau > 0 requires at least one shared token, so candidates
    -- by shared token are exhaustive (the oracle needs no prefix math)
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id < b.doc_id
), scored AS (
    SELECT doc_a, doc_b,
           CAST(len(list_intersect(x.ts, y.ts)) AS DOUBLE)
             / (len(x.ts) + len(y.ts) - len(list_intersect(x.ts, y.ts)))
             AS jac
    FROM cand
    JOIN sample x ON x.doc_id = doc_a
    JOIN sample y ON y.doc_id = doc_b
)
SELECT doc_a, doc_b, {stable_round_sql('jac', 6)} AS jaccard
FROM scored WHERE jac >= {JACCARD_TAU}
""",
        doc="EXACT token-set Jaccard >= 0.8 self-join over a 1-in-5 "
        "document sample via prefix filtering (SSJoin/PPJoin): tokens are "
        "globally ordered rarest-first by document frequency; two sets "
        "with J >= tau MUST collide within their first "
        "|x| - ceil(tau|x|) + 1 tokens of that order, so candidate "
        "generation explodes only those short prefixes and joins on "
        "the token — the join key distribution is anti-skewed by "
        "construction (prefixes hold the RAREST tokens, so no "
        "stopword mega-bucket can form). A lossless length filter "
        "min >= tau*max prunes before verification; exact "
        "array_intersect arithmetic verifies. The oracle enumerates "
        "candidates by ANY shared token (exhaustive for tau > 0), so "
        "hash equality proves the prefix pruning loses no pair. "
        "Reference has no similarity surface at all (its only scans are "
        "single-collection pymongo reads, ml_model/predict_from_vm4.py:15); "
        "this is the exact-answer companion "
        "to dedup_minhash_lsh.",
    )
    def jaccard_prefix_filter_pairs(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        docs = (
            load_table(spark, sf_dir, "documents")
            .where(F.col("doc_id") % 5 == 0)
            .select(
                "doc_id",
                F.array_distinct(F.split(F.col("text"), " ")).alias("ts"),
            )
        )
        tok = docs.select(
            "doc_id", F.size("ts").alias("n"), F.explode("ts").alias("tok")
        )
        dfreq = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
        # Rarest-first global order: rebuild each doc's token array
        # sorted by (df, tok), then keep only the lossless prefix.
        ordered = (
            tok.join(dfreq, "tok")
            .groupBy("doc_id")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("df", "tok"))
                ).alias("st"),
                F.first("n").alias("n"),
            )
            .select(
                "doc_id",
                "n",
                F.slice(
                    F.transform("st", lambda s: s["tok"]),
                    F.lit(1),
                    (
                        F.col("n")
                        - F.ceil(F.lit(JACCARD_TAU) * F.col("n"))
                        + 1
                    ).cast("int"),
                ).alias("prefix"),
            )
        )
        pref = ordered.select(
            "doc_id", "n", F.explode("prefix").alias("tok")
        )
        a, b = pref.alias("a"), pref.alias("b")
        cand = (
            a.join(
                b,
                (F.col("a.tok") == F.col("b.tok"))
                & (F.col("a.doc_id") < F.col("b.doc_id"))
                # lossless: J >= tau forces min(|x|,|y|) >= tau*max
                & (
                    F.least(F.col("a.n"), F.col("b.n"))
                    >= F.lit(JACCARD_TAU)
                    * F.greatest(F.col("a.n"), F.col("b.n"))
                ),
            )
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .distinct()
        )
        x = docs.select(
            F.col("doc_id").alias("doc_a"), F.col("ts").alias("ts_a")
        )
        y = docs.select(
            F.col("doc_id").alias("doc_b"), F.col("ts").alias("ts_b")
        )
        inter = F.size(F.array_intersect("ts_a", "ts_b"))
        jac = inter.cast("double") / (
            F.size("ts_a") + F.size("ts_b") - inter
        )
        return (
            cand.join(x, "doc_a")
            .join(y, "doc_b")
            .withColumn("jac", jac)
            .where(F.col("jac") >= JACCARD_TAU)
            .select(
                "doc_a", "doc_b", stable_round("jac", 6).alias("jaccard")
            )
        )

    @register(
        "skyline_parts",
        oracle="""
SELECT p.p_partkey, p.p_retailprice, p.p_size
FROM part p
WHERE NOT EXISTS (
    SELECT 1 FROM part q
    WHERE q.p_retailprice <= p.p_retailprice
      AND q.p_size <= p.p_size
      AND (q.p_retailprice < p.p_retailprice OR q.p_size < p.p_size)
)
""",
        doc="2-D skyline (Pareto frontier: no other part is both "
        "cheaper-or-equal AND smaller-or-equal with one strict): "
        "instead of the quadratic NOT-EXISTS the oracle runs, the "
        "plan exploits monotonicity — a point survives iff its size "
        "beats the running MIN(size) over all strictly cheaper "
        "prices. That prefix-min is decomposed two-level so no "
        "global single-partition window exists: per-price MIN "
        "(hash agg), bucket-local running min (windows partitioned "
        "by price bucket, fully parallel), plus a #buckets-row "
        "cross-bucket prefix-min that broadcasts back. Scales as "
        "one shuffle on price + one tiny broadcast regardless of "
        "input size; equal (price,size) duplicates are both kept "
        "(neither dominates the other).",
    )
    def skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
        big = F.lit(2147483647)
        p = load_table(spark, sf_dir, "part").select(
            "p_partkey", "p_retailprice", "p_size"
        )
        per_price = (
            p.groupBy("p_retailprice")
            .agg(F.min("p_size").alias("msize"))
            .withColumn("bkt", F.floor(F.col("p_retailprice") / 64.0))
        )
        w_loc = (
            Window.partitionBy("bkt")
            .orderBy("p_retailprice")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        loc = per_price.withColumn("loc_min", F.min("msize").over(w_loc))
        w_bkt = Window.orderBy("bkt").rowsBetween(
            Window.unboundedPreceding, -1
        )
        # one row per bucket — the only global window is #buckets wide
        bprev = (
            per_price.groupBy("bkt")
            .agg(F.min("msize").alias("bmin"))
            .withColumn("prev_min", F.min("bmin").over(w_bkt))
            .select("bkt", "prev_min")
        )
        sky_prices = (
            loc.join(F.broadcast(bprev), "bkt")
            .withColumn(
                "best_prev",
                F.least(
                    F.coalesce("loc_min", big),
                    F.coalesce("prev_min", big),
                ),
            )
            .where(F.col("msize") < F.col("best_prev"))
            .select("p_retailprice", F.col("msize").alias("p_size"))
        )
        return p.join(
            F.broadcast(sky_prices), ["p_retailprice", "p_size"]
        ).select("p_partkey", "p_retailprice", "p_size")

    _FD_SQL = """
SELECT '{name}' AS fd,
       CAST(count(*) AS BIGINT) AS n_keys,
       CAST(sum(tot) AS BIGINT) AS n_rows,
       {rate} AS violation_rate
FROM (
    SELECT {lhs}, max(c) AS mx, sum(c) AS tot
    FROM (
        SELECT {lhs}, {rhs}, count(*) AS c
        FROM orders GROUP BY {lhs}, {rhs}
    ) GROUP BY {lhs}
)
"""

    _FDS = [
        ("o_custkey->o_orderpriority", "o_custkey", "o_orderpriority"),
        ("o_orderstatus->o_orderpriority", "o_orderstatus", "o_orderpriority"),
        ("o_orderkey->o_orderstatus", "o_orderkey", "o_orderstatus"),
    ]

    @register(
        "fd_violation_profile",
        oracle="\nUNION ALL\n".join(
            _FD_SQL.format(
                name=name,
                lhs=lhs,
                rhs=rhs,
                rate=stable_round_sql(
                    "1.0 - CAST(sum(mx) AS DOUBLE) / CAST(sum(tot) AS DOUBLE)",
                    6,
                ),
            )
            for name, lhs, rhs in _FDS
        ),
        doc="Approximate functional-dependency audit over orders: for "
        "each candidate X->Y the g3 measure (Kivinen & Mannila, "
        "1 - sum_of_per-key-majority / N = the minimum fraction of "
        "rows to delete for the FD to hold exactly; 0 means the FD "
        "holds). Pure two-level hash aggregation — (X,Y) counts "
        "combine map-side, then a per-X max/sum, then one global "
        "row per FD. o_orderkey->o_orderstatus is a key so its rate "
        "pins the zero case. The schema-profiling primitive a "
        "100 TB ingest runs before trusting a join key.",
    )
    def fd_violation_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
        o = load_table(spark, sf_dir, "orders")

        def g3(name: str, lhs: str, rhs: str) -> DataFrame:
            per = o.groupBy(lhs, rhs).agg(F.count(F.lit(1)).alias("c"))
            key = per.groupBy(lhs).agg(
                F.max("c").alias("mx"), F.sum("c").alias("tot")
            )
            return key.agg(
                F.count(F.lit(1)).alias("n_keys"),
                F.sum("tot").alias("n_rows"),
                stable_round(
                    F.lit(1.0)
                    - F.sum("mx").cast("double")
                    / F.sum("tot").cast("double"),
                    6,
                ).alias("violation_rate"),
            ).select(
                F.lit(name).alias("fd"),
                "n_keys",
                "n_rows",
                "violation_rate",
            )

        out = g3(*_FDS[0])
        for fd_spec in _FDS[1:]:
            out = out.unionAll(g3(*fd_spec))
        return out

    @register(
        "copurchase_degree_distribution",
        oracle="""
WITH e AS (
    SELECT DISTINCT least(l1.l_partkey, l2.l_partkey) AS a,
                    greatest(l1.l_partkey, l2.l_partkey) AS b
    FROM lineitem l1
    JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
                    AND l1.l_partkey < l2.l_partkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderdate >= TIMESTAMP '1998-01-01'
      AND o.o_orderdate <  TIMESTAMP '1999-01-01'
), deg AS (
    SELECT v, CAST(count(*) AS BIGINT) AS deg FROM (
        SELECT a AS v FROM e UNION ALL SELECT b FROM e
    ) GROUP BY v
)
SELECT CAST(length(printf('%b', deg)) AS INT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_vertices,
       min(deg) AS min_deg,
       max(deg) AS max_deg
FROM deg GROUP BY 1
""",
        doc="Log2-bucketed degree histogram of the 1998 co-purchase "
        "graph (same edge set as triangle_count_copurchase — parts "
        "adjacent when one 1998 order contains both). Bucket b holds "
        "degrees in [2^(b-1), 2^b); the bucket index is the BINARY "
        "BIT LENGTH of the degree (length(bin(deg))), an integer-"
        "exact formulation immune to the floor(log2()) last-ulp "
        "hazard on exact powers of two. Per-order bounded self-join "
        "builds edges, two hash aggs do the rest — the degree table "
        "never leaves the executors.",
    )
    def copurchase_degree_distribution(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_partkey"
        )
        o98 = (
            load_table(spark, sf_dir, "orders")
            .where(
                (F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp"))
            )
            .select("o_orderkey")
        )
        li98 = li.join(o98, li.l_orderkey == o98.o_orderkey).select(
            "l_orderkey", "l_partkey"
        )
        l1, l2 = li98.alias("l1"), li98.alias("l2")
        e = (
            l1.join(
                l2,
                (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
                & (F.col("l1.l_partkey") < F.col("l2.l_partkey")),
            )
            .select(
                F.col("l1.l_partkey").alias("a"),
                F.col("l2.l_partkey").alias("b"),
            )
            .distinct()
        )
        deg = (
            e.select(F.col("a").alias("v"))
            .unionAll(e.select(F.col("b").alias("v")))
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        return (
            deg.groupBy(
                F.length(F.expr("bin(deg)")).cast("int").alias("bucket")
            )
            .agg(
                F.count(F.lit(1)).alias("n_vertices"),
                F.min("deg").alias("min_deg"),
                F.max("deg").alias("max_deg"),
            )
        )

    @register(
        "winsorized_stats_per_type",
        oracle=f"""
WITH cuts AS (
    SELECT event_type,
           quantile_cont(value, 0.05) AS p05,
           quantile_cont(value, 0.95) AS p95
    FROM events GROUP BY 1
), w AS (
    SELECT e.event_type,
           least(greatest(e.value, c.p05), c.p95) AS wv
    FROM events e JOIN cuts c ON e.event_type = c.event_type
), agg AS (
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           {exact_sum_sql('wv')} AS s,
           {exact_sum_sql('wv * wv')} AS ss
    FROM w GROUP BY 1
)
SELECT event_type, n,
       {stable_round_sql('s / n', 6)} AS win_mean,
       {stable_round_sql('sqrt((ss - s * s / n) / (n - 1))', 6)} AS win_std
FROM agg
""",
        doc="Winsorized mean/std per event type: exact interpolated "
        "p05/p95 cut points (one row per key, broadcast back), values "
        "CLAMPED to the cuts (vs trimmed_mean_per_type which drops "
        "them), then decimal-exact sum and sum-of-squares so the "
        "mean and the one-pass variance are partition-order "
        "independent. At 100 TB the exact percentile pass swaps for "
        "approx_percentile with no shape change.",
    )
    def winsorized_stats_per_type(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        ev = load_table(spark, sf_dir, "events").select(
            "event_type", "value"
        )
        cuts = ev.groupBy("event_type").agg(
            F.percentile("value", F.lit(0.05)).alias("p05"),
            F.percentile("value", F.lit(0.95)).alias("p95"),
        )
        w = ev.join(F.broadcast(cuts), "event_type").select(
            "event_type",
            F.least(
                F.greatest(F.col("value"), F.col("p05")), F.col("p95")
            ).alias("wv"),
        )
        agg = w.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            exact_sum("wv", "s"),
            exact_sum(F.col("wv") * F.col("wv"), "ss"),
        )
        return agg.select(
            "event_type",
            "n",
            stable_round(F.col("s") / F.col("n"), 6).alias("win_mean"),
            stable_round(
                F.sqrt(
                    (
                        F.col("ss")
                        - F.col("s") * F.col("s") / F.col("n")
                    )
                    / (F.col("n") - 1)
                ),
                6,
            ).alias("win_std"),
        )

    @register(
        "doc_chunk_overlap",
        oracle=f"""
WITH d AS (
    SELECT doc_id, string_split(text, ' ') AS ts
    FROM documents WHERE doc_id % 2 = 1
)
SELECT doc_id,
       CAST(start // {CHUNK_S} AS INT) AS chunk_idx,
       CAST(start AS INT) AS start_tok,
       CAST(least({CHUNK_W}, len(ts) - start) AS INT) AS chunk_len,
       md5(array_to_string(ts[start + 1 : start + {CHUNK_W}], ' '))
         AS chunk_md5
FROM d, LATERAL (
    SELECT unnest(generate_series(0, len(ts) - 1, {CHUNK_S})) AS start
)
""",
        doc=f"Overlapping token-window chunking (RAG ingestion): every "
        f"document splits into {CHUNK_W}-token chunks advancing "
        f"{CHUNK_S} tokens, each identified by (doc_id, chunk_idx) "
        f"with an md5 content fingerprint for downstream chunk-level "
        f"dedup. Pure whole-stage-codegen lattice: sequence() builds "
        f"the start offsets, explode fans out, slice/concat_ws/md5 "
        f"fingerprint — zero Python in the row path, embarrassingly "
        f"parallel (no shuffle at all: the only wide op is the "
        f"parquet scan). Short tail chunks are kept (deterministic "
        f"coverage of every token).",
    )
    def doc_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
        d = (
            load_table(spark, sf_dir, "documents")
            .where(F.col("doc_id") % 2 == 1)
            .select("doc_id", F.split(F.col("text"), " ").alias("ts"))
        )
        starts = F.sequence(
            F.lit(0), F.size("ts") - 1, F.lit(CHUNK_S)
        )
        chunk = F.slice(F.col("ts"), F.col("start") + 1, F.lit(CHUNK_W))
        return (
            d.select("doc_id", "ts", F.explode(starts).alias("start"))
            .select(
                "doc_id",
                F.expr(f"start div {CHUNK_S}").cast("int").alias(
                    "chunk_idx"
                ),
                F.col("start").cast("int").alias("start_tok"),
                F.least(
                    F.lit(CHUNK_W), F.size("ts") - F.col("start")
                ).cast("int").alias("chunk_len"),
                F.md5(F.concat_ws(" ", chunk)).alias("chunk_md5"),
            )
        )


_register()


def _register_r9_manifest():
    from stock_trend_predictor_spark.plans.registry import REGISTRY, register

    # The streaming curation capstone (r8 verdict #2): the composed
    # verdict's oracle NESTS the constituent one-shots' oracles
    # VERBATIM as scoped sub-CTEs — corpus_keep_decision's nesting
    # pattern (plans/span_queries.py) lifted to the maintained-fold
    # family. Each constituent fold is a pure function of the arrival
    # set (its own shared-oracle law), and a deterministic CASE over
    # pure signals is pure, so the composed manifest is too.
    _nd = REGISTRY["neardup_incremental_clusters"].oracle
    _sem = REGISTRY["semdedup_keep_decision"].oracle
    _dec = REGISTRY["decontaminate_ngram_overlap"].oracle
    _bud = REGISTRY["budget_admission_state"].oracle

    @register(
        "curation_manifest_incremental",
        oracle=f"""
WITH nd AS MATERIALIZED (
{_nd}
), sem AS MATERIALIZED (
{_sem}
), dec AS MATERIALIZED (
{_dec}
), bud AS MATERIALIZED (
{_bud}
), q AS (
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
             / len(string_split(text, ' ')) AS diversity
    FROM documents
)
SELECT q.doc_id,
       q.n_tokens,
       {stable_round_sql('q.diversity', 6)} AS diversity,
       nd.cluster AS nd_cluster,
       COALESCE(sem.keep, TRUE) AS sem_keep,
       dch.doc_id IS NOT NULL AS contaminated,
       bud.doc_id IS NOT NULL AS admitted,
       CASE WHEN q.n_tokens < 20 THEN 'drop_short'
            WHEN q.diversity < 0.3 THEN 'drop_low_diversity'
            WHEN q.doc_id != nd.cluster THEN 'drop_near_dup'
            WHEN NOT COALESCE(sem.keep, TRUE) THEN 'drop_semantic_dup'
            WHEN dch.doc_id IS NOT NULL THEN 'drop_contaminated'
            WHEN bud.doc_id IS NULL THEN 'drop_over_budget'
            ELSE 'keep' END AS decision
FROM q
JOIN nd ON nd.doc_id = q.doc_id
LEFT JOIN sem ON sem.vec_id = q.doc_id
LEFT JOIN (SELECT DISTINCT doc_id FROM dec) dch ON dch.doc_id = q.doc_id
LEFT JOIN bud ON bud.doc_id = q.doc_id
""",
        doc="The STREAMING CURATION CAPSTONE: one continuously "
        "maintained per-document keep manifest composing five "
        "maintained folds under one base dir and one commit cadence "
        "(streaming/manifest_maintenance.py) — arrival-time quality "
        "gates, the near-dup fold's cluster labels, the SemDeDup "
        "fold's component keepers (frozen flat-Lloyd quantizer), the "
        "decon steady screen (bench suite = docs 0-4, registered "
        "BEFORE the corpus arrives), and hard-frontier token-budget "
        "admission (binding budget: half the mean per-source token "
        "mass) — folded over three CONTIGUOUS doc_id-range batches "
        "(arrival order = doc_id order, the budget constituent's "
        "precondition; every other constituent is order-invariant). "
        "The verdict CASE ranks drop_short < drop_low_diversity < "
        "drop_near_dup < drop_semantic_dup < drop_contaminated < "
        "drop_over_budget < keep, first match wins. Exercises fold "
        "COMPOSITION (shared dirs, shared batch-id sequence, "
        "manifest-last commit as the crash low-water mark) that no "
        "single fold tests. Laws (stream == batch on two "
        "order-preserving splits, prefix parity per batch, replay "
        "idempotence incl. a partial-crash replay) in "
        "tests/test_round9.py.",
    )
    def curation_manifest_incremental(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        import os

        from stock_trend_predictor_spark.operators.checkpoints import (
            materialize_then_cleanup,
            scratch_state_dir,
        )
        from stock_trend_predictor_spark.operators.ivf import (
            kmeans_centroids,
        )
        from stock_trend_predictor_spark.operators.similarity import (
            as_double,
            l2norm,
        )
        from stock_trend_predictor_spark.sources.tables import (
            materialize_once,
        )
        from stock_trend_predictor_spark.streaming.manifest_maintenance import (
            read_curation_manifest,
            update_manifest_bench,
            update_manifest_state,
        )

        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text", "source"
        )
        e = materialize_once(
            load_table(spark, sf_dir, "embeddings")
            .repartition(spark.sparkContext.defaultParallelism)
            .select("vec_id", as_double("embedding").alias("v"))
            .withColumn("nrm", l2norm(F.col("v")))
        )
        n = e.count()
        k = max(8, n // 500)
        sample_mod = max(1, int(n // (k * 64))) if k > 64 else 1
        # the SemDeDup constituent's oracle replays Lloyd UNSAMPLED
        # (the semdedup_incremental regime gate, inherited verbatim)
        if os.environ.get("SPARK_GRAFT_ORACLE_RUN") and sample_mod > 1:
            raise RuntimeError(
                f"curation_manifest_incremental oracle invalid in "
                f"the sampled-Lloyd regime (n={n}, k={k}, "
                f"sample_mod={sample_mod})"
            )
        cents = kmeans_centroids(
            e, k=k, iters=3, vec_col="v", sample_mod=sample_mod
        )
        # contiguous arrival order = doc_id order (the budget
        # constituent's precondition) + the binding budget scalar —
        # budget_admission_state's exact recipe
        lo, hi, budget = docs.agg(
            F.expr("percentile(doc_id, 0.33)"),
            F.expr("percentile(doc_id, 0.67)"),
            F.expr(
                "CAST(SUM(size(split(text, ' '))) AS BIGINT)"
                " DIV (COUNT(DISTINCT source) * 2)"
            ),
        ).first()
        base = scratch_state_dir("manifest-inc", sf_dir)
        # the bench suite registers FIRST (batch 0 of the shared id
        # sequence); the three corpus batches follow as 1..3
        update_manifest_bench(
            spark, docs.where(F.col("doc_id") < 5), base, batch_id=0
        )
        splits = [
            F.col("doc_id") <= F.lit(lo),
            (F.col("doc_id") > F.lit(lo)) & (F.col("doc_id") <= F.lit(hi)),
            F.col("doc_id") > F.lit(hi),
        ]
        vsplits = [
            F.col("vec_id") <= F.lit(lo),
            (F.col("vec_id") > F.lit(lo)) & (F.col("vec_id") <= F.lit(hi)),
            F.col("vec_id") > F.lit(hi),
        ]
        for i in range(3):
            update_manifest_state(
                spark,
                docs.where(splits[i]),
                e.where(vsplits[i]).select("vec_id", "v"),
                base,
                cents,
                batch_id=i + 1,
                budget=int(budget),
                # the bench suite's own ids are the benchmark, not
                # candidates — the one-shot decon oracle's corpus cut
                decon_filter=F.col("doc_id") >= 5,
            )
        return materialize_then_cleanup(
            read_curation_manifest(spark, base), base
        )


_register_r9_manifest()
