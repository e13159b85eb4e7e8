"""Deduplication queries over the documents table (north-star
extensions for training-data pipelines; SURVEY §7 phase 5).

Every query here carries a full DuckDB oracle — including MinHash+LSH
and SimHash, whose md5-derived hashing was designed so both engines
compute identical signatures (operators/dedup.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stock_trend_predictor_spark.functions.exact import stable_round, stable_round_sql
from stock_trend_predictor_spark.functions.text import (
    hash60,
    hash60_sql,
    normalized_text,
    normalized_text_sql,
)
from stock_trend_predictor_spark.operators import dedup as D
from stock_trend_predictor_spark.sources.tables import load_table, materialize_once

#: smallest IVF cell count at which semdedup_keep_decision blocks with
#: two-level multiprobe instead of the flat one (measured crossover at
#: the query's blocking comment).
SEMDEDUP_TWO_LEVEL_MIN_K = 64

# --- DuckDB replay of the IVF coarse quantizer (round 6) -------------
#
# kmeans_centroids became cross-engine DETERMINISTIC in round 6: cell
# sums accumulate as DECIMAL(38,9) (exact, order-independent) and the
# mean is float(sum)/n — so DuckDB can replay Lloyd's bit-for-bit and
# the two IVF-quantized queries graduate from rows-only to full
# value-hash oracles. Parity bridges, each verified empirically on
# this corpus: float->double list cast; the left-fold dot ==
# list_inner_product; double->decimal(38,9) rounding; decimal->double
# + /n (exact while |scaled sum| < 2^53 — cells up to ~10^7 members
# at |x| < 1); sqrt/division IEEE-identical. Valid while the Spark
# side trains UNSAMPLED (k <= 64, true at every oracle SF: k =
# max(8, n/500) stays 8 up to n = 32k) — the sampled path uses
# xxhash64, which DuckDB cannot replay.

#: squared L2 distance of vector e.v to centroid c.c, folded in index
#: order — bit-identical to operators/ivf.py::_sq_dist_to
_DIST_SQL = (
    "list_inner_product("
    "list_transform(range(1, len(e.v) + 1), i -> e.v[i] - c.c[i]), "
    "list_transform(range(1, len(e.v) + 1), i -> e.v[i] - c.c[i]))"
)

#: exact cosine of probed rows a/b — same fold as operators/similarity
_COS_SQL = (
    "list_inner_product(a.v, b.v) / "
    "(sqrt(list_inner_product(a.v, a.v)) * "
    "sqrt(list_inner_product(b.v, b.v)))"
)


def _lloyd_ctes_sql(k_sql: str, iters: int = 3, train_where: str = "") -> str:
    """CTE chain replaying kmeans_centroids(iters) on `embeddings`:
    seeds = k lowest vec_ids, assignment = argmin(dist, tie lowest
    cid), update = decimal-exact per-(cell, dim) mean, empty cells
    keep their previous centroid. Defines e(vec_id, v) and
    c{iters}(cid, c). MATERIALIZED: a recursive CTE downstream would
    otherwise re-run the whole Lloyd pipeline every iteration
    (measured 25 s -> 3.7 s at sf0.1). ``train_where`` (a full WHERE
    clause) restricts the TRAINING view — seeds and updates come from
    the filtered slice, ``e`` stays the whole table for downstream
    consumers (the ann_ivf_maintained replay trains on the even-id
    first batch, the sample-trained kmeans_centroids shape)."""
    src = "(SELECT * FROM e {w}) e".format(w=train_where) if train_where else "e"
    parts = [
        f"""
e AS MATERIALIZED (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), params AS (
    -- single-row by construction: a literal k_sql would otherwise
    -- yield one row per embedding and the downstream scalar
    -- subqueries would lean on DuckDB tolerating multi-row scalars
    SELECT {k_sql} AS k FROM {src} LIMIT 1
), c0 AS (
    SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
           v AS c
    FROM {src}
    QUALIFY row_number() OVER (ORDER BY vec_id) <= (SELECT k FROM params)
)"""
    ]
    for it in range(1, iters + 1):
        parts.append(
            f"""
a{it} AS (
    SELECT vec_id, v, cid FROM (
        SELECT e.vec_id, e.v, c.cid,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY {_DIST_SQL}, c.cid) AS rn
        FROM {src} CROSS JOIN c{it - 1} c
    ) WHERE rn = 1
), c{it} AS (
    SELECT p.cid, COALESCE(m.c, p.c) AS c
    FROM c{it - 1} p LEFT JOIN (
        SELECT cid, list(mu ORDER BY dim) AS c FROM (
            SELECT cid, dim,
                   CAST(sum(CAST(x AS DECIMAL(38,9))) AS DOUBLE)
                       / count(*) AS mu
            FROM (SELECT cid, unnest(v) AS x,
                         unnest(range(1, len(v) + 1)) AS dim
                  FROM a{it})
            GROUP BY cid, dim
        ) GROUP BY cid
    ) m ON m.cid = p.cid
)"""
        )
    return ",".join(parts)


def _probed_cte_sql(iters: int = 3, nprobe: int = 3) -> str:
    """assign_clusters_multiprobe replay: each vector exploded to its
    nprobe nearest final centroids (ties -> lowest cid)."""
    return f"""
probed AS MATERIALIZED (
    SELECT vec_id, v, cid FROM (
        SELECT e.vec_id, e.v, c.cid,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY {_DIST_SQL}, c.cid) AS rn
        FROM e CROSS JOIN c{iters} c
    ) WHERE rn <= {nprobe}
)"""


_IVF_DEDUP_ORACLE = f"""
WITH {_lloyd_ctes_sql('8', 3)},{_probed_cte_sql(3, 3)}
SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
       {stable_round_sql(_COS_SQL, 6)} AS cos_sim
FROM probed a JOIN probed b
  ON a.cid = b.cid AND a.vec_id < b.vec_id
WHERE {stable_round_sql(_COS_SQL, 6)} >= 0.35
"""

_SEMDEDUP_ORACLE = f"""
WITH RECURSIVE {_lloyd_ctes_sql('GREATEST(8, count(*) // 500)', 3)},\
{_probed_cte_sql(3, 3)},
edges AS MATERIALIZED (
    SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
    FROM probed a JOIN probed b
      ON a.cid = b.cid AND a.vec_id < b.vec_id
    WHERE {_COS_SQL} >= 0.35
), und AS MATERIALIZED (
    SELECT src AS a, dst AS b FROM edges
    UNION
    SELECT dst AS a, src AS b FROM edges
), reach(a, b) AS (
    SELECT a, b FROM und
    UNION
    SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
), comp AS (
    SELECT a AS node, least(a, min(b)) AS component
    FROM reach GROUP BY a
), labeled AS (
    SELECT e.vec_id, COALESCE(comp.component, e.vec_id) AS cluster
    FROM e LEFT JOIN comp ON comp.node = e.vec_id
)
SELECT vec_id, cluster,
       CAST(count(*) OVER (PARTITION BY cluster) AS BIGINT)
           AS cluster_size,
       vec_id = cluster AS keep
FROM labeled
"""


def _register():
    from stock_trend_predictor_spark.plans.registry import register

    @register(
        "dedup_exact",
        oracle="""
SELECT md5(text) AS content_hash,
       min(doc_id) AS keeper_doc_id,
       count(*) AS n_copies
FROM documents
GROUP BY md5(text)
""",
        doc="Exact dedup: hash-groupBy on the content digest, keeping "
        "the lowest doc_id per content group. One shuffle on the "
        "digest; at 100 TB the digest (16 bytes) shuffles, not the text.",
    )
    def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        return (
            docs.select(F.md5("text").alias("content_hash"), "doc_id")
            .groupBy("content_hash")
            .agg(
                F.min("doc_id").alias("keeper_doc_id"),
                F.count(F.lit(1)).alias("n_copies"),
            )
        )

    @register(
        "dedup_keep_best",
        oracle=f"""
WITH normed AS (
    SELECT doc_id, n_chars, lang,
           md5({normalized_text_sql('text')}) AS norm_hash
    FROM documents
)
SELECT norm_hash,
       count(*) AS n_copies,
       max_by(doc_id, n_chars * 10000000000 - doc_id) AS kept_doc_id,
       max(n_chars) AS kept_n_chars
FROM normed
GROUP BY norm_hash
""",
        doc="Keep-best dedup: group by the normalized-text hash and "
        "keep the highest-quality copy (longest; lowest doc_id as "
        "tiebreak) — the keep policy real corpus pipelines use instead "
        "of keep-first. max_by on a single (quality, -id)-encoded "
        "bigint key is one map-side-combinable aggregate; no window, "
        "no second pass.",
    )
    def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        normed = docs.select(
            "doc_id",
            "n_chars",
            F.md5(normalized_text("text")).alias("norm_hash"),
        )
        # single sortable key: quality major, lowest-id tiebreak
        best = F.max_by(
            "doc_id",
            F.col("n_chars") * F.lit(10_000_000_000) - F.col("doc_id"),
        )
        return normed.groupBy("norm_hash").agg(
            F.count(F.lit(1)).alias("n_copies"),
            best.alias("kept_doc_id"),
            F.max("n_chars").alias("kept_n_chars"),
        )

    @register(
        "dedup_fingerprint",
        oracle=f"""
SELECT doc_id,
       md5({normalized_text_sql('text')}) AS fingerprint,
       {hash60_sql(normalized_text_sql('text'))} % 1024 AS fp_bucket
FROM documents
""",
        doc="Document fingerprinting: md5 over normalized text "
        "(lowercase, alnum-only, collapsed whitespace) + a 1024-way "
        "shard bucket for partitioned dedup at scale.",
    )
    def dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        norm = normalized_text("text")
        return docs.select(
            "doc_id",
            F.md5(norm).alias("fingerprint"),
            (hash60(norm) % 1024).alias("fp_bucket"),
        )

    @register(
        "dedup_incremental_batch",
        oracle="""
WITH history AS (
    SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id < 4000
), arrivals AS (
    SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id >= 4000
), fresh AS (
    SELECT a.doc_id, a.h FROM arrivals a
    WHERE NOT EXISTS (SELECT 1 FROM history x WHERE x.h = a.h)
), kept AS (
    SELECT min(doc_id) AS doc_id FROM fresh GROUP BY h
)
SELECT 'arrived' AS stage, COUNT(*) AS n FROM arrivals
UNION ALL
SELECT 'novel_vs_history' AS stage, COUNT(*) AS n FROM fresh
UNION ALL
SELECT 'admitted' AS stage, COUNT(*) AS n FROM kept
""",
        doc="Incremental dedup — the daily-crawl shape: a new arrival "
        "batch is admitted only if its content digest is (a) absent "
        "from the historical corpus (anti join on the 16-byte digest; "
        "at scale the history side is a bucketed digest table so the "
        "probe is co-partitioned, no rescan of history text) and (b) "
        "unique within the batch (min-doc_id keeper election). "
        "Stage counts returned as the admission funnel.",
    )
    def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        history = (
            docs.where(F.col("doc_id") < 4000)
            .select(F.md5("text").alias("h"))
            .distinct()
        )
        arrivals = docs.where(F.col("doc_id") >= 4000).select(
            "doc_id", F.md5("text").alias("h")
        )
        fresh = arrivals.join(history, "h", "left_anti")
        kept = fresh.groupBy("h").agg(F.min("doc_id").alias("doc_id"))

        def stage(df: DataFrame, name: str) -> DataFrame:
            return df.agg(F.count(F.lit(1)).alias("n")).select(
                F.lit(name).alias("stage"), "n"
            )

        return (
            stage(arrivals, "arrived")
            .unionByName(stage(fresh, "novel_vs_history"))
            .unionByName(stage(kept, "admitted"))
        )

    @register(
        "dedup_source_attribution",
        oracle="""
WITH keepers AS (
    SELECT min(doc_id) AS keeper FROM documents GROUP BY md5(text)
)
SELECT d.source AS source,
       COUNT(*) AS n_docs,
       COUNT(k.keeper) AS n_novel,
       CAST(COUNT(*) - COUNT(k.keeper) AS BIGINT) AS n_duplicate
FROM documents d
LEFT JOIN keepers k ON d.doc_id = k.keeper
GROUP BY d.source
""",
        doc="Duplication attribution: which SOURCE contributes "
        "duplicate content (its docs losing the min-doc_id keeper "
        "election). The operational follow-up to dedup_exact — at "
        "corpus scale this table decides which crawls/feeds to "
        "de-prioritize. One digest shuffle for the keeper election, "
        "one keeper join on doc_id, one rollup on source; text never "
        "shuffles.",
    )
    def dedup_source_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        keepers = (
            docs.groupBy(F.md5("text").alias("h"))
            .agg(F.min("doc_id").alias("keeper"))
            .select("keeper")
        )
        return (
            docs.join(
                keepers, docs["doc_id"] == keepers["keeper"], "left"
            )
            .groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.count("keeper").alias("n_novel"),
                (F.count(F.lit(1)) - F.count("keeper"))
                .cast("bigint")
                .alias("n_duplicate"),
            )
        )

    @register(
        "dataset_split_assignment",
        oracle=f"""
SELECT doc_id,
       {hash60_sql('CAST(doc_id AS VARCHAR)')} % 100 AS split_bucket,
       CASE
         WHEN {hash60_sql('CAST(doc_id AS VARCHAR)')} % 100 < 90 THEN 'train'
         WHEN {hash60_sql('CAST(doc_id AS VARCHAR)')} % 100 < 95 THEN 'val'
         ELSE 'test'
       END AS split
FROM documents
""",
        doc="Deterministic train/val/test assignment (90/5/5) by "
        "md5-derived bucket of the stable document id — the split "
        "survives re-partitioning, re-runs, and engine changes, unlike "
        "rand()-based sampling (whose draw depends on partition "
        "layout). Narrow, zero-shuffle; at 100 TB the split column "
        "doubles as a partition column so each split is "
        "directory-addressable.",
    )
    def dataset_split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        bucket = hash60(F.col("doc_id").cast("string")) % 100
        return docs.select(
            "doc_id",
            bucket.alias("split_bucket"),
            F.when(bucket < 90, "train")
            .when(bucket < 95, "val")
            .otherwise("test")
            .alias("split"),
        )

    @register(
        "decontaminate_ngram_overlap",
        oracle=f"""
WITH bench AS (
    SELECT DISTINCT unnest({D.shingle_hashes_sql('text')}) AS h
    FROM documents WHERE doc_id < 5
), shingled AS (
    SELECT doc_id, {D.shingle_hashes_sql('text')} AS hs
    FROM documents WHERE doc_id >= 5
), counted AS (
    SELECT s.doc_id,
           len(s.hs) AS n_shingles,
           (SELECT COUNT(*) FROM bench b
            WHERE list_contains(s.hs, b.h)) AS n_contaminated
    FROM shingled s
)
SELECT doc_id, n_shingles, n_contaminated,
       {stable_round_sql(
           'CAST(n_contaminated AS DOUBLE) / n_shingles', 6)}
         AS contamination
FROM counted
WHERE n_contaminated > 0
""",
        doc="Benchmark decontamination: flag corpus documents sharing "
        "word-3-gram shingles with a held-out benchmark set (docs 0-4 "
        "stand in for an eval suite). The benchmark's distinct shingle "
        "hashes BROADCAST (eval suites are tiny vs the corpus); each "
        "corpus doc joins against them by exploded 8-byte hash and "
        "aggregates matches — one narrow pass over the corpus, one "
        "shuffle of (doc_id, count) partials, text never moves. The "
        "standard pre-training hygiene pass (arXiv:2005.14165 §4 "
        "style).",
    )
    def decontaminate_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = D.with_shingle_hashes(load_table(spark, sf_dir, "documents"))
        bench = (
            docs.where(F.col("doc_id") < 5)
            .select(F.explode("hs").alias("h"))
            .distinct()
        )
        corpus = docs.where(F.col("doc_id") >= 5).select(
            "doc_id", "hs", F.size("hs").alias("n_shingles")
        )
        hits = (
            corpus.select("doc_id", "n_shingles", F.explode("hs").alias("h"))
            .join(F.broadcast(bench), "h")
            .groupBy("doc_id", "n_shingles")
            .agg(F.count(F.lit(1)).alias("n_contaminated"))
        )
        return hits.select(
            "doc_id",
            "n_shingles",
            "n_contaminated",
            stable_round(
                F.col("n_contaminated").cast("double") / F.col("n_shingles"), 6
            ).alias("contamination"),
        )

    # ------------------------------------------------------------------
    # MinHash + LSH near-dup with a full SQL oracle
    # ------------------------------------------------------------------
    sig_sql = D.minhash_signature_sql("hs")
    sig_list = ", ".join(sig_sql)
    band_keys_sql = ", ".join(
        "concat_ws('_', "
        + ", ".join(
            f"CAST(sig[{m * D.BAND_ROWS + r + 1}] AS VARCHAR)"
            for r in range(D.BAND_ROWS)
        )
        + f") AS bkey{m}"
        for m in range(D.N_BANDS)
    )
    band_union_sql = "\nUNION ALL\n".join(
        f"SELECT doc_id, {m} AS band_id, bkey{m} AS bkey FROM banded"
        for m in range(D.N_BANDS)
    )

    @register(
        "dedup_minhash_lsh",
        oracle=f"""
WITH shingled AS MATERIALIZED (
    SELECT doc_id, {D.shingle_hashes_sql('text')} AS hs FROM documents
), sigs AS (
    SELECT doc_id, hs, [{sig_list}] AS sig FROM shingled
), banded AS MATERIALIZED (
    SELECT doc_id, hs, sig, {band_keys_sql} FROM sigs
), bands AS (
    {band_union_sql}
), cand AS (
    SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
    FROM bands l JOIN bands r
      ON l.band_id = r.band_id AND l.bkey = r.bkey AND l.doc_id < r.doc_id
)
SELECT doc_a, doc_b,
       {stable_round_sql(
           'CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE)'
           ' / len(list_distinct(list_concat(a.hs, b.hs)))', 6)} AS jaccard
FROM cand
JOIN shingled a ON a.doc_id = doc_a
JOIN shingled b ON b.doc_id = doc_b
WHERE CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE)
      / len(list_distinct(list_concat(a.hs, b.hs))) >= 0.5
""",
        doc="Near-duplicate detection: word-3-gram shingles → 32-hash "
        "MinHash signature → 8-band LSH candidate join → exact shingle "
        "Jaccard >= 0.5 verification. Candidate generation is linear "
        "(explode 8 bands/doc, shuffle 8-byte keys); no O(n²) scan. "
        "Full SQL oracle via shared md5-based permutation hashing.",
    )
    def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
        # Materialize the shingled arrays once: they feed candidate
        # generation plus both sides of the verification join, and the
        # md5 shingle pipeline is the dominant per-row cost. At cluster
        # scale this is the standard "materialize signatures once" LSH
        # stage; materialize_once shares the blocks without pinning a
        # session-lifetime cache entry.
        docs = materialize_once(
            D.with_shingle_hashes(
                load_table(spark, sf_dir, "documents").repartition(
                    spark.sparkContext.defaultParallelism, "doc_id"
                )
            ).select("doc_id", "hs")
        )
        cand = D.lsh_candidate_pairs(docs)
        a = docs.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("hs_a"))
        b = docs.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hs_b"))
        jac = D.jaccard_of_hash_arrays("hs_a", "hs_b")
        return (
            cand.join(a, "doc_a")
            .join(b, "doc_b")
            .where(jac >= 0.5)
            .select("doc_a", "doc_b", stable_round(jac, 6).alias("jaccard"))
        )

    _JACCARD_RAW_SQL = (
        "CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE)"
        " / len(list_distinct(list_concat(a.hs, b.hs)))"
    )

    @register(
        "neardup_keep_decision",
        oracle=f"""
WITH RECURSIVE shingled AS MATERIALIZED (
    SELECT doc_id, {D.shingle_hashes_sql('text')} AS hs FROM documents
), sigs AS (
    SELECT doc_id, hs, [{sig_list}] AS sig FROM shingled
), banded AS MATERIALIZED (
    SELECT doc_id, hs, sig, {band_keys_sql} FROM sigs
), bands AS (
    {band_union_sql}
), cand AS (
    SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
    FROM bands l JOIN bands r
      ON l.band_id = r.band_id AND l.bkey = r.bkey AND l.doc_id < r.doc_id
), edges AS MATERIALIZED (
    SELECT doc_a AS src, doc_b AS dst FROM cand
    JOIN shingled a ON a.doc_id = doc_a
    JOIN shingled b ON b.doc_id = doc_b
    WHERE {_JACCARD_RAW_SQL} >= 0.5
), und AS MATERIALIZED (
    SELECT src AS a, dst AS b FROM edges
    UNION
    SELECT dst AS a, src AS b FROM edges
), reach(a, b) AS (
    SELECT a, b FROM und
    UNION
    SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
), comp AS (
    SELECT a AS node, least(a, min(b)) AS component
    FROM reach GROUP BY a
), labeled AS (
    SELECT d.doc_id, COALESCE(comp.component, d.doc_id) AS cluster
    FROM documents d LEFT JOIN comp ON comp.node = d.doc_id
)
SELECT doc_id, cluster,
       CAST(count(*) OVER (PARTITION BY cluster) AS BIGINT)
           AS cluster_size,
       doc_id = cluster AS keep
FROM labeled
""",
        doc="The END-TO-END text near-dup curation verdict — "
        "SemDeDup's text-side twin (r6): MinHash-LSH candidates "
        "(dedup_minhash_lsh's exact pipeline) verified at shingle "
        "Jaccard >= 0.5 become the near-dup graph, transitive "
        "closure via min-label propagation "
        "(operators/components.py) groups co-duplicated documents "
        "even when the transitive pair was never scored, and each "
        "cluster keeps ONE representative (the min doc_id). Output: "
        "every document with its cluster, cluster size, and keep "
        "flag — the row-level drop list a corpus owner executes, vs "
        "the pairs report. cluster_size via a cluster-partitioned "
        "window (high-cardinality key, no O(N) broadcast — the r5 "
        "semdedup lesson). Fully oracle-checked: md5-based shingles/"
        "signatures + recursive-CTE closure replay the whole "
        "pipeline in DuckDB.",
    )
    def neardup_keep_decision(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyspark.sql import Window

        from stock_trend_predictor_spark.operators.components import (
            connected_components,
        )

        docs = materialize_once(
            D.with_shingle_hashes(
                load_table(spark, sf_dir, "documents").repartition(
                    spark.sparkContext.defaultParallelism, "doc_id"
                )
            ).select("doc_id", "hs")
        )
        cand = D.lsh_candidate_pairs(docs)
        a = docs.select(
            F.col("doc_id").alias("doc_a"), F.col("hs").alias("hs_a")
        )
        b = docs.select(
            F.col("doc_id").alias("doc_b"), F.col("hs").alias("hs_b")
        )
        jac = D.jaccard_of_hash_arrays("hs_a", "hs_b")
        edges = (
            cand.join(a, "doc_a")
            .join(b, "doc_b")
            .where(jac >= 0.5)
            .select(
                F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
            )
        )
        comps = connected_components(edges, "src", "dst")
        labeled = (
            docs.select("doc_id")
            .join(
                comps.select(F.col("node").alias("doc_id"), "component"),
                "doc_id",
                "left",
            )
            .select(
                "doc_id",
                F.coalesce("component", F.col("doc_id")).alias("cluster"),
            )
        )
        return labeled.select(
            "doc_id",
            "cluster",
            F.count(F.lit(1))
            .over(Window.partitionBy("cluster"))
            .cast("bigint")
            .alias("cluster_size"),
            (F.col("doc_id") == F.col("cluster")).alias("keep"),
        )

    @register(
        "dedup_simhash",
        oracle=f"""
WITH {D.simhash_sql_cte()}
SELECT doc_id, simhash, simhash % 256 AS simhash_bucket
FROM simhashed
""",
        doc="SimHash fingerprints: per-token 28-bit hash bit-votes "
        "folded into one fingerprint per doc — integer-exact, "
        "order-independent, identical in both engines. Bucketed for "
        "banded near-dup grouping at scale.",
    )
    def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", D.token_hashes("text").alias("hs")
        )
        sh = D.simhash("hs")
        return docs.select(
            "doc_id", sh.alias("simhash"), (sh % 256).alias("simhash_bucket")
        )

    _PAIR_COS = (
        "list_inner_product(a.v, b.v)"
        " / (sqrt(list_inner_product(a.v, a.v))"
        " * sqrt(list_inner_product(b.v, b.v)))"
    )

    @register(
        "dedup_embedding_cosine",
        oracle=f"""
WITH e AS (
    SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
)
SELECT a.label AS label, a.vec_id AS vec_a, b.vec_id AS vec_b,
       {stable_round_sql(_PAIR_COS, 6)} AS cos_sim
FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE {_PAIR_COS} >= 0.35
""",
        doc="Embedding-cosine near-dup detection: candidate pairs "
        "blocked by label (the cluster/shard key), exact cosine >= "
        "threshold within blocks. The blocked self-join shuffles once "
        "on the block key; vector math is codegen'd sequential-fold "
        "(bit-identical to DuckDB list_inner_product). At 100 TB the "
        "block key would be an ANN-assigned coarse centroid "
        "(IVF-style) instead of a label — same plan shape.",
    )
    def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
        from stock_trend_predictor_spark.operators.similarity import (
            as_double,
            dot,
            l2norm,
        )
        from stock_trend_predictor_spark.operators.skew import (
            pair_parallel_self_join,
        )

        # Norms precomputed once per vector, not once per pair: for
        # B-row blocks that turns 3 O(dim) folds per pair into 1
        # (bit-identical result — same inputs, same IEEE ops; the
        # oracle's per-pair sqrt yields the same double). Pair
        # enumeration via the triangle decomposition: 10 labels alone
        # would cap the CPU-bound scoring at 10 tasks.
        e = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "label", as_double("embedding").alias("v")
        )
        e = e.withColumn("nrm", l2norm(F.col("v")))
        pairs = pair_parallel_self_join(e, block="label", id_col="vec_id")
        cos = dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm"))
        return (
            pairs.select(
                F.col("a.label").alias("label"),
                F.least(F.col("a.vec_id"), F.col("b.vec_id")).alias("vec_a"),
                F.greatest(F.col("a.vec_id"), F.col("b.vec_id")).alias("vec_b"),
                cos.alias("cos_raw"),
            )
            .where(F.col("cos_raw") >= 0.35)
            .select(
                "label",
                "vec_a",
                "vec_b",
                stable_round(F.col("cos_raw"), 6).alias("cos_sim"),
            )
        )

    _EDGES_CTE = f"""e AS (
    SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), edges AS (
    SELECT a.vec_id AS src, b.vec_id AS dst
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {_PAIR_COS} >= 0.35
)"""

    from stock_trend_predictor_spark.operators.components import (
        components_recursive_sql,
    )

    @register(
        "dedup_cluster_assignment",
        oracle=components_recursive_sql(_EDGES_CTE),
        doc="Near-duplicate CLUSTERS from the pairwise graph: "
        "transitive closure of the embedding-cosine pairs via "
        "iterative min-label propagation "
        "(operators/components.py::connected_components — one "
        "join+min shuffle per round, rounds = graph diameter, only a "
        "convergence boolean reaches the driver). Pairwise output "
        "alone under-deduplicates: A~B and B~C form one cluster even "
        "when A~C was never scored. component = min reachable vec_id "
        "= the cluster keeper. Oracle: DuckDB recursive-CTE "
        "transitive closure over the identical edge set.",
    )
    def dedup_cluster_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
        from stock_trend_predictor_spark.operators.components import (
            connected_components,
        )
        from stock_trend_predictor_spark.operators.similarity import (
            as_double,
            dot,
            l2norm,
        )
        from stock_trend_predictor_spark.operators.skew import (
            pair_parallel_self_join,
        )

        e = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "label", as_double("embedding").alias("v")
        )
        e = e.withColumn("nrm", l2norm(F.col("v")))
        pairs = pair_parallel_self_join(e, block="label", id_col="vec_id")
        cos = dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm"))
        edges = (
            pairs.where(cos >= 0.35)
            .select(
                F.least(F.col("a.vec_id"), F.col("b.vec_id")).alias("src"),
                F.greatest(F.col("a.vec_id"), F.col("b.vec_id")).alias("dst"),
            )
        )
        return connected_components(edges, "src", "dst")

    @register(
        "dedup_cluster_profile",
        oracle=f"""
SELECT cluster_size,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(sum(cluster_size) - count(*) AS BIGINT) AS n_removable,
       min(component) AS example_cluster
FROM (
    SELECT component, CAST(count(*) AS BIGINT) AS cluster_size
    FROM ({components_recursive_sql(_EDGES_CTE)}) c
    GROUP BY component
)
GROUP BY cluster_size
""",
        doc="Operational profile of the near-dup graph: histogram of "
        "cluster sizes plus the removable-row count (size-1 per "
        "cluster — every member except the keeper), i.e. the exact "
        "space the dedup pass will reclaim. This is the report a "
        "corpus owner reads before committing a dedup run; a giant "
        "top bucket here is the mega-cluster signal that "
        "lsh_candidate_pairs' bucket_cap defends against. Built on "
        "the same label-propagation components as "
        "dedup_cluster_assignment; the profile itself is two "
        "constant-size aggregations above it.",
    )
    def dedup_cluster_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
        from stock_trend_predictor_spark.operators.components import (
            connected_components,
        )
        from stock_trend_predictor_spark.operators.similarity import (
            as_double,
            dot,
            l2norm,
        )
        from stock_trend_predictor_spark.operators.skew import (
            pair_parallel_self_join,
        )

        e = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "label", as_double("embedding").alias("v")
        )
        e = e.withColumn("nrm", l2norm(F.col("v")))
        pairs = pair_parallel_self_join(e, block="label", id_col="vec_id")
        cos = dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm"))
        edges = pairs.where(cos >= 0.35).select(
            F.least(F.col("a.vec_id"), F.col("b.vec_id")).alias("src"),
            F.greatest(F.col("a.vec_id"), F.col("b.vec_id")).alias("dst"),
        )
        comps = connected_components(edges, "src", "dst")
        sizes = comps.groupBy("component").agg(
            F.count(F.lit(1)).cast("bigint").alias("cluster_size")
        )
        return sizes.groupBy("cluster_size").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
            (F.sum("cluster_size") - F.count(F.lit(1)))
            .cast("bigint")
            .alias("n_removable"),
            F.min("component").alias("example_cluster"),
        )

    @register(
        "dedup_ngram_jaccard_blocked",
        oracle=f"""
WITH shingled AS (
    SELECT doc_id, lang, n_chars, {D.shingle_hashes_sql('text')} AS hs
    FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       {stable_round_sql(
           'CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE)'
           ' / len(list_distinct(list_concat(a.hs, b.hs)))', 6)} AS jaccard
FROM shingled a
JOIN shingled b
  ON a.lang = b.lang AND a.n_chars = b.n_chars AND a.doc_id < b.doc_id
""",
        doc="Blocked exact n-gram Jaccard: candidate pairs restricted "
        "to identical (lang, n_chars) blocks — the classic blocking "
        "strategy that keeps exact-similarity affordable; no global "
        "cross product. Pair enumeration via the triangle "
        "decomposition (pair_parallel_self_join): a plain blocked "
        "self-join shuffles on the block key alone, so the CPU-bound "
        "Jaccard scoring would be capped at #(lang, n_chars) tasks — "
        "the same treatment dedup_embedding_cosine already has.",
    )
    def dedup_ngram_jaccard_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
        from stock_trend_predictor_spark.operators.skew import (
            pair_parallel_self_join,
        )

        docs = D.with_shingle_hashes(
            load_table(spark, sf_dir, "documents").repartition(
                spark.sparkContext.defaultParallelism, "doc_id"
            )
        ).select("doc_id", "lang", "n_chars", "hs")
        pairs = pair_parallel_self_join(
            docs, block=["lang", "n_chars"], id_col="doc_id"
        )
        jac = D.jaccard_of_hash_arrays(F.col("a.hs"), F.col("b.hs"))
        return pairs.select(
            F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_a"),
            F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_b"),
            stable_round(jac, 6).alias("jaccard"),
        )

    @register(
        "dedup_embedding_ivf",
        # Full value-hash oracle since round 6: the decimal-sufficient-
        # stat Lloyd update made the quantizer cross-engine
        # deterministic, so DuckDB replays the ENTIRE pipeline (seeds,
        # 3 Lloyd iterations, multiprobe, within-cell pairs, rounded
        # cosine) bit-for-bit. Recall vs the exact all-pairs truth
        # stays tested in tests/test_summaries.py.
        oracle=_IVF_DEDUP_ORACLE,
        doc="LABEL-FREE semantic near-dup detection — the 100 TB shape "
        "when no blocking key exists: a deterministic-seed k-means "
        "coarse quantizer (operators/ivf.py, only k x dim floats ever "
        "reach the driver) assigns every vector to its nprobe=3 "
        "nearest cells; candidate pairs enumerate within cells via the "
        "triangle decomposition; exact cosine >= 0.35 verifies. "
        "Multi-probe is the recall lever: Voronoi-boundary pairs "
        "share a deeper probe cell — nprobe=3 measures >=0.94 pair "
        "recall at every test sf (0.76 at nprobe=2); the per-round "
        "number is published in RECALL.json. Complexity: sum of cell "
        "sizes squared, vs the quadratic all-pairs the exact query "
        "(dedup_embedding_cosine) needs a label for.",
    )
    def dedup_embedding_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
        from stock_trend_predictor_spark.operators.ivf import (
            assign_clusters_multiprobe,
            kmeans_centroids,
        )
        from stock_trend_predictor_spark.operators.similarity import (
            as_double,
            dot,
            l2norm,
        )
        from stock_trend_predictor_spark.operators.skew import (
            pair_parallel_self_join,
        )

        # repartition + materialize (r5): a single-file embeddings
        # parquet pinned the pair scoring to a handful of tasks, and
        # the lazy scan+cast+norm pipeline re-ran for every Lloyd
        # pass. Same-session A/B at sf0.1: 18.4-18.8 s -> 4.6-5.3 s
        # warm, identical pair output.
        e = materialize_once(
            load_table(spark, sf_dir, "embeddings")
            .repartition(spark.sparkContext.defaultParallelism)
            .select("vec_id", as_double("embedding").alias("v"))
            .withColumn("nrm", l2norm(F.col("v")))
        )
        cents = kmeans_centroids(e, k=8, iters=3, vec_col="v")
        probed = assign_clusters_multiprobe(e, cents, nprobe=3)
        pairs = pair_parallel_self_join(probed, block="cid", id_col="vec_id")
        cos = dot(F.col("a.v"), F.col("b.v")) / (
            F.col("a.nrm") * F.col("b.nrm")
        )
        return (
            pairs.select(
                F.least(F.col("a.vec_id"), F.col("b.vec_id")).alias("vec_a"),
                F.greatest(F.col("a.vec_id"), F.col("b.vec_id")).alias(
                    "vec_b"
                ),
                stable_round(cos, 6).alias("cos_sim"),
            )
            .where(F.col("cos_sim") >= 0.35)
            # a pair sharing both probed cells appears once per cell
            .distinct()
        )

    @register(
        "fuzzy_match_part_names",
        oracle="""
WITH names AS (
    SELECT DISTINCT p_name, string_split(p_name, ' ')[-1] AS noun
    FROM part
)
SELECT least(a.p_name, b.p_name) AS name_a,
       greatest(a.p_name, b.p_name) AS name_b,
       levenshtein(a.p_name, b.p_name) AS dist
FROM names a JOIN names b ON a.noun = b.noun AND a.p_name < b.p_name
WHERE levenshtein(a.p_name, b.p_name) <= 2
""",
        doc="Entity resolution / fuzzy record linkage: near-identical "
        "part names (edit distance <= 2) found WITHOUT an all-pairs "
        "comparison — candidates are blocked on the name's last word, "
        "and the quadratic-per-block pair enumeration runs through "
        "pair_parallel_self_join so parallelism is #blocks x "
        "n_splits(n_splits+1)/2, not capped at the (low) block "
        "cardinality. levenshtein is a built-in in BOTH engines, so "
        "the scoring stays JVM-side here and oracle-exact. The same "
        "shape handles 100 TB catalog/name dedup: blocking bounds "
        "candidate generation, triangle decomposition bounds skew.",
    )
    def fuzzy_match_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
        from stock_trend_predictor_spark.operators.skew import (
            pair_parallel_self_join,
        )

        names = (
            load_table(spark, sf_dir, "part")
            .select("p_name")
            .distinct()
            .withColumn(
                "noun", F.element_at(F.split(F.col("p_name"), " "), -1)
            )
        )
        pairs = pair_parallel_self_join(
            names, block="noun", id_col="p_name"
        )
        dist = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
        return (
            pairs.where(dist <= 2)
            .select(
                F.least(F.col("a.p_name"), F.col("b.p_name")).alias("name_a"),
                F.greatest(F.col("a.p_name"), F.col("b.p_name")).alias(
                    "name_b"
                ),
                dist.alias("dist"),
            )
        )


_register()


def _register_er():
    from stock_trend_predictor_spark.plans.registry import register

    @register(
        "entity_resolution_parts",
        oracle="""
WITH RECURSIVE names AS (
    SELECT DISTINCT p_name, string_split(p_name, ' ')[-1] AS noun
    FROM part
), edges AS (
    SELECT least(a.p_name, b.p_name) AS src,
           greatest(a.p_name, b.p_name) AS dst
    FROM names a JOIN names b ON a.noun = b.noun AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= 2
), und AS (
    SELECT src AS a, dst AS b FROM edges
    UNION
    SELECT dst AS a, src AS b FROM edges
), reach(a, b) AS (
    SELECT a, b FROM und
    UNION
    SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
), comp AS (
    SELECT a AS node, least(a, min(b)) AS component
    FROM reach GROUP BY a
)
SELECT component AS canonical_name,
       CAST(count(*) AS BIGINT) AS n_names,
       list_aggregate(list_sort(list(node)), 'string_agg', '|')
           AS all_names,
       CAST(max(levenshtein(node, component)) AS BIGINT)
           AS max_dist_to_canonical
FROM comp GROUP BY component
""",
        doc="The composed entity-resolution capstone: blocked fuzzy "
        "candidate pairs (same last word, levenshtein <= 2 — "
        "fuzzy_match_part_names' generation, re-used) resolved into "
        "ENTITIES by connected components over the match graph "
        "(operators/components.py::connected_components — min-label "
        "propagation, one join+min shuffle per round), with the "
        "lexicographic-min name elected canonical per cluster. "
        "Pairwise links alone under-resolve (A~B and B~C are one "
        "entity even when A~C was never scored); the closure is the "
        "resolution. Output: one row per resolved entity — canonical "
        "name, member count, the sorted '|'-joined alias list, and "
        "the max edit distance any alias sits from the canonical "
        "(a quality bound for the merge). Oracle: recursive-CTE "
        "transitive closure over the identical edge set. Scale "
        "shape: blocking + triangle-decomposed pair enumeration "
        "bound candidate generation; CC rounds = cluster diameter "
        "(tiny for name-dedup graphs); the alias list is "
        "cluster-sized, never corpus-sized.",
    )
    def entity_resolution_parts(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        from stock_trend_predictor_spark.operators.components import (
            connected_components,
        )
        from stock_trend_predictor_spark.operators.skew import (
            pair_parallel_self_join,
        )

        names = (
            load_table(spark, sf_dir, "part")
            .select("p_name")
            .distinct()
            .withColumn(
                "noun", F.element_at(F.split(F.col("p_name"), " "), -1)
            )
        )
        pairs = pair_parallel_self_join(
            names, block="noun", id_col="p_name"
        )
        dist = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
        edges = (
            pairs.where(dist <= 2)
            .select(
                F.least(
                    F.col("a.p_name"), F.col("b.p_name")
                ).alias("src"),
                F.greatest(
                    F.col("a.p_name"), F.col("b.p_name")
                ).alias("dst"),
            )
            .distinct()
        )
        comp = connected_components(edges)
        return comp.groupBy(
            F.col("component").alias("canonical_name")
        ).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_names"),
            F.array_join(
                F.array_sort(F.collect_list("node")), "|"
            ).alias("all_names"),
            F.max(
                F.levenshtein(F.col("node"), F.col("component"))
            ).cast("bigint").alias("max_dist_to_canonical"),
        )


_register_er()


def _register_r5():
    from stock_trend_predictor_spark.functions.exact import (
        stable_round,
        stable_round_sql,
    )
    from stock_trend_predictor_spark.plans.registry import register

    @register(
        "source_overlap_matrix",
        oracle=f"""
WITH d AS (
    SELECT DISTINCT source, md5(text) AS dg FROM documents
), sz AS (
    SELECT source, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1
), inter AS (
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(count(*) AS BIGINT) AS n_common
    FROM d a JOIN d b ON a.dg = b.dg AND a.source < b.source
    GROUP BY 1, 2
), pairs AS (
    SELECT sa.source AS source_a, sb.source AS source_b,
           sa.n AS n_a, sb.n AS n_b,
           COALESCE(i.n_common, 0) AS n_common
    FROM sz sa
    JOIN sz sb ON sa.source < sb.source
    LEFT JOIN inter i
      ON i.source_a = sa.source AND i.source_b = sb.source
)
SELECT source_a, source_b, n_a, n_b, n_common,
       {stable_round_sql(
           'CAST(n_common AS DOUBLE) / (n_a + n_b - n_common)',
           6)} AS jaccard,
       {stable_round_sql(
           'CAST(n_common AS DOUBLE) / least(n_a, n_b)',
           6)} AS containment
FROM pairs
""",
        doc="Cross-source duplication matrix — WHICH crawls duplicate "
        "each other, the curation question dedup_source_attribution's "
        "per-source shares can't answer (two sources can both be 30% "
        "duplicated against the corpus while sharing nothing with "
        "each other): per unordered source pair, the exact Jaccard "
        "and containment of their content-digest sets. Scale shape: "
        "digests are 16-byte md5 — text never crosses an exchange; "
        "the intersection is one digest-keyed equi-join of the "
        "DISTINCT (source, digest) table (dup-group bounded, the "
        "dedup_exact discipline); the pair frame is "
        "#sources-squared — universe-bounded, computed off the "
        "broadcast per-source size table.",
    )
    def source_overlap_matrix(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        d = docs.select(
            "source", F.md5("text").alias("dg")
        ).distinct()
        sz = d.groupBy("source").agg(
            F.count(F.lit(1)).cast("bigint").alias("n")
        )
        inter = (
            d.alias("a")
            .join(
                d.alias("b"),
                (F.col("a.dg") == F.col("b.dg"))
                & (F.col("a.source") < F.col("b.source")),
            )
            .groupBy(
                F.col("a.source").alias("source_a"),
                F.col("b.source").alias("source_b"),
            )
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
        )
        sa = sz.select(
            F.col("source").alias("source_a"), F.col("n").alias("n_a")
        )
        sb = sz.select(
            F.col("source").alias("source_b"), F.col("n").alias("n_b")
        )
        pairs = (
            F.broadcast(sa)
            .join(F.broadcast(sb), F.col("source_a") < F.col("source_b"))
            .join(F.broadcast(inter), ["source_a", "source_b"], "left")
            .withColumn("n_common", F.coalesce(F.col("n_common"), F.lit(0)))
        )
        return pairs.select(
            "source_a",
            "source_b",
            "n_a",
            "n_b",
            "n_common",
            stable_round(
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                6,
            ).alias("jaccard"),
            stable_round(
                F.col("n_common").cast("double")
                / F.least(F.col("n_a"), F.col("n_b")),
                6,
            ).alias("containment"),
        )


_register_r5()


def _register_r5b():
    from stock_trend_predictor_spark.plans.registry import register

    @register(
        "semdedup_keep_decision",
        # Full value-hash oracle since round 6 (r5 verdict #8): the
        # deterministic quantizer lets DuckDB replay Lloyd + multiprobe
        # exactly, and the post-quantizer stages (edge set, recursive-
        # CTE connected components, keep election) were deterministic
        # all along. Laws stay in tests/test_dedup.py: exactly one
        # keeper per cluster and it is the min member, singletons
        # kept, drop count == sum(cluster_size - 1), and every
        # cluster id equals its min member.
        oracle=_SEMDEDUP_ORACLE,
        doc="SemDeDup (Abbas et al. 2023) keep decision — semantic "
        "dedup at the corpus level, label-free: the IVF coarse "
        "quantizer blocks candidates (nprobe=3 cells, pair recall "
        "published in RECALL.json), exact cosine >= 0.35 builds the "
        "near-dup graph, transitive closure via min-label "
        "propagation (operators/components.py) groups semantic "
        "duplicates, and each cluster keeps ONE representative — the "
        "min vec_id, a deterministic stand-in for the paper's "
        "lowest-centroid-similarity choice, which would inherit the "
        "quantizer's float non-reproducibility. Output: every vector "
        "with its cluster, cluster size, and keep flag; the drop set "
        "is sum(cluster_size - 1) vectors. Composes the three "
        "operators this repo already ships (IVF blocking, triangle "
        "pair enumeration, iterative CC) into the end-to-end "
        "curation pass a 100 TB embedding corpus runs before "
        "training.",
    )
    def semdedup_keep_decision(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        from stock_trend_predictor_spark.operators.components import (
            connected_components,
        )
        from stock_trend_predictor_spark.operators.ivf import (
            assign_clusters_multiprobe,
            assign_clusters_two_level_multiprobe,
            kmeans_centroids,
        )
        from stock_trend_predictor_spark.operators.similarity import (
            as_double,
            dot,
            l2norm,
        )
        from stock_trend_predictor_spark.operators.skew import (
            pair_parallel_self_join,
        )

        # materialized once: the count, every Lloyd iteration (two
        # passes each), and the probe assignment all consume e — left
        # lazy, the scan+repartition+norm pipeline re-runs 8+ times
        # (measured 6.8 s of pure re-derivation at sf0.1)
        e = materialize_once(
            load_table(spark, sf_dir, "embeddings")
            # a single-file parquet corpus would pin every narrow
            # stage (assignment, norms) to ONE task — spread first
            .repartition(spark.sparkContext.defaultParallelism)
            .select("vec_id", as_double("embedding").alias("v"))
            .withColumn("nrm", l2norm(F.col("v")))
        )
        # cell count scales with the corpus (parameter-sized count
        # action): a FIXED nlist makes cells grow linearly and the
        # within-cell pair enumeration quadratically — measured: the
        # 30x dup-saturated corpus never finishes at k=8. nlist ~
        # N/500 is now UNCAPPED (r5 verdict #4): past 64 centroids
        # the assignment switches from plan-literal expressions to
        # the one-row broadcast-join distance matrix
        # (operators/ivf.py::_with_dists), and Lloyd trains on a
        # deterministic hash-slice holding ~64 points per cell —
        # placement only needs a sample; the full corpus is assigned
        # exactly once afterwards.
        n = e.count()
        k = max(8, n // 500)
        sample_mod = max(1, int(n // (k * 64))) if k > 64 else 1
        cents = kmeans_centroids(
            e, k=k, iters=3, vec_col="v", sample_mod=sample_mod
        )
        # BLOCKING assignment: flat ranked-slice multiprobe up to the
        # measured crossover, two-level (IMI-style) multiprobe past it
        # (r6 verdict #7). The flat fold is N x k distance evals; the
        # hierarchy cuts that to ~N x 3*sqrt(k). Same-session 30x A/B
        # (SCALE.md r7): at k=120 two-level reads 79.1 s vs the flat
        # 133.2 s (1.68x); at k=8 it LOSES (13.7 vs 9.2 — sqrt(8)
        # groups prune nothing), so the threshold sits at 64 — which
        # is also exactly the sampled-Lloyd / oracle-regime boundary
        # (n ~ 32k docs), so every oracle-checked run takes the flat
        # (oracle-exact) path by construction. Blocking-grade cell
        # agreement (0.71+ @ gprobe=2, floor-pinned in
        # tests/test_similarity.py) is the stated useful regime for
        # candidate generation; the keeper laws are structural and
        # hold under either assignment (tests/test_round7.py).
        import os as _os

        two_level = k >= SEMDEDUP_TWO_LEVEL_MIN_K
        # ORACLE REGIME GATE (r6 advice): _SEMDEDUP_ORACLE replays
        # Lloyd UNSAMPLED with FLAT multiprobe blocking, so the
        # value-hash compare is only valid while sample_mod == 1 AND
        # the flat path is taken (both hold up to n ~ 32k embeddings
        # at nlist = N/500). Harnesses that compare against the
        # oracle set SPARK_GRAFT_ORACLE_RUN (tools/driver_sim.py) —
        # past the regime they fail loud here instead of silently
        # hash-mismatching; production (no env) diverges freely.
        # RuntimeError, not assert: `python -O` strips asserts and
        # the guard must survive optimized mode (r7 advice).
        if _os.environ.get("SPARK_GRAFT_ORACLE_RUN") and (
            sample_mod > 1 or two_level
        ):
            raise RuntimeError(
                f"semdedup oracle invalid past the flat-unsampled "
                f"regime (n={n}, k={k}, sample_mod={sample_mod}, "
                f"two_level={two_level}); the DuckDB oracle trains "
                f"unsampled and blocks flat — compare at a smaller SF"
            )
        if two_level:
            probed = assign_clusters_two_level_multiprobe(
                e, cents, nprobe=3
            )
        else:
            probed = assign_clusters_multiprobe(e, cents, nprobe=3)
        pairs = pair_parallel_self_join(
            probed, block="cid", id_col="vec_id"
        )
        cos = dot(F.col("a.v"), F.col("b.v")) / (
            F.col("a.nrm") * F.col("b.nrm")
        )
        edges = (
            pairs.select(
                F.least(F.col("a.vec_id"), F.col("b.vec_id")).alias(
                    "vec_a"
                ),
                F.greatest(F.col("a.vec_id"), F.col("b.vec_id")).alias(
                    "vec_b"
                ),
                cos.alias("cos_sim"),
            )
            .where(F.col("cos_sim") >= 0.35)
            .select("vec_a", "vec_b")
            .distinct()
        )
        comps = connected_components(edges, src="vec_a", dst="vec_b")
        labeled = (
            e.select("vec_id")
            .join(
                comps.select(
                    F.col("node").alias("vec_id"), "component"
                ),
                "vec_id",
                "left",
            )
            .select(
                "vec_id",
                F.coalesce("component", F.col("vec_id")).alias(
                    "cluster"
                ),
            )
        )
        # cluster_size via a cluster-partitioned count window: on a
        # low-duplication corpus #clusters ~ #vectors, so the former
        # groupBy + F.broadcast(sizes) shipped an O(N) table to every
        # executor (r5 verdict #5). The window shuffles once on the
        # high-cardinality cluster key — no driver-sized artifact.
        from pyspark.sql import Window

        return labeled.select(
            "vec_id",
            "cluster",
            F.count(F.lit(1))
            .over(Window.partitionBy("cluster"))
            .cast("bigint")
            .alias("cluster_size"),
            (F.col("vec_id") == F.col("cluster")).alias("keep"),
        )


_register_r5b()


def _register_r6():
    from stock_trend_predictor_spark.plans.registry import register

    # The same shared md5-permutation SQL blocks as dedup_minhash_lsh
    # (rebuilt here; _register's locals are gone by now).
    sig_list = ", ".join(D.minhash_signature_sql("hs"))
    band_keys_sql = ", ".join(
        "concat_ws('_', "
        + ", ".join(
            f"CAST(sig[{m * D.BAND_ROWS + r + 1}] AS VARCHAR)"
            for r in range(D.BAND_ROWS)
        )
        + f") AS bkey{m}"
        for m in range(D.N_BANDS)
    )
    band_union_sql = "\nUNION ALL\n".join(
        f"SELECT doc_id, {m} AS band_id, bkey{m} AS bkey FROM banded"
        for m in range(D.N_BANDS)
    )
    jaccard_raw = (
        "CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE)"
        " / len(list_distinct(list_concat(a.hs, b.hs)))"
    )

    @register(
        "neardup_incremental_pairs",
        oracle=f"""
WITH shingled AS MATERIALIZED (
    SELECT doc_id, {D.shingle_hashes_sql('text')} AS hs FROM documents
), sigs AS (
    SELECT doc_id, hs, [{sig_list}] AS sig FROM shingled
), banded AS MATERIALIZED (
    SELECT doc_id, hs, sig, {band_keys_sql} FROM sigs
), bands AS (
    {band_union_sql}
), cand AS (
    SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
    FROM bands l JOIN bands r
      ON l.band_id = r.band_id AND l.bkey = r.bkey AND l.doc_id < r.doc_id
)
SELECT CAST(greatest(doc_a % 3, doc_b % 3) AS INTEGER) AS found_in_batch,
       doc_a, doc_b,
       {stable_round_sql(jaccard_raw, 6)} AS jaccard
FROM cand
JOIN shingled a ON a.doc_id = doc_a
JOIN shingled b ON b.doc_id = doc_b
WHERE {jaccard_raw} >= 0.5
""",
        doc="The CONTINUOUSLY MAINTAINED near-dup pass, oracle-checked "
        "end-to-end: the documents table arrives in three batches "
        "(arrival batch = doc_id % 3, so pair members arrive out of "
        "id order and the discovery law is genuinely exercised) "
        "folded through streaming/neardup_maintenance.py's LSH band "
        "index on the versioned state store. Per batch only the NEW "
        "docs' bands probe the accumulated index, so a pair is "
        "discovered exactly once — when its later-arriving member "
        "lands — giving the closed-form emission law "
        "found_in_batch = max(doc_a % 3, doc_b % 3), which is what "
        "lets a genuine stateful fold carry a full one-shot DuckDB "
        "oracle (the union of emitted pairs must equal "
        "dedup_minhash_lsh's pair set with that stamp). History text "
        "is never re-scanned: the probe joins N_BANDS keys per new "
        "doc against the band index (bucketed by (band_id, bkey) at "
        "corpus scale). Replayed batch ids are skipped before any "
        "write (operators/statestore.py). Laws in "
        "tests/test_neardup_stream.py.",
    )
    def neardup_incremental_pairs(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        from stock_trend_predictor_spark.operators.checkpoints import (
            materialize_then_cleanup,
            scratch_state_dir,
        )

        from stock_trend_predictor_spark.streaming.neardup_maintenance import (
            read_neardup_pairs,
            update_neardup_state,
        )

        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text"
        )
        state_dir = scratch_state_dir("neardup-inc", sf_dir)
        for i in range(3):
            batch = D.with_shingle_hashes(
                docs.where(F.col("doc_id") % 3 == i)
            ).select("doc_id", "hs")
            update_neardup_state(
                spark,
                batch,
                state_dir,
                batch_id=i,
                maintain_clusters=False,
            )

        # pin the read, then drop the throwaway state dir (r8 ADVICE:
        # per-pid dirs wiped only on same-pid re-entry leak across
        # processes and pile up in /tmp over repeated sweeps)
        return materialize_then_cleanup(
            read_neardup_pairs(spark, state_dir), state_dir
        )


_register_r6()


def _register_r6b():
    from stock_trend_predictor_spark.plans.registry import register

    sig_list = ", ".join(D.minhash_signature_sql("hs"))
    band_keys_sql = ", ".join(
        "concat_ws('_', "
        + ", ".join(
            f"CAST(sig[{m * D.BAND_ROWS + r + 1}] AS VARCHAR)"
            for r in range(D.BAND_ROWS)
        )
        + f") AS bkey{m}"
        for m in range(D.N_BANDS)
    )
    band_union_sql = "\nUNION ALL\n".join(
        f"SELECT doc_id, {m} AS band_id, bkey{m} AS bkey FROM banded"
        for m in range(D.N_BANDS)
    )
    jaccard_raw = (
        "CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE)"
        " / len(list_distinct(list_concat(a.hs, b.hs)))"
    )

    @register(
        "neardup_incremental_clusters",
        oracle=f"""
WITH RECURSIVE shingled AS MATERIALIZED (
    SELECT doc_id, {D.shingle_hashes_sql('text')} AS hs FROM documents
), sigs AS (
    SELECT doc_id, hs, [{sig_list}] AS sig FROM shingled
), banded AS MATERIALIZED (
    SELECT doc_id, hs, sig, {band_keys_sql} FROM sigs
), bands AS (
    {band_union_sql}
), cand AS (
    SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
    FROM bands l JOIN bands r
      ON l.band_id = r.band_id AND l.bkey = r.bkey AND l.doc_id < r.doc_id
), edges AS MATERIALIZED (
    SELECT doc_a AS src, doc_b AS dst FROM cand
    JOIN shingled a ON a.doc_id = doc_a
    JOIN shingled b ON b.doc_id = doc_b
    WHERE {jaccard_raw} >= 0.5
), und AS MATERIALIZED (
    SELECT src AS a, dst AS b FROM edges
    UNION
    SELECT dst AS a, src AS b FROM edges
), reach(a, b) AS (
    SELECT a, b FROM und
    UNION
    SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
), comp AS (
    SELECT a AS node, least(a, min(b)) AS component
    FROM reach GROUP BY a
)
SELECT d.doc_id, COALESCE(comp.component, d.doc_id) AS cluster
FROM documents d LEFT JOIN comp ON comp.node = d.doc_id
""",
        doc="The INCREMENTALLY MAINTAINED duplicate-cluster assignment "
        "— the stateful twin of neardup_keep_decision's closure "
        "stage: documents arrive in three batches (doc_id % 3), each "
        "batch's verified pairs merge cluster labels via "
        "min-label propagation run ONLY over the components the new "
        "pairs touch (star edges member->representative + the new "
        "pair edges reconstruct exactly the merged components' "
        "union), so per-batch closure work scales with the touched "
        "subgraph, never the corpus graph. The maintained labels "
        "must equal the one-shot connected components over ALL "
        "verified pairs — which is precisely the recursive-CTE "
        "oracle (singletons label themselves). State rides "
        "streaming/neardup_maintenance.py's segment fold; replayed "
        "batch ids are skipped before any compute. Laws in "
        "tests/test_neardup_stream.py.",
    )
    def neardup_incremental_clusters(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        from stock_trend_predictor_spark.operators.checkpoints import (
            materialize_then_cleanup,
            scratch_state_dir,
        )

        from stock_trend_predictor_spark.streaming.neardup_maintenance import (
            read_neardup_clusters,
            update_neardup_state,
        )

        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text"
        )
        state_dir = scratch_state_dir("neardup-cc", sf_dir)
        for i in range(3):
            batch = D.with_shingle_hashes(
                docs.where(F.col("doc_id") % 3 == i)
            ).select("doc_id", "hs")
            update_neardup_state(spark, batch, state_dir, batch_id=i)

        return materialize_then_cleanup(
            read_neardup_clusters(spark, state_dir), state_dir
        )


_register_r6b()



def _register_r7():
    from stock_trend_predictor_spark.plans.registry import register

    cos_sql = (
        "list_inner_product(ev.v, tr.v) / "
        "(sqrt(list_inner_product(ev.v, ev.v)) * "
        "sqrt(list_inner_product(tr.v, tr.v)))"
    )

    @register(
        "decontaminate_embedding_sim",
        oracle=f"""
WITH e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), ev AS (
    SELECT * FROM e WHERE vec_id < 8
), tr AS (
    SELECT * FROM e WHERE vec_id >= 8
), sc AS (
    SELECT ev.vec_id AS eval_id, tr.vec_id AS train_id,
           {stable_round_sql(cos_sql, 6)} AS c
    FROM ev CROSS JOIN tr
)
SELECT eval_id, train_id AS nearest_train_id, c AS max_cos,
       c >= 0.35 AS contaminated
FROM sc
QUALIFY row_number() OVER (
    PARTITION BY eval_id ORDER BY c DESC, train_id ASC) = 1
""",
        doc="SEMANTIC benchmark decontamination — the embedding-space "
        "twin of decontaminate_ngram_overlap (lexical 8-gram overlap "
        "misses paraphrased eval leakage; arXiv:2311.04850-style "
        "similarity screening catches it): for every held-out eval "
        "vector (vec_id < 8 stands in for the eval suite) find its "
        "nearest TRAIN vector by exact cosine and flag contamination "
        "at the 0.35 near-dup threshold the dedup family uses. Scale "
        "shape: the eval suite is tiny vs the corpus, so it rides a "
        "BROADCAST into one narrow pass over train embeddings; the "
        "argmax is a map-side-combinable max(struct(cos, -id)) "
        "aggregate keyed by the 8-row eval id — no window over a "
        "train-sized frame, train vectors never shuffle. Ties break "
        "to the lowest train id via the struct's second field; cosine "
        "pre-rounded (stable_round) so the cut and argmax are "
        "engine-exact.",
    )
    def decontaminate_embedding_sim(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        from stock_trend_predictor_spark.operators.similarity import (
            as_double,
            dot,
            l2norm,
        )

        e = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", as_double("embedding").alias("v")
        ).withColumn("nrm", l2norm(F.col("v")))
        ev = e.where(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("eval_id"),
            F.col("v").alias("ev_v"),
            F.col("nrm").alias("ev_nrm"),
        )
        tr = e.where(F.col("vec_id") >= 8)
        cos = stable_round(
            dot(F.col("ev_v"), F.col("v"))
            / (F.col("ev_nrm") * F.col("nrm")),
            6,
        )
        best = (
            tr.crossJoin(F.broadcast(ev))
            .select(
                "eval_id",
                F.struct(
                    cos.alias("c"), (-F.col("vec_id")).alias("ni")
                ).alias("s"),
            )
            .groupBy("eval_id")
            .agg(F.max("s").alias("b"))
        )
        return best.select(
            "eval_id",
            (-F.col("b.ni")).alias("nearest_train_id"),
            F.col("b.c").alias("max_cos"),
            (F.col("b.c") >= 0.35).alias("contaminated"),
        )


_register_r7()


def _register_r7b():
    from stock_trend_predictor_spark.plans.registry import register

    @register(
        "knn_graph_ivf",
        # the BLOCKING is part of the spec (top-5 among IVF-probe
        # cell-mates), and the r6 decimal-deterministic quantizer lets
        # DuckDB replay it exactly — so the graph carries a full
        # value-hash oracle, not a recall bound. Ordering ties break
        # on the raw (bit-identical) cosine then neighbor id, the
        # knn_bruteforce_cosine convention.
        oracle=f"""
WITH {_lloyd_ctes_sql('GREATEST(8, count(*) // 500)', 3)},\
{_probed_cte_sql(3, 3)},
pairs AS (
    SELECT DISTINCT l.vec_id AS query_id, r.vec_id AS neighbor_id
    FROM probed l JOIN probed r
      ON l.cid = r.cid AND l.vec_id != r.vec_id
), scored AS (
    SELECT p.query_id, p.neighbor_id, {_COS_SQL} AS sim
    FROM pairs p
    JOIN e a ON a.vec_id = p.query_id
    JOIN e b ON b.vec_id = p.neighbor_id
), ranked AS (
    SELECT query_id, neighbor_id, sim,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY sim DESC, neighbor_id) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, {stable_round_sql('sim', 6)} AS sim,
       CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 5
""",
        doc="ALL-PAIRS-FREE kNN graph: every vector's top-5 exact-"
        "cosine neighbors AMONG its IVF multiprobe cell-mates "
        "(nprobe=3) — the corpus-to-corpus neighbor structure that "
        "feeds SemDeDup-style curation, link-based quality "
        "propagation, and embedding-space diagnostics, built without "
        "the O(N^2) broadcast self-join (knn_bruteforce_cosine's "
        "shape, which is the right plan ONLY for a handful of query "
        "vectors). Scale shape: nlist scales N/500 so cells hold "
        "~500 vectors; candidate enumeration is a cid-keyed "
        "self-join (per-vector candidate lists are cell-bounded, "
        "never corpus-bounded) with a MEGA-CELL GUARD (r7 verdict "
        "#1): a viral near-dup cluster packs its replicas into one "
        "cell, making the plain equi-join quadratic in ONE hash "
        "bucket — so cells over operators/ivf.CELL_CAP split into "
        "ceil(n/cap) deterministic neighbor-splits and the query "
        "side replicates per split (lsh_candidate_pairs' "
        "degenerate-cell discipline: ordinary cells take the "
        "IDENTICAL k=1 plan, no branch, and the emitted pair set is "
        "law-identical at any cap). Each unordered pair scores its "
        "cosine ONCE and mirrors into both orientations "
        "(multiplication commutes and the addition order is shared, "
        "so the mirror is bit-exact); the top-5 window partitions on "
        "the high-cardinality vec_id, and the quantizer trains on "
        "the deterministic hash slice past the cap. Recall against "
        "the exact graph is the blocking dial (nprobe), same as the "
        "dedup family; the ORACLE replays the blocking itself, so "
        "correctness is exact, not probabilistic (and the cap is "
        "plan-invisible: pair-set identity is the law, so no oracle "
        "regime gate is needed for it).",
    )
    def knn_graph_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyspark.sql import Window

        from stock_trend_predictor_spark.operators.ivf import (
            assign_clusters_multiprobe,
            cell_knn_pairs,
            kmeans_centroids,
        )
        from stock_trend_predictor_spark.operators.similarity import (
            as_double,
            l2norm,
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
        import os as _os

        # same oracle-regime gate as semdedup: the SQL replay trains
        # Lloyd unsampled, valid while sample_mod == 1. RuntimeError,
        # not assert — must survive `python -O` (r7 advice).
        if _os.environ.get("SPARK_GRAFT_ORACLE_RUN") and sample_mod > 1:
            raise RuntimeError(
                f"knn_graph_ivf oracle invalid in the sampled-Lloyd "
                f"regime (n={n}, k={k}, sample_mod={sample_mod})"
            )
        cents = kmeans_centroids(
            e, k=k, iters=3, vec_col="v", sample_mod=sample_mod
        )
        probed = assign_clusters_multiprobe(e, cents, nprobe=3)
        # candidate stage: mega-cell-capped, score-once-mirror scored
        # pairs over cell-mates (pair-set identical to the plain cid
        # self-join at any cap — operators/ivf.cell_knn_pairs)
        cand = cell_knn_pairs(probed)
        w = Window.partitionBy("query_id").orderBy(
            F.col("sim").desc(), F.col("neighbor_id")
        )
        return (
            cand.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 5)
            .select(
                "query_id",
                "neighbor_id",
                stable_round(F.col("sim"), 6).alias("sim"),
                F.col("rank").cast("bigint").alias("rank"),
            )
        )


_register_r7b()


def _register_r7c():
    from stock_trend_predictor_spark.plans.registry import (
        REGISTRY,
        register,
    )

    @register(
        "decontamination_incremental",
        # the report is a pure function of (docs folded, bench grams
        # folded), so the fold shares the one-shot's full DuckDB
        # oracle verbatim — the dsir_incremental oracle-sharing
        # pattern
        oracle=REGISTRY["decontaminate_ngram_overlap"].oracle,
        doc="The CONTINUOUSLY MAINTAINED decontamination screen "
        "(streaming/decon_maintenance.py), exercising the arrival "
        "order a real pipeline fears: the corpus lands FIRST (two "
        "batches of doc_id >= 5), the benchmark suite (docs 0-4) "
        "only arrives AFTERWARDS — and every past document is "
        "re-screened RETROACTIVELY from its stored shingle-hash "
        "profile, zero text re-reads (the pay-featurization-once "
        "design shared with the DSIR fold). State = two append "
        "tables: per-doc gram profiles + the accumulated distinct "
        "bench-gram set (eval suites are tiny, the set broadcasts). "
        "Read = explode profiles, hash-join the broadcast bench set, "
        "doc-keyed aggregate — the one-shot plan minus shingling, "
        "which is why the fold shares decontaminate_ngram_overlap's "
        "oracle verbatim. Replayed batch ids skip before any "
        "compute; laws in tests/test_round7.py.",
    )
    def decontamination_incremental(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        from stock_trend_predictor_spark.operators.checkpoints import (
            materialize_then_cleanup,
            scratch_state_dir,
        )

        from stock_trend_predictor_spark.streaming.decon_maintenance import (
            read_contamination,
            update_decon_bench,
            update_decon_docs,
        )

        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text"
        )
        state_dir = scratch_state_dir("decon-inc", sf_dir)
        corpus = docs.where(F.col("doc_id") >= 5)
        update_decon_docs(
            spark, corpus.where(F.col("doc_id") % 2 == 0), state_dir, 0
        )
        update_decon_docs(
            spark, corpus.where(F.col("doc_id") % 2 == 1), state_dir, 1
        )
        # the eval suite arrives LAST — retro-screening is the point
        update_decon_bench(
            spark, docs.where(F.col("doc_id") < 5), state_dir, 2
        )

        return materialize_then_cleanup(
            read_contamination(spark, state_dir), state_dir
        )


_register_r7c()


def _register_r8():
    from stock_trend_predictor_spark.plans.registry import (
        REGISTRY,
        register,
    )

    @register(
        "knn_graph_incremental",
        # the folded graph is a pure function of the arrival set
        # under the frozen quantizer (top-k merge is exact, probed
        # cells are arrival-order-independent), so the fold shares
        # knn_graph_ivf's full DuckDB oracle VERBATIM — the
        # decontamination_incremental oracle-sharing pattern
        oracle=REGISTRY["knn_graph_ivf"].oracle,
        doc="The CONTINUOUSLY MAINTAINED corpus kNN graph "
        "(streaming/knngraph_maintenance.py) — the streaming twin of "
        "knn_graph_ivf, completing the maintained-curation family "
        "(near-dup, DSIR, decontamination, budget admission: the "
        "similarity graph was the missing fold). Arrivals fold in "
        "three batches under a FROZEN coarse quantizer (the FAISS / "
        "ivf_maintenance train-then-add discipline); each batch "
        "scores only NEW x touched-cell pairs through one "
        "mega-cell-capped salted join (sim computed once, mirrored "
        "bit-exactly), appends fresh top-5 lists for its own vectors "
        "and CHANGED-ONLY latest-wins revisions for existing "
        "cell-mates (top-k merge via the flatten+slice move), and "
        "reads prune to touched cid/query hash-buckets past the "
        "adaptive threshold. Because the maintained read equals the "
        "one-shot graph on the union, this fold shares "
        "knn_graph_ivf's value-hash oracle verbatim. Laws (parity on "
        "arrival splits, order invariance, replay idempotence, "
        "changed-only revisions, capped-join identity, per-commit "
        "write-IO boundedness) in tests/test_round8.py.",
    )
    def knn_graph_incremental(
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
        from stock_trend_predictor_spark.streaming.knngraph_maintenance import (
            read_knn_graph,
            update_knngraph_state,
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
        # knn_graph_ivf's oracle-regime gate, shared with its oracle
        if os.environ.get("SPARK_GRAFT_ORACLE_RUN") and sample_mod > 1:
            raise RuntimeError(
                f"knn_graph_incremental oracle invalid in the "
                f"sampled-Lloyd regime (n={n}, k={k}, "
                f"sample_mod={sample_mod})"
            )
        cents = kmeans_centroids(
            e, k=k, iters=3, vec_col="v", sample_mod=sample_mod
        )
        state_dir = scratch_state_dir("knng-inc", sf_dir)
        for i in range(3):
            update_knngraph_state(
                spark,
                e.where(F.col("vec_id") % 3 == i).select("vec_id", "v"),
                state_dir,
                cents,
                batch_id=i,
            )

        return materialize_then_cleanup(
            read_knn_graph(spark, state_dir), state_dir
        )


_register_r8()


def _register_r8b():
    from stock_trend_predictor_spark.plans.registry import (
        REGISTRY,
        register,
    )

    @register(
        "decon_screen_steady",
        # read_decon_scores == read_contamination after every commit
        # (law), and read_contamination shares the one-shot's oracle,
        # so the steady screen inherits it verbatim too
        oracle=REGISTRY["decontaminate_ngram_overlap"].oracle,
        doc="The STEADY-STATE decontamination screen (r7 verdict #7): "
        "the r7 fold re-exploded EVERY stored doc profile on every "
        "read — right for the retro-screen event, O(corpus profiles) "
        "for the everyday 'screen the current corpus' call. v2 "
        "maintains a scores table instead: a doc batch scores "
        "against the bench set AS OF arrival (batch-sized, broadcast "
        "join), a bench batch appends only its DELTA grams and "
        "retro-bumps stored counts by hits(delta) — exact because "
        "per-doc shingle arrays are distinct and the delta is "
        "disjoint from the stored set — and the read is ONE "
        "latest-wins scan of ~32 B/doc score rows, zero explodes, "
        "zero text. This query folds corpus-evens, then the bench "
        "suite (retro path), then corpus-odds (arrival-time path), "
        "and reads through the scores table; column-identical to "
        "decontaminate_ngram_overlap, oracle shared verbatim.",
    )
    def decon_screen_steady(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        from stock_trend_predictor_spark.operators.checkpoints import (
            materialize_then_cleanup,
            scratch_state_dir,
        )

        from stock_trend_predictor_spark.streaming.decon_maintenance import (
            read_decon_scores,
            update_decon_bench,
            update_decon_docs,
        )

        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text"
        )
        state_dir = scratch_state_dir("decon-steady", sf_dir)
        corpus = docs.where(F.col("doc_id") >= 5)
        update_decon_docs(
            spark, corpus.where(F.col("doc_id") % 2 == 0), state_dir, 0
        )
        # the suite lands mid-corpus: evens retro-rescore from stored
        # profiles, odds score on arrival — both score paths feed the
        # same latest-wins read
        update_decon_bench(
            spark, docs.where(F.col("doc_id") < 5), state_dir, 1
        )
        update_decon_docs(
            spark, corpus.where(F.col("doc_id") % 2 == 1), state_dir, 2
        )

        return materialize_then_cleanup(
            read_decon_scores(spark, state_dir), state_dir
        )


_register_r8b()


def _register_r8c():
    from stock_trend_predictor_spark.plans.registry import (
        REGISTRY,
        register,
    )

    @register(
        "knn_graph_retrain",
        # the retrain rebuilds from folded state under the one-shot's
        # own centroids, so the read equals knn_graph_ivf exactly —
        # oracle shared verbatim (the pure-function-of-state design)
        oracle=REGISTRY["knn_graph_ivf"].oracle,
        doc="The PERIODIC-RETRAIN leg of the maintained kNN graph "
        "(streaming/knngraph_maintenance.retrain_knngraph_state + "
        "swap_current_state), exercised end-to-end: arrivals fold in "
        "two batches under a STALE quantizer (one Lloyd iteration — "
        "the freshness-bridge generation), then the scheduled retrain "
        "rebuilds the graph FROM FOLDED STATE ONLY (members dedup; "
        "no source re-read) under the fully-trained centroids and "
        "the serve pointer swaps atomically. The rebuilt read is a "
        "pure function of (arrival set, new centroids), identical to "
        "the one-shot knn_graph_ivf — oracle shared verbatim. This "
        "is the production shape ivf_maintenance documents: retrain "
        "on schedule, fold in between, swap at the boundary; a crash "
        "mid-retrain leaves the old generation serving.",
    )
    def knn_graph_retrain(spark: SparkSession, sf_dir: str) -> DataFrame:
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
        from stock_trend_predictor_spark.streaming.knngraph_maintenance import (
            current_state_dir,
            read_knn_graph,
            retrain_knngraph_state,
            swap_current_state,
            update_knngraph_state,
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
        if os.environ.get("SPARK_GRAFT_ORACLE_RUN") and sample_mod > 1:
            raise RuntimeError(
                f"knn_graph_retrain oracle invalid in the "
                f"sampled-Lloyd regime (n={n}, k={k}, "
                f"sample_mod={sample_mod})"
            )
        base = scratch_state_dir("knng-retrain", sf_dir)
        # generation 0: the stale bridge quantizer (one iteration)
        stale = kmeans_centroids(
            e, k=k, iters=1, vec_col="v", sample_mod=sample_mod
        )
        gen0 = os.path.join(base, "gen0")
        for i in range(2):
            update_knngraph_state(
                spark,
                e.where(F.col("vec_id") % 2 == i).select("vec_id", "v"),
                gen0,
                stale,
                batch_id=i,
            )
        swap_current_state(base, gen0)
        # the scheduled retrain: fully-trained centroids (the
        # one-shot's spec), rebuilt from state, atomically swapped
        fresh = kmeans_centroids(
            e, k=k, iters=3, vec_col="v", sample_mod=sample_mod
        )
        gen1 = os.path.join(base, "gen1")
        retrain_knngraph_state(spark, gen0, fresh, gen1)
        swap_current_state(base, gen1)

        return materialize_then_cleanup(
            read_knn_graph(spark, current_state_dir(base)), base
        )


_register_r8c()


def _register_r8d():
    from stock_trend_predictor_spark.plans.registry import (
        REGISTRY,
        register,
    )

    @register(
        "semdedup_incremental",
        # the folded keep decision is a pure function of the arrival
        # set under the frozen quantizer (the fold enumerates exactly
        # the one-shot's cell-sharing pairs — each when its later
        # member lands — with bit-exact cosines, and min-label CC
        # over equal edge sets is equal), so the fold shares
        # semdedup_keep_decision's full DuckDB oracle VERBATIM — the
        # knn_graph_incremental oracle-sharing pattern
        oracle=REGISTRY["semdedup_keep_decision"].oracle,
        doc="The CONTINUOUSLY MAINTAINED SemDeDup keep decision "
        "(streaming/semdedup_maintenance.py) — the streaming twin of "
        "semdedup_keep_decision, closing the maintained-curation "
        "family's last gap (lexical near-dup, DSIR, decontamination, "
        "budget admission, and the kNN graph already fold; semantic "
        "dedup was one-shot-only). Arrivals fold in three batches "
        "under a FROZEN coarse quantizer; each batch scores only "
        "NEW x touched-cell pairs through the mega-cell-capped join "
        "(sim computed once, mirrored bit-exactly), thresholds exact "
        "cosine >= 0.35 into edges, and merges component labels via "
        "the near-dup fold's rep-contracted min-label CC delta "
        "(touched-bucket-pruned reads, per-batch work bounded by the "
        "NEW edge count). The read is one latest-wins label scan — "
        "column-identical to the one-shot (vec_id, cluster, "
        "cluster_size, keep), oracle shared verbatim with the same "
        "flat-unsampled regime gate. Laws (stream == batch on two "
        "splits, prefix parity after every batch, order invariance, "
        "replay idempotence, capped-join identity, label-write "
        "boundedness, format guard) in tests/test_round8.py.",
    )
    def semdedup_incremental(
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
        from stock_trend_predictor_spark.streaming.semdedup_maintenance import (
            read_semdedup_keep,
            update_semdedup_state,
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
        # the one-shot's oracle replays Lloyd UNSAMPLED with FLAT
        # multiprobe blocking; the fold blocks flat at any k, so its
        # oracle validity needs only the unsampled-Lloyd regime
        if os.environ.get("SPARK_GRAFT_ORACLE_RUN") and sample_mod > 1:
            raise RuntimeError(
                f"semdedup_incremental oracle invalid in the "
                f"sampled-Lloyd regime (n={n}, k={k}, "
                f"sample_mod={sample_mod})"
            )
        cents = kmeans_centroids(
            e, k=k, iters=3, vec_col="v", sample_mod=sample_mod
        )
        state_dir = scratch_state_dir("semdd-inc", sf_dir)
        for i in range(3):
            update_semdedup_state(
                spark,
                e.where(F.col("vec_id") % 3 == i).select("vec_id", "v"),
                state_dir,
                cents,
                batch_id=i,
            )

        return materialize_then_cleanup(
            read_semdedup_keep(spark, state_dir), state_dir
        )


_register_r8d()
