"""Greedy submodular data selection: pick the documents that cover the
most vocabulary.

The data-SELECTION primitive of a curation stack (the inverse of the
dedup tier): coverage f(S) = |union of token sets| is monotone
submodular, so greedy selection carries the classic (1 - 1/e)
near-optimality guarantee — the principled way to pick a small,
maximally-diverse seed corpus (facility-location/coreset selection in
the LLM-data literature).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from stock_trend_predictor_spark.sources.tables import load_table

#: number of greedy rounds (documents selected).
COVER_K = 10


def _cover_oracle(k_steps: int) -> str:
    """The greedy loop UNROLLED as chained CTEs (the
    bpe_train_merges treatment): step CTE p{i} picks the max-marginal-
    gain document against covered set c{i-1}; c{i} unions the winner's
    grams in. Aggregation inside a growing-state recursion is not
    expressible as a SQL *recursive* CTE, but a FIXED selection budget
    needs no recursion — just K chained steps, all integer arithmetic,
    so the value-hash is exact."""
    parts = [
        """
WITH toks AS MATERIALIZED (
    SELECT DISTINCT doc_id, w1 || ' ' || w2 AS tok
    FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(string_split(text, ' '))),
                      i -> {'w1': string_split(text, ' ')[i],
                            'w2': string_split(text, ' ')[i + 1]}),
                      recursive := true)
        FROM documents
        WHERE len(string_split(text, ' ')) >= 2
    )
), c0(tok) AS (SELECT CAST(NULL AS VARCHAR) WHERE false)"""
    ]
    for i in range(1, k_steps + 1):
        parts.append(f""", p{i} AS MATERIALIZED (
    SELECT doc_id, count(*) AS g FROM toks t
    WHERE NOT EXISTS (SELECT 1 FROM c{i - 1} c WHERE c.tok = t.tok)
    GROUP BY doc_id ORDER BY g DESC, doc_id LIMIT 1
), c{i} AS MATERIALIZED (
    SELECT tok FROM c{i - 1}
    UNION
    SELECT t.tok FROM toks t JOIN p{i} USING (doc_id)
)""")
    steps = "\nUNION ALL ".join(
        f"SELECT {i} AS step, doc_id, g FROM p{i}"
        for i in range(1, k_steps + 1)
    )
    parts.append(f"""
SELECT CAST(step AS INT) AS step, doc_id,
       CAST(g AS BIGINT) AS marginal_gain,
       CAST(sum(g) OVER (ORDER BY step) AS BIGINT) AS covered_bigrams
FROM ({steps})
""")
    return "".join(parts)


def _register():
    from stock_trend_predictor_spark.plans.registry import register

    @register(
        "greedy_bigram_cover",
        oracle=_cover_oracle(COVER_K),
        # tests/test_structure.py additionally proves equality
        # against a brute-force Python greedy.
        doc=f"Greedy maximum-bigram-coverage selection of "
        f"{COVER_K} documents: each round scores every remaining "
        f"document by its MARGINAL gain (distinct grams not yet "
        f"covered — one anti-join + one count aggregate over the "
        f"distinct (doc, gram) table), picks the max with doc_id "
        f"tie-break via TakeOrderedAndProject(1), and adds its "
        f"grams to the covered set (checkpointed per round so "
        f"lineage stays round-sized). Only the {COVER_K} winning "
        f"(doc_id, gain) rows ever reach the driver — parameter-"
        f"sized, same contract as the IVF centroids. Greedy on a "
        f"monotone submodular objective is (1-1/e)-optimal, and "
        f"marginal gains are provably non-increasing (law-tested). "
        f"Coverage is over distinct BIGRAMS (the unigram vocabulary "
        f"of this corpus is 31 tokens — one document covers it; the "
        f"~930-bigram space forces genuinely diminishing returns). "
        f"At 100 TB the anti-join is a shuffle on the gram key per "
        f"round; rounds are the selection budget, not the data "
        f"size.",
    )
    def greedy_bigram_cover(spark: SparkSession, sf_dir: str) -> DataFrame:
        # bound token array + double-reference guard (the
        # minhash_signature CollapseProject pattern)
        toks = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", F.split("text", " ").alias("ts"))
            .select(
                "doc_id",
                F.explode(
                    F.expr(
                        "if(size(ts) < 0, null, "
                        "transform(sequence(1, size(ts) - 1), "
                        "i -> concat_ws(' ', try_element_at(ts, i), "
                        "try_element_at(ts, i + 1))))"
                    )
                ).alias("tok"),
            )
            .distinct()
            .localCheckpoint()
        )
        covered = spark.createDataFrame(
            [], T.StructType([T.StructField("tok", T.StringType())])
        )
        rows, cum = [], 0
        for step in range(1, COVER_K + 1):
            gain = (
                toks.join(covered, "tok", "left_anti")
                .groupBy("doc_id")
                .agg(F.count(F.lit(1)).alias("g"))
            )
            best = gain.orderBy(F.col("g").desc(), "doc_id").limit(1).collect()
            if not best:
                break
            doc, g = best[0].doc_id, best[0].g
            cum += g
            rows.append((step, doc, g, cum))
            covered = (
                covered.unionAll(
                    toks.where(F.col("doc_id") == doc).select("tok")
                )
                .distinct()
                .localCheckpoint()
            )
        return spark.createDataFrame(
            rows,
            T.StructType(
                [
                    T.StructField("step", T.IntegerType(), False),
                    T.StructField("doc_id", T.LongType(), False),
                    T.StructField("marginal_gain", T.LongType(), False),
                    T.StructField("covered_bigrams", T.LongType(), False),
                ]
            ),
        )


_register()


def _register_curriculum():
    from stock_trend_predictor_spark.plans.registry import register

    @register(
        "curriculum_quality_order",
        oracle="""
WITH q AS (
    SELECT doc_id,
           CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
               AS vocab_richness
    FROM documents
), buck AS (
    SELECT doc_id, vocab_richness,
           ntile(10) OVER (ORDER BY vocab_richness, doc_id) AS decile,
           md5(CAST(doc_id AS VARCHAR)) AS shuf
    FROM q
)
SELECT doc_id, vocab_richness, CAST(decile AS INT) AS decile,
       CAST(row_number() OVER (PARTITION BY decile
                               ORDER BY shuf, doc_id) AS BIGINT)
           AS pos_in_decile,
       CAST(row_number() OVER (ORDER BY decile, shuf, doc_id)
            AS BIGINT) AS curriculum_pos
FROM buck
""",
        doc="Deterministic curriculum ordering of the corpus "
        "(curriculum learning for LLM training data): documents "
        "bucket into vocabulary-richness deciles (distinct-token "
        "count — an integer, so the decile boundary is exact on both "
        "engines; ties break on doc_id), then shuffle WITHIN each "
        "decile by md5(doc_id) — a seeded, engine-reproducible "
        "permutation, the same trick dataset_split_assignment uses. "
        "Output: per-decile position and the global curriculum "
        "position a data loader would stream in. Scale shape (r4 "
        "verdict fix — the old form ran TWO unpartitioned windows "
        "over the whole corpus): exact ntile(10) is re-derived as "
        "integer arithmetic over a two-level prefix-scan global rank "
        "(operators/rank.py — buckets = the value-bounded richness "
        "domain, offsets from a window over the per-value COUNTS "
        "table), and both positions come from ONE counts pass over "
        "(decile x md5-prefix) cells: 2560 order-aligned cells, "
        "within-decile and global carry-in offsets broadcast back, "
        "row_number partitioned by cell. No window in the plan "
        "touches more than a 1/2560 corpus slice; the only "
        "unpartitioned windows run over the two parameter-sized "
        "offsets tables. Oracle = the single-window global ntile: "
        "two constructions, one result.",
    )
    def curriculum_quality_order(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        from pyspark.sql import Window

        from stock_trend_predictor_spark.operators.rank import (
            prefix_scan_rank,
        )

        docs = load_table(spark, sf_dir, "documents")
        q = docs.select(
            "doc_id",
            F.size(F.array_distinct(F.split("text", " ")))
            .cast("bigint")
            .alias("vocab_richness"),
        )
        # exact global rank over (richness, doc_id) — bucket by the
        # richness value itself (domain bounded by tokens-per-doc,
        # never corpus size)
        ranked = prefix_scan_rank(
            q,
            F.col("vocab_richness"),
            ["vocab_richness", "doc_id"],
            "r",
        )
        tot = q.agg(F.count(F.lit(1)).alias("n_total")).select(
            F.floor(F.col("n_total") / 10).cast("bigint").alias("base"),
            (F.col("n_total") % 10).cast("bigint").alias("rem"),
        )
        # ntile(10) from the rank, ALL-INTEGER (DIV, never double
        # division — a double quotient can misround the ceil once
        # ranks reach ~1e10): first `rem` deciles hold base+1 rows
        decile = (
            F.when(
                F.col("r") <= F.col("rem") * (F.col("base") + 1),
                F.expr("(r + base) DIV (base + 1)"),
            )
            .otherwise(
                F.col("rem")
                + F.expr(
                    "(r - rem * (base + 1) + base - 1)"
                    " DIV greatest(base, 1)"
                )
            )
            .cast("int")
        )
        buck = (
            ranked.join(F.broadcast(tot))
            .select(
                "doc_id",
                "vocab_richness",
                decile.alias("decile"),
                F.md5(F.col("doc_id").cast("string")).alias("shuf"),
            )
            .withColumn("sb", F.substring("shuf", 1, 2))
        )
        # one counts pass over the 10 x 256 order-aligned cells feeds
        # BOTH carry-ins: within-decile and global curriculum offsets
        cells = buck.groupBy("decile", "sb").agg(
            F.count(F.lit(1)).alias("n")
        )
        offs = cells.select(
            "decile",
            "sb",
            F.coalesce(
                F.sum("n").over(
                    Window.partitionBy("decile")
                    .orderBy("sb")
                    .rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ).alias("d_off"),
            F.coalesce(
                F.sum("n").over(
                    Window.orderBy("decile", "sb").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ).alias("g_off"),
        )
        rn = F.row_number().over(
            Window.partitionBy("decile", "sb").orderBy("shuf", "doc_id")
        )
        return (
            buck.join(F.broadcast(offs), ["decile", "sb"])
            .select(
                "doc_id",
                "vocab_richness",
                "decile",
                (F.col("d_off") + rn).cast("bigint").alias("pos_in_decile"),
                (F.col("g_off") + rn).cast("bigint").alias("curriculum_pos"),
            )
        )


_register_curriculum()


def _register_r5():
    from stock_trend_predictor_spark.functions.exact import stable_round_sql

    from stock_trend_predictor_spark.plans.registry import register

    @register(
        "block_size_tradeoff",
        oracle=f"""
WITH lens AS (
    SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
    FROM documents
), grid AS (
    SELECT b.block_size, l.n_tok
    FROM lens l CROSS JOIN (
        SELECT unnest([64, 128, 256, 512]) AS block_size
    ) b
), agg AS (
    SELECT block_size,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (WHERE n_tok > block_size) AS BIGINT)
               AS docs_truncated,
           CAST(SUM(least(n_tok, block_size)) AS BIGINT) AS tokens_kept,
           CAST(SUM(greatest(n_tok - block_size, 0)) AS BIGINT)
               AS tokens_lost
    FROM grid GROUP BY 1
)
SELECT CAST(block_size AS BIGINT) AS block_size, n_docs, docs_truncated,
       tokens_kept, tokens_lost,
       {stable_round_sql(
           'CAST(tokens_lost AS DOUBLE)'
           ' / (tokens_kept + tokens_lost)', 6)} AS trunc_loss_share,
       {stable_round_sql(
           'CAST(tokens_kept AS DOUBLE) / (CAST(block_size AS DOUBLE)'
           ' * ((tokens_kept + block_size - 1) // block_size))',
           6)} AS util_lower_bound
FROM agg
""",
        doc="Training-block-size tradeoff sweep: for each candidate "
        "context length (64/128/256/512), the exact truncation loss "
        "(tokens beyond the block, docs affected) against the "
        "bin-packing LOWER-bound utilization ceil(kept/B) blocks "
        "would give — the two numbers a pretraining-data team trades "
        "when picking max_seq_len (sequence_packing then realizes "
        "the 512 choice greedily). All integer aggregates off ONE "
        "narrow token-length pass crossed with the 4-row candidate "
        "grid; ratios are fixed IEEE trees on bigints; integer DIV "
        "for the block count (a double quotient can misround ceil at "
        "1e10+ token scale — the curriculum lesson applied).",
    )
    def block_size_tradeoff(spark: SparkSession, sf_dir: str) -> DataFrame:
        from stock_trend_predictor_spark.functions.exact import stable_round

        docs = load_table(spark, sf_dir, "documents")
        lens = docs.select(
            F.size(F.split("text", " ")).cast("bigint").alias("n_tok")
        )
        bs = F.explode(
            F.array(*[F.lit(b) for b in (64, 128, 256, 512)])
        ).alias("block_size")
        grid = lens.select("n_tok", bs)
        agg = grid.groupBy("block_size").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.count_if(F.col("n_tok") > F.col("block_size"))
            .cast("bigint")
            .alias("docs_truncated"),
            F.sum(F.least(F.col("n_tok"), F.col("block_size")))
            .cast("bigint")
            .alias("tokens_kept"),
            F.sum(F.greatest(F.col("n_tok") - F.col("block_size"), F.lit(0)))
            .cast("bigint")
            .alias("tokens_lost"),
        )
        kept, lost = F.col("tokens_kept"), F.col("tokens_lost")
        blocks = F.expr(
            "(tokens_kept + block_size - 1) DIV block_size"
        )
        return agg.select(
            F.col("block_size").cast("bigint").alias("block_size"),
            "n_docs",
            "docs_truncated",
            "tokens_kept",
            "tokens_lost",
            stable_round(
                lost.cast("double") / (kept + lost), 6
            ).alias("trunc_loss_share"),
            stable_round(
                kept.cast("double")
                / (F.col("block_size").cast("double") * blocks),
                6,
            ).alias("util_lower_bound"),
        )

    @register(
        "stratified_hash_sample",
        oracle="""
WITH keyed AS (
    SELECT source, doc_id, lang,
           md5(CAST(doc_id AS VARCHAR)) AS sample_key
    FROM documents
), ranked AS (
    SELECT source, doc_id, lang, sample_key,
           CAST(row_number() OVER (PARTITION BY source
                                   ORDER BY sample_key, doc_id)
                AS BIGINT) AS sample_rank
    FROM keyed
)
SELECT source, doc_id, lang, sample_key, sample_rank
FROM ranked WHERE sample_rank <= 20
""",
        doc="Deterministic stratified corpus sample: the 20 documents "
        "per source with the smallest md5(doc_id) — the seeded, "
        "engine-reproducible 'random' sample every eval/debug "
        "pipeline needs (same md5 trick as dataset_split_assignment: "
        "a uniform hash IS the sample's randomness, and any two runs "
        "— or engines — agree on the exact member set). Scale shape: "
        "the bucket-pruned prefix scan (operators/rank.py, top_k=20) "
        "on 256 md5-prefix buckets — only each source's first "
        "bucket(s) are ever sorted, ~n/256 rows per task, vs a "
        "source-partitioned window sorting 1/#sources of the corpus "
        "in ONE task (r5 verdict #3); swap k or the stratum column "
        "freely.",
    )
    def stratified_hash_sample(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        from stock_trend_predictor_spark.operators.rank import (
            prefix_scan_rank,
        )

        docs = load_table(spark, sf_dir, "documents")
        keyed = docs.select(
            "source",
            "doc_id",
            "lang",
            F.md5(F.col("doc_id").cast("string")).alias("sample_key"),
        )
        # first two hex chars as an int: fixed-width lowercase hex is
        # lexicographically ordered, so the prefix value is exactly
        # order-aligned with the sample_key sort — no percentile pass
        bucket = F.conv(F.substring("sample_key", 1, 2), 16, 10).cast(
            "int"
        )
        return prefix_scan_rank(
            keyed,
            bucket,
            ["sample_key", "doc_id"],
            rank_name="sample_rank",
            partition_cols=["source"],
            top_k=20,
        ).select("source", "doc_id", "lang", "sample_key", "sample_rank")


_register_r5()


def _register_r5b():
    from stock_trend_predictor_spark.plans.registry import register

    @register(
        "epoch_shuffle_manifest",
        oracle="""
WITH e AS (
    SELECT unnest([1, 2]) AS epoch
), h AS (
    SELECT e.epoch, d.doc_id,
           md5('epoch' || CAST(e.epoch AS VARCHAR) || ':'
               || CAST(d.doc_id AS VARCHAR)) AS shuf
    FROM documents d CROSS JOIN e
), r AS (
    SELECT epoch, doc_id, shuf,
           row_number() OVER (PARTITION BY epoch
                              ORDER BY shuf, doc_id) AS shuffle_pos,
           count(*) OVER (PARTITION BY epoch) AS n
    FROM h
)
SELECT CAST(epoch AS INT) AS epoch, doc_id,
       CAST(shuffle_pos AS BIGINT) AS shuffle_pos,
       CAST(((shuffle_pos - 1) * 8) // n AS INT) AS shard
FROM r
""",
        doc="Per-epoch deterministic global shuffle order + contiguous "
        "shard assignment — the reproducible data-loader manifest "
        "every pretraining run needs (epoch reshuffles come from "
        "seeding the hash with the epoch number, so run N and a "
        "restarted run N agree byte-for-byte; cf. the reference's "
        "ad-hoc per-restart ordering, predict_from_vm4.py:44-45 "
        "consumes change-stream arrival order, which is not "
        "replayable). Scale shape: the global shuffle position is "
        "NOT a global window — prefix_scan_rank buckets by the first "
        "two hex chars of the order key itself (256 order-aligned "
        "buckets per epoch, partition_cols=[epoch]), so every "
        "physical window sees ~1/256 of one epoch and the only "
        "unpartitioned frame is the 512-row offsets table. Shards "
        "are contiguous rank ranges (8 per epoch) in pure integer "
        "arithmetic — a shard IS a sequential-read file at 100 TB.",
    )
    def epoch_shuffle_manifest(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        from stock_trend_predictor_spark.operators.rank import (
            prefix_scan_rank,
        )

        docs = load_table(spark, sf_dir, "documents")
        epochs = F.explode(F.array(F.lit(1), F.lit(2))).alias("epoch")
        keyed = docs.select("doc_id", epochs).select(
            "epoch",
            "doc_id",
            F.md5(
                F.concat(
                    F.lit("epoch"),
                    F.col("epoch").cast("string"),
                    F.lit(":"),
                    F.col("doc_id").cast("string"),
                )
            ).alias("shuf"),
        )
        # bucket = first byte of the order key: order-aligned because
        # lowercase-hex strings sort identically to their numeric value
        bucket = F.conv(F.substring("shuf", 1, 2), 16, 10).cast("int")
        ranked = prefix_scan_rank(
            keyed,
            bucket,
            ["shuf", "doc_id"],
            rank_name="shuffle_pos",
            partition_cols=["epoch"],
        )
        tot = docs.agg(F.count(F.lit(1)).alias("n"))
        return (
            ranked.join(F.broadcast(tot))
            .select(
                F.col("epoch").cast("int").alias("epoch"),
                "doc_id",
                "shuffle_pos",
                F.expr("((shuffle_pos - 1) * 8) DIV n")
                .cast("int")
                .alias("shard"),
            )
        )

    @register(
        "token_budget_selection",
        oracle="""
WITH q AS (
    SELECT doc_id, source,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
           CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
               AS richness
    FROM documents
), tot AS (
    SELECT source, SUM(n_tok) AS src_tokens FROM q GROUP BY 1
), r AS (
    SELECT q.*,
           row_number() OVER (PARTITION BY source
                              ORDER BY richness DESC, doc_id)
               AS sel_rank,
           SUM(n_tok) OVER (PARTITION BY source
                            ORDER BY richness DESC, doc_id
                            ROWS UNBOUNDED PRECEDING) AS cum_tokens
    FROM q
)
SELECT r.source, r.doc_id, r.n_tok, r.richness,
       CAST(r.sel_rank AS BIGINT) AS sel_rank,
       CAST(r.cum_tokens AS BIGINT) AS cum_tokens,
       (r.cum_tokens <= (6 * t.src_tokens) // 10) AS kept
FROM r JOIN tot t ON t.source = r.source
""",
        doc="Token-budget selection: each source keeps its "
        "highest-quality documents (vocabulary richness, doc_id "
        "tie-break) until 60% of that source's token mass is spent — "
        "the greedy quality-under-budget policy data-constrained "
        "pretraining mixes use. The budget is integer arithmetic "
        "(6*total DIV 10) so the keep frontier is exact on both "
        "engines. Scale shape: per-source rank AND running token sum "
        "come from ONE prefix_scan_rank pass (partition_cols=[source],"
        " sum_col=n_tok) bucketed by the value-bounded richness "
        "domain — a plain source-partitioned window would sort "
        "corpus/n_sources rows in one task (the same class as the r4 "
        "curriculum finding); here no window exceeds a (source x "
        "richness) cell and the offsets table is parameter-sized.",
    )
    def token_budget_selection(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        from stock_trend_predictor_spark.operators.rank import (
            prefix_scan_rank,
        )

        docs = load_table(spark, sf_dir, "documents")
        toks = F.split("text", " ")
        q = docs.select(
            "doc_id",
            "source",
            F.size(toks).cast("bigint").alias("n_tok"),
            F.size(F.array_distinct(toks)).cast("bigint").alias("richness"),
        )
        ranked = prefix_scan_rank(
            q,
            (-F.col("richness")).cast("int"),
            [F.col("richness").desc(), F.col("doc_id")],
            rank_name="sel_rank",
            sum_col="n_tok",
            cumsum_name="cum_tokens",
            partition_cols=["source"],
        )
        tot = q.groupBy("source").agg(
            F.sum("n_tok").alias("src_tokens")
        )
        return (
            ranked.join(F.broadcast(tot), "source")
            .select(
                "source",
                "doc_id",
                "n_tok",
                "richness",
                "sel_rank",
                F.col("cum_tokens").cast("bigint").alias("cum_tokens"),
                (
                    F.col("cum_tokens")
                    <= F.expr("(6 * src_tokens) DIV 10")
                ).alias("kept"),
            )
        )


_register_r5b()


def _register_r5c():
    from stock_trend_predictor_spark.plans.registry import register

    @register(
        "budget_admission_state",
        oracle="""
WITH toks AS (
    SELECT doc_id, source,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
    FROM documents
), b AS (
    SELECT CAST(SUM(n_tok) AS BIGINT)
           // (CAST(COUNT(DISTINCT source) AS BIGINT) * 2) AS budget
    FROM toks
), c AS (
    SELECT doc_id, source, n_tok,
           SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                            ROWS UNBOUNDED PRECEDING) AS cum
    FROM toks
)
SELECT doc_id, source, n_tok
FROM c WHERE cum <= (SELECT budget FROM b)
""",
        doc="The CONTINUOUS token-budget admission gate, oracle-checked "
        "end-to-end: the documents table arrives as three contiguous "
        "doc_id ranges folded through streaming/budget.py's "
        "hard-frontier sink on the versioned state store, and the "
        "returned admitted set is compared against the one-shot SQL "
        "prefix rule — the stream==batch law (admission under a fixed "
        "arrival order is batching-invariant; per-doc token counts "
        "are strictly positive, so the frontier is exactly "
        "cum <= budget) run as a driver-checked oracle rather than "
        "only a pytest assertion. The budget is half the mean "
        "per-source token mass in integer arithmetic (tot DIV "
        "(n_sources*2)), so the frontier BINDS at every SF — a "
        "never-binding budget would make the check vacuous. Per "
        "batch the admission plan is one window over the batch's own "
        "rows + a broadcast join against the parameter-sized totals "
        "table; the state COMMIT snapshots the keepers history (see "
        "streaming/budget.py for the append-segment lever at "
        "long-running scale); replayed batch ids are no-ops (laws in "
        "tests/test_streaming.py).",
    )
    def budget_admission_state(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        from stock_trend_predictor_spark.operators.checkpoints import (
            materialize_then_cleanup,
            scratch_state_dir,
        )

        from stock_trend_predictor_spark.streaming.budget import (
            read_admitted_docs,
            update_budget_state,
        )

        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "source", "text"
        )
        # contiguous arrival order = doc_id order: split at the exact
        # tertile ids; budget = half the mean per-source token mass
        # (three parameter-sized scalars)
        lo, hi, budget = docs.agg(
            F.expr("percentile(doc_id, 0.33)"),
            F.expr("percentile(doc_id, 0.67)"),
            F.expr(
                "CAST(SUM(size(split(text, ' '))) AS BIGINT)"
                " DIV (COUNT(DISTINCT source) * 2)"
            ),
        ).first()
        state_dir = scratch_state_dir("budget-adm", sf_dir)
        splits = [
            docs.where(F.col("doc_id") <= F.lit(lo)),
            docs.where(
                (F.col("doc_id") > F.lit(lo))
                & (F.col("doc_id") <= F.lit(hi))
            ),
            docs.where(F.col("doc_id") > F.lit(hi)),
        ]
        for i, part in enumerate(splits):
            update_budget_state(
                spark, part, state_dir, budget=int(budget), batch_id=i
            )

        # pin the read, then drop the throwaway state dir (r8 ADVICE:
        # per-pid dirs wiped only on same-pid re-entry leak across
        # processes and pile up in /tmp over repeated sweeps)
        return materialize_then_cleanup(
            read_admitted_docs(spark, state_dir), state_dir
        )


_register_r5c()


def _register_r6():
    from stock_trend_predictor_spark.functions.exact import (
        stable_round,
        stable_round_sql,
    )
    from stock_trend_predictor_spark.functions.text import hash60_sql
    from stock_trend_predictor_spark.plans.registry import register

    B = 2048  # hashed-feature buckets (the DSIR paper uses 10k for
    # web-scale corpora; 2048 keeps every parameter table
    # comfortably broadcastable and is plenty for this vocab)

    @register(
        "dsir_importance_weights",
        oracle=f"""
WITH feats AS (
    SELECT doc_id, lang,
           unnest(list_concat(ts,
               list_transform(range(1, len(ts)),
                              i -> ts[i] || ' ' || ts[i + 1]))) AS f
    FROM (SELECT doc_id, lang, string_split(text, ' ') AS ts
          FROM documents)
), b AS MATERIALIZED (
    SELECT doc_id, lang, {hash60_sql('f')} % {B} AS bucket FROM feats
), rb AS (
    SELECT bucket, CAST(count(*) AS BIGINT) AS cnt_r
    FROM b GROUP BY bucket
), tb AS (
    SELECT bucket, CAST(count(*) AS BIGINT) AS cnt_t
    FROM b WHERE lang = 'en' GROUP BY bucket
), tot AS (
    SELECT (SELECT sum(cnt_r) FROM rb) AS tr,
           (SELECT sum(cnt_t) FROM tb) AS tt
), lr AS (
    SELECT bucket,
           ln((coalesce(cnt_t, 0) + 1) / (tt + {B}.0))
         - ln((cnt_r + 1) / (tr + {B}.0)) AS lr
    FROM rb LEFT JOIN tb USING (bucket) CROSS JOIN tot
), per_doc AS (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
           CAST(SUM(CAST(lr AS DECIMAL(27,6))) AS DOUBLE) AS s
    FROM b JOIN lr USING (bucket)
    GROUP BY doc_id
)
SELECT doc_id, n_feats,
       {stable_round_sql('s', 6)} AS log_weight,
       {stable_round_sql('s', 6)} > 0 AS kept
FROM per_doc
""",
        doc="DSIR-style data selection with importance resampling "
        "(arXiv:2302.03169): hashed n-gram features (unigrams + "
        f"adjacent bigrams, md5-hash into {B} buckets), a Laplace-"
        "smoothed bag-of-buckets model of the TARGET distribution "
        "(here: the lang='en' slice) and of the RAW corpus, and a "
        "per-document importance weight = sum over feature instances "
        "of ln p_target(bucket) - ln p_raw(bucket); kept = weight > "
        "0 (more target-like than raw-like). The scale shape is the "
        "whole point of the bucketed design: the corpus explodes "
        "once into (doc_id, bucket) pairs (tokens + bigrams, ~2x "
        "token count), BOTH distribution models aggregate to "
        f"<= {B}-row parameter tables (map-side combinable), the "
        "log-ratio table broadcasts back, and the per-doc weight is "
        "one doc_id-keyed aggregation — no window, no self-join, "
        "text never moves past tokenization. Per-doc double sums go "
        "through the decimal trick (functions/exact.py) so the "
        "result is partition-order-independent and value-hash-equal "
        "to the DuckDB oracle.",
    )
    def dsir_importance_weights(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        from stock_trend_predictor_spark.operators.dsir import (
            dsir_log_weights,
        )

        per_doc = dsir_log_weights(
            load_table(spark, sf_dir, "documents"),
            target=F.col("lang") == "en",
            n_buckets=B,
        )
        lw = stable_round(F.col("__s"), 6)
        return per_doc.select(
            "doc_id",
            "n_feats",
            lw.alias("log_weight"),
            (lw > 0).alias("kept"),
        )


_register_r6()

def _register_r6b():
    from stock_trend_predictor_spark.functions.exact import (
        stable_round,
        stable_round_sql,
    )
    from stock_trend_predictor_spark.functions.text import (
        hash28,
        hash28_sql,
        hash60_sql,
    )
    from stock_trend_predictor_spark.plans.registry import register

    B = 2048
    K = 100
    #: 2^28 + 2 — every hash28 value and the denominator are exact in
    #: a double, so u = (h+1)/DEN is one deterministic IEEE division
    DEN = float(2**28 + 2)

    @register(
        "dsir_gumbel_topk_sample",
        oracle=f"""
WITH feats AS (
    SELECT doc_id, lang,
           unnest(list_concat(ts,
               list_transform(range(1, len(ts)),
                              i -> ts[i] || ' ' || ts[i + 1]))) AS f
    FROM (SELECT doc_id, lang, string_split(text, ' ') AS ts
          FROM documents)
), b AS MATERIALIZED (
    SELECT doc_id, lang, {hash60_sql('f')} % {B} AS bucket FROM feats
), rb AS (
    SELECT bucket, CAST(count(*) AS BIGINT) AS cnt_r
    FROM b GROUP BY bucket
), tb AS (
    SELECT bucket, CAST(count(*) AS BIGINT) AS cnt_t
    FROM b WHERE lang = 'en' GROUP BY bucket
), tot AS (
    SELECT (SELECT sum(cnt_r) FROM rb) AS tr,
           (SELECT sum(cnt_t) FROM tb) AS tt
), lr AS (
    SELECT bucket,
           ln((coalesce(cnt_t, 0) + 1) / (tt + {B}.0))
         - ln((cnt_r + 1) / (tr + {B}.0)) AS lr
    FROM rb LEFT JOIN tb USING (bucket) CROSS JOIN tot
), per_doc AS (
    SELECT doc_id,
           CAST(SUM(CAST(lr AS DECIMAL(27,6))) AS DOUBLE) AS s
    FROM b JOIN lr USING (bucket)
    GROUP BY doc_id
), keyed AS (
    SELECT doc_id, s,
           s + (-ln(-ln(({hash28_sql('CAST(doc_id AS VARCHAR)')} + 1)
                        / {DEN!r}))) AS gk
    FROM per_doc
)
SELECT doc_id,
       {stable_round_sql('s', 6)} AS log_weight,
       {stable_round_sql('gk', 6)} AS gumbel_key
FROM keyed
ORDER BY gk DESC, doc_id
LIMIT {K}
""",
        doc="The RESAMPLING half of DSIR: sample K documents without "
        "replacement with probability proportional to exp(importance "
        "weight), via Gumbel-top-k (arXiv:1903.06059 — perturb each "
        "weight with an independent Gumbel and take the top K). The "
        "Gumbel is hash-derived (u = (hash28(doc_id)+1)/(2^28+2), "
        "g = -ln(-ln(u))) so the sample is deterministic and "
        "cross-engine exact: every u is an exact-integer division, "
        "and selection compares UNROUNDED keys identical in both "
        "engines. Scale shape: the weight pass is dsir_log_weights' "
        "(broadcast models, one doc-keyed agg); the top-K is a "
        "TakeOrderedAndProject heap — per-partition heaps + driver "
        "merge of K rows, never a full sort (plan-locked in "
        "tests/test_plans.py).",
    )
    def dsir_gumbel_topk_sample(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        from stock_trend_predictor_spark.operators.dsir import (
            dsir_log_weights,
        )

        per_doc = dsir_log_weights(
            load_table(spark, sf_dir, "documents"),
            target=F.col("lang") == "en",
            n_buckets=B,
        )
        u = (hash28(F.col("doc_id").cast("string")) + 1) / F.lit(DEN)
        keyed = per_doc.select(
            "doc_id",
            F.col("__s").alias("s"),
            (F.col("__s") + (-F.log(-F.log(u)))).alias("gk"),
        )
        return (
            keyed.orderBy(F.col("gk").desc(), "doc_id")
            .limit(K)
            .select(
                "doc_id",
                stable_round(F.col("s"), 6).alias("log_weight"),
                stable_round(F.col("gk"), 6).alias("gumbel_key"),
            )
        )


_register_r6b()


def _register_r6c():
    from stock_trend_predictor_spark.functions.exact import stable_round
    from stock_trend_predictor_spark.plans.registry import (
        REGISTRY,
        register,
    )

    @register(
        "dsir_incremental_weights",
        # the fold is bit-equal to the one-shot by the decimal bridge
        # (n x decimal(lr) == decimal(lr) summed n times), so it
        # shares dsir_importance_weights' full DuckDB oracle verbatim
        oracle=REGISTRY["dsir_importance_weights"].oracle,
        doc="The CONTINUOUSLY MAINTAINED DSIR model "
        "(streaming/dsir_maintenance.py): documents arrive in three "
        "batches (doc_id % 3); each batch folds its hashed-feature "
        "bucket counts ADDITIVELY into the target/raw models "
        "(<= 2048-row snapshots — the additive-sketch state class) "
        "and appends its per-doc feature profiles as delta segments "
        "(a doc's features never change; history text is never "
        "re-featurized). Read-time scoring joins the profiles "
        "against the broadcast log-ratio table of the CURRENT model. "
        "The per-bucket contribution multiplies the decimal-cast "
        "log-ratio by the integer count — exactly equal to the "
        "one-shot per-instance decimal sum — so this genuine "
        "stateful fold shares dsir_importance_weights' full oracle "
        "verbatim. Replayed batch ids skip before any compute; laws "
        "in tests/test_round6.py.",
    )
    def dsir_incremental_weights(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        from stock_trend_predictor_spark.operators.checkpoints import (
            materialize_then_cleanup,
            scratch_state_dir,
        )

        from stock_trend_predictor_spark.streaming.dsir_maintenance import (
            read_dsir_weights,
            update_dsir_state,
        )

        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "lang", "text"
        )
        state_dir = scratch_state_dir("dsir-inc", sf_dir)
        for i in range(3):
            update_dsir_state(
                spark,
                docs.where(F.col("doc_id") % 3 == i),
                state_dir,
                batch_id=i,
            )
        per_doc = read_dsir_weights(spark, state_dir)
        lw = stable_round(F.col("__s"), 6)

        return materialize_then_cleanup(
            per_doc.select(
                "doc_id",
                "n_feats",
                lw.alias("log_weight"),
                (lw > 0).alias("kept"),
            ),
            state_dir,
        )


_register_r6c()


def _register_r7():
    from stock_trend_predictor_spark.functions.exact import (
        stable_round,
        stable_round_sql,
    )
    from stock_trend_predictor_spark.plans.registry import register

    w_sql = stable_round_sql("sqrt(tokens)", 6)

    @register(
        "source_temperature_mix",
        oracle=f"""
WITH s AS (
    SELECT source,
           count(*) AS n_docs,
           sum(len(string_split(text, ' '))) AS tokens
    FROM documents GROUP BY source
), w AS (
    SELECT *, {w_sql} AS w FROM s
), tot AS (
    SELECT sum(tokens) AS tt,
           CAST(sum(CAST(w AS DECIMAL(27,6))) AS DOUBLE) AS ww
    FROM w
)
SELECT source, n_docs, tokens,
       {stable_round_sql('CAST(tokens AS DOUBLE) / tt', 6)} AS p_raw,
       {stable_round_sql('w / ww', 6)} AS p_temp,
       CAST(floor(tt * {stable_round_sql('w / ww', 6)}) AS BIGINT)
           AS alloc_tokens
FROM w CROSS JOIN tot
""",
        doc="Temperature-scaled source sampling weights (the "
        "multilingual/multi-source pretraining mixture rule, "
        "arXiv:1901.07291 sec 3.1 style, alpha = 0.5): per source, "
        "p_temp = tokens^alpha / sum(tokens^alpha) flattens the raw "
        "size distribution so low-resource sources are upsampled, "
        "and alloc_tokens = floor(total * p_temp) is the per-source "
        "budget for one epoch of the re-balanced mix. Scale shape: "
        "ONE narrow scan (token count = array length, text never "
        "moves), a map-side-combinable 20-row source aggregate, and "
        "a broadcast 1-row total — the whole query is "
        "parameter-sized after the scan. Cross-engine determinism: "
        "sqrt is IEEE-correctly-rounded in both engines, weights "
        "pre-round to 6 dp, and their total accumulates as "
        "DECIMAL(27,6) so the normalizing sum is exact under any "
        "partitioning.",
    )
    def source_temperature_mix(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        s = docs.groupBy("source").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(F.split("text", " ")))
            .cast("bigint")
            .alias("tokens"),
        )
        w = s.withColumn("w", stable_round(F.sqrt("tokens"), 6))
        tot = w.agg(
            F.sum("tokens").alias("tt"),
            F.sum(F.col("w").cast("decimal(27,6)"))
            .cast("double")
            .alias("ww"),
        )
        p_temp = stable_round(F.col("w") / F.col("ww"), 6)
        return w.crossJoin(F.broadcast(tot)).select(
            "source",
            "n_docs",
            "tokens",
            stable_round(
                F.col("tokens").cast("double") / F.col("tt"), 6
            ).alias("p_raw"),
            p_temp.alias("p_temp"),
            F.floor(F.col("tt") * p_temp)
            .cast("bigint")
            .alias("alloc_tokens"),
        )


_register_r7()


def _register_r7b():
    from stock_trend_predictor_spark.functions.exact import (
        stable_round,
        stable_round_sql,
    )
    from stock_trend_predictor_spark.functions.text import hash60_sql
    from stock_trend_predictor_spark.plans.registry import register

    B = 2048  # must match the fold's N_BUCKETS / dsir_importance_weights

    @register(
        "dsir_retarget_weights",
        # the retargeted score is the one-shot DSIR pass with the new
        # target slice — same decimal bridge, so the full value-hash
        # oracle is the en-oracle with the target predicate swapped
        oracle=f"""
WITH feats AS (
    SELECT doc_id, lang,
           unnest(list_concat(ts,
               list_transform(range(1, len(ts)),
                              i -> ts[i] || ' ' || ts[i + 1]))) AS f
    FROM (SELECT doc_id, lang, string_split(text, ' ') AS ts
          FROM documents)
), b AS MATERIALIZED (
    SELECT doc_id, lang, {hash60_sql('f')} % {B} AS bucket FROM feats
), rb AS (
    SELECT bucket, CAST(count(*) AS BIGINT) AS cnt_r
    FROM b GROUP BY bucket
), tb AS (
    SELECT bucket, CAST(count(*) AS BIGINT) AS cnt_t
    FROM b WHERE lang = 'de' GROUP BY bucket
), tot AS (
    SELECT (SELECT sum(cnt_r) FROM rb) AS tr,
           (SELECT coalesce(sum(cnt_t), 0) FROM tb) AS tt
), lr AS (
    SELECT bucket,
           ln((coalesce(cnt_t, 0) + 1) / (tt + {B}.0))
         - ln((cnt_r + 1) / (tr + {B}.0)) AS lr
    FROM rb LEFT JOIN tb USING (bucket) CROSS JOIN tot
), per_doc AS (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
           CAST(SUM(CAST(lr AS DECIMAL(27,6))) AS DOUBLE) AS s
    FROM b JOIN lr USING (bucket)
    GROUP BY doc_id
)
SELECT doc_id, n_feats,
       {stable_round_sql('s', 6)} AS log_weight,
       {stable_round_sql('s', 6)} > 0 AS kept
FROM per_doc
""",
        doc="DSIR RETARGETING on the maintained model: the corpus was "
        "folded with the lang='en' target, then the practitioner "
        "changes their mind — re-score every document against the "
        "lang='de' slice WITHOUT re-reading or re-featurizing any "
        "text. The stored doc_buckets profiles make the new target "
        "model one parameter-sized re-aggregation (profiles of the "
        "newly flagged docs), and scoring is the same broadcast "
        "log-ratio join as always — featurization, the dominant cost "
        "of a DSIR pass at corpus scale, is paid exactly once per "
        "document EVER, not once per target choice. The result is "
        "bit-identical to a from-scratch one-shot pass with the new "
        "target (this query's full DuckDB oracle), via the same "
        "decimal n x lr bridge as dsir_incremental_weights.",
    )
    def dsir_retarget_weights(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        from stock_trend_predictor_spark.operators.checkpoints import (
            materialize_then_cleanup,
            scratch_state_dir,
        )

        from stock_trend_predictor_spark.streaming.dsir_maintenance import (
            retarget_dsir_weights,
            update_dsir_state,
        )

        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "lang", "text"
        )
        state_dir = scratch_state_dir("dsir-ret", sf_dir)
        for i in range(3):
            update_dsir_state(
                spark,
                docs.where(F.col("doc_id") % 3 == i),
                state_dir,
                batch_id=i,  # folded with the DEFAULT en target
            )
        per_doc = retarget_dsir_weights(
            spark,
            state_dir,
            docs.select(
                "doc_id", (F.col("lang") == "de").alias("__is_target")
            ),
        )
        lw = stable_round(F.col("__s"), 6)

        return materialize_then_cleanup(
            per_doc.select(
                "doc_id",
                "n_feats",
                lw.alias("log_weight"),
                (lw > 0).alias("kept"),
            ),
            state_dir,
        )


_register_r7b()
