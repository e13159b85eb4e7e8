"""Regenerate PLANS.md: the physical plan of every headline /
scale-critical query, so the plan-shape claims in SCALE.md are
auditable without running anything.

Usage: python tools/dump_plans.py   (writes PLANS.md at the repository root)
"""

import sys
from pathlib import Path

_REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(_REPO))

from pyspark.sql import SparkSession  # noqa: E402

QUERIES = [
    # (name, the property the plan must show)
    ("q1_pricing_summary", "pushed ts filter; one shuffle of decimal partials"),
    ("q3_shipping_priority", "filtered customer broadcast; single-key SMJ"),
    ("q5_regional_revenue", "all dims broadcast, no SMJ"),
    ("q6_selective_revenue", "all 4 predicates in PushedFilters; 1 exchange"),
    ("q18_big_spenders", "HAVING before joins; TakeOrderedAndProject"),
    ("sql_nation_revenue", "view path == DataFrame path (same operators)"),
    ("dedup_exact", "16-byte digests shuffle; two-level HashAggregate"),
    ("dedup_minhash_lsh", "band keys shuffle, not text; ReusedExchange for cap branch"),
    ("dedup_embedding_cosine", "triangle pair decomposition; norms bound once"),
    ("knn_bruteforce_cosine", "queries broadcast; corpus never shuffled"),
    ("tfidf_top_terms", "df + N broadcast; rank window on doc_id"),
    ("chunk_dup_fraction", "hashes-only exchange, map-side combined"),
    ("gapfill_hourly_forward", "grid from aggregated frame; LOCF window; no BNLJ"),
    ("hot_window_purchase_count", "containment as bucket equi-join; BNLJ only for scalar thr"),
    ("daily_rollup_incremental", "monoid merge: union of partials, one final agg"),
    ("asof_join_purchase_view", "union + window, no range join"),
    ("global_topk", "TakeOrderedAndProject, no global sort"),
    ("rolling_lag_bucketed", "two-pass bucketed lag, parallelism #keys x #buckets"),
    ("heavy_hitters_tokens", "MG summaries via mapInPandas; candidates broadcast; vocabulary never shuffles"),
    ("bm25_doc_search", "stats collapse to one broadcast row; TakeOrderedAndProject top-20"),
    ("embedding_covariance", "gram partials: d^2-row shuffle only; vectors never exchange"),
    ("zorder_curve_key", "Morton spread is pure codegen arithmetic inside WholeStageCodegen"),
    ("lateral_topk_per_status", "LATERAL decorrelated: join against ranked build, no per-row subquery"),
    ("fuzzy_match_part_names", "blocked pairs via triangle decomposition; levenshtein JVM-side"),
    ("q10_returned_items", "rollup at o_custkey grain BEFORE the customer join; heap top-20"),
    ("pagerank_part_supplier", "per-iteration: one edge exchange + broadcast scalar; checkpointed lineage"),
    ("try_arithmetic_battery", "try_* all inside WholeStageCodegen; filters pushed"),
    ("sketch_countmin_tokens", "cells shuffle is constant-size (d x w); probes broadcast"),
    ("dedup_multimodal_phash", "band keys shuffle; payloads never leave the Arrow scan stage"),
    ("concurrent_intervals_profile", "per-day sweep windows + broadcast day offsets; no global sort"),
    ("pareto_customer_revenue", "window over aggregated customer grain, not raw orders"),
    ("user_event_sequences", "single aggregation builds sequences; no window pass"),
    ("attribution_forward_asof", "union + forward window, no range join"),
    ("dup_span_detection", "gram-hash window count; islands merge; no self-join"),
    ("doc_bigram_perplexity", "pair table checkpointed once; uni + vocab broadcast"),
    ("minhash_containment_pairs", "shares the banded LSH candidate plan; shingles by doc_id"),
    ("bollinger_bands_20", "ONE Window batch with 3 bound aggregates (no window CSE)"),
    ("macd_crossover", "74 lag taps over one per-symbol sort; no extra exchange"),
    ("corpus_keep_decision", "signal sub-pipelines joined on doc_id; text never shuffles"),
    ("mann_kendall_banded", "ten lag columns from ONE symbol sort; stack is narrow"),
    ("beta_vs_market_hourly", "(symbol,hour) combinable resample; market table broadcast back"),
    ("chi2_token_keyness", "windows over the aggregated count table; TakeOrderedAndProject top-50"),
    ("ngram_novelty_decay", "(doc,gram) pre-agg bounds the gram shuffle; no text in the exchange"),
    ("trend_consensus_verdict", "four signals fused into ONE Window batch over one symbol sort"),
    ("bootstrap_ci_value_mean", "100x replicate explode map-side combines to #types x B rows"),
    ("crosscorr_leadlag_hourly", "lag shift explodes the hours grid, never raw ticks; one equi-join"),
    ("hurst_exponent_rs", "one prefix-sum window serves all three block scales"),
    ("cointegration_engle_granger", "two combinable aggs + hours join + per-pair lag; no candidate rescans"),
    ("stat_tests_panel", "five one-row-per-symbol signals joined; ticks read once per test"),
    ("granger_causality_hourly", "closed-form two-model F: ONE combinable aggregate per pair"),
    ("ks_test_pairwise", "pairs broadcast into the return stream; one CDF window per pair"),
    ("pairs_spread_zscore", "OLS rows broadcast back; rolling stats on the hours-sized spread"),
    ("jaccard_prefix_filter_pairs", "rarest-token prefixes are the only join keys; verify join on candidate pairs"),
    ("skyline_parts", "bucket-local windows + tiny cross-bucket broadcast; no global window"),
    ("doc_chunk_overlap", "zero Exchange: scan -> explode -> project, all codegen"),
    ("incremental_join_view", "four partial aggs merged by one #groups-row groupBy-sum"),
    ("join_key_skew_profile", "top-10 via TakeOrderedAndProject; fact rows never shuffle for the profile"),
    ("kendall_tau_hourly", "pair table is hours^2-bounded; counts combine map-side"),
    ("sliding_distinct_users", "bounded 6x fan-out then one hash agg; no range self-join"),
    ("psi_price_drift", "1-row broadcast edge table; bins are fixed comparisons"),
    ("conformal_interval_width", "per-key model rows broadcast back; one symbol sort shared by split+residuals"),
    ("dft_power_spectrum", "trig terms over the (symbol,day) collapse; decimal window mean"),
    ("nb_lang_classifier", "model + priors broadcast into the token stream; one (doc,lang) shuffle"),
    ("knn_label_vote", "fixed query set broadcast; corpus scanned once, never shuffled"),
    ("bloom_filter_fpr", "bit-set broadcast to probes; member distinct is the only wide op"),
    ("decision_stump_movement", "ONE sorted window pass feeds all 9 candidate splits"),
    ("feature_correlation_prune", "all cross-moments in one combinable aggregate; pairs read a 1-row table"),
    # round-4 additions
    ("mann_whitney_u_pairwise", "one (pair, value) aggregate feeds the rank window; decimal rank sums; pair fan-out broadcast"),
    ("ann_lsh_cosine", "hashing is ONE Arrow matmul (ArrowEvalPython); only (id,id,sim) through the dedup exchange"),
    ("curriculum_quality_order", "one tokenize scan; ntile + per-decile windows; no join"),
    ("pretraining_block_manifest", "keep-decision sub-pipeline reused; per-(split, doc_id-bucket) prefix-scan cumsum (no split-only window); one final aggregate"),
    # round-6 additions: the tiny-cardinality-partition rewrites
    ("stratified_hash_sample", "bucket-pruned prefix scan: offsets filtered to < top_k before the broadcast join; window partitioned by (source, md5-prefix), never source alone"),
    ("weighted_doc_sample", "priority-bucketed prefix scan with top_k prune; no lang-only window over the corpus"),
    ("gopher_repetition_flags", "ONE posexplode + one doc-keyed window pass for offsets and all nine gram arities; count/interval windows on (doc,n[,gram]) keys that scale with the corpus; no Python"),
    ("bm25_incremental", "query read: postings pruned to the query terms' buckets AND docstats pruned to the candidates' dbuckets (r9); stats collapse to one broadcast row; TakeOrderedAndProject top-20"),
    # round-9 additions: the composed manifest + the multimodal fold
    ("curation_manifest_incremental", "manifest read: five latest-wins state reads joined on doc_id (8-byte ids + booleans shuffle, never text/vectors); verdict CASE is a narrow projection; no corpus-sized window"),
    ("phash_incremental_pairs", "pairs read is a pure state scan (the fold did the work); the per-batch probe is a band-bucket equi-join with Hamming verify on candidate pairs only — no Python past the Arrow phash kernel"),
    # round-10: the oracle-graduated PCA's re-planned moments pass
    ("embedding_pca_projection", "decimal moment sums: explode map-side combines to d*(d+1)/2 partial rows per partition (vectors never shuffle); projection is zip_with/aggregate inside codegen; eigensolve is driver-side on the parameter-sized artifact"),
]


def main() -> int:
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("dump-plans")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    from stock_trend_predictor_spark.plans import REGISTRY

    out = [
        "# PLANS — physical plans of the headline / scale-critical queries",
        "",
        "Generated by `python tools/dump_plans.py` (sf0.001, local[4], "
        "AQE initial plans). Each header states the property the plan "
        "must exhibit; `tests/test_plans.py` asserts the load-bearing "
        "ones so they cannot regress silently.",
        "",
    ]
    for name, claim in QUERIES:
        df = REGISTRY[name].fn(spark, "/root/testdata/sf0.001")
        plan = str(df._jdf.queryExecution().executedPlan())
        out += [f"## {name}", "", f"**must show:** {claim}", "", "```text", plan.rstrip(), "```", ""]
    with open(_REPO / "PLANS.md", "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(QUERIES)} plans)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
