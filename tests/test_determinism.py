"""Partitioning-invariance: the engine's core exactness claim is that
query results are bit-identical at ANY parallelism (decimal partial
aggregation, stable rounding, deterministic tiebreaks). A cluster
re-partitioning data must never change an answer — asserted here by
running the same queries under different shuffle widths."""

from __future__ import annotations

import pytest

from stock_trend_predictor_spark.plans import REGISTRY

SF_DIR = "/root/testdata/sf0.001"

QUERIES = [
    "flagship_movement_rate",   # decimal avg of change%
    "q1_pricing_summary",       # 8 decimal aggregates
    "vwap_per_supplier",        # ratio of decimal sums
    "pergroup_linreg_models",   # Catalyst solve over decimal stats
    "stats_battery",            # percentiles + sufficient-sum moments
    "dedup_minhash_lsh",        # mega-bucket cap must not alter pairs
    "feature_decile_binning",   # broadcast percentile cut points
    "rolling_time_range_features",  # range-frame decimal window sums
    "dataset_split_assignment",     # hash split is layout-independent
    "tfidf_top_terms",              # pre-rounded (tfidf, token) rank order
    "gapfill_hourly_forward",       # LOCF over rounded hourly means
    "trimmed_mean_per_type",        # percentile cuts + decimal mean
    "value_histogram",              # IEEE bin edges from broadcast bounds
    "q18_big_spenders",             # LIMIT set under orderkey tiebreak
    "hot_window_purchase_count",    # mean threshold + interval buckets
    "chunk_dup_fraction",           # global chunk counts at any width
    "sequence_packing",             # packing is a pure function of data
    "weighted_doc_sample",          # hash-u weighted sample, layout-proof
    "dup_span_detection",           # gram window count + island merge
    "dup_span_doc_fraction",        # zero-filled span budget per doc
    "minhash_containment_pairs",    # banded candidates + containment cut
    "rsi_cutler_14",                # decimal gain/loss window sums
    "bollinger_bands_20",           # decimal sufficient-sum variance
    "stochastic_oscillator_14",     # nested %K/%D windows
    "bpe_pair_merge_candidates",    # (count DESC, pair) top-50 cutoff
    "doc_bigram_perplexity",        # decimal(27,18) NLL sums
    "atr_14_daily",                 # decimal TR window sums over bars
    "theil_sen_banded_slope",       # percentile over the slope multiset
    "realized_vol_daily",           # decimal(27,18) squared-return sums
    "beta_vs_market_hourly",        # market mean join + sufficient sums
    "chi2_token_keyness",           # unrounded-chi2 top-50 cut
    "token_pmi_collocations",       # unrounded-npmi top-50 cut
    "ngram_novelty_decay",          # min(doc_id) attribution per gram
    "hurst_exponent_rs",            # block R/S + 3-point log-log fit
    "cointegration_engle_granger",  # two-stage sufficient-sum pipeline
    "stat_tests_panel",             # five joined test statistics
    "bootstrap_ci_value_mean",      # hash-seeded replicate weights
    "trend_consensus_verdict",      # fused four-signal vote
    # round-3 continuation batches
    "jaccard_prefix_filter_pairs",  # prefix candidates + exact verify
    "winsorized_stats_per_type",    # decimal clamped sums
    "skyline_parts",                # two-level prefix-min frontier
    "holt_linear_forecast_daily",   # per-group sequential recurrence
    "kaplan_meier_conversion",      # decimal cumulative log products
    "largest_remainder_allocation", # decimal windowed grand total
    "incremental_join_view",        # four-partial delta merge
    "rank_biased_overlap_halves",   # decimal term sum + revenue ranks
    "kendall_tau_hourly",           # exact concordance counts
    "attribution_position_based",   # decimal credit rollups
    "lang_temperature_mix",         # decimal-normalized pow weights
    "psi_price_drift",              # broadcast percentile edges
    "conformal_interval_width",     # decimal OLS + residual percentile
    "rake_keyphrases",              # decimal phrase scores, top-k cut
    "wasserstein_value_distance",   # decimal CDF-gap integral
    "dtw_distance_daily_pairs",     # per-pair banded DP
    "greedy_bigram_cover",          # argmax with doc_id tiebreak
    "funnel_step_latency",          # integer epoch percentiles
]


@pytest.mark.parametrize("name", QUERIES)
def test_results_invariant_to_shuffle_width(spark, name):
    fn = REGISTRY[name].fn
    orig = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "2")
        narrow = sorted(map(tuple, fn(spark, SF_DIR).collect()), key=str)
        spark.conf.set("spark.sql.shuffle.partitions", "64")
        wide = sorted(map(tuple, fn(spark, SF_DIR).collect()), key=str)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig)
    assert narrow == wide  # bit-identical, not approximately equal
