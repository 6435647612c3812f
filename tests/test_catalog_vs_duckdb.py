"""Mimics the driver's correctness gate: every catalog query with an
oracle must match DuckDB on row count, column names, and (order-
insensitively) values.  Runs at sf0.001 for speed; the driver runs sf0.01.
"""

from __future__ import annotations

import math

import duckdb
import pandas as pd
import pytest

from factory_inspectors_db_etl_spark.plans.catalog import (
    ORACLES,
    PYTEST_ONLY_ORACLES,
    PYTEST_ONLY_QUERIES,
    QUERIES,
    merge_registries,
)
from factory_inspectors_db_etl_spark.sources.tables import TABLE_NAMES

# The pytest-only semantic-dedup baselines keep their full oracle
# verification here even though they are not registered.
_ALL_QUERIES = {**QUERIES, **PYTEST_ONLY_QUERIES}
_ALL_ORACLES = {**ORACLES, **PYTEST_ONLY_ORACLES}

_REGISTERED_NAMES = set(
    """
a10_histogram a11_groupwise_linreg a12_equidepth_histogram a13_heavy_hitters
a14_mad_outliers a15_countmin a16_seasonal_baseline a17_mode a18_gini
a1_pricing_summary a21_weighted_median a22_hhi_concentration a24_percentile_rank
a25_quantile_sketch_rollup a26_entropy a27_bottomk_distinct
a2_skew_safe_distinct a3_rollup a3b_cube a3c_grouping_sets a4_distinct_counts
a5_approx_sketches a6_pivot a6b_unpivot a7_collect_set a8_reaggregate
a9_sketch_rollup d_containment d_contamination d_dedup_clusters
d_embedding_neardup d_embedding_neardup_lsh d_exact_dedup d_incremental_dedup
d_keep_best d_minhash_lsh d_ngram_jaccard d_semantic_dedup_lshassign
d_setsim_prefix_join d_simhash d_simhash_neardup d_substring_dedup
e1_union_dedup e2_except e2b_except_all e3_intersect e3b_intersect_all
e4_relational_division er_entity_clusters f10_dict_canonicalize f11_typed_date
f1_standardize f2_clean_number f5_regex_extract f8_token_sort_canon
f9_case_ladder flagship_q5_revenue g10_neighbor_jaccard g1_pagerank
g1b_pagerank_shuffle g2_triangle_count g3_label_propagation
g3b_label_prop_shuffle g4_khop_bfs g5_wcc g6_clustering_coeff
g7_degree_assortativity g8_kcore g9_link_prediction h1_hierarchy_rollup
j10_salted_join j11_interval_overlap j12_fuzzy_blocked_join j12b_deletion_join
j13_bloom_filtered_join j14_scd2_lookup j15_nearest_event_join
j16_tfidf_cosine_join j17_snapshot_diff j18_interval_align j19_fifo_allocation
j1_broadcast_dim_join j21_grid_spatial_join j23_incremental_join_view
j24_interp_join j2_surrogate_dim j3_nullsafe_join j4_case_insensitive_join
j5_anti_join j5b_semi_join j6_asof_fill j6b_asof_join j6c_asof_tolerance
j8_range_join j8b_range_join_bucketed j9_merge_upsert m_bmp_decode
m_frame_sample m_gif_decode m_jpeg_decode m_mp4_meta m_multimodal_decode
m_multimodal_meta m_png_decode m_wav_energy o5_topk o7_diversified_topk
o8_skyline_2d p_balanced_downsample p_benford p_chi2_independence
p_cluster_safe_split p_curate_corpus p_fk_audit p_group_sample p_hash_split
p_impute p_kanon p_ks_drift p_ldiversity p_mixture_sample p_pack_bins
p_profile_columns p_reservoir_sample p_stratified_sample p_temporal_split
p_weighted_sample p_winsorize p_zorder_layout s10_session_window
s11_stream_dedup s12_stream_stream_join s13_stream_stream_left_outer
s14_stream_stream_full_outer s15_stream_stream_semi s1_filter_project
s2b_json_extract s2c_variant_extract s9_tumbling_window s9b_sliding_window
sim_cosine_topk sim_ivf_topk sim_ivf_topk_kmeans sim_lsh_topk sim_pq_topk
t_bigram_lm t_bpe_encode t_bpe_train t_char_fingerprint t_chunk_windows
t_collocation_lift t_language_guess t_lm_perplexity t_mattr t_ngram_novelty
t_pii_redact t_quality_classifier t_quality_score t_rake_keyphrases
t_readability t_repetition_stats t_span_dedup t_text_stats t_tfidf_topk
t_token_count_bpe t_unigram_lm t_vocab_growth t_zipf_fit u3_grouped_agg_udaf
w10_funnel w11_cohort_retention w12_exact_percentiles w13_sessionize
w14_scd2_intervals w15_cumulative_distinct w16_ohlc_resample w17_gap_fill
w18_ewma w19_rolling_median w1_forward_fill w20_twap w21_funnel_window
w22_transition_matrix w25_streaks w26_period_over_period w27_dau_wau
w27b_wau_sketch w28_rfm_segmentation w29_last_touch_attribution
w30_path_analysis w31_interval_coalesce w32_interval_concurrency
w33_position_attribution w34_survival_curve w35_changepoint w5_latest_per_group
w6_global_surrogate w7_lag_delta w8_rank_suite w9_range_frame
""".split()
)
_PYTEST_ONLY_NAMES = {
    "d_semantic_dedup",
    "d_semantic_dedup_auto",
    "d_semantic_dedup_multiprobe",
}


def test_registry_integrity():
    """Every registered query has an oracle, the pytest-only baselines
    stay unregistered, a name registered by two catalog modules fails at
    import, and no query silently joins or leaves the registry."""
    assert set(QUERIES) == set(ORACLES)
    assert set(PYTEST_ONLY_QUERIES) == set(PYTEST_ONLY_ORACLES)
    assert not set(PYTEST_ONLY_QUERIES) & set(QUERIES)
    with pytest.raises(ValueError, match="registered twice"):
        merge_registries({"x": (None, "SELECT 1")}, {"x": (None, "SELECT 2")})
    assert set(QUERIES) == _REGISTERED_NAMES
    assert set(PYTEST_ONLY_QUERIES) == _PYTEST_ONLY_NAMES


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    yield con
    con.close()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns), na_position="first").reset_index(drop=True)
    return df


def values_equal(a, b) -> bool:
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    return a == b


@pytest.mark.parametrize("name", sorted(_ALL_ORACLES))
def test_query_matches_oracle(name, spark, sf_dir, duck):
    spark_df = _ALL_QUERIES[name](spark, sf_dir).toPandas()
    oracle_df = duck.sql(_ALL_ORACLES[name]).fetchdf()

    assert sorted(spark_df.columns) == sorted(oracle_df.columns), (
        f"column mismatch: spark={sorted(spark_df.columns)} oracle={sorted(oracle_df.columns)}"
    )
    assert len(spark_df) == len(oracle_df), (
        f"row count mismatch: spark={len(spark_df)} oracle={len(oracle_df)}"
    )
    s = canon(spark_df)
    o = canon(oracle_df)
    mismatches = []
    for col in s.columns:
        sv, ov = s[col].tolist(), o[col].tolist()
        for i, (x, y) in enumerate(zip(sv, ov)):
            # pandas may surface NaN (floats) or NaT (timestamps) for SQL
            # NULL on either side
            xn = None if (isinstance(x, float) and math.isnan(x)) or x is pd.NaT else x
            yn = None if (isinstance(y, float) and math.isnan(y)) or y is pd.NaT else y
            if isinstance(xn, pd.Timestamp):
                xn = xn.to_pydatetime().replace(tzinfo=None)
            if isinstance(yn, pd.Timestamp):
                yn = yn.to_pydatetime().replace(tzinfo=None)
            if not values_equal(xn, yn):
                mismatches.append((col, i, xn, yn))
                if len(mismatches) > 5:
                    break
        if len(mismatches) > 5:
            break
    assert not mismatches, f"value mismatches (col, row, spark, oracle): {mismatches[:6]}"


def test_repetition_stats_single_word_doc(spark, tmp_path):
    """A one-word document must not crash the bigram build (Spark
    sequence(0,-1) DESCENDS) and must keep its row with a NULL
    top_bigram_share, matching the oracle's LEFT JOIN semantics."""
    import pandas as pd

    from factory_inspectors_db_etl_spark.plans.catalog import q_t_repetition_stats

    sf = str(tmp_path)
    pd.DataFrame(
        {"doc_id": [1, 2], "source": ["s", "s"], "lang": ["en", "en"],
         "text": ["one", "two words two"]}
    ).to_parquet(f"{sf}/documents.parquet")
    got = {r["doc_id"]: (r["n_words"], r["top_bigram_share"])
           for r in q_t_repetition_stats(spark, sf).collect()}
    assert got[1] == (1, None)
    assert got[2][0] == 3 and abs(got[2][1] - 0.5) < 1e-12


def test_w13_gaps_islands_equals_native_session_window(spark, sf_dir):
    """The gaps-and-islands sessionization must produce exactly the
    sessions Spark's native session_window(30 minutes) builds — same
    (user, start, end, count) set.  (Boundary note: w13 keeps an event
    exactly 30:00.000000 after its predecessor in-session (strict >),
    session_window starts a new one (half-open window); the synthetic
    microsecond timestamps cannot hit that measure-zero case.)"""
    from pyspark.sql import functions as F

    from factory_inspectors_db_etl_spark.plans.catalog import q_w13_sessionize
    from factory_inspectors_db_etl_spark.sources.tables import load_table

    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in q_w13_sessionize(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    fmt = lambda c: F.date_format(c, "yyyy-MM-dd HH:mm:ss")  # noqa: E731
    want = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in (
            ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
            .agg(
                fmt(F.min("ts")).alias("session_start"),
                fmt(F.max("ts")).alias("session_end"),
                F.count(F.lit(1)).alias("n_events"),
            )
            .select("user_id", "session_start", "session_end", "n_events")
        ).collect()
    }
    assert got == want
