"""Empty-table robustness: representative queries from every family must
plan and execute (returning empty or a single all-zero row) on
zero-row inputs — the day-one state of every new deployment, and the
state of any partition-pruned read that matches nothing."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from simple_etl_pipeline_spark.schemas import TABLE_SCHEMAS, TESTDATA_TABLES

QUERIES = entrymod.queries()

REPRESENTATIVE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "dedup_exact",
    "dedup_minhash_lsh",
    "txt_dataset_card",
    "txt_repetition_filter",
    "txt_chunk_windows",
    "sim_knn_brute",
    "sim_pq_adc",
    "ev_retention_cohorts",
    "ev_funnel",
    "window_ntile_customer_deciles",
    "join_fuzzy_part_names",
    # round-3 operators
    "txt_gopher_quality",
    "dedup_paragraphs",
    "dedup_semdedup",
    "sim_mrl_recall",
    "ev_zscore_outliers",
    "ev_hll_user_rollup",
    "txt_pagerank",
    # round-4 operators
    "ev_range_join_incidents",
    "ev_countmin_users",
    "window_percent_rank_suppliers",
    "txt_rare_token_ratio",
    "txt_bloom_contamination",
    "ev_scd2_users",
    "ev_zorder_layout",
    "sim_kmeans_lloyd",
    "txt_triangle_count",
    "ev_overlap_incident_sessions",
    "dedup_ngram_spans",
    "txt_dsir_weights",
    # round-5 operators
    "bm25_topk",
    "inverted_index",
    "weighted_sample",
    "skip_bloom_stats",
    "txt_mixture_manifest",
    "txt_gopher_repetition",
    "txt_char_entropy",
    "txt_kl_drift",
    "sim_rp_recall",
    # round-6 registrations
    "ev_cuped",
    "ev_attribution",
    "ev_conversion_windows",
    "train_shard_manifest",
    # round-7 prebuilds (registered in round 7)
    "ev_quantile_sketch",
    "ev_attribution_linear",
    "ev_path_transitions",
    # round-8 prebuilds
    "ev_gap_fill",
    "agg_rfm_segments",
    "txt_domain_split",
    "ev_hll_overlap",
    "dq_expectations",
    # round-9 prebuilds
    "agg_basket_lift",
    "train_curriculum_order",
    "search_hybrid_rrf",
    "txt_lm_perplexity",
    "train_hard_negatives",
    "ev_srm_check",
    "ev_trimmed_mean",
    # round-10 prebuilds (r11 bank)
    "train_token_budget_pack",
    "ev_time_embargo_split",
    "ev_seasonal_residuals",
    "dq_profile_drift",
    # r12 bank
    "dq_k_anonymity",
    "agg_ols_trend",
    "txt_boilerplate_lines",
    "mm_phash_dedup",
    # r13 bank (built r12)
    "train_attention_pack",
    "dq_embedding_drift",
    # r14 bank (built in the r12 continuation session)
    "train_binpack_shelves",
    "dq_snapshot_diff",
    # r15 bank (same session)
    "ev_mad_outliers",
    "sim_knn_graph",
    "mm_bytes_shard_pack",
    # r16 bank (same session; the decontam report emits its 3 literal
    # pair rows with zero counts on an empty corpus by design)
    "sim_knn_components",
    "train_eval_decontam_report",
    "ev_changepoint_cusum",
]


@pytest.fixture(scope="module")
def empty_sf_dir(spark, tmp_path_factory) -> str:
    d = tmp_path_factory.mktemp("empty_sf")
    for t in TESTDATA_TABLES:
        schema = TABLE_SCHEMAS[t]
        spark.createDataFrame([], schema).write.mode("overwrite").parquet(
            str(d / f"{t}.parquet")
        )
    return str(d)


@pytest.mark.parametrize("name", REPRESENTATIVE)
def test_query_survives_empty_tables(spark, empty_sf_dir, name):
    df = QUERIES[name](spark, empty_sf_dir)
    rows = df.collect()  # must execute without error
    if name == "dq_expectations":
        # a constraint suite emits one row PER CONSTRAINT by design;
        # on empty tables every gate passes over zero checked rows
        assert len(rows) == 7
        assert all(r.passed and r.n_checked == 0 for r in rows)
        return
    if name == "dq_profile_drift":
        # the profile emits one row PER METRIC by design; on empty
        # tables both windows are all-zero and nothing is flagged
        assert len(rows) == 7
        assert all(
            r.a_value == 0 and r.b_value == 0 and not r.flagged
            for r in rows
        )
        return
    if name == "train_eval_decontam_report":
        # the matrix emits one row PER SPLIT PAIR by design (the
        # literal pair frame); on empty tables every count is zero
        assert len(rows) == 3
        assert all(
            r.n_shared == 0 and r.n_docs_contaminated == 0
            and r.contam_ppm == 0
            for r in rows
        )
        return
    assert len(rows) <= 1  # empty, or one global-aggregate row


def test_zscore_degenerate_groups(spark):
    """A single-event type makes (n-1)=0 and a constant-valued type
    makes variance 0 — both must yield NULL sd (no DIVIDE_BY_ZERO under
    ANSI mode), 0 outliers, and NULL max_abs_z, matching the CASE the
    oracle mirrors."""
    from simple_etl_pipeline_spark.plans.events import (
        zscore_outlier_agg,
        zscore_scored,
        zscore_stats,
    )

    ev = spark.createDataFrame(
        [("solo", 42.0)]
        + [("const", 7.0)] * 5
        + [("normal", float(x)) for x in (1, 2, 3, 100)],
        "event_type string, value double",
    )
    out = {
        r["event_type"]: r
        for r in zscore_outlier_agg(zscore_scored(ev, zscore_stats(ev))).collect()
    }
    assert out["solo"]["n_outliers"] == 0
    assert out["solo"]["max_abs_z"] is None
    assert out["const"]["n_outliers"] == 0
    assert out["const"]["max_abs_z"] is None
    assert out["normal"]["max_abs_z"] is not None


def test_semdedup_empty_corpus_survives_without_aqe(spark, tmp_path):
    """The in-plan sub-bucket sizing divides by the centroid-cell count;
    an empty corpus has ZERO cells, and only AQE's empty-relation
    pruning used to mask the ANSI DIVIDE_BY_ZERO (a race a real cluster
    can lose). The greatest(n_cells, 1) guard must hold with AQE off."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "empty_sf")
    os.makedirs(d, exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([], pa.int64()),
                "embedding": pa.array([], pa.list_(pa.float32())),
                "label": pa.array([], pa.string()),
            }
        ),
        os.path.join(d, "embeddings.parquet"),
    )
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        assert QUERIES["dedup_semdedup"](spark, d).count() == 0
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
