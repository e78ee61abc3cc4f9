"""Results must not depend on the physical partitioning.

This is the core 100 TB determinism claim (SCALING.md "Global session
posture"): float aggregates reduce in DECIMAL(38,6) (order-independent)
and hashed outputs avoid transcendentals, so the same query returns
bit-identical rows whether it runs on 1 shuffle partition or 32 — i.e.
on a laptop or a 1000-executor cluster. rand()-free sampling and
md5-based hashing make the non-aggregate queries partition-stable too.

spark.sql.shuffle.partitions is a runtime conf: setting it between runs
replans subsequent queries without a new session.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod

QUERIES = entrymod.queries()

# Float-aggregate-heavy and sketch queries — the ones that WOULD diverge
# under double-sum reordering or rand()-based sampling.
INVARIANT_QUERIES = [
    "q1_pricing_summary",
    "ev_tumbling_hourly",
    "txt_mixture_weights",
    "txt_sample_stratified",
    "txt_winnow_fingerprint",
    "agg_salted_sum",
    "sim_quantize_int8",
    # round 5: exact-integer ppm/microbit arithmetic, md5-bucket draws,
    # rot60 gram keys, fixed-point projection folds and the 6-dp BM25
    # ln — each would diverge under partition-order-dependent floats
    "txt_mixture_manifest",
    "txt_gopher_repetition",
    "txt_char_entropy",
    "txt_kl_drift",
    "weighted_sample",
    "bm25_topk",
    "sim_rp_recall",
    "skip_bloom_stats",
    # round 6: decimal->micros integer moments (cuped), decimal sums +
    # 6-dp shares (attribution), bigint floor-div means (conversion),
    # pure md5/bit_xor arithmetic (shard manifest) — each would drift
    # under partition-order-dependent float accumulation
    "ev_cuped",
    "ev_attribution",
    "ev_conversion_windows",
    "train_shard_manifest",
    # round-7 prebuilds: bucket-integer histogram + in-bucket
    # interpolation (quantile sketch), integer-micros credit split
    # (linear attribution), pure integer-ppm counts (path transitions)
    "ev_quantile_sketch",
    "ev_attribution_linear",
    "ev_path_transitions",
    # round-8 prebuilds: decimal-micros hourly sums + double-over-
    # exact-integer interpolation (gap fill), decimal spend sums +
    # deterministic NTILE tie-breaks (rfm), md5-ppm assignment
    # (domain split) — each would drift under partition-order floats
    # or engine-local hashing
    "ev_gap_fill",
    "agg_rfm_segments",
    "txt_domain_split",
    # DataSketches HLL registers are input-set-deterministic, so the
    # estimate boolean must not flip across partitionings
    "ev_hll_overlap",
    # exact integer counts only — the gate must never flap
    "dq_expectations",
    # round-9 prebuilds: exact-integer pair counts + 6-dp lift over
    # exact ints (basket), global-row-number sequence + bit_xor
    # membership (curriculum) — both must be layout-independent
    "agg_basket_lift",
    "train_curriculum_order",
    # fused ppm ranks: integer algebra over two rounded-6dp rankings
    "search_hybrid_rrf",
    # micro-log-snapped bigint sums: layout-independent by construction
    "txt_lm_perplexity",
    # bit-identical cosine + doc_id tie-break: layout-independent ranks
    "train_hard_negatives",
    # md5 assignment + decimal micros + integer chi2: layout-independent
    "ev_srm_check",
    # total-order rank + integer trim cut: layout-independent kept set
    "ev_trimmed_mean",
    # round-9-built r11 bank: the global prefix sum under a total
    # order (budget cut), integer-micros cutoffs, exact integer z2,
    # and decimal-micros profile metrics must not move with layout
    "train_token_budget_pack",
    "ev_time_embargo_split",
    "ev_seasonal_residuals",
    "dq_profile_drift",
    # round-9-built r12 bank: exact integer class counts (k-anon),
    # decimal moment sums + staged sign-symmetric integer division
    # (OLS), integer char/occurrence counts + md5 line keys
    # (boilerplate), integer-arithmetic average-hash + banded pairs
    # (phash) — every one must be layout-independent
    "dq_k_anonymity",
    "agg_ols_trend",
    "txt_boilerplate_lines",
    "mm_phash_dedup",
    # round-12-built r13 bank: prefix-sum offsets + span explode must
    # not depend on range-partition boundaries (attention pack);
    # integer-micros sums + sign-staged division must not depend on
    # layout (embedding drift)
    "train_attention_pack",
    "dq_embedding_drift",
    # r14 bank: in-band ranks derive from global_row_number, so shelf
    # membership must not move with range-partition boundaries
    # (binpack shelves); md5 content hashes + exact integer counts and
    # the decimal-staged churn ppm must be layout-independent
    # (snapshot diff)
    "train_binpack_shelves",
    "dq_snapshot_diff",
    # r15 bank: exact order statistics through two global_row_number
    # passes must not move with range boundaries (MAD); fixed-point
    # cosine + deterministic tie-breaks pin the neighbor set (kNN
    # graph); byte prefix sums and start-offset shard ids are pure
    # integer arithmetic (shard pack)
    "ev_mad_outliers",
    "sim_knn_graph",
    "mm_bytes_shard_pack",
    # r16 bank: component labels converge to the min id regardless of
    # layout (kNN components); distinct shingle keys + exact-ppm cells
    # (decontam); grid prefix sums are pure integer arithmetic over a
    # deterministic hour order (CUSUM)
    "sim_knn_components",
    "train_eval_decontam_report",
    "ev_changepoint_cusum",
]


@pytest.mark.parametrize("name", INVARIANT_QUERIES)
def test_result_identical_across_partitionings(spark, sf_dir, name):
    conf = "spark.sql.shuffle.partitions"
    before = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "1")
        rows_1 = [tuple(r) for r in QUERIES[name](spark, sf_dir).collect()]
        spark.conf.set(conf, "32")
        rows_32 = [tuple(r) for r in QUERIES[name](spark, sf_dir).collect()]
    finally:
        spark.conf.set(conf, before)
    assert rows_1 == rows_32, (
        f"{name} diverges between 1 and 32 shuffle partitions — "
        f"a partition-order-dependent reduction leaked into the output"
    )
