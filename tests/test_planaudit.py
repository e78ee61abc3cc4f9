"""operators/planaudit: the plan-audit API must flag exactly the
anti-patterns the repo's own plan-shape suite forbids, and pass the
plans that suite blesses."""

from __future__ import annotations

from pyspark.sql import functions as F

from simple_etl_pipeline_spark.operators.planaudit import audit_plan
from simple_etl_pipeline_spark.schemas import load_table


def test_clean_star_join_passes(spark, sf_dir):
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    df = nation.join(
        F.broadcast(region),
        nation.n_regionkey == region.r_regionkey,
    ).select("n_name", "r_name")
    audit = audit_plan(df)
    assert audit.ok, audit.findings


def test_cartesian_is_flagged(spark, sf_dir):
    # with a broadcastable side Spark plans a Cross BNLJ — the audited
    # 1-row-broadcast pattern the audit deliberately allows; disabling
    # auto-broadcast yields the CartesianProduct the audit must flag
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        nation = load_table(spark, sf_dir, "nation")
        region = load_table(spark, sf_dir, "region")
        audit = audit_plan(nation.crossJoin(region))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert not audit.ok
    assert any("Cartesian" in f for f in audit.findings)


def test_row_python_udf_is_flagged_and_pandas_udf_passes(spark, sf_dir):
    from pyspark.sql.functions import pandas_udf, udf

    nation = load_table(spark, sf_dir, "nation")
    row_udf = udf(lambda s: (s or "").upper(), "string")
    flagged = audit_plan(nation.select(row_udf("n_name").alias("u")))
    assert any("BatchEvalPython" in f for f in flagged.findings)

    @pandas_udf("string")
    def vec_upper(s):
        return s.str.upper()

    ok = audit_plan(nation.select(vec_upper("n_name").alias("u")))
    assert ok.ok, ok.findings


def test_shuffle_budget_and_scan_pruning(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    agg = (
        li.filter(F.col("l_quantity") < 10)
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    audit = audit_plan(
        agg,
        max_shuffles=1,
        require_pushed_filter=True,
        max_scan_columns=2,  # l_quantity + l_returnflag
    )
    assert audit.ok, audit.findings
    # the same query under a 0-shuffle budget must fail
    assert not audit_plan(agg, max_shuffles=0).ok
    # a select * scan breaks the column budget
    wide = audit_plan(li.limit(5), max_scan_columns=2)
    assert not wide.ok


def test_bench_fp_residual_names_never_read_as_plan_changes():
    """The box-noise rebase guard's integrity (r12-continuation
    finding): dq_profile_drift's four conditional countDistincts make
    its fingerprint flip across equivalent Expand orderings (the
    documented plan_fingerprint residual), and a residual-name
    mismatch read as fp_changed would let a LOUD run overwrite the
    committed quiet epoch in BENCH_DETAIL.json — the guard only
    refuses rebases when every flag is fp-same. Pin the classifier:
    residual names never signal a plan change; every other name
    still does."""
    import bench

    assert bench.fp_changed("dq_profile_drift", "aaa", "bbb") is False
    assert bench.fp_changed("agg_distinct_counts", "aaa", "bbb") is False
    assert bench.fp_changed("q1_pricing_summary", "aaa", "bbb") is True
    assert bench.fp_changed("q1_pricing_summary", "aaa", "aaa") is False
    # every residual name justifies itself: the three documented
    # multi-distinct plans, the r12 finding, or the r16 finding
    # (txt_triangle_count's 380+-node formatted text flips between
    # identical-code plan_dump runs — node counts identical)
    assert bench.FP_RESIDUAL <= {
        "agg_approx_distinct",
        "agg_distinct_counts",
        "txt_dataset_card",
        "dq_profile_drift",
        "txt_triangle_count",
    }


def test_scalar_bnlj_bound_accepts_scalar_rejects_raw(spark, sf_dir):
    """The r15 scalar-BNLJ rule (VERDICT r14 watch-item #3): a
    zero-key scalar-aggregate cross broadcast passes; a raw-scan
    (data-dependent-row) cross broadcast is flagged — so the repo's
    approved-BNLJ count can never silently absorb a non-scalar
    nested-loop join behind the Cross label."""
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")

    scalar = orders.agg(F.count(F.lit(1)).alias("n_orders"))
    ok = audit_plan(nation.crossJoin(F.broadcast(scalar)))
    assert ok.ok, ok.findings

    raw = audit_plan(
        nation.crossJoin(F.broadcast(orders.select("o_orderkey")))
    )
    assert any("not scalar-bounded" in f for f in raw.findings), (
        raw.findings
    )


def test_scalar_bnlj_bound_accepts_literal_pk_filter(spark, sf_dir):
    """The N_QUERIES shape: a broadcast of `embeddings WHERE vec_id <
    literal` is bounded by the literal (vec_id is the table pk), so the
    similarity family's query-vector broadcasts pass the audit."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select("vec_id", "embedding")
    corpus = emb.select(F.col("vec_id").alias("c_id2"))
    ok = audit_plan(corpus.crossJoin(F.broadcast(q)))
    assert ok.ok, ok.findings


def _fixture_plan(agg_keys_line: str) -> str:
    """Synthetic formatted-plan text exercising every parser hazard the
    round-15 audit hit live: AQE query-stage nodes with trailing
    ', Statistics(...)' after the id, codegen '* ' markers shifting the
    name column, and a two-level detail section."""
    return (
        "== Physical Plan ==\n"
        "AdaptiveSparkPlan (10)\n"
        "+- BroadcastNestedLoopJoin Cross BuildRight (9)\n"
        "   :- Project (2)\n"
        "   :  +- Scan parquet  (1)\n"
        "   +- BroadcastQueryStage (8), Statistics(sizeInBytes=16.0 B,"
        " rowCount=1)\n"
        "      +- BroadcastExchange (7)\n"
        "         +- * HashAggregate (6)\n"
        "            +- Exchange (5)\n"
        "               +- * HashAggregate (4)\n"
        "                  +- Scan parquet  (3)\n"
        "\n"
        "(4) HashAggregate\n"
        "Keys: []\n"
        "Functions [1]: [partial_count(1)]\n"
        "\n"
        f"(6) HashAggregate\n{agg_keys_line}\n"
        "Functions [1]: [count(1)]\n"
    )


def test_scalar_bnlj_text_parser_statistics_and_codegen():
    """Text-level pins for the audit parser: a zero-key aggregate
    behind a Statistics-suffixed BroadcastQueryStage passes; the same
    tree with a data-keyed aggregate is reported. No Spark session —
    this is the parsing contract itself."""
    from simple_etl_pipeline_spark.operators.planaudit import (
        scalar_bnlj_violations,
    )

    ok = _fixture_plan("Keys: []")
    assert scalar_bnlj_violations(ok) == []

    keyed = _fixture_plan("Keys [1]: [user_id#5L]")
    v = scalar_bnlj_violations(keyed)
    assert len(v) == 1 and "keyed aggregate" in v[0], v

    # dimension-bounded key names are the documented exception
    centroid = _fixture_plan("Keys [1]: [c_id#5]")
    assert scalar_bnlj_violations(centroid) == []


def _spliced_plan(agg_keys_line: str, marker: str = "Final") -> str:
    """Synthetic cache-spliced plan modeled on the r16 live find: an
    EXECUTED persisted frame re-printed under InMemoryRelation, whose
    AdaptiveSparkPlan '== Final/Initial Plan ==' sections restart the
    tree-art columns — the BNLJ inside them (34) renders with
    unparseable children. A clean BNLJ (9) sits fully BEFORE the first
    marker, where strict auditing must still apply."""
    return (
        "== Physical Plan ==\n"
        "AdaptiveSparkPlan (40)\n"
        "+- BroadcastHashJoin Inner BuildRight (39)\n"
        "   :- Project (10)\n"
        "   :  +- * BroadcastNestedLoopJoin Cross BuildRight (9)\n"
        "   :     :- Scan parquet  (1)\n"
        "   :     +- BroadcastExchange (8)\n"
        "   :        +- HashAggregate (7)\n"
        "   :           +- Exchange (6)\n"
        "   :              +- HashAggregate (5)\n"
        "   :                 +- Scan parquet  (4)\n"
        "   +- BroadcastExchange (38)\n"
        "      +- Filter (37)\n"
        "         +- InMemoryTableScan (11)\n"
        "               +- InMemoryRelation (12)\n"
        "                     +- AdaptiveSparkPlan (36)\n"
        f"                        +- == {marker} Plan ==\n"
        "                           ResultQueryStage (35)\n"
        "                           +- * BroadcastNestedLoopJoin Cross"
        " BuildRight (34)\n"
        "                              :- Scan parquet  (30)\n"
        "      +- == Initial Plan ==\n"
        "         HashAggregate (33)\n"
        "         +- Scan parquet  (30)\n"
        "\n"
        f"(7) HashAggregate\n{agg_keys_line}\n"
        "Functions [1]: [count(1)]\n"
        "\n"
        "(5) HashAggregate\nKeys: []\n"
        "Functions [1]: [partial_count(1)]\n"
    )


def test_scalar_bnlj_audit_skips_executed_cache_splices():
    """r16 live find (suite-ordering failure): an executed persist
    spliced into a later fresh build re-prints its AdaptiveSparkPlan
    sections at RESET columns, so nodes after the first
    '== Final/Initial Plan ==' marker have meaningless tree-art
    parent/child columns. The audit must (a) not emit phantom
    'expected 2 children' findings for BNLJs inside the splice — they
    were audited at the fresh build that created the cache and never
    re-execute — while (b) keeping full strictness for everything
    printed before the marker."""
    from simple_etl_pipeline_spark.operators.planaudit import (
        scalar_bnlj_violations,
    )

    # spliced BNLJ (34) is out of scope; clean pre-marker BNLJ passes
    assert scalar_bnlj_violations(_spliced_plan("Keys: []")) == []

    # pre-marker rigor retained: the keyed aggregate is still flagged,
    # and ONLY it — no phantom finding for the spliced node
    v = scalar_bnlj_violations(_spliced_plan("Keys [1]: [user_id#5L]"))
    assert len(v) == 1 and "(9)" in v[0] and "keyed aggregate" in v[0], v


def test_scalar_bnlj_audit_skips_current_plan_splices():
    """A spliced AdaptiveSparkPlan that is not final yet prints
    '== Current Plan ==' instead of '== Final Plan =='. Nodes under it
    have the same reset tree-art columns, so they are out of scope too."""
    from simple_etl_pipeline_spark.operators.planaudit import (
        scalar_bnlj_violations,
    )

    assert scalar_bnlj_violations(_spliced_plan("Keys: []", "Current")) == []
    v = scalar_bnlj_violations(_spliced_plan("Keys [1]: [user_id#5L]", "Current"))
    assert len(v) == 1 and "(9)" in v[0] and "keyed aggregate" in v[0], v
