"""Adversarial EVENTS corpus through the driver's exact oracle compare
— the events-family twin of test_adversarial_text: same-timestamp
ties, null/malformed JSON props, negative and extreme values,
single-event users, one flood user, boundary-aligned timestamps.
Every events-only oracle query must hash-match DuckDB on it.
"""

from __future__ import annotations

import datetime as dt
import os

import pytest

import __spark_entry__ as entrymod
from simple_etl_pipeline_spark.schemas import TESTDATA_TABLES
from simple_etl_pipeline_spark.testing import compare_with_oracle

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()

_T0 = dt.datetime(2024, 3, 1, 0, 0, 0)


def _ts(minutes: float) -> dt.datetime:
    return _T0 + dt.timedelta(minutes=minutes)


EDGE_EVENTS = [
    # (event_id, ts, user_id, event_type, value, props)
    # same-timestamp tie pair (session/lag tie-break hazard)
    (1, _ts(0), 1, "view", 1.0, '{"k": 1}'),
    (2, _ts(0), 1, "click", 2.0, '{"k": 2}'),
    # exact window-boundary events (hour + 30-min slide edges)
    (3, _ts(60), 1, "view", 0.5, "{}"),
    (4, _ts(90), 1, "purchase", 100.0, None),  # null props
    # malformed JSON props
    (5, _ts(95), 2, "view", 3.0, "{not json"),
    # negative + extreme magnitudes (decimal-sum stress)
    (6, _ts(100), 2, "click", -7.25, '{"k": -3}'),
    (7, _ts(105), 2, "purchase", 1e12, '{"k": 999999}'),
    (8, _ts(110), 2, "view", -1e12, '{"j": 1}'),  # missing k key
    # single-event user
    (9, _ts(200), 3, "view", 0.0, "{}"),
    # a flood user: 40 events straddling a session gap
    *[
        (10 + i, _ts(300 + i * (31 if i == 20 else 1)), 4, "view", float(i), '{"k": 7}')
        for i in range(40)
    ],
    # exactly prev_ts + 30min — MERGES (Spark's close boundary is
    # inclusive; the oracle's strict-> rule encodes exactly this)
    (60, _ts(500), 5, "view", 1.0, "{}"),
    (61, _ts(530), 5, "view", 1.0, "{}"),
    # error events open incident windows for the overlap join,
    # including one exactly at a session edge
    (62, _ts(505), 5, "error", 1.0, "{}"),
    (63, _ts(330), 4, "error", 2.0, "{}"),
    # round-6 boundary cases ------------------------------------------
    # CUPED: a PRE-period event for user 1 and an event EXACTLY at the
    # cutoff (pre is ts < cutoff strictly, so this one is post) — with
    # every other event post-cutoff most users have x=0, making the
    # covariate nearly degenerate (varx ~ 0 stress on both engines)
    (64, dt.datetime(2024, 1, 10, 12, 0, 0), 1, "view", 2.5, "{}"),
    (65, dt.datetime(2024, 1, 16, 0, 0, 0), 2, "view", 4.0, "{}"),
    # attribution: a touch at EXACTLY the purchase timestamp (np.ts <=
    # p.ts is inclusive — simultaneous touch wins over 'direct')...
    (66, _ts(600), 6, "purchase", 50.0, "{}"),
    (67, _ts(600), 6, "click", 1.0, "{}"),
    # ...and a purchase with no prior touch at all -> 'direct'
    (68, _ts(610), 7, "purchase", 25.0, "{}"),
    # conversion window: purchase EXACTLY at fv + 24h (pt <= fv+w is
    # inclusive -> converts) ...
    (69, _ts(1000), 8, "view", 1.0, "{}"),
    (70, _ts(1000 + 24 * 60), 8, "purchase", 9.0, "{}"),
    # ... one a minute past the window (no conversion) ...
    (71, _ts(2000), 9, "view", 1.0, "{}"),
    (72, _ts(2000 + 24 * 60 + 1), 9, "purchase", 9.0, "{}"),
    # ... and a purchase BEFORE the first view (pt > fv is strict)
    (73, _ts(3000), 10, "purchase", 9.0, "{}"),
    (74, _ts(3001), 10, "view", 1.0, "{}"),
]

# events-only oracle queries (skip ones that join other tables or whose
# corpus is table-specific): this is every ev_* plus the batch window
# family the streaming twins mirror.
ADVERSARIAL_EV_QUERIES = [
    "ev_tumbling_hourly",
    "ev_sliding_windows",
    "ev_session_windows",
    "ev_funnel",
    "ev_json_extract",
    "ev_json_variant",
    "ev_user_daily_activity",
    "ev_rollup_multires",
    "ev_heavy_hitters",
    "ev_retention_cohorts",
    "ev_zscore_outliers",
    "ev_countmin_users",
    "ev_scd2_users",
    "ev_zorder_layout",
    "ev_asof_purchase_click",
    "ev_range_join_nearby",
    "ev_overlap_incident_sessions",
    "ev_range_join_incidents",
    # streaming twins: availableNow replay over the same edge corpus —
    # watermark/state paths must reproduce the corrected batch oracles
    # (incl. the inclusive session-gap boundary) exactly
    "st_tumbling_hourly",
    "st_sliding_windows",
    "st_session_windows",
    "st_dedup_events",
    "st_user_totals_stateful",
    "st_scd2_users",
    "st_static_zscore",
    # round-6 registrations over the boundary cases above
    "ev_cuped",
    "ev_attribution",
    "ev_conversion_windows",
    # r12 continuation (r15 bank, gauntleted at BUILD time): the
    # robust monitor over the ±1e12 extremes (decimal-staged
    # deviations), the flood user's heavy ties, negative values and
    # the single-event type groups
    "ev_mad_outliers",
    # r16 bank: the CUSUM scan over the gauntlet's sparse multi-day
    # span (wide empty-hour stretches dominate the grid) and flood
    # hours
    "ev_changepoint_cusum",
]


@pytest.fixture(scope="module")
def edge_ev_dir(spark, sf_dir, tmp_path_factory) -> str:
    d = tmp_path_factory.mktemp("edge_ev")
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in EDGE_EVENTS], pa.int64()),
            "ts": pa.array([r[1] for r in EDGE_EVENTS], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in EDGE_EVENTS], pa.int64()),
            "event_type": pa.array([r[3] for r in EDGE_EVENTS], pa.string()),
            "value": pa.array([r[4] for r in EDGE_EVENTS], pa.float64()),
            "props": pa.array([r[5] for r in EDGE_EVENTS], pa.string()),
        }
    )
    pq.write_table(table, str(d / "events.parquet"))
    for t in TESTDATA_TABLES:
        if t != "events":
            os.symlink(f"{sf_dir}/{t}.parquet", str(d / f"{t}.parquet"))
    return str(d)


@pytest.mark.parametrize("name", ADVERSARIAL_EV_QUERIES)
def test_edge_events_oracle_parity(spark, edge_ev_dir, name):
    df = QUERIES[name](spark, edge_ev_dir)
    compare_with_oracle(df, ORACLES[name], edge_ev_dir)


# Round-6 prebuilds are unregistered (no ORACLES entry yet), so their
# edge-corpus parity rows bind the local oracle constants directly —
# the same discipline as the registered set above.
@pytest.mark.parametrize(
    "qname",
    [
        "ev_quantile_sketch",
        "ev_attribution_linear",
        "ev_path_transitions",
        "ev_gap_fill",
    ],
)
def test_edge_events_prebuild_oracle_parity(spark, edge_ev_dir, qname):
    from simple_etl_pipeline_spark.plans import events as evmod

    fn = getattr(evmod, qname)
    oracle = {
        "ev_quantile_sketch": evmod.EV_QSKETCH_ORACLE,
        "ev_attribution_linear": evmod.EV_ATTRIBUTION_LINEAR_ORACLE,
        "ev_path_transitions": evmod.EV_PATH_TRANSITIONS_ORACLE,
        "ev_gap_fill": evmod.EV_GAP_FILL_ORACLE,
    }[qname]
    compare_with_oracle(fn(spark, edge_ev_dir), oracle, edge_ev_dir)


# Round-6 review corpus: NULL event types, NULL values, and micros
# magnitudes in the top decimal band where the bucket's UPPER edge
# (head+1)*scale exceeds Long.MAX. Pins the three review-caught
# hazards: '(null)' is a real chain state (never '(start)'), the
# quantile sketch excludes NULL values on both engines (instead of
# hanging parity on NULLS FIRST/LAST defaults), and bucket edges are
# exact decimal/hugeint so the top band cannot overflow.
NULLISH_EVENTS = EDGE_EVENTS + [
    (200, _ts(4000), 11, None, 1.0, "{}"),          # NULL type leads
    (201, _ts(4001), 11, "view", None, "{}"),       # NULL value mid-run
    (202, _ts(4002), 11, None, None, "{}"),         # both NULL
    (203, _ts(4010), 12, None, 2.0, "{}"),          # user STARTS null
    (204, _ts(4020), 13, "purchase", 9.2233e12, "{}"),   # top band +
    (205, _ts(4021), 13, "view", -9.2233e12, "{}"),      # top band -
]


@pytest.fixture(scope="module")
def nullish_ev_dir(spark, sf_dir, tmp_path_factory) -> str:
    d = tmp_path_factory.mktemp("nullish_ev")
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in NULLISH_EVENTS], pa.int64()),
            "ts": pa.array([r[1] for r in NULLISH_EVENTS], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in NULLISH_EVENTS], pa.int64()),
            "event_type": pa.array(
                [r[3] for r in NULLISH_EVENTS], pa.string()
            ),
            "value": pa.array([r[4] for r in NULLISH_EVENTS], pa.float64()),
            "props": pa.array([r[5] for r in NULLISH_EVENTS], pa.string()),
        }
    )
    pq.write_table(table, str(d / "events.parquet"))
    for t in TESTDATA_TABLES:
        if t != "events":
            os.symlink(f"{sf_dir}/{t}.parquet", str(d / f"{t}.parquet"))
    return str(d)


@pytest.mark.parametrize(
    "qname",
    [
        "ev_quantile_sketch",
        "ev_attribution_linear",
        "ev_path_transitions",
        "ev_gap_fill",
        "ev_hll_overlap",
        "ev_srm_check",
        "ev_trimmed_mean",
        # r11 bank: NULL user/value rows and +/-9.2233e12 magnitudes
        # hit the embargo value sums, the drift null-ppm/mean metrics
        # and the seasonal grid the same way they hit the r8 trio
        "ev_time_embargo_split",
        "ev_seasonal_residuals",
    ],
)
def test_nullish_events_prebuild_oracle_parity(spark, nullish_ev_dir, qname):
    from simple_etl_pipeline_spark.plans import events as evmod

    fn = getattr(evmod, qname)
    oracle = {
        "ev_quantile_sketch": evmod.EV_QSKETCH_ORACLE,
        "ev_attribution_linear": evmod.EV_ATTRIBUTION_LINEAR_ORACLE,
        "ev_path_transitions": evmod.EV_PATH_TRANSITIONS_ORACLE,
        "ev_gap_fill": evmod.EV_GAP_FILL_ORACLE,
        "ev_hll_overlap": evmod.EV_HLL_OVERLAP_ORACLE,
        "ev_srm_check": evmod.EV_SRM_CHECK_ORACLE,
        "ev_trimmed_mean": evmod.EV_TRIMMED_MEAN_ORACLE,
        "ev_time_embargo_split": evmod.EV_TIME_EMBARGO_ORACLE,
        "ev_seasonal_residuals": evmod.EV_SEASONAL_RESIDUALS_ORACLE,
    }[qname]
    compare_with_oracle(fn(spark, nullish_ev_dir), oracle, nullish_ev_dir)


def test_nullish_path_transitions_start_conservation(spark, nullish_ev_dir):
    """'(start)' rows equal distinct users even when streams begin (or
    continue) with NULL event types — the invariant a bare COALESCE
    over LAG silently broke."""
    from simple_etl_pipeline_spark.plans.events import ev_path_transitions

    rows = ev_path_transitions(spark, nullish_ev_dir).collect()
    start_total = sum(
        r.n_transitions for r in rows if r.prev_type == "(start)"
    )
    n_users = len({r[2] for r in NULLISH_EVENTS})
    assert start_total == n_users
    assert sum(r.n_transitions for r in rows) == len(NULLISH_EVENTS)
    assert any(r.prev_type == "(null)" for r in rows)


def test_nullish_quantile_sketch_excludes_nulls_and_tops_out(
    spark, nullish_ev_dir
):
    """n_events counts only non-NULL values; the top-band magnitudes
    survive (no ANSI overflow) and the negative one estimates below
    any in-band value."""
    from simple_etl_pipeline_spark.plans.events import ev_quantile_sketch

    rows = ev_quantile_sketch(spark, nullish_ev_dir).collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r.event_type, r.n_events)
    # user 11's 'view' NULL value must not count toward view's n_events
    n_view_values = sum(
        1 for r in NULLISH_EVENTS if r[3] == "view" and r[4] is not None
    )
    assert by_type["view"] == n_view_values
    # NULL event_type rows with non-NULL values are their own group
    assert None in by_type and by_type[None] == 2
    # the 9.2233e12 purchase is the purchase p99 (top band, no crash)
    p99 = {
        (r.event_type, r.p_ppm): r.est_value for r in rows
    }[("purchase", 990_000)]
    assert p99 >= 9.2e12


def test_nullish_gap_fill_null_type_excluded_and_null_value_zero(
    spark, nullish_ev_dir
):
    """Gap-fill edge semantics on the nullish corpus: NULL event_type
    has no series; an observed hour whose only values are NULL keeps
    n_events > 0 with sum_value 0 (SUM-over-NULLs coalesced, not NULL
    — which would poison every interpolation that anchors on it)."""
    from simple_etl_pipeline_spark.plans.events import ev_gap_fill

    rows = ev_gap_fill(spark, nullish_ev_dir).collect()
    assert all(r.event_type is not None for r in rows)
    assert all(r.sum_value is not None for r in rows)
    # top-band magnitudes survive the micros cast (no ANSI overflow)
    assert any(abs(r.sum_value) > 9e12 for r in rows)


def test_nullish_profile_drift_oracle_parity(spark, nullish_ev_dir):
    """dq_profile_drift (relational module) over the nullish corpus:
    NULL users/values feed the null-ppm metrics directly, and the
    ±9.2233e12 value magnitudes stress the decimal micros sums and
    the capped drift_ppm arithmetic."""
    from simple_etl_pipeline_spark.plans import relational as relmod

    compare_with_oracle(
        relmod.dq_profile_drift(spark, nullish_ev_dir),
        relmod.DQ_PROFILE_DRIFT_ORACLE,
        nullish_ev_dir,
    )
