"""Adversarial ORDERS + CUSTOMER corpus through the driver's exact
oracle compare — the fifth edge-corpus gauntlet (round 12), built for
the newly registered customer/orders-surface queries and the standing
relational family that scans these two tables:

- account balances at the EXACT k-anonymity band edges (-0.01 /
  -999.99 / -1000.00 / -1000.01 / 0.00 / 999.99 / 1000.00 — floor
  banding decides class membership), NULL balances, NULL segments,
  and a quasi-identifier class sitting exactly at k=5;
- order dates BEFORE 1970 at non-midnight times (the floor-day
  bucketing class: truncating division would land pre-epoch days one
  day high on both engines), plus same-day and single-order nations
  (the OLS degenerate branches);
- totalprices at 0.00, odd cents, a 6e7-scale whale and a negative
  credit row (the sign-staged division class);
- customers with ZERO orders (left-join / anti-join / q13 zero
  bucket) and one customer holding a dense 12-order burst (rolling
  windows, RFM ties).

Foreign keys stay inside the replaced tables' own universe (orders
reference only custkeys defined here); the symlinked lineitem keeps
its real orderkeys, so order⋈lineitem joins simply match nothing —
identical on both engines, which is what the parity gate checks.
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

ADVERSARIAL_OC_QUERIES = [
    # round-12 registrations — the gauntlet's reason to exist
    "dq_k_anonymity",
    "agg_ols_trend",
    # customer/orders relational family
    "agg_rfm_segments",
    "q13_order_count_distribution",
    "q22_idle_customers",
    "join_anti_customers_without_orders",
    "window_rolling_7d",
    "window_above_customer_avg",
    "window_topk_orders_per_customer",
    # rank/order-limit derivatives
    "window_ntile_customer_deciles",
    "orderby_limit_top_orders",
]


@pytest.fixture(scope="module")
def edge_oc_dir(spark, sf_dir, tmp_path_factory) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("edge_oc")

    # --- customers: band-edge balances, NULLs, a k=5-exact class ----
    cust = []  # (custkey, nationkey, acctbal, segment)

    def c(k, n, bal, seg):
        cust.append((k, n, bal, seg))

    # band edges around 0 and -1000 (band width 1000.00)
    c(1, 0, -0.01, "EDGE")      # band -1
    c(2, 0, -999.99, "EDGE")    # band -1 (floor merges with -0.01)
    c(3, 0, -1000.00, "EDGE")   # band -1 (exact multiple: own floor)
    c(4, 0, -1000.01, "EDGE")   # band -2
    c(5, 0, 0.00, "EDGE")       # band 0
    c(6, 0, 999.99, "EDGE")     # band 0
    c(7, 0, 1000.00, "EDGE")    # band 1
    # a class of EXACTLY 5 (passes k5 by strict <)
    for k in range(8, 13):
        c(k, 1, 500.00, "FIVE")
    # NULL segment and NULL balance classes
    c(13, 2, 77.77, None)
    c(14, 2, None, "NB")
    c(15, 2, None, "NB")
    # the OLS nations: 3 = healthy trend, 4 = single order, 5 = one day
    c(16, 3, 10.0, "OLS")
    c(17, 4, 10.0, "OLS")
    c(18, 5, 10.0, "OLS")
    # zero-order customers (q13 zero bucket, anti-join, left joins)
    c(19, 6, 1.00, "IDLE")
    c(20, 6, -1.00, "IDLE")

    # --- orders ------------------------------------------------------
    DAY = 86400
    orders = []  # (orderkey, custkey, status, totalprice, odate, prio)

    def o(ok, ck, price, epoch_s, prio="1-URGENT", status="F"):
        orders.append(
            (ok, ck, status, price,
             dt.datetime(1970, 1, 1) + dt.timedelta(seconds=epoch_s),
             prio)
        )

    # nation 3 (cust 16): a clean 6-order trend spanning the epoch —
    # pre-1970 NON-MIDNIGHT dates exercise the floor-day class
    for i in range(6):
        o(100 + i, 16, 100.00 + 25.0 * i,
          (-900 + 400 * i) * DAY + 7 * 3600 + 11)
    # nation 4 (cust 17): a SINGLE order (n=1 -> NULL slope/r2)
    o(110, 17, 333.33, 9123 * DAY + 3600)
    # nation 5 (cust 18): three orders on ONE pre-1970 day at different
    # times (zero x-variance -> NULL slope; floor must merge the day)
    for i, price in enumerate((10.0, 20.0, 45.5)):
        o(120 + i, 18, price, -500 * DAY + i * 3600 + 59)
    # the EDGE/FIVE customers: a dense burst on customer 1 (rolling-7d
    # windows, RFM recency/frequency ties) + scattered singles
    for j in range(12):
        o(200 + j, 1, 500.00 + j, (9000 + j) * DAY + j * 997)
    for k in range(8, 13):
        o(300 + k, k, 1000.00, (9500 + k) * DAY)
    # price extremes: zero, odd cents, an in-envelope whale (the OLS
    # moment contract documents y <= ~6e7 CENTS per row so y*y fits
    # 64-bit before the 128-bit reduction — violating a documented
    # contract is a different test's job), negative credit
    o(400, 2, 0.00, 9600 * DAY)
    o(401, 3, 0.01, 9601 * DAY + 1)
    o(402, 4, 599_999.99, 9602 * DAY + 2, prio="5-LOW")
    o(403, 5, -125.25, 9603 * DAY + 3, prio="5-LOW", status="O")

    pq.write_table(
        pa.table(
            {
                "c_custkey": pa.array([r[0] for r in cust], pa.int64()),
                "c_name": pa.array(
                    [f"c{r[0]}" for r in cust], pa.string()
                ),
                "c_nationkey": pa.array(
                    [r[1] for r in cust], pa.int32()
                ),
                "c_acctbal": pa.array([r[2] for r in cust], pa.float64()),
                "c_mktsegment": pa.array(
                    [r[3] for r in cust], pa.string()
                ),
            }
        ),
        str(d / "customer.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "o_orderkey": pa.array([r[0] for r in orders], pa.int64()),
                "o_custkey": pa.array([r[1] for r in orders], pa.int64()),
                "o_orderstatus": pa.array(
                    [r[2] for r in orders], pa.string()
                ),
                "o_totalprice": pa.array(
                    [r[3] for r in orders], pa.float64()
                ),
                "o_orderdate": pa.array(
                    [r[4] for r in orders], pa.timestamp("us")
                ),
                "o_orderpriority": pa.array(
                    [r[5] for r in orders], pa.string()
                ),
            }
        ),
        str(d / "orders.parquet"),
    )
    for t in TESTDATA_TABLES:
        if t not in ("customer", "orders"):
            os.symlink(f"{sf_dir}/{t}.parquet", str(d / f"{t}.parquet"))
    return str(d)


@pytest.mark.parametrize("name", ADVERSARIAL_OC_QUERIES)
def test_edge_orders_customer_oracle_parity(spark, edge_oc_dir, name):
    df = QUERIES[name](spark, edge_oc_dir)
    compare_with_oracle(df, ORACLES[name], edge_oc_dir)


def test_edge_corpus_k_anonymity_and_ols_semantics(spark, edge_oc_dir):
    """Beyond parity: the constructed corpus's load-bearing semantics
    asserted directly — the band-edge class counts (floor banding at
    the exact multiples), the k=5-exact class PASSING by strict <,
    and the OLS degenerate nations reading NULL."""
    from simple_etl_pipeline_spark.plans.relational import (
        agg_ols_trend,
        dq_k_anonymity,
    )

    k = dq_k_anonymity(spark, edge_oc_dir).collect()[0]
    assert k.n_rows == 20
    # classes: EDGE bands {-2:1, -1:3, 0:2, 1:1}, FIVE:5, NULL-seg:1,
    # NULL-band NB:2, OLS:3 singles, IDLE band 0:1 band -1:1
    assert k.n_classes == 12
    # exactly-5 class passes k5 (strict <); every other class is < 5
    assert k.k5_classes == 11 and k.k5_rows == 15
    ols = {r.n_name: r for r in agg_ols_trend(spark, edge_oc_dir).collect()}
    by_nation = {r.n_name for r in ols.values()}
    assert len(by_nation) >= 4
    vals = list(ols.values())
    # exactly one nation with n=1, exactly one same-day nation — both NULL
    n1 = [r for r in vals if r.n_orders == 1]
    assert len(n1) == 1 and n1[0].slope_microcents_per_day is None
    same_day = [r for r in vals if r.n_orders == 3]
    assert len(same_day) == 1
    assert same_day[0].slope_microcents_per_day is None
    assert same_day[0].r2_ppm is None
