"""Adversarial LINEITEM through the driver's exact oracle compare —
predicate-boundary values the uniform generator never aligns exactly:
discounts at q6's between-bounds, quantities at the < 24 cut, shipdates
at midnight-of-January-1st range edges, zero and huge prices, dense
multi-line orders. Foreign keys stay valid (drawn from the real sf
tables), so the join family runs too.
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

ADVERSARIAL_LI_QUERIES = [
    "q1_pricing_summary",
    "q6_revenue_filter",
    "q14_promo_revenue",
    "q19_disjunctive_filter",
    "q17_small_qty_revenue",
    "q18_large_volume_customers",
    "q3_shipping_priority",
    "q5_region_revenue",
    "q9_product_profit",
    "q10_returned_items",
    "q12_shipmode_priority",
    "agg_cube_lineitem",
    "unpivot_lineitem_measures",
    "join_semi_discounted",
    "join_broadcast_brand_revenue",
    "agg_salted_sum",
    "agg_percentiles",
    "agg_histogram",
]


@pytest.fixture(scope="module")
def edge_li_dir(spark, sf_dir, tmp_path_factory) -> str:
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("edge_li")
    con = duckdb.connect()
    parts = [
        r[0]
        for r in con.execute(
            f"SELECT p_partkey FROM read_parquet('{sf_dir}/part.parquet') ORDER BY 1 LIMIT 6"
        ).fetchall()
    ]
    supps = [
        r[0]
        for r in con.execute(
            f"SELECT s_suppkey FROM read_parquet('{sf_dir}/supplier.parquet') ORDER BY 1 LIMIT 6"
        ).fetchall()
    ]
    orders = [
        r[0]
        for r in con.execute(
            f"SELECT o_orderkey FROM read_parquet('{sf_dir}/orders.parquet') ORDER BY 1 LIMIT 8"
        ).fetchall()
    ]

    def t(y, m, day, us=0):
        return dt.datetime(y, m, day, 0, 0, 0, us)

    rows = []
    ln = {}

    def add(ok, pk, sk, qty, price, disc, tax, rf, ls, ship):
        ln[ok] = ln.get(ok, 0) + 1
        rows.append(
            (ok, pk, sk, ln[ok], qty, price, disc, tax, rf, ls, ship)
        )

    # q6 boundary lattice: discount in {0.049999, 0.05, 0.06, 0.07,
    # 0.070001}, quantity in {23.0, 24.0, 25.0}, shipdate at the exact
    # 1994 range edges (inclusive start, exclusive end)
    dates = [
        t(1993, 12, 31),
        t(1994, 1, 1),
        t(1994, 6, 15),
        t(1994, 12, 31, 999_999),
        t(1995, 1, 1),
    ]
    i = 0
    for disc in (0.049999, 0.05, 0.06, 0.07, 0.070001):
        for qty in (23.0, 24.0, 25.0):
            add(
                orders[i % 4],
                parts[i % len(parts)],
                supps[i % len(supps)],
                qty,
                1000.0 + i,
                disc,
                0.05,
                "A" if i % 2 else "R",
                "F",
                dates[i % len(dates)],
            )
            i += 1
    # zero and huge prices, zero and full discount, zero quantity
    add(orders[4], parts[0], supps[0], 0.0, 0.0, 0.0, 0.0, "N", "O", t(1995, 3, 1))
    add(orders[4], parts[1], supps[1], 50.0, 1e7, 1.0, 0.08, "N", "O", t(1995, 3, 2))
    add(orders[4], parts[2], supps[2], 1.0, 0.01, 0.5, 0.0, "N", "F", t(1996, 1, 1))
    # a dense order: many lines, one giant quantity (q18 threshold side)
    for j in range(12):
        add(
            orders[5],
            parts[j % len(parts)],
            supps[j % len(supps)],
            30.0,
            500.0 + j,
            0.02,
            0.03,
            "A",
            "F",
            t(1994, 2, 1 + j),
        )
    table = pa.table(
        {
            "l_orderkey": pa.array([r[0] for r in rows], pa.int64()),
            "l_partkey": pa.array([r[1] for r in rows], pa.int64()),
            "l_suppkey": pa.array([r[2] for r in rows], pa.int64()),
            "l_linenumber": pa.array([r[3] for r in rows], pa.int32()),
            "l_quantity": pa.array([r[4] for r in rows], pa.float64()),
            "l_extendedprice": pa.array([r[5] for r in rows], pa.float64()),
            "l_discount": pa.array([r[6] for r in rows], pa.float64()),
            "l_tax": pa.array([r[7] for r in rows], pa.float64()),
            "l_returnflag": pa.array([r[8] for r in rows], pa.string()),
            "l_linestatus": pa.array([r[9] for r in rows], pa.string()),
            "l_shipdate": pa.array([r[10] for r in rows], pa.timestamp("us")),
        }
    )
    pq.write_table(table, str(d / "lineitem.parquet"))
    for tname in TESTDATA_TABLES:
        if tname != "lineitem":
            os.symlink(f"{sf_dir}/{tname}.parquet", str(d / f"{tname}.parquet"))
    return str(d)


@pytest.mark.parametrize("name", ADVERSARIAL_LI_QUERIES)
def test_edge_lineitem_oracle_parity(spark, edge_li_dir, name):
    df = QUERIES[name](spark, edge_li_dir)
    compare_with_oracle(df, ORACLES[name], edge_li_dir)
