"""Mini oracle harness mirroring the driver's correctness gate.

Runs a Spark query DataFrame and its DuckDB oracle SQL side by side,
normalizes (columns sorted by name, rows sorted, floats compared with
tight relative tolerance), and reports the first divergence. Used by
tests/test_oracle_parity.py so mismatches are caught before the driver
runs CORRECTNESS_r{N}.json.
"""

from __future__ import annotations

import math
from typing import Any

from pyspark.sql import DataFrame

from simple_etl_pipeline_spark.schemas import TESTDATA_TABLES


def demoted_queries() -> dict:
    """Always empty: every query is registered in __spark_entry__.queries().
    Kept only because perfbench/workloads.py still imports it."""
    return {}


def duckdb_connection(sf_dir: str):
    import os

    import duckdb

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        path = f"{sf_dir}/{t}.parquet"
        # a Spark-written (or test-constructed multi-file) table is a
        # DIRECTORY of part files under the table name; DuckDB's
        # read_parquet needs the explicit glob there, while Spark's
        # reader handles both layouts natively
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
        )
    return con


def _norm_cell(v: Any) -> Any:
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return None
        return v
    return v


def _rows(records: list[dict[str, Any]], cols: list[str]) -> list[tuple]:
    out = []
    for r in records:
        out.append(tuple(_norm_cell(r[c]) for c in cols))

    def key(row: tuple) -> tuple:
        return tuple(
            (v is None, str(type(v).__name__), str(v)) for v in row
        )

    return sorted(out, key=key)


def compare_with_oracle(
    spark_df: DataFrame, oracle_sql: str, sf_dir: str, rtol: float = 1e-9
) -> None:
    """Raise AssertionError with a pinpointed diff on any divergence."""
    con = duckdb_connection(sf_dir)
    exp = con.execute(oracle_sql).fetchdf()
    got = spark_df.toPandas()
    # The Spark side is fully materialized — release the
    # global_row_number persist() barriers belonging to THIS frame
    # (ADVICE r8: they otherwise live for the session, and the pytest
    # session builds thousands of frames; ADVICE r9: the release must
    # be per-frame so a barrier of some other built-but-not-yet-
    # materialized frame keeps its persistence marker).
    from simple_etl_pipeline_spark.plans.relational import (
        release_barriers_for,
    )

    release_barriers_for(spark_df)

    exp_cols = sorted(exp.columns.tolist())
    got_cols = sorted(got.columns.tolist())
    # Explicit raises, not bare `assert` (the ADVICE-r10 class): this
    # harness also runs OUTSIDE pytest (tools/ sweeps, /verify
    # scripts), where `python -O` would strip asserts and let a
    # divergent result read as a silent pass — an evidence-integrity
    # hazard, not just style. The remaining checks below already raise.
    if exp_cols != got_cols:
        raise AssertionError(
            f"column mismatch: spark={got_cols} oracle={exp_cols}"
        )
    if len(exp) != len(got):
        raise AssertionError(
            f"row count: spark={len(got)} oracle={len(exp)}"
        )

    # Type strictness: the driver's check hashes typed values, so an
    # int64 Spark column vs a float64 oracle column (e.g. DuckDB's
    # HUGEINT from an uncast SUM(CASE...)) hash-mismatches even when
    # every value is numerically equal. Mirror that power here: fail
    # when exactly one side of a column is floating-point.
    for c in exp_cols:
        ek, gk = exp[c].dtype.kind, got[c].dtype.kind
        if (ek == "f") != (gk == "f"):
            raise AssertionError(
                f"column {c}: dtype kind mismatch spark={got[c].dtype} "
                f"oracle={exp[c].dtype} (int-vs-float drift breaks the "
                f"driver's value hash; CAST the oracle aggregate)"
            )

    exp_rows = _rows(exp.to_dict("records"), exp_cols)
    got_rows = _rows(got.to_dict("records"), exp_cols)

    for i, (e_row, g_row) in enumerate(zip(exp_rows, got_rows)):
        for c, e, g in zip(exp_cols, e_row, g_row):
            if e is None and g is None:
                continue
            if isinstance(e, float) and isinstance(g, float):
                if not math.isclose(e, g, rel_tol=rtol, abs_tol=1e-9):
                    raise AssertionError(
                        f"row {i} col {c}: spark={g!r} oracle={e!r} (float diff)"
                    )
            elif e != g:
                raise AssertionError(f"row {i} col {c}: spark={g!r} oracle={e!r}")
