"""Adversarial EMBEDDINGS corpus through the driver's exact oracle
compare — zero vectors (failed encoder output), exact duplicates,
antipodal pairs, single-hot axes, near-underflow magnitudes and a
skewed label. Every embeddings-only oracle query must hash-match
DuckDB on it. (Magnitudes stay inside dot_dec's documented
sum|x*y| < 8.4e6 precondition — violating a documented contract is a
different test's job.)
"""

from __future__ import annotations

import os

import pytest

import __spark_entry__ as entrymod
from simple_etl_pipeline_spark.schemas import TESTDATA_TABLES
from simple_etl_pipeline_spark.testing import compare_with_oracle

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()

DIM = 64


def _vec(fn) -> list[float]:
    return [float(fn(i)) for i in range(DIM)]


EDGE_VECS = [
    # (vec_id, embedding, label) — vec_id < 10 are the query panel
    (0, _vec(lambda i: 0.0), 0),  # zero QUERY vector (NaN/NULL hazard)
    (1, _vec(lambda i: 1.0 if i == 0 else 0.0), 0),  # single-hot
    (2, _vec(lambda i: -1.0 if i == 0 else 0.0), 1),  # its antipode
    (3, _vec(lambda i: ((i * 7) % 13 - 6) / 3.0), 1),
    (4, _vec(lambda i: ((i * 7) % 13 - 6) / 3.0), 2),  # exact dup of 3
    (5, _vec(lambda i: 1e-18), 2),  # underflows the 2^-40 fixed point
    (6, _vec(lambda i: 100.0 if i < 8 else 0.0), 3),  # large but in-contract
    (7, _vec(lambda i: (i - 32) / 10.0), 3),
    (8, _vec(lambda i: (32 - i) / 10.0), 4),  # antipode of 7
    (9, _vec(lambda i: 0.25), 4),
    # corpus side: a zero candidate too, plus structured fillers
    (10, _vec(lambda i: 0.0), 0),
    (11, _vec(lambda i: ((i * 11) % 17 - 8) / 4.0), 0),
    *[
        (12 + k, _vec(lambda i, k=k: ((i * (3 + k)) % 19 - 9) / 5.0), k % 6)
        for k in range(30)
    ],
]

ADVERSARIAL_SIM_QUERIES = [
    "sim_knn_brute",
    "sim_ann_lsh",
    "sim_centroids_by_label",
    "sim_ivf_topk",
    "sim_ivf_recall",
    "sim_quantize_int8",
    "sim_pq_adc",
    "sim_ivfpq_topk",
    "sim_mrl_recall",
    "sim_rp_recall",
    "sim_kmeans_lloyd",
    "dedup_embedding_cosine",
    "dedup_semdedup",
    # round 10: the registered hard-negative miner — zero-vector
    # anchors (NULL cosine), exact-duplicate candidates at the 0.95
    # near-dup boundary, and the same-source exclusion under the
    # symlinked documents fixture all flow through the parity gate
    "train_hard_negatives",
    # round 12 (r13 bank, gauntleted at BUILD time): the snapshot
    # drift monitor over zero vectors (zero means, divisor floor),
    # exact duplicates, antipodal pairs and the 1e-18 underflow
    # coordinates (round to 0 micros on both engines)
    "dq_embedding_drift",
    # r12 continuation (r15/r14 banks, gauntleted at BUILD time): the
    # kNN graph over TWO zero vectors (NULL-cosine candidates excluded
    # in both directions), exact-duplicate ties and antipodal buckets;
    # the STREAMING drift twin replaying the same corruption corpus
    # through the sink path
    "sim_knn_graph",
    "st_embedding_drift",
    # r16 bank: the mutual-kNN clusters over the exact-duplicate pair
    # (3 == 4), zero vectors and antipodes — singleton/survivor
    # semantics through the recursive-closure oracle
    "sim_knn_components",
]


@pytest.fixture(scope="module")
def edge_emb_dir(spark, sf_dir, tmp_path_factory) -> str:
    d = tmp_path_factory.mktemp("edge_emb")
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "vec_id": pa.array([r[0] for r in EDGE_VECS], pa.int64()),
            "embedding": pa.array(
                [r[1] for r in EDGE_VECS], pa.list_(pa.float32())
            ),
            "label": pa.array([r[2] for r in EDGE_VECS], pa.int32()),
        }
    )
    pq.write_table(table, str(d / "embeddings.parquet"))
    for t in TESTDATA_TABLES:
        if t != "embeddings":
            os.symlink(f"{sf_dir}/{t}.parquet", str(d / f"{t}.parquet"))
    return str(d)


@pytest.mark.parametrize("name", ADVERSARIAL_SIM_QUERIES)
def test_edge_embeddings_oracle_parity(spark, edge_emb_dir, name):
    df = QUERIES[name](spark, edge_emb_dir)
    compare_with_oracle(df, ORACLES[name], edge_emb_dir)


# ADVICE r13 (similarity.py DUP_INJECT_OFFSET): the injection device's
# domain assumption — every REAL vec_id sits below 2^40, so
# `vec_id + DUP_INJECT_OFFSET` can never alias a real id — was
# documented in a comment but enforced nowhere. Pin it over every gate
# corpus: a future corpus with larger ids now fails loudly here
# instead of silently reintroducing the ADVICE-r12 collision class.
GATE_SF_DIRS = [
    "/root/testdata/sf0.001",
    "/root/testdata/sf0.01",
    "/root/testdata/sf0.1",
]
# The corpus this session ACTUALLY tests against (conftest SF_DIR,
# env-overridable) must be guarded too — r14 review: a relocated
# corpus would otherwise skip every hardcoded dir while the
# dup-injection ops run unguarded on the override (dedup via set so
# the default layout keeps three parametrizations).
from tests.conftest import SF_DIR as _SESSION_SF_DIR  # noqa: E402

if _SESSION_SF_DIR not in GATE_SF_DIRS:
    GATE_SF_DIRS.append(_SESSION_SF_DIR)


@pytest.mark.parametrize("gate_dir", GATE_SF_DIRS)
def test_gate_vec_ids_below_dup_inject_offset(gate_dir):
    import duckdb

    from simple_etl_pipeline_spark.plans.similarity import (
        DUP_INJECT_OFFSET,
    )

    if not os.path.exists(gate_dir):
        pytest.skip(f"{gate_dir} not present in this environment")
    path = f"{gate_dir}/embeddings.parquet"
    if os.path.isdir(path):
        path = f"{path}/*.parquet"
    mx = duckdb.sql(
        f"SELECT max(vec_id) FROM read_parquet('{path}')"
    ).fetchone()[0]
    assert mx is not None and mx < DUP_INJECT_OFFSET, (
        f"max vec_id {mx} in {gate_dir} >= DUP_INJECT_OFFSET "
        f"{DUP_INJECT_OFFSET}: injected duplicate ids could collide "
        "with real ones — raise the offset before trusting any "
        "dup-injection op on this corpus"
    )
