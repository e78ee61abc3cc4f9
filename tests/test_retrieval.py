"""Component-level operators (BM25 top-K, inverted index, weighted
reservoir sampling) — verified with the SAME compare_with_oracle
discipline as the registry-wide oracle gate. They are ALSO registered
in queries(); these tests remain as the faster, always-on lock.

Also home of the pytest-only dedup_minhash_ml comparison (not in the
registry: pyspark.ml MinHashLSH seeds are internal, so it can never be
oracle-hashed — its semantics are pinned against the oracle-checked
dedup_minhash_lsh twin here instead).
"""

from __future__ import annotations

import duckdb

from simple_etl_pipeline_spark.testing import compare_with_oracle


def test_bm25_matches_oracle(spark, sf_dir):
    from simple_etl_pipeline_spark.plans.text import BM25_ORACLE, bm25_topk

    compare_with_oracle(bm25_topk(spark, sf_dir), BM25_ORACLE, sf_dir)


def test_bm25_panel_shape(spark, sf_dir):
    from simple_etl_pipeline_spark.plans.text import (
        BM25_QUERY_DOCS,
        BM25_TOP_K,
        bm25_topk,
    )

    rows = bm25_topk(spark, sf_dir).collect()
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r.q_id, []).append(r)
    assert set(by_q) <= set(BM25_QUERY_DOCS)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= BM25_TOP_K
        # scores non-increasing with rank; every score positive (idf of
        # the +1 form is always > 0)
        for a, b in zip(rs, rs[1:]):
            assert a.score >= b.score, (q, a, b)
        assert all(r.score > 0 for r in rs)


def test_bm25_idf_is_the_only_libm_value_and_matches(spark, sf_dir):
    """Isolate the one transcendental in the score: the 6-dp-rounded
    ln-idf of every panel term must agree across engines outright
    (everything else in the formula is correctly-rounded IEEE on
    identical inputs — the cosine_dec argument)."""
    from pyspark.sql import functions as F

    from simple_etl_pipeline_spark.functions.text import tokens_col
    from simple_etl_pipeline_spark.plans.text import BM25_QUERY_DOCS
    from simple_etl_pipeline_spark.schemas import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select("doc_id", F.explode(tokens_col("text")).alias("term"))
    panel = docs.filter(F.col("doc_id").isin(*BM25_QUERY_DOCS)).select(
        F.explode(F.slice(tokens_col("text"), 1, 3)).alias("term")
    ).distinct()
    # the scorer's N is the count of docs with >=1 token (its stats
    # aggregate runs over the dl table), NOT the raw table count — a
    # blank doc would silently desynchronize the two
    n = docs.filter(F.size(tokens_col("text")) > 0).count()
    got = {
        r.term: r.idf6
        for r in toks.join(F.broadcast(panel), "term")
        .select("term", "doc_id")
        .distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .select(
            "term",
            F.round(
                F.log((F.lit(float(n)) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0),
                6,
            ).alias("idf6"),
        )
        .collect()
    }
    import os

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet("
        f"'{os.path.join(sf_dir, 'documents.parquet')}')"
    )
    from simple_etl_pipeline_spark.functions.text import sql_tokens

    exp = dict(
        con.execute(
            f"""
            WITH toks AS (
              SELECT doc_id, unnest({sql_tokens('text')}) AS term FROM documents
            ), panel AS (
              SELECT DISTINCT unnest(({sql_tokens('text')})[1:3]) AS term
              FROM documents WHERE doc_id IN {BM25_QUERY_DOCS}
            ), df AS (
              SELECT t.term, COUNT(DISTINCT t.doc_id) AS df
              FROM toks t JOIN panel p ON t.term = p.term GROUP BY t.term
            )
            SELECT term,
                   round(ln(({float(n)} - df + 0.5) / (df + 0.5) + 1.0), 6)
            FROM df
            """
        ).fetchall()
    )
    assert got == exp


def test_inverted_index_matches_oracle(spark, sf_dir):
    from simple_etl_pipeline_spark.plans.text import (
        INVIDX_ORACLE,
        inverted_index,
    )

    compare_with_oracle(inverted_index(spark, sf_dir), INVIDX_ORACLE, sf_dir)


def test_inverted_index_df_cf_algebra(spark, sf_dir):
    from simple_etl_pipeline_spark.plans.text import (
        INVIDX_TOP_TERMS,
        inverted_index,
    )

    rows = inverted_index(spark, sf_dir).collect()
    assert 0 < len(rows) <= INVIDX_TOP_TERMS
    for r in rows:
        assert r.cf >= r.df > 0, r
        assert len(r.postings_md5) == 32
    dfs = [r.df for r in rows]
    assert dfs == sorted(dfs, reverse=True)


def test_bm25_plan_panel_is_broadcast(spark, sf_dir):
    """The corpus probe of the <=15-term panel must be a broadcast hash
    join (a term-keyed corpus shuffle would put the Zipf head on one
    reducer), and there must be no cartesian product; the only
    nested-loop is the audited 1-row stats broadcast."""
    from simple_etl_pipeline_spark.plans.text import bm25_topk

    plan = bm25_topk(spark, sf_dir)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    # tree lines carry the attributes; the detail section repeats the
    # bare node name — audit only the attributed lines
    bnlj = [
        l
        for l in plan.splitlines()
        if "BroadcastNestedLoopJoin" in l and "Build" in l
    ]
    assert bnlj and all("Cross" in l for l in bnlj), bnlj
    # per-query top-k pushed into the window sort
    assert "WindowGroupLimit" in plan


def test_weighted_sample_matches_oracle(spark, sf_dir):
    from simple_etl_pipeline_spark.plans.text import (
        WSAMPLE_ORACLE,
        weighted_sample,
    )

    compare_with_oracle(weighted_sample(spark, sf_dir), WSAMPLE_ORACLE, sf_dir)


def test_weighted_sample_favors_long_docs(spark, sf_dir):
    """Inclusion probability must rise with weight: the sampled docs'
    mean token count should exceed the corpus mean (the point of A-ES
    over uniform hashing), the keys must be valid (negative, ordered),
    and the sample is exactly K strong."""
    from pyspark.sql import functions as F

    from simple_etl_pipeline_spark.functions.text import tokens_col
    from simple_etl_pipeline_spark.plans.text import WSAMPLE_K, weighted_sample
    from simple_etl_pipeline_spark.schemas import load_table

    rows = weighted_sample(spark, sf_dir).collect()
    assert len(rows) == WSAMPLE_K
    keys = [r.es_key for r in rows]
    assert all(k < 0 for k in keys)
    assert keys == sorted(keys, reverse=True)
    corpus_mean = (
        load_table(spark, sf_dir, "documents")
        .select(F.avg(F.size(tokens_col("text"))).alias("m"))
        .collect()[0]
        .m
    )
    sample_mean = sum(r.n_tokens for r in rows) / len(rows)
    assert sample_mean > corpus_mean, (sample_mean, corpus_mean)


def test_minhash_ml_agrees_with_oracle_checked_twin(spark, sf_dir):
    """dedup_minhash_ml (pyspark.ml MinHashLSH; internal seeds, so
    permanently oracle-dark — pytest-only since round 5) pinned against
    the oracle-hashed dedup_minhash_lsh twin: every reported pair is
    within the distance threshold, and every exact duplicate the twin
    proves (shingle-set Jaccard 1.0 — byte-identical injected copies,
    hence identical HashingTF vectors) is recalled at distance 0."""
    from simple_etl_pipeline_spark.plans.text import (
        dedup_minhash_lsh,
        dedup_minhash_ml,
    )

    ml = {
        (r.doc_a, r.doc_b): r.jaccard_dist
        for r in dedup_minhash_ml(spark, sf_dir).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup_minhash_lsh(spark, sf_dir).collect()
    }
    assert ml, "ml variant found no pairs"
    assert all(d <= 0.3 for d in ml.values())
    exact = {p for p, j in lsh.items() if j == 1.0}
    assert exact, "twin found no exact-duplicate pairs"
    assert exact <= set(ml)
    for p in exact:
        assert ml[p] == 0.0
