"""Adversarial-content oracle parity: edge-case documents (empty,
whitespace-only, unicode, spam repetition, null, very long) flow
through the SAME Spark-vs-DuckDB comparison as the driver's gate.
Divergences love to hide in degenerate text (regex whitespace classes,
empty-array semantics, null propagation) — this pins them."""

from __future__ import annotations

import os

import pytest

import __spark_entry__ as entrymod
from simple_etl_pipeline_spark.testing import compare_with_oracle
from simple_etl_pipeline_spark.schemas import TESTDATA_TABLES

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()

EDGE_DOCS = [
    # (doc_id, text, lang, source)
    (1, "", "en", "s1"),                                  # empty
    (2, "   \t\n  ", "en", "s1"),                         # whitespace-only
    (3, "single", "en", "s2"),                            # one token
    (4, "spam " * 200, "en", "s2"),                       # extreme repetition
    (5, "中文 文本 处理 测试 中文 文本", "zh", "s3"),          # CJK tokens
    (6, "héllo wörld héllo wörld naïve café", "fr", "s3"),  # accents
    (7, "a b " * 500 + "unique tail tokens here", "en", "s4"),  # long doc
    (8, None, "en", "s4"),                                # null text
    (9, "the the the the the a a a a a", "en", "s5"),     # stopword soup
    (10, "x", "de", "s5"),                                # minimal
    # long multi-byte payloads: 11 % 3 = 2 -> video (frame windows),
    # 12 % 3 = 0 -> image (resize) — byte-vs-codepoint oracle hazard
    (11, "中文 视频 内容 " * 40, "zh", "s6"),
    (12, "图像 数据 样本 " * 30, "zh", "s6"),
]

ADVERSARIAL_QUERIES = [
    "txt_token_stats",
    "txt_doc_features",
    "dedup_exact",
    "txt_repetition_filter",
    "txt_chunk_windows",
    "txt_dataset_card",
    "txt_fingerprint",
    "txt_gopher_quality",
    "dedup_paragraphs",
    # round 5: the repetition/entropy/drift profiles and the retrieval
    # trio through the empty/null/CJK/accent/repetition edge corpus
    "txt_gopher_repetition",
    "txt_char_entropy",
    "txt_kl_drift",
    "txt_mixture_manifest",
    "weighted_sample",
    "inverted_index",
    "bm25_topk",
    # round 5 widening: every other documents-only oracle query must
    # hash-match DuckDB on the edge corpus too
    "txt_langid",
    "txt_ngram_freq",
    "txt_tfidf_top_term",
    "txt_training_corpus",
    "txt_bpe_tokens",
    "txt_winnow_fingerprint",
    "dedup_simhash",
    "dedup_simhash_pairs",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_components",
    "txt_pii_redact",
    "txt_contamination",
    "txt_sample_stratified",
    "txt_pack_sequences",
    "txt_rare_token_ratio",
    "txt_bloom_contamination",
    "txt_dsir_weights",
    "dedup_ngram_spans",
    # round 6: the shard manifest is pure doc_id md5 arithmetic, but the
    # edge corpus pins it against null/empty-text rows (the narrow scan
    # must still count every doc exactly once per shard)
    "train_shard_manifest",
    # multimodal: blobs synthesized from documents, so the edge corpus
    # (empty/null text -> empty/null payloads) exercises them too
    "mm_binary_meta",
    "mm_blob_features",
    "mm_frame_sample",
    "mm_resize",
    "mm_dedup_blobs",
    # round 10: the remaining registered documents-only queries join
    # the gauntlet — the bigram LM over degenerate text (single-token
    # docs excluded, repetition-spam scoring, CJK bigrams), the two
    # rank-primitive manifests (curriculum order / domain split under
    # null-text and null-propagated quality keys) and the hybrid RRF
    # fusion (BM25 over the edge corpus + the broadcast query panel)
    "txt_lm_perplexity",
    "train_curriculum_order",
    "txt_domain_split",
    "search_hybrid_rrf",
    # round 11: the newly REGISTERED documents-only query joins the
    # gauntlet — the greedy token-budget pack over degenerate text
    # (empty/null/whitespace docs excluded pre-ranking, ties from the
    # repetition-spam quality collisions, CJK token counting)
    "train_token_budget_pack",
    # round 12: the newly REGISTERED documents-surface queries join the
    # gauntlet — cross-document boilerplate over empty/null/CJK lines
    # (trim classes, within-doc repeats on the spam docs) and the
    # perceptual-hash near-dup over the degenerate byte planes
    # (empty/null text -> no payload; CJK multi-byte planes)
    "txt_boilerplate_lines",
    "mm_phash_dedup",
    # round 12: the r13-bank documents queries, gauntleted at BUILD
    # time — attention packing over empty/null/whitespace docs
    # (excluded pre-packing) and CJK token counting; the streaming LSH
    # index over the same corpus (sub-3-token docs produce no
    # signature; the dup-injection residues are absent by doc-id
    # construction)
    "train_attention_pack",
    "st_dedup_lsh_index",
    # r12 continuation (r14/r15 banks, gauntleted at BUILD time):
    # shelf packing over empty/null/whitespace docs and the band
    # ladder on CJK token counts; the snapshot diff's md5-over-CJK
    # and NULL-text null-safe compare through the revision classes;
    # the byte shard layout over multi-byte payloads (octet_length
    # vs codepoint length — the mm oracle hazard class)
    "train_binpack_shelves",
    "dq_snapshot_diff",
    "mm_bytes_shard_pack",
    # r16 bank: the contamination matrix over CJK shingles, NULL
    # text, sub-shingle docs and the repetition-heavy spam doc
    "train_eval_decontam_report",
]


@pytest.fixture(scope="module")
def edge_sf_dir(spark, sf_dir, tmp_path_factory) -> str:
    """A testdata layout whose documents table is the edge corpus; all
    other tables symlink to the real sf fixtures (both engines follow
    symlinks)."""
    d = tmp_path_factory.mktemp("edge_sf")
    # single parquet FILE (like the driver's testdata — DuckDB's
    # read_parquet targets a file, not a Spark-style directory)
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "doc_id": pa.array([i for i, *_ in EDGE_DOCS], pa.int64()),
            "text": pa.array([t for _, t, *_ in EDGE_DOCS], pa.string()),
            "lang": pa.array([lg for *_, lg, _ in EDGE_DOCS], pa.string()),
            "source": pa.array([s for *_, s in EDGE_DOCS], pa.string()),
            "n_chars": pa.array(
                [len(t) if t is not None else None for _, t, *_ in EDGE_DOCS],
                pa.int64(),
            ),
        }
    )
    pq.write_table(table, str(d / "documents.parquet"))
    for t in TESTDATA_TABLES:
        if t != "documents":
            os.symlink(f"{sf_dir}/{t}.parquet", str(d / f"{t}.parquet"))
    return str(d)


@pytest.mark.parametrize("name", ADVERSARIAL_QUERIES)
def test_edge_corpus_oracle_parity(spark, edge_sf_dir, name):
    df = QUERIES[name](spark, edge_sf_dir)
    compare_with_oracle(df, ORACLES[name], edge_sf_dir)


def test_contamination_denominator_is_prejoin_distinct_count(spark, sf_dir):
    """txt_contamination counts n_shingles AFTER the bench-probe join,
    which is only correct while both join sides are set-valued (see the
    precondition comment at the join). This pins the invariant: per-doc
    n_shingles == the pre-join distinct shingle count, so any dropped
    .distinct()/array_distinct fans the denominator out and fails here."""
    from pyspark.sql import functions as F

    from simple_etl_pipeline_spark.functions.text import (
        shingles_col,
        tokens_col,
    )
    from simple_etl_pipeline_spark.plans.text import (
        CONTAM_BENCH_MOD,
        txt_contamination,
    )
    from simple_etl_pipeline_spark.schemas import load_table

    got = {
        r.doc_id: r.n_shingles
        for r in txt_contamination(spark, sf_dir).collect()
    }
    docs = load_table(spark, sf_dir, "documents")
    exp = {
        r.doc_id: r.n
        for r in docs.filter(
            (F.col("doc_id") % CONTAM_BENCH_MOD != 0)
            & (F.size(tokens_col("text")) >= 3)
        )
        .select(
            "doc_id",
            F.size(F.array_distinct(shingles_col("text"))).alias("n"),
        )
        .collect()
    }
    assert got == exp


def test_pair_keys_are_nonnull_at_every_call_site(spark, sf_dir):
    """ADVICE r6: _pairs_from_sorted_list pairs the members of a
    NULL-key group with each other, whereas the equi-join it replaces
    drops NULL keys — its join-equivalence claim therefore REQUIRES
    non-null grouping keys. Pin the precondition at both call sites:
    the shingle hash (dedup_ngram_jaccard / the Jaccard family) and
    the MinHash band key (dedup_minhash_lsh) are md5-derived and must
    never be NULL."""
    from pyspark.sql import functions as F

    from simple_etl_pipeline_spark.plans.text import (
        _PERM,
        _ROWS_PER_BAND,
        MINHASH_BANDS,
        MINHASH_P,
        _shingle_sets,
    )

    sh = _shingle_sets(spark, sf_dir)
    assert sh.filter(F.col("sh").isNull()).count() == 0

    h31 = (F.col("sh") % MINHASH_P).alias("h31")
    mh_cols = [
        F.min((F.lit(a) * F.col("h31") + F.lit(b)) % MINHASH_P).alias(f"mh{i}")
        for i, (a, b) in enumerate(_PERM)
    ]
    sig = sh.select("doc_id", h31).groupBy("doc_id").agg(*mh_cols)
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(
                ",",
                *[
                    F.col(f"mh{b * _ROWS_PER_BAND + j}").cast("string")
                    for j in range(_ROWS_PER_BAND)
                ],
            ).alias("bkey"),
        )
        for b in range(MINHASH_BANDS)
    ]
    bands = sig.select(F.explode(F.array(*band_structs)).alias("bb"))
    assert bands.filter(F.col("bb.bkey").isNull()).count() == 0
