"""Multimodal queries: binary payload columns with typed metadata.

mm_binary_meta is pure Column algebra; mm_blob_features goes through
the mapInPandas feature extractor (multimodal/features.py) — its byte
statistics are integer-exact, so even the Python-side path is
oracle-checkable in DuckDB (ord() over ASCII == byte values).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from simple_etl_pipeline_spark.multimodal.features import (
    extract_blob_features,
    with_blob_column,
)
from simple_etl_pipeline_spark.schemas import load_table


def mm_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    blobs = with_blob_column(docs)
    return blobs.select(
        "doc_id",
        "mime",
        F.length("blob").alias("size_bytes"),
        F.md5("blob").alias("content_md5"),
    ).orderBy("doc_id")


MM_BINARY_META_ORACLE = """
SELECT doc_id,
  (['image/png', 'audio/wav', 'video/mp4'])[(doc_id % 3) + 1] AS mime,
  octet_length(encode(text)) AS size_bytes,
  md5(text) AS content_md5
FROM documents WHERE text IS NOT NULL ORDER BY doc_id
"""


def mm_blob_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return extract_blob_features(with_blob_column(docs)).orderBy("doc_id")


# Byte iteration via hex(encode(text)) — ord(substr(text, i, 1)) walks
# CODE POINTS, which coincides with bytes only on ASCII; a CJK payload
# diverged (adversarial-corpus finding, round 5). Each byte is the
# hex pair at (2i-1, 2).
MM_BLOB_FEATURES_ORACLE = """
WITH b AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         octet_length(encode(text)) AS sz
  FROM documents WHERE text IS NOT NULL
)
SELECT doc_id,
  (['image/png', 'audio/wav', 'video/mp4'])[(doc_id % 3) + 1] AS mime,
  sz AS size_bytes,
  CASE WHEN sz = 0 THEN 0.0
  ELSE CAST(list_sum(list_transform(generate_series(1, sz),
       i -> CAST(concat('0x', substr(hx, 2*i - 1, 2)) AS INT))) AS DOUBLE)
       / sz
  END AS mean_byte,
  CAST(sz % 640 AS INTEGER) AS width,
  CAST(sz % 480 AS INTEGER) AS height
FROM b ORDER BY doc_id
"""


def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every 4th 64-byte 'frame' of each video blob as its own row — the
    1->N explode real frame sampling performs, via mapInPandas (no
    shuffle; frame rows inherit input partitioning)."""
    from simple_etl_pipeline_spark.multimodal.features import sample_frames

    docs = load_table(spark, sf_dir, "documents")
    videos = with_blob_column(docs).filter(F.col("mime") == "video/mp4")
    return sample_frames(videos, frame_bytes=64, every=4).orderBy(
        "doc_id", "frame_idx"
    )


# frames are BYTE windows: slice the hex string (2 chars/byte) and
# md5 the unhexed bytes — char-based substr diverges on multi-byte text
MM_FRAME_SAMPLE_ORACLE = """
WITH v AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         octet_length(encode(text)) AS sz
  FROM documents WHERE doc_id % 3 = 2 AND text IS NOT NULL
)
SELECT doc_id, i AS frame_idx,
  md5(substr(hx, i * 128 + 1, 128)) AS frame_md5
FROM v, UNNEST(generate_series(0, sz // 64 - 1)) AS t(i)
WHERE i % 4 = 0
ORDER BY doc_id, frame_idx
"""


def mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor 'resize' of image blobs to 32 samples: sample i
    reads source byte (i*size)//32, exact integer arithmetic in both
    engines, md5-checkable output."""
    from simple_etl_pipeline_spark.multimodal.features import resize_blob

    docs = load_table(spark, sf_dir, "documents")
    images = with_blob_column(docs).filter(F.col("mime") == "image/png")
    return resize_blob(images, target=32).orderBy("doc_id")


# sampled BYTES via hex pairs: byte (i*sz)//32 is the pair at
# 2*((i*sz)//32)+1; md5 runs over the unhexed reconstructed bytes
MM_RESIZE_ORACLE = """
WITH im AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         octet_length(encode(text)) AS sz
  FROM documents
  WHERE doc_id % 3 = 0 AND text IS NOT NULL
    AND octet_length(encode(text)) > 0
),
s AS (
  SELECT doc_id,
    list_transform(generate_series(0, 31),
                   i -> substr(hx, 2 * ((i * sz) // 32) + 1, 2)) AS pairs
  FROM im
)
SELECT doc_id,
  md5(array_to_string(pairs, '')) AS resized_md5,
  CAST(list_sum(list_transform(pairs, p -> CAST(concat('0x', p) AS INT)))
       AS BIGINT) AS resized_sum,
  CAST(list_sum(list_transform(pairs, p -> CAST(concat('0x', p) AS INT)))
       AS DOUBLE) / 32.0 AS resized_mean
FROM s ORDER BY doc_id
"""


# --- blob-level dedup -----------------------------------------------------
def mm_dedup_blobs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup of binary payloads by content hash, BEFORE any decode:
    at 100 TB of media the cheapest flop is the one skipped on a
    byte-identical copy (re-crawled images, mirrored videos). One
    groupBy on md5(blob) per mime type; survivors = min doc_id —
    identical shape to the text-side dedup_exact, applied to binary."""
    docs = load_table(spark, sf_dir, "documents")
    blobs = with_blob_column(docs)
    per_hash = blobs.groupBy("mime", F.md5("blob").alias("h")).agg(
        F.count(F.lit(1)).alias("copies"), F.min("doc_id").alias("survivor")
    )
    return (
        per_hash.groupBy("mime")
        .agg(
            F.sum("copies").alias("n_blobs"),
            F.count(F.lit(1)).alias("n_unique"),
            F.sum(F.col("copies") - 1).alias("n_dropped"),
            F.round(
                F.sum(F.col("copies") - 1).cast("double") / F.sum("copies"), 6
            ).alias("dup_rate"),
        )
        .orderBy("mime")
    )


MM_DEDUP_BLOBS_ORACLE = """
WITH b AS (
  SELECT doc_id,
    (['image/png', 'audio/wav', 'video/mp4'])[(doc_id % 3) + 1] AS mime,
    md5(text) AS h
  FROM documents WHERE text IS NOT NULL
), per_hash AS (
  SELECT mime, h, COUNT(*) AS copies, MIN(doc_id) AS survivor
  FROM b GROUP BY mime, h
)
SELECT mime, CAST(SUM(copies) AS BIGINT) AS n_blobs,
  COUNT(*) AS n_unique,
  CAST(SUM(copies - 1) AS BIGINT) AS n_dropped,
  round(CAST(SUM(copies - 1) AS DOUBLE) / SUM(copies), 6) AS dup_rate
FROM per_hash GROUP BY mime ORDER BY mime
"""


# --- perceptual-hash near-dup images (round-12 prebuild bank) -----------
# 60-bit average-hash (the repo's positive-bigint hash width), split
# into 3 bands of 20 bits for the LSH bucket join. Near-dup verdict:
# Hamming distance <= 8 of 60.
#
# Band geometry (VERDICT r9 #4 — the pre-registration mitigation for
# the probe's 64->256 tail): the original 4 x 15-bit geometry (the
# dedup_simhash text geometry) showed a 0.86 terminal probe leg —
# average-hash values CONCENTRATE on structured bytes, so a few
# 15-bit band values went heavy and the candidate join's skewed
# buckets dominated the tail. 20-bit bands are 32x more selective
# (2^20 vs 2^15 bucket universe), which thins exactly the heavy
# buckets; the price is the pigeonhole recall bound dropping from
# d <= 3 (4 bands) to d <= 2 (3 bands) with band-split losses
# possible in (2, 8] — acceptable for a near-DUP detector whose
# exact-cluster stage (the volume) is band-free and unchanged.
# The alternative mitigation SCALING.md names (join_fuzzy-style
# per-bucket cap) was rejected for this operator: the exact-cluster
# records ride the band join's self-match rows, so capping buckets
# would silently drop exact clusters whose every band is heavy.
PHASH_SAMPLES = 60
PHASH_BAND_BITS = 20
PHASH_BANDS = 3
PHASH_HAMMING_MAX = 8


def phash_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image blobs (the doc_id % 3 == 0 mime class, non-empty) plus
    injected duplicates that keep the operator non-trivial at every SF
    (the corpus_with_dups device, shifted by multiples of 3 so the
    copies stay in the image mime class): every 5th image re-crawled
    byte-identically (+3_000_000), every 7th re-encoded with its first
    three characters replaced (+6_000_000) — a small in-place edit, the
    kind a perceptual hash must survive and an exact md5 cannot.

    Id-range precondition (the corpus_with_dups convention,
    plans/text.py — same class, documented here per review): base
    doc_ids must stay below 3_000_000 per 10M scale-probe copy band,
    or an injected id could collide with a real document and corrupt
    member counts; the driver testdata tops out orders of magnitude
    below, and the probe writer's copy*10M shift preserves the
    headroom inside every band."""
    docs = load_table(spark, sf_dir, "documents")
    imgs = docs.filter(
        (F.col("doc_id") % 3 == 0) & F.col("text").isNotNull()
    ).select("doc_id", "text")
    # single-scan dup injection (r16, the plans.text
    # inject_dup_variants device — this corpus's spec: %15 exact
    # +3M, %21 chrome-shifted near +6M): the 3-branch union read the
    # documents source once per branch
    _ph_base = F.struct(
        F.col("doc_id").alias("doc_id"), F.col("text").alias("text")
    )
    _ph_exact = F.struct(
        (F.col("doc_id") + 3_000_000).alias("doc_id"),
        F.col("text").alias("text"),
    )
    _ph_near = F.struct(
        (F.col("doc_id") + 6_000_000).alias("doc_id"),
        F.concat(F.lit("zzz"), F.expr("substr(text, 4)")).alias("text"),
    )
    _ph_empty = F.array().cast("array<struct<doc_id:bigint,text:string>>")
    return (
        imgs.select(
            F.explode(
                F.concat(
                    F.array(_ph_base),
                    F.when(
                        F.col("doc_id") % 15 == 0, F.array(_ph_exact)
                    ).otherwise(_ph_empty),
                    F.when(
                        F.col("doc_id") % 21 == 0, F.array(_ph_near)
                    ).otherwise(_ph_empty),
                )
            ).alias("r")
        )
        .select(
            F.col("r.doc_id").alias("doc_id"),
            F.col("r.text").alias("text"),
        )
        .filter(F.length(F.encode(F.col("text"), "UTF-8")) > 0)
    )


PHASH_CORPUS_SQL = """
WITH base_imgs AS (
  SELECT doc_id, text FROM documents
  WHERE doc_id % 3 = 0 AND text IS NOT NULL
), corpus AS (
  SELECT doc_id, text FROM base_imgs
  UNION ALL
  SELECT doc_id + 3000000, text FROM base_imgs WHERE doc_id % 15 = 0
  UNION ALL
  SELECT doc_id + 6000000, 'zzz' || substr(text, 4)
  FROM base_imgs WHERE doc_id % 21 = 0
)
SELECT doc_id, text FROM corpus
WHERE octet_length(encode(text)) > 0
"""


def mm_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate IMAGE detection by perceptual hash — the
    multimodal sibling of dedup_simhash, run BEFORE any decode: two
    re-encodes of the same picture differ in bytes (md5-dedup blind)
    but not in coarse luminance structure, which an average-hash
    captures. With codecs stubbed (multimodal/features.py), the
    'pixels' are the deterministic byte plane itself: 60 evenly-spaced
    samples (byte (i*sz) div 60 — the mm_resize sampling), bit i set
    iff sample i exceeds the mean (exact integer form: 60*p_i >
    sum(p)), packed into a positive 60-bit bigint. A real decoder
    swaps ONLY the sample source (decoded 8x8 luma instead of raw
    bytes); the hashing, banding and verification below are the
    production pipeline unchanged.

    Candidate generation is banded LSH, never all-pairs: a pair within
    Hamming distance d is found iff some 20-bit band is flip-free —
    GUARANTEED by pigeonhole for d <= 2 (two flips cannot touch all
    three bands), and the overwhelmingly-likely case up to the
    d = 8 verification threshold (recall lost only when the flips
    spread across all 3 bands) — the same recall/cost trade
    dedup_simhash documents on text, with WIDER bands than simhash's
    4 x 15 because average-hash values concentrate on structured
    bytes (see the band-geometry note at PHASH_BAND_BITS: the 32x
    more selective buckets are the VERDICT r9 #4 mitigation for the
    probe's 64->256 tail). Verification is exact: popcount of the
    XOR.

    Output is at HASH-CLUSTER granularity, not document pairs — a
    design forced by measurement, not taste: unlike SimHash (whose
    bits are md5-derived and therefore uniform), an average-hash
    CONCENTRATES on structured input — the bank-stage scale probe on
    the K-scaled corpus read distinct hashes growing only ~N^0.5
    while byte-identical-hash documents piled up, so the doc-pair
    output was itself quadratic (probe exponent 0.73, caught before
    any registration). The fix is the map-side-collapse move: ONE
    groupBy on h folds every identical-hash document into a cluster
    row FIRST (dedup_exact's linear shape — equal hashes need no LSH
    to find each other), and only DISTINCT hashes enter the band
    join. Rows: kind='exact' per cluster with >= 2 members (survivor,
    member count, xor_ids pinning membership, weight = C(m,2)
    underlying doc pairs); kind='near' per cluster PAIR within
    Hamming (0, 8] (both survivors, both counts, weight = m_a * m_b).
    Every doc-level relationship is still counted — as exact integer
    weights, never materialized rows; both weight products stage
    through decimal(38,0)/HUGEINT (r15, the carried r12 watch-item)
    so the intermediate m*(m-1) cannot wrap bigint at 100 TB cluster
    sizes even where the final //2 result still fits.

    Scale shape: one narrow map computes every hash in the scan stage
    (Column-only arithmetic — no Python, no UDF); one h-keyed
    aggregation (map-side combined) collapses to the distinct-hash
    frame; 4 band keys explode to 4 x |distinct h|; ONE shuffle on
    (band, value) groups candidates, within-bucket pairing bounded by
    distinct-hash bucket sizes (sub-linear by the very concentration
    that motivated the design); the exact Hamming check runs on
    candidate pairs only. Zero all-pairs products at any corpus
    size."""
    n = PHASH_SAMPLES
    imgs = phash_corpus(spark, sf_dir).select(
        "doc_id",
        F.hex(F.encode(F.col("text"), "UTF-8")).alias("hx"),
        F.length(F.encode(F.col("text"), "UTF-8"))
        .cast("bigint")
        .alias("sz"),
    )
    hashed = (
        imgs.withColumn(
            "ps",
            F.expr(
                f"transform(sequence(0, {n - 1}), i -> "
                f"cast(conv(substr(hx, cast(2 * ((i * sz) div {n}) + 1 "
                f"as int), 2), 16, 10) as int))"
            ),
        )
        .withColumn("total", F.expr("aggregate(ps, 0L, (a, x) -> a + x)"))
        .withColumn(
            "h",
            F.expr(
                f"aggregate(sequence(0, {n - 1}), 0L, (a, i) -> "
                f"a + if({n} * ps[i] > total, shiftleft(1L, i), 0L))"
            ),
        )
        .select("doc_id", "h")
    )
    clusters = hashed.groupBy("h").agg(
        F.count(F.lit(1)).alias("members"),
        F.min("doc_id").alias("survivor"),
        F.expr("bit_xor(doc_id)").alias("xor_ids"),
    )
    bands = clusters.select(
        "h",
        "members",
        "survivor",
        "xor_ids",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.expr(
                            f"shiftright(h, {b * PHASH_BAND_BITS})"
                            f" & {(1 << PHASH_BAND_BITS) - 1}"
                        ).alias("bv"),
                    )
                    for b in range(PHASH_BANDS)
                ]
            )
        ).alias("x"),
    ).select("h", "members", "survivor", "xor_ids", "x.band", "x.bv")
    a = bands.select(
        F.col("survivor").alias("doc_a"),
        F.col("h").alias("ha"),
        F.col("members").alias("members_a"),
        F.col("xor_ids").alias("xa"),
        "band",
        "bv",
    )
    b = bands.select(
        F.col("survivor").alias("doc_b"),
        F.col("h").alias("hb"),
        F.col("members").alias("members_b"),
        "band",
        "bv",
    )
    # <= keeps each cluster's SELF-match: that row (doc_a == doc_b,
    # hamming 0) is the exact-cluster record, so the whole output is
    # one join with no union (a union of the two shared-lineage
    # branches also trips Catalyst's constraint rewrite on the
    # corpus-union plan — double win)
    cand = (
        a.join(b, ["band", "bv"])
        .filter(F.col("doc_a") <= F.col("doc_b"))
        .select(
            "doc_a", "doc_b", "ha", "hb", "members_a", "members_b", "xa"
        )
        .distinct()
        .withColumn(
            "hamming", F.expr("cast(bit_count(ha ^ hb) as bigint)")
        )
    )
    is_exact = F.col("doc_a") == F.col("doc_b")
    return (
        cand.filter(
            (is_exact & (F.col("members_a") >= 2))
            | (
                ~is_exact
                & (F.col("hamming") > 0)
                & (F.col("hamming") <= PHASH_HAMMING_MAX)
            )
        )
        .select(
            F.when(is_exact, F.lit("exact"))
            .otherwise(F.lit("near"))
            .alias("kind"),
            "doc_a",
            F.when(is_exact, F.lit(None).cast("bigint"))
            .otherwise(F.col("doc_b"))
            .alias("doc_b"),
            "hamming",
            "members_a",
            F.when(is_exact, F.lit(None).cast("bigint"))
            .otherwise(F.col("members_b"))
            .alias("members_b"),
            # decimal(38,0) staging (the DQ_DELTA_CAP class, carried
            # r12 watch-item landed r15): the INTERMEDIATE m*(m-1)
            # wraps bigint at m ~ 4.3e9 even though the final div-2
            # still fits — stage the product in decimal on both
            # engines (oracle: HUGEINT) so ranks of plausible 100 TB
            # cluster sizes never silently overflow. Values are
            # identical at every test SF (small integer domain).
            F.when(
                is_exact,
                F.expr(
                    "CAST(CAST(members_a AS decimal(38,0))"
                    " * (members_a - 1) div 2 AS BIGINT)"
                ),
            )
            .otherwise(
                F.expr(
                    "CAST(CAST(members_a AS decimal(38,0))"
                    " * members_b AS BIGINT)"
                )
            )
            .alias("weight"),
            F.when(is_exact, F.col("xa"))
            .otherwise(F.lit(None).cast("bigint"))
            .alias("xor_ids"),
        )
        .orderBy("kind", "doc_a", "doc_b")
    )


# The two halves of the SQL-side hash, shared by the oracle and the
# python-reference property test (tests/test_new_ops_invariants.py):
# sample the byte plane into `ps`, then pack the above-mean bits.
PHASH_PS_SQL = (
    f"list_transform(generate_series(0, {PHASH_SAMPLES - 1}), i -> "
    f"CAST(concat('0x', substr(hx, "
    f"CAST(2 * ((i * sz) // {PHASH_SAMPLES}) + 1 AS INT), 2)) AS INT))"
)
PHASH_PACK_SQL = (
    f"CAST(list_sum(list_transform(generate_series(1, {PHASH_SAMPLES}), "
    f"j -> CASE WHEN {PHASH_SAMPLES} * ps[j] > list_sum(ps) "
    f"THEN 1::BIGINT << (j - 1) ELSE 0::BIGINT END)) AS BIGINT)"
)


def py_avg_hash(text: str) -> int:
    """Independent from-scratch python reference of the 60-bit
    average-hash — the lock the property test compares BOTH engine
    implementations against."""
    b = text.encode("utf-8")
    n = PHASH_SAMPLES
    ps = [b[(i * len(b)) // n] for i in range(n)]
    total = sum(ps)
    return sum(1 << i for i, p in enumerate(ps) if n * p > total)


MM_PHASH_ORACLE = f"""
WITH corpus AS ({PHASH_CORPUS_SQL}
), imgs AS (
  SELECT doc_id, hex(encode(text)) AS hx,
    CAST(octet_length(encode(text)) AS BIGINT) AS sz
  FROM corpus
), sampled AS (
  SELECT doc_id, {PHASH_PS_SQL} AS ps
  FROM imgs
), hashed AS (
  SELECT doc_id, {PHASH_PACK_SQL} AS h
  FROM sampled
), clusters AS (
  SELECT h, COUNT(*) AS members, MIN(doc_id) AS survivor,
         bit_xor(doc_id) AS xor_ids
  FROM hashed GROUP BY h
), exact AS (
  SELECT 'exact' AS kind, survivor AS doc_a,
    CAST(NULL AS BIGINT) AS doc_b, CAST(0 AS BIGINT) AS hamming,
    members AS members_a, CAST(NULL AS BIGINT) AS members_b,
    CAST(CAST(members AS HUGEINT) * (members - 1) // 2 AS BIGINT)
      AS weight, xor_ids
  FROM clusters WHERE members >= 2
), bands AS (
  SELECT h, members, survivor, b.band,
    (h >> (b.band * {PHASH_BAND_BITS})) & {(1 << PHASH_BAND_BITS) - 1} AS bv
  FROM clusters, (SELECT UNNEST(generate_series(0, {PHASH_BANDS - 1}))
                  AS band) b
), cand AS (
  SELECT DISTINCT a.survivor AS doc_a, b.survivor AS doc_b,
    a.h AS ha, b.h AS hb, a.members AS members_a, b.members AS members_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bv = b.bv AND a.survivor < b.survivor
), near AS (
  SELECT 'near' AS kind, doc_a, doc_b,
    CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming,
    members_a, members_b,
    CAST(CAST(members_a AS HUGEINT) * members_b AS BIGINT) AS weight,
    CAST(NULL AS BIGINT) AS xor_ids
  FROM cand WHERE bit_count(xor(ha, hb)) <= {PHASH_HAMMING_MAX}
)
SELECT * FROM exact UNION ALL SELECT * FROM near
ORDER BY kind, doc_a, doc_b
"""


# --- byte-budget shard layout for blobs (round-15 prebuild bank) -----------
SHARD_BYTES = 65536  # target shard size; the arithmetic is value-free


def mm_bytes_shard_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-budget shard layout for binary blobs (round-15 prebuild
    bank) — the tar/WebDataset shard manifest every multimodal trainer
    reads: blobs in deterministic corpus order (doc_id ASC) cut into
    ~SHARD_BYTES shards WITHOUT splitting any blob. The assignment is
    the start-offset rule — shard_id = (cum - size) div SHARD_BYTES —
    the closed-form whole-blob layout that is exactly distributable: a
    blob whose span crosses a shard boundary stays whole in its START
    shard, so a shard can overflow its target by at most one blob's
    tail; the manifest reports that exactly (overflow_bytes, and
    fill_ppm that can honestly exceed 1e6). True greedy fill (close
    the shard when the NEXT blob would overflow) is sequential state
    the way FFD is for train_binpack_shelves; the start-offset rule
    keeps identical O(1) arithmetic per blob, bounds the deviation by
    max blob size, and is reproducible from the data alone.

    Byte offsets come from `global_prefix_sum` over (doc_id) with the
    blob byte length as the value — the primitive's next surface, one
    range shuffle; the manifest is one shard-keyed aggregation
    (map-side combined; output rows = total_bytes/SHARD_BYTES — the
    manifest IS the product, the train_shard_manifest contract).
    Zero-byte blobs (empty payloads survive with_blob_column's
    NULL-drop) consume no budget and land in the shard where their
    start offset falls. fill_ppm is decimal-staged (a shard's bytes
    are bounded by SHARD_BYTES + one blob, but the discipline costs
    nothing and survives any SHARD_BYTES retune). Oracle: identical
    arithmetic under SUM() OVER in DuckDB with
    octet_length(encode(text)) as the blob length."""
    from simple_etl_pipeline_spark.plans.relational import (
        global_prefix_sum,
    )

    docs = load_table(spark, sf_dir, "documents")
    blobs = with_blob_column(docs).select(
        "doc_id",
        "mime",
        F.length("blob").cast("bigint").alias("n_bytes"),
    )
    packed = global_prefix_sum(
        blobs, ["doc_id"], "n_bytes", out_rank="pos", out_cum="cum"
    )
    placed = packed.select(
        "doc_id",
        "mime",
        "n_bytes",
        "cum",
        F.expr(f"(cum - n_bytes) div {SHARD_BYTES}").alias("shard_id"),
    )
    return (
        placed.groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_blobs"),
            F.sum("n_bytes").cast("bigint").alias("n_bytes"),
            F.count(F.when(F.col("mime") == "image/png", F.lit(1)))
            .alias("n_images"),
            F.max("cum").alias("_end"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
            F.expr("bit_xor(doc_id)").alias("xor_docs"),
        )
        .select(
            "shard_id",
            "n_blobs",
            "n_bytes",
            "n_images",
            F.expr(
                f"greatest(CAST(0 AS BIGINT),"
                f" _end - (shard_id + 1) * {SHARD_BYTES})"
            ).alias("overflow_bytes"),
            F.expr(
                "CAST(CAST(n_bytes AS decimal(38,0)) * 1000000"
                f" div {SHARD_BYTES} AS BIGINT)"
            ).alias("fill_ppm"),
            "first_doc",
            "last_doc",
            "xor_docs",
        )
        .orderBy("shard_id")
    )


MM_BYTES_SHARD_PACK_ORACLE = f"""
WITH blobs AS (
  SELECT doc_id,
    (['image/png', 'audio/wav', 'video/mp4'])[(doc_id % 3) + 1] AS mime,
    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
  FROM documents WHERE text IS NOT NULL
), ranked AS (
  SELECT doc_id, mime, n_bytes,
    CAST(SUM(n_bytes) OVER (ORDER BY doc_id ASC
      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
  FROM blobs
), placed AS (
  SELECT doc_id, mime, n_bytes, cum,
    (cum - n_bytes) // {SHARD_BYTES} AS shard_id
  FROM ranked
), g AS (
  SELECT shard_id, COUNT(*) AS n_blobs,
    CAST(SUM(n_bytes) AS BIGINT) AS n_bytes,
    COUNT(CASE WHEN mime = 'image/png' THEN 1 END) AS n_images,
    MAX(cum) AS e, MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc,
    bit_xor(doc_id) AS xor_docs
  FROM placed GROUP BY shard_id
)
SELECT shard_id, n_blobs, n_bytes, n_images,
  CAST(GREATEST(0, e - (shard_id + 1) * {SHARD_BYTES}) AS BIGINT)
    AS overflow_bytes,
  CAST(CAST(n_bytes AS HUGEINT) * 1000000 // {SHARD_BYTES} AS BIGINT)
    AS fill_ppm,
  first_doc, last_doc, xor_docs
FROM g ORDER BY shard_id
"""


QUERIES = {
    "mm_binary_meta": mm_binary_meta,
    "mm_blob_features": mm_blob_features,
    "mm_frame_sample": mm_frame_sample,
    "mm_resize": mm_resize,
    "mm_dedup_blobs": mm_dedup_blobs,
    "mm_phash_dedup": mm_phash_dedup,
    "mm_bytes_shard_pack": mm_bytes_shard_pack,
}

ORACLES = {
    "mm_binary_meta": MM_BINARY_META_ORACLE,
    "mm_blob_features": MM_BLOB_FEATURES_ORACLE,
    "mm_frame_sample": MM_FRAME_SAMPLE_ORACLE,
    "mm_resize": MM_RESIZE_ORACLE,
    "mm_dedup_blobs": MM_DEDUP_BLOBS_ORACLE,
    "mm_phash_dedup": MM_PHASH_ORACLE,
    "mm_bytes_shard_pack": MM_BYTES_SHARD_PACK_ORACLE,
}
