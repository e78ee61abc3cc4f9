"""Reference-parity queries: the five cleaners + dirty-filter + full
transform, run over a *synthesized dirty products view* derived
deterministically from the `part` table, so every reference semantic
(SURVEY.md §2b/§2c) is checkable against a DuckDB oracle at any SF.

Synthesis rule: all dirty strings are built from integer arithmetic on
p_partkey / p_size / round(p_retailprice*100) — never from double→string
formatting, which differs across engines. Both the Spark view and the
oracle's WITH-clause build the exact same bytes.

Dirty coverage (keyed off p_partkey mod classes):
- title:  'Unknown Product' (k%13=0), 'N/A' (k%29=0), else p_name
- price:  'Price Unavailable' (k%7), 'N/A' (k%11), comma-decimal
          "100,50" (k%5), thousand-sep "1,234.56" (k%3), else "$d.cc"
- rating: 'Invalid Rating / 5' (k%19), 'Not Rated' (k%23), '⭐r' (k%4),
          'r / 5' (k%2), else 'r out of 5'
- colors: 'Unknown Colors' (k%31), '' (k%37), 'N Colors[ Available]'
- size:   NULL (k%41), bare (k%2), else 'Size: X'
- gender: '' (k%43), else 'Gender: G'
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from simple_etl_pipeline_spark.functions.cleaning import (
    clean_colors_col,
    clean_gender_col,
    clean_price_col,
    clean_rating_col,
    clean_size_col,
)
from simple_etl_pipeline_spark.operators.transform import remove_dirty_data, transform_data
from simple_etl_pipeline_spark.schemas import load_table


def dirty_products(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The synthesized dirty view (Spark side)."""
    part = load_table(spark, sf_dir, "part")
    k = F.col("p_partkey")
    cents_total = F.round(F.col("p_retailprice") * 100).cast("long")
    dollars = F.expr("CAST(ROUND(p_retailprice * 100) AS BIGINT) div 100")
    cents = F.lpad((cents_total % 100).cast("string"), 2, "0")
    d = dollars.cast("string")
    # Dynamic-length substr reads clearest as a SQL expression; this text
    # deliberately mirrors the oracle's `thousands` CTE column.
    thousands = F.expr(
        """
        CASE WHEN length(CAST(CAST(ROUND(p_retailprice * 100) AS BIGINT) div 100 AS STRING)) > 3
             THEN concat(
                substr(CAST(CAST(ROUND(p_retailprice * 100) AS BIGINT) div 100 AS STRING), 1,
                       length(CAST(CAST(ROUND(p_retailprice * 100) AS BIGINT) div 100 AS STRING)) - 3),
                ',',
                substr(CAST(CAST(ROUND(p_retailprice * 100) AS BIGINT) div 100 AS STRING),
                       length(CAST(CAST(ROUND(p_retailprice * 100) AS BIGINT) div 100 AS STRING)) - 2, 3))
             ELSE CAST(CAST(ROUND(p_retailprice * 100) AS BIGINT) div 100 AS STRING)
        END
        """
    )

    title = (
        F.when(k % 13 == 0, F.lit("Unknown Product"))
        .when(k % 29 == 0, F.lit("N/A"))
        .otherwise(F.col("p_name"))
    )
    price = (
        F.when(k % 7 == 0, F.lit("Price Unavailable"))
        .when(k % 11 == 0, F.lit("N/A"))
        .when(k % 5 == 0, F.concat(d, F.lit(","), cents))
        .when(k % 3 == 0, F.concat(thousands, F.lit("."), cents))
        .otherwise(F.concat(F.lit("$"), d, F.lit("."), cents))
    )
    r_str = F.concat(
        (k % 5).cast("string"), F.lit("."), (F.col("p_size") % 10).cast("string")
    )
    rating = (
        F.when(k % 19 == 0, F.lit("Invalid Rating / 5"))
        .when(k % 23 == 0, F.lit("Not Rated"))
        .when(k % 4 == 0, F.concat(F.lit("⭐"), r_str))
        .when(k % 2 == 0, F.concat(r_str, F.lit(" / 5")))
        .otherwise(F.concat(r_str, F.lit(" out of 5")))
    )
    n_colors = ((F.col("p_size") % 5) + 1).cast("string")
    colors = (
        F.when(k % 31 == 0, F.lit("Unknown Colors"))
        .when(k % 37 == 0, F.lit(""))
        .when(k % 2 == 0, F.concat(n_colors, F.lit(" Colors")))
        .otherwise(F.concat(n_colors, F.lit(" Colors Available")))
    )
    sz = (
        F.when(F.col("p_size") % 5 == 0, F.lit("S"))
        .when(F.col("p_size") % 5 == 1, F.lit("M"))
        .when(F.col("p_size") % 5 == 2, F.lit("L"))
        .when(F.col("p_size") % 5 == 3, F.lit("XL"))
        .otherwise(F.lit("XXL"))
    )
    size = (
        F.when(k % 41 == 0, F.lit(None).cast("string"))
        .when(k % 2 == 0, sz)
        .otherwise(F.concat(F.lit("Size: "), sz))
    )
    g = (
        F.when(k % 3 == 0, F.lit("Men"))
        .when(k % 3 == 1, F.lit("Women"))
        .otherwise(F.lit("Unisex"))
    )
    gender = F.when(k % 43 == 0, F.lit("")).otherwise(F.concat(F.lit("Gender: "), g))

    return part.select(
        F.col("p_partkey"),
        title.alias("title"),
        price.alias("price"),
        rating.alias("rating"),
        colors.alias("colors"),
        size.alias("size"),
        gender.alias("gender"),
    )


# DuckDB twin of dirty_products: identical string synthesis.
DIRTY_VIEW_SQL = """
WITH base AS (
  SELECT p_partkey AS k, p_name, p_size,
         CAST(ROUND(p_retailprice * 100) AS BIGINT) AS cents_total,
         CAST(ROUND(p_retailprice * 100) AS BIGINT) // 100 AS dollars
  FROM part
), parts AS (
  SELECT k, p_name, p_size, cents_total, dollars,
         CAST(dollars AS VARCHAR) AS d,
         lpad(CAST(cents_total % 100 AS VARCHAR), 2, '0') AS cents,
         CASE WHEN length(CAST(dollars AS VARCHAR)) > 3
              THEN concat(substr(CAST(dollars AS VARCHAR), 1, length(CAST(dollars AS VARCHAR)) - 3),
                          ',',
                          substr(CAST(dollars AS VARCHAR), length(CAST(dollars AS VARCHAR)) - 2, 3))
              ELSE CAST(dollars AS VARCHAR) END AS thousands,
         concat(CAST(k % 5 AS VARCHAR), '.', CAST(p_size % 10 AS VARCHAR)) AS r_str,
         CAST((p_size % 5) + 1 AS VARCHAR) AS n_colors,
         CASE p_size % 5 WHEN 0 THEN 'S' WHEN 1 THEN 'M' WHEN 2 THEN 'L'
                         WHEN 3 THEN 'XL' ELSE 'XXL' END AS sz,
         CASE k % 3 WHEN 0 THEN 'Men' WHEN 1 THEN 'Women' ELSE 'Unisex' END AS g
  FROM base
)
SELECT k AS p_partkey,
  CASE WHEN k % 13 = 0 THEN 'Unknown Product'
       WHEN k % 29 = 0 THEN 'N/A'
       ELSE p_name END AS title,
  CASE WHEN k % 7 = 0 THEN 'Price Unavailable'
       WHEN k % 11 = 0 THEN 'N/A'
       WHEN k % 5 = 0 THEN concat(d, ',', cents)
       WHEN k % 3 = 0 THEN concat(thousands, '.', cents)
       ELSE concat('$', d, '.', cents) END AS price,
  CASE WHEN k % 19 = 0 THEN 'Invalid Rating / 5'
       WHEN k % 23 = 0 THEN 'Not Rated'
       WHEN k % 4 = 0 THEN concat('⭐', r_str)
       WHEN k % 2 = 0 THEN concat(r_str, ' / 5')
       ELSE concat(r_str, ' out of 5') END AS rating,
  CASE WHEN k % 31 = 0 THEN 'Unknown Colors'
       WHEN k % 37 = 0 THEN ''
       WHEN k % 2 = 0 THEN concat(n_colors, ' Colors')
       ELSE concat(n_colors, ' Colors Available') END AS colors,
  CASE WHEN k % 41 = 0 THEN NULL
       WHEN k % 2 = 0 THEN sz
       ELSE concat('Size: ', sz) END AS size,
  CASE WHEN k % 43 = 0 THEN '' ELSE concat('Gender: ', g) END AS gender
FROM parts
"""

# DuckDB twins of the cleaner expressions (functions/cleaning.py).
SQL_CLEAN_PRICE = """
TRY_CAST(
  CASE WHEN regexp_replace(price, '[^0-9.,]', '', 'g') LIKE '%,%'
        AND regexp_replace(price, '[^0-9.,]', '', 'g') NOT LIKE '%.%'
       THEN replace(regexp_replace(price, '[^0-9.,]', '', 'g'), ',', '.')
       ELSE replace(regexp_replace(price, '[^0-9.,]', '', 'g'), ',', '') END
AS DOUBLE) * 16000.0
"""
SQL_CLEAN_RATING = (
    "TRY_CAST(NULLIF(regexp_extract(rating, '([0-9]+(?:\\.[0-9]+)?)', 1), '') AS DOUBLE)"
)
SQL_CLEAN_COLORS = """
CASE WHEN colors IS NULL OR colors = '' OR colors = 'Unknown Colors' THEN NULL
     ELSE TRY_CAST(NULLIF(regexp_extract(colors, '([0-9]+)', 1), '') AS BIGINT) END
"""
# regex strip (not trim) to mirror the Spark side's all-whitespace
# strip — functions/cleaning._strip_prefix; identical on this view's
# ASCII domain, and trim() would differ on tab-padded values.
SQL_CLEAN_SIZE = (
    "NULLIF(regexp_replace(regexp_replace(size, '(?i)^Size:\\s*', ''),"
    " '^\\s+|\\s+$', '', 'g'), '')"
)
SQL_CLEAN_GENDER = (
    "NULLIF(regexp_replace(regexp_replace(gender, '(?i)^Gender:\\s*', ''),"
    " '^\\s+|\\s+$', '', 'g'), '')"
)

SQL_DIRTY_KEEP = """
title IS NOT NULL AND title NOT IN ('Unknown Product', 'N/A', '')
AND rating IS NOT NULL AND rating NOT IN ('Invalid Rating / 5', 'Not Rated', 'N/A', '')
AND price IS NOT NULL AND price NOT IN ('Price Unavailable', 'N/A', '')
"""


def ref_dirty_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The synthesis itself — if this hashes equal, the parity queries
    below compare cleaners, not synthesis bugs."""
    return dirty_products(spark, sf_dir).orderBy("p_partkey")


def ref_clean_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = dirty_products(spark, sf_dir)
    return d.select(
        "p_partkey", "price", clean_price_col("price").alias("price_idr")
    ).orderBy("p_partkey")


def ref_clean_rating(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = dirty_products(spark, sf_dir)
    return d.select(
        "p_partkey", "rating", clean_rating_col("rating").alias("rating_clean")
    ).orderBy("p_partkey")


def ref_clean_colors(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = dirty_products(spark, sf_dir)
    return d.select(
        "p_partkey", "colors", clean_colors_col("colors").alias("colors_clean")
    ).orderBy("p_partkey")


def ref_clean_size_gender(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = dirty_products(spark, sf_dir)
    return d.select(
        "p_partkey",
        "size",
        "gender",
        clean_size_col("size").alias("size_clean"),
        clean_gender_col("gender").alias("gender_clean"),
    ).orderBy("p_partkey")


def ref_remove_dirty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 dirty-row removal (reference utils/transform.py:108-121)."""
    d = dirty_products(spark, sf_dir)
    return remove_dirty_data(d).select("p_partkey", "title", "price", "rating").orderBy(
        "p_partkey"
    )


def ref_transform_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7: the whole reference pipeline F1 -> P1..P5 -> F2."""
    d = dirty_products(spark, sf_dir)
    return transform_data(d).select(
        "p_partkey", "title", "price", "rating", "colors", "size", "gender"
    ).orderBy("p_partkey")


def _with_view(body: str) -> str:
    return f"WITH dirty AS ({DIRTY_VIEW_SQL}) {body}"


REF_CLEAN_PRICE_ORACLE = _with_view(
    f"SELECT p_partkey, price, {SQL_CLEAN_PRICE} AS price_idr FROM dirty ORDER BY p_partkey"
)

REF_CLEAN_RATING_ORACLE = _with_view(
    f"SELECT p_partkey, rating, {SQL_CLEAN_RATING} AS rating_clean FROM dirty ORDER BY p_partkey"
)
REF_CLEAN_COLORS_ORACLE = _with_view(
    f"SELECT p_partkey, colors, {SQL_CLEAN_COLORS} AS colors_clean FROM dirty ORDER BY p_partkey"
)

REF_CLEAN_SIZE_GENDER_ORACLE = _with_view(
    f"SELECT p_partkey, size, gender, {SQL_CLEAN_SIZE} AS size_clean, "
    f"{SQL_CLEAN_GENDER} AS gender_clean FROM dirty ORDER BY p_partkey"
)

ORACLES = {
    "ref_dirty_view": _with_view("SELECT * FROM dirty ORDER BY p_partkey"),
    "ref_clean_price": REF_CLEAN_PRICE_ORACLE,
    "ref_clean_rating": REF_CLEAN_RATING_ORACLE,
    "ref_clean_colors": REF_CLEAN_COLORS_ORACLE,
    "ref_clean_size_gender": REF_CLEAN_SIZE_GENDER_ORACLE,
    "ref_remove_dirty": _with_view(
        f"SELECT p_partkey, title, price, rating FROM dirty WHERE {SQL_DIRTY_KEEP} ORDER BY p_partkey"
    ),
    "ref_transform_full": _with_view(
        f"""
        SELECT p_partkey, title, price, rating, colors, size, gender FROM (
          SELECT p_partkey, title,
                 {SQL_CLEAN_PRICE} AS price,
                 {SQL_CLEAN_RATING} AS rating,
                 {SQL_CLEAN_COLORS} AS colors,
                 {SQL_CLEAN_SIZE} AS size,
                 {SQL_CLEAN_GENDER} AS gender
          FROM dirty WHERE {SQL_DIRTY_KEEP}
        ) WHERE price IS NOT NULL AND rating IS NOT NULL AND colors IS NOT NULL
              AND size IS NOT NULL AND gender IS NOT NULL
        ORDER BY p_partkey
        """
    ),
}

QUERIES = {
    "ref_dirty_view": ref_dirty_view,
    "ref_clean_price": ref_clean_price,
    "ref_clean_rating": ref_clean_rating,
    "ref_clean_colors": ref_clean_colors,
    "ref_clean_size_gender": ref_clean_size_gender,
    "ref_remove_dirty": ref_remove_dirty,
    "ref_transform_full": ref_transform_full,
}
