"""Corp-map sources.

The reference loads ``corp_list.json`` from four hard-coded paths with a
``Corp_{code}`` fallback on failure (/root/reference/xbrl_processor.py:
213-236,305) and fetches the map over HTTP from a second Lambda
(/root/reference/dart_api_manager.py:118-169).  Here the corp map is an
explicit input table with the fixed ``CORP_MAP`` schema (no inference),
null-filtered, LPAD-normalized and deduplicated once — the Athena
query's semantics (fixed_corp_map_lambda.py:76-190) as one DataFrame
expression.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def normalize_corp_map(raw: DataFrame) -> DataFrame:
    """Presence filter + LPAD + dedup (dart_api_manager.py:150,
    fixed_corp_map_lambda.py:83-87).  Keeps the first name per code
    deterministically (min by name — the reference's GROUP BY picks an
    arbitrary row; we pin it)."""
    return (
        raw.filter(
            F.col("dart_corp_code").isNotNull() & F.col("dart_corp").isNotNull()
        )
        .select(
            F.col("dart_corp"),
            F.lpad("dart_corp_code", 8, "0").alias("dart_corp_code"),
            F.col("stock_nm"),
            F.lpad("stock_code", 6, "0").alias("stock_code"),
            F.col("listed_yn"),
        )
        .groupBy("dart_corp_code")
        .agg(
            F.min("dart_corp").alias("dart_corp"),
            F.min("stock_nm").alias("stock_nm"),
            F.min("stock_code").alias("stock_code"),
            F.min("listed_yn").alias("listed_yn"),
        )
        .select("dart_corp", "dart_corp_code", "stock_nm", "stock_code", "listed_yn")
    )
