"""Fixed StructTypes for every engine table.

The reference is dynamically typed (columns discovered at runtime,
/root/reference/xbrl_processor.py:458-503); this engine is fixed-schema:
every table boundary is an explicit StructType, checked on read/write.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# pages — the authoritative input shape (BASELINE.json input_hint):
# Common-Crawl-style web pages.
# ---------------------------------------------------------------------------
PAGES = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

# ---------------------------------------------------------------------------
# seeds — rcp_no seed list (first-class input; the reference's missing
# corp_list.json / corp_codes targeting, xbrl_batch_processor.py:466).
# ---------------------------------------------------------------------------
SEEDS = T.StructType(
    [
        T.StructField("rcept_no", T.StringType(), False),
        T.StructField("corp_code", T.StringType(), False),
        T.StructField("report_nm", T.StringType(), True),
        T.StructField("rcept_dt", T.StringType(), True),
        T.StructField("seed_rank", T.IntegerType(), False),
    ]
)

# ---------------------------------------------------------------------------
# corp_map — company dimension (dart_api_manager.py:144-159,
# fixed_corp_map_lambda.py:80-89).  Tiny: always broadcast.
# ---------------------------------------------------------------------------
CORP_MAP = T.StructType(
    [
        T.StructField("dart_corp", T.StringType(), True),
        T.StructField("dart_corp_code", T.StringType(), True),
        T.StructField("stock_nm", T.StringType(), True),
        T.StructField("stock_code", T.StringType(), True),
        T.StructField("listed_yn", T.StringType(), True),
    ]
)

# ---------------------------------------------------------------------------
# robots — per-host politeness rules (new-engine component; reference
# analog is the global 60 ms throttle, dart_api_manager.py:44-46).
# ---------------------------------------------------------------------------
ROBOTS = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("disallow_prefix", T.StringType(), True),
        T.StructField("crawl_delay_ms", T.LongType(), True),
    ]
)

FACTS = T.StructType(
    [
        T.StructField("order_no", T.IntegerType(), True),
        T.StructField("year", T.StringType(), True),
        T.StructField("mm", T.StringType(), True),
        T.StructField("receipt_ymd", T.StringType(), True),
        T.StructField("corp_code", T.StringType(), True),
        T.StructField("corp_name", T.StringType(), True),
        T.StructField("report_type", T.StringType(), True),
        T.StructField("report_name", T.StringType(), True),
        T.StructField("account_id", T.StringType(), True),
        T.StructField("account_name", T.StringType(), True),
        T.StructField("account_name_en", T.StringType(), True),
        T.StructField("class1", T.StringType(), True),
        T.StructField("class2", T.StringType(), True),
        T.StructField("class3", T.StringType(), True),
        T.StructField("class1_id", T.StringType(), True),
        T.StructField("class2_id", T.StringType(), True),
        T.StructField("class3_id", T.StringType(), True),
        T.StructField("fs_type", T.StringType(), True),
        T.StructField("period", T.StringType(), True),
        T.StructField("amount", T.DoubleType(), True),
        T.StructField("crawl_time", T.StringType(), True),
    ]
)

# facts as produced by the extract kernel, before the corp_map broadcast
# join fills corp_name (the join stays in Catalyst, not in the UDF).
FACTS_PRE_JOIN = T.StructType(
    [f for f in FACTS.fields if f.name != "corp_name"]
)

# ---------------------------------------------------------------------------
# crawl_metrics — per-round lineage counters (north_rule: fetched /
# deduped / failed / robots_blocked), one row per state and commit, each
# a state's net change.  partition_id is a marker: -1 on a commit's rows,
# -2 on folded sums (stores written before the counters were observed
# per state hold one row per Spark partition).
# ---------------------------------------------------------------------------
CRAWL_METRICS = T.StructType(
    [
        T.StructField("round_id", T.IntegerType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("state", T.StringType(), False),
        T.StructField("n", T.LongType(), False),
    ]
)
