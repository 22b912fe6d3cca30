"""End-to-end crawl/extract pipeline composition (SURVEY.md §7 slice).

pages → canonicalize+hash → URL-seen anti-join → politeness top-k →
"fetch" (bytes already on-row in the pages table) → extract UDF →
corp_map broadcast join → partitioned facts sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import extract as X


def pages_with_meta(pages: DataFrame, seeds: DataFrame) -> DataFrame:
    """Attach seed metadata (report_nm, rcept_dt) to pages by the
    rcept_no embedded in DART urls.  Seeds are a tiny dim → broadcast;
    non-DART pages keep null meta (the kernel treats them as generic).

    Pages that already carry report_nm / rcept_dt (e.g. synthesized
    benches, re-runs over extracted output) don't collide: the page-side
    column is renamed before the join and the seed value wins when
    present (coalesce) — a bare join would duplicate the column and
    make every downstream select AMBIGUOUS_REFERENCE."""
    keyed = pages.withColumn(
        "rcept_no", F.regexp_extract("url", r"rcept_no=(\d{14})", 1)
    )
    meta_cols = ("report_nm", "rcept_dt")
    for c in meta_cols:
        if c in keyed.columns:
            keyed = keyed.withColumnRenamed(c, f"_page_{c}")
    dim = F.broadcast(
        seeds.select("rcept_no", "report_nm", "rcept_dt").dropDuplicates(["rcept_no"])
    )
    out = keyed.join(dim, "rcept_no", "left")
    for c in meta_cols:
        if f"_page_{c}" in out.columns:
            out = out.withColumn(
                c, F.coalesce(F.col(c), F.col(f"_page_{c}"))
            ).drop(f"_page_{c}")
    return out


def run_extract(
    pages: DataFrame,
    seeds: DataFrame,
    corp_map: DataFrame,
    run_ts: str,
) -> DataFrame:
    """pages + seeds + corp_map → final facts table (FACTS schema)."""
    meta = pages_with_meta(pages, seeds)
    facts = X.extract_facts(meta, run_ts)
    return X.attach_corp_name(facts, corp_map)


_SINK_PARTITIONS = ("year", "mm", "corp_code", "report_type")


def write_facts(facts: DataFrame, path: str) -> None:
    """Partitioned sink mirroring the reference's Hive layout
    (s3_uploader.py:141-149); Spark drops partition cols from payload
    automatically (the reference does it by hand, s3_uploader.py:184).

    The rows are rebalanced by the partition columns first, so one task
    writes each partition dir and the sink holds one file per dir (AQE
    splits a dir only past its advisory partition size).  Without it
    every task wrote a file into every dir it had rows for."""
    (
        facts.hint("rebalance", *_SINK_PARTITIONS)
        .write.mode("overwrite")
        .partitionBy(*_SINK_PARTITIONS)
        .parquet(path)
    )
