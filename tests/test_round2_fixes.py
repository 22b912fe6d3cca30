"""Round-2 regression tests: wide→long unpivot semantics, corp-name
loose fallback, pages_with_meta column collision, bloom sizing across
Arrow chunks."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from dart_xbrl_crawler_spark import fixtures, oracle
from dart_xbrl_crawler_spark.operators import extract as X
from dart_xbrl_crawler_spark.plans import pipeline
from dart_xbrl_crawler_spark.schemas import CORP_MAP, PAGES, SEEDS

RUN_TS = fixtures.RUN_TS


# ---------------------------------------------------------------------
# wide→long unpivot (oracle spec level)
# ---------------------------------------------------------------------

def _wide_doc():
    """Hand-built wide doc: 2 concepts × columns exercising the traps."""
    cols = [
        ["20250630", ["연결재무제표"]],   # in-period instant
        ["20250630", ["별도재무제표"]],   # second fs
        ["20240630", ["연결재무제표"]],   # out-of-period → filtered
        ["주석", ["연결재무제표"]],        # label fails period regex → dropped
        ["20250630", ["연결재무제표"]],   # DUPLICATE period column
        ["20250630", []],                # missing fs tuple → 연결 default
    ]
    rows = [
        {
            "concept_id": "c1", "label_ko": "현금", "label_en": "Cash",
            "class1": "자산총계", "class2": "유동자산", "class3": "",
            "values": [100.0, 200.0, 300.0, 400.0, 500.0, 600.0],
        },
        {
            "concept_id": "c2", "label_ko": "대손", "label_en": "Bad",
            "class1": "자산총계", "class2": "", "class3": "",
            # zero, None, NaN, non-numeric → all dropped
            "values": [0.0, None, float("nan"), "n/a", 700.0, None],
        },
    ]
    return {
        "doc_format": "mini-xbrl-2",
        "statements": {"BS": {"columns": cols, "rows": rows}},
    }


def test_oracle_unpivot_semantics():
    html = fixtures.build_mini_xbrl_zip("00000042", "2025-06-30", _wide_doc())
    rows = oracle.extract_facts_rowwise(
        "u", html, "반기보고서 (2025.06)", "20250615", RUN_TS
    )
    c1 = [r for r in rows if r["account_id"] == "c1"]
    c2 = [r for r in rows if r["account_id"] == "c2"]
    # c1: in-period 연결(100), 별도(200), duplicate-col 연결(500),
    # missing-fs→연결(600); out-of-period 300 and junk-label 400 dropped
    assert sorted(r["amount"] for r in c1) == [100.0, 200.0, 500.0, 600.0]
    assert [r["fs_type"] for r in sorted(c1, key=lambda r: r["amount"])] == [
        "연결", "별도", "연결", "연결"
    ]
    # c2: only the duplicate column's 700 survives (zero/None/NaN/"n/a" drop)
    assert [r["amount"] for r in c2] == [700.0]
    # duplicate period column emits BOTH rows for c1@연결@당기 amount 100/500
    assert len(c1) == 4


def test_oracle_rejects_malformed_column_labels():
    doc = _wide_doc()
    doc["statements"]["BS"]["columns"] = [
        ["2025063", ["연결재무제표"]],      # 7 digits
        ["20250630-2025063", ["연결재무제표"]],  # bad range
        [None, ["연결재무제표"]],
    ]
    for r in doc["statements"]["BS"]["rows"]:
        r["values"] = [1.0, 2.0, 3.0]
    html = fixtures.build_mini_xbrl_zip("00000042", "2025-06-30", doc)
    rows = oracle.extract_facts_rowwise(
        "u", html, "반기보고서 (2025.06)", "20250615", RUN_TS
    )
    assert rows == []


def test_kernel_unpivot_matches_oracle_on_trap_doc(spark):
    html = fixtures.build_mini_xbrl_zip("00000042", "2025-06-30", _wide_doc())
    pdf = pd.DataFrame(
        {
            "url": ["https://dart.fss.or.kr/x?rcept_no=20250630000001"],
            "warc_ts": [pd.Timestamp("2026-01-01")],
            "html": [html],
            "text": [""],
            "lang": ["ko"],
        }
    )
    pages = spark.createDataFrame(pdf, schema=PAGES).withColumn(
        "report_nm", F.lit("반기보고서 (2025.06)")
    ).withColumn("rcept_dt", F.lit("20250615"))
    got = X.extract_facts(pages, RUN_TS).toPandas()
    want = oracle.extract_facts_rowwise(
        pdf["url"][0], html, "반기보고서 (2025.06)", "20250615", RUN_TS
    )
    assert len(got) == len(want) == 5
    for col in oracle.FACT_COLUMNS:
        assert list(got[col]) == [w[col] for w in want], col


# ---------------------------------------------------------------------
# corp-name fallback chain: exact → zero-stripped loose → Corp_{code}
# ---------------------------------------------------------------------

@pytest.fixture()
def facts_df(spark):
    return spark.createDataFrame(
        pd.DataFrame({"corp_code": ["00000123", "00000777", "00000555"],
                      "amount": [1.0, 2.0, 3.0]})
    )


def _cm(spark, rows):
    pdf = pd.DataFrame(
        rows, columns=["dart_corp", "dart_corp_code", "stock_nm",
                       "stock_code", "listed_yn"]
    )
    return spark.createDataFrame(pdf, schema=CORP_MAP)


def test_corp_name_unpadded_map_key_resolves(spark, facts_df):
    # reference scenario: map keys unpadded ('123'); facts zfill(8)
    cm = _cm(spark, [("회사갑", "123", None, None, "Y")])
    out = {r["corp_code"]: r["corp_name"]
           for r in X.attach_corp_name(facts_df, cm).collect()}
    assert out["00000123"] == "회사갑"
    assert out["00000777"] == "Corp_00000777"


def test_corp_name_loose_match_overlong_key(spark, facts_df):
    # 10-char key: lpad-8 truncation breaks the exact join; the
    # zero-stripped loose tier (xbrl_processor.py:296-303) must catch it
    cm = _cm(spark, [("회사을", "0000000555", None, None, "Y")])
    out = {r["corp_code"]: r["corp_name"]
           for r in X.attach_corp_name(facts_df, cm).collect()}
    assert out["00000555"] == "회사을"


def test_corp_name_duplicate_codes_deterministic(spark, facts_df):
    # conflicting duplicate rows for one code → pinned min(name)
    cm = _cm(spark, [("회사둘", "00000123", None, None, "Y"),
                     ("회사하나", "00000123", None, None, "Y")])
    out = {r["corp_code"]: r["corp_name"]
           for r in X.attach_corp_name(facts_df, cm).collect()}
    assert out["00000123"] == min("회사둘", "회사하나")


# ---------------------------------------------------------------------
# pages_with_meta must tolerate page-side report_nm / rcept_dt
# ---------------------------------------------------------------------

def test_pages_with_meta_no_ambiguous_columns(spark, fixture_bundle):
    pages, seeds, corp_map, robots = fixture_bundle
    pages_df = spark.createDataFrame(pages, schema=PAGES).withColumn(
        "report_nm", F.lit("기존보고서")
    ).withColumn("rcept_dt", F.lit("20990101"))
    seeds_df = spark.createDataFrame(seeds, schema=SEEDS)
    meta = pipeline.pages_with_meta(pages_df, seeds_df)
    # exactly one of each meta column, seed value wins when present
    assert meta.columns.count("report_nm") == 1
    assert meta.columns.count("rcept_dt") == 1
    joined = meta.filter(F.col("rcept_no") != "").select("report_nm").distinct()
    vals = {r["report_nm"] for r in joined.collect()}
    assert "기존보고서" not in vals or len(vals) > 1  # seed rows override
    # and the full extract still runs (the old code crashed AMBIGUOUS)
    cm_df = spark.createDataFrame(corp_map, schema=CORP_MAP)
    facts = pipeline.run_extract(pages_df, seeds_df, cm_df, RUN_TS)
    assert facts.count() > 0
