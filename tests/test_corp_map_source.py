"""JSON corp-map source: explicit schema, presence filter, LPAD, dedup;
and the corp-name join's fallback chain (``extract.attach_corp_name``)."""

from __future__ import annotations

import json

import pandas as pd
import pytest

from dart_xbrl_crawler_spark import fixtures
from dart_xbrl_crawler_spark.operators import extract as X
from dart_xbrl_crawler_spark.schemas import CORP_MAP
from dart_xbrl_crawler_spark.sources.corp_map import normalize_corp_map


def test_read_corp_map_json(spark, tmp_path):
    cm = fixtures.gen_corp_map(5, seed=42)
    p = tmp_path / "corp_list.json"
    with open(p, "w") as f:
        for rec in cm.to_dict("records"):
            f.write(json.dumps(rec, ensure_ascii=False) + "\n")

    # explicit schema: a malformed file yields nulls, never a schema guess
    out = normalize_corp_map(spark.read.schema(CORP_MAP).json(str(p))).toPandas()
    # null-code row filtered, duplicate collapsed
    assert out["dart_corp_code"].notna().all()
    assert out["dart_corp_code"].is_unique
    assert (out["dart_corp_code"].str.len() == 8).all()
    assert (out["stock_code"].dropna().str.len() == 6).all()
    # all real codes survived
    want = set(cm["dart_corp_code"].dropna().unique())
    assert set(out["dart_corp_code"]) == want


#  corp-name fallback chain: exact -> zero-stripped loose -> Corp_{code}
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
