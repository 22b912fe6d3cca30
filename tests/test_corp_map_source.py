"""JSON corp-map source: explicit schema, presence filter, LPAD, dedup."""

from __future__ import annotations

import json

from dart_xbrl_crawler_spark import fixtures
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
