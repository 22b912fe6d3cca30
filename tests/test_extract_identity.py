"""Byte-identity: the vectorized Spark extract kernel must reproduce the
row-at-a-time oracle (and the golden ``pages.text`` column) exactly,
per url.  This is the north_rule invariant."""

from __future__ import annotations

import pandas as pd
import pytest

from dart_xbrl_crawler_spark import fixtures, oracle
from dart_xbrl_crawler_spark.operators import extract as X
from dart_xbrl_crawler_spark.plans import pipeline
from dart_xbrl_crawler_spark.schemas import PAGES, SEEDS


def _spark_pages(spark, pages_pdf):
    pdf = pages_pdf.copy()
    return spark.createDataFrame(pdf, schema=PAGES)


def test_text_byte_identity(spark, fixture_bundle):
    pages, seeds, corp_map, robots = fixture_bundle
    pages_df = _spark_pages(spark, pages)
    seeds_df = spark.createDataFrame(seeds, schema=SEEDS)

    meta = pipeline.pages_with_meta(pages_df, seeds_df)
    got = (
        X.extract_text(meta, fixtures.RUN_TS)
        .select("url", "text")
        .toPandas()
        .sort_values("url")
        .reset_index(drop=True)
    )
    # golden: generated by the row-at-a-time oracle at fixture-build time
    want = (
        pages[["url", "text"]]
        .drop_duplicates("url", keep="first")
        .sort_values("url")
        .reset_index(drop=True)
    )
    got = got.drop_duplicates("url", keep="first").reset_index(drop=True)
    assert len(got) == len(want)
    mism = got["text"].ne(want["text"])
    assert not mism.any(), (
        f"{mism.sum()} urls mismatched; first: {want['url'][mism].iloc[0]!r}\n"
        f"got : {got['text'][mism].iloc[0][:400]!r}\n"
        f"want: {want['text'][mism].iloc[0][:400]!r}"
    )


def test_facts_match_oracle_rows(spark, fixture_bundle):
    pages, seeds, corp_map, robots = fixture_bundle
    pages_df = _spark_pages(spark, pages)
    seeds_df = spark.createDataFrame(seeds, schema=SEEDS)

    meta = pipeline.pages_with_meta(pages_df, seeds_df)
    got = X.extract_facts(meta, fixtures.RUN_TS).toPandas()

    # oracle, driven row-at-a-time off the same joined metadata
    seeds_by_no = {s["rcept_no"]: s for s in seeds.to_dict("records")}
    want_rows = []
    for p in pages.drop_duplicates("url").to_dict("records"):
        import re

        m = re.search(r"rcept_no=(\d{14})", p["url"])
        s = seeds_by_no.get(m.group(1)) if m else None
        rows = oracle.extract_facts_rowwise(
            p["url"],
            p["html"],
            s["report_nm"] if s else None,
            s["rcept_dt"] if s else None,
            fixtures.RUN_TS,
        )
        for r in rows:
            want_rows.append({"url": p["url"], **r})
    want = pd.DataFrame(want_rows, columns=["url", *oracle.FACT_COLUMNS])

    assert len(got) == len(want) > 0
    key = ["url", "report_type", "order_no", "period", "fs_type", "account_id"]
    got = got.sort_values(key, kind="mergesort").reset_index(drop=True)
    want = want.sort_values(key, kind="mergesort").reset_index(drop=True)
    want["order_no"] = want["order_no"].astype("int32")
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_corp_name_join_fallback(spark, fixture_bundle):
    pages, seeds, corp_map, robots = fixture_bundle
    from dart_xbrl_crawler_spark.schemas import CORP_MAP

    pages_df = _spark_pages(spark, pages)
    seeds_df = spark.createDataFrame(seeds, schema=SEEDS)
    # drop one corp from the map → Corp_{code} fallback path
    dropped = corp_map["dart_corp_code"].dropna().iloc[0]
    cm = corp_map[corp_map["dart_corp_code"] != dropped]
    cm_df = spark.createDataFrame(cm, schema=CORP_MAP)

    facts = pipeline.run_extract(pages_df, seeds_df, cm_df, fixtures.RUN_TS)
    names = {
        r["corp_code"]: r["corp_name"]
        for r in facts.select("corp_code", "corp_name").distinct().collect()
    }
    assert names, "no facts extracted"
    assert names.get(dropped) == f"Corp_{dropped}"
    mapped = corp_map.set_index("dart_corp_code")["dart_corp"].to_dict()
    for code, name in names.items():
        if code != dropped:
            assert name == mapped[code]


def test_write_facts_one_file_per_partition_dir(spark, fixture_bundle, tmp_path):
    """The facts sink reads back equal to run_extract's rows (partition
    columns come back as strings, so corp_code keeps its zero padding),
    holds exactly one parquet file per partition dir, and no file
    carries a partition column in its payload."""
    import os

    import pyarrow.parquet as pq

    from dart_xbrl_crawler_spark.schemas import CORP_MAP

    pages, seeds, corp_map, robots = fixture_bundle
    facts = pipeline.run_extract(
        # spread over tasks as a multi-file scan would be: two pages of
        # one partition dir land in different tasks
        _spark_pages(spark, pages).repartition(8, "url"),
        spark.createDataFrame(seeds, schema=SEEDS),
        spark.createDataFrame(corp_map, schema=CORP_MAP),
        fixtures.RUN_TS,
    ).drop("url")
    out = str(tmp_path / "facts")
    pipeline.write_facts(facts, out)

    cols = facts.columns
    want = facts.toPandas()
    got = spark.read.parquet(out).select(*cols).toPandas()
    assert len(want) > 0 and len(got) == len(want)
    want = want.sort_values(cols).reset_index(drop=True)
    got = got.sort_values(cols).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)

    part_cols = {"year", "mm", "corp_code", "report_type"}
    dirs = {}
    for root, _, files in os.walk(out):
        for f in files:
            if f.endswith(".parquet"):
                dirs.setdefault(os.path.relpath(root, out), []).append(f)
                names = set(pq.read_schema(os.path.join(root, f)).names)
                assert not names & part_cols, (root, f)
    assert dirs
    assert all(len(d.split(os.sep)) == 4 for d in dirs), sorted(dirs)
    many = {d: len(fs) for d, fs in dirs.items() if len(fs) != 1}
    assert not many, many


def _patched_zip(field: str) -> bytes:
    """A one-member mini-XBRL ZIP with one header field made to disagree
    with the rest of the archive."""
    import struct

    doc = {"doc_format": "mini-xbrl-2", "columns": [], "rows": []}
    data = bytearray(fixtures.build_mini_xbrl_zip("00000001", "20260101", doc))
    if field == "local_name":  # the local header's copy of the name
        assert data[30:36] == b"entity"
        data[30:36] = b"ENTITY"
    else:  # the central directory's uncompressed size, one byte short
        cd_off = struct.unpack("<L", data[-6:-2])[0]
        (usize,) = struct.unpack("<L", data[cd_off + 24 : cd_off + 28])
        data[cd_off + 24 : cd_off + 28] = struct.pack("<L", usize - 1)
    return bytes(data)


@pytest.mark.parametrize("field", ["local_name", "usize"])
def test_fast_zip_reader_defers_to_zipfile_on_mismatch(field):
    """The fast ZIP reader must give parse_document's stdlib verdict on
    archives whose headers disagree."""
    from unittest import mock

    from dart_xbrl_crawler_spark import doc_parsers

    payload = _patched_zip(field)
    with mock.patch.object(doc_parsers, "_zip_entries_fast", return_value=None):
        want = doc_parsers.parse_document(payload)
    assert doc_parsers.parse_document(payload) == want
