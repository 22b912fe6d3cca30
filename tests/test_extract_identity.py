"""Byte-identity: the vectorized Spark extract kernel must reproduce the
row-at-a-time oracle (and the golden ``pages.text`` column) exactly,
per url.  This is the north_rule invariant."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from dart_xbrl_crawler_spark import fixtures, oracle
from dart_xbrl_crawler_spark.operators import extract as X
from dart_xbrl_crawler_spark.plans import pipeline
from dart_xbrl_crawler_spark.schemas import CORP_MAP, PAGES, SEEDS

RUN_TS = fixtures.RUN_TS


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


# -------------------------- wide->long unpivot: oracle spec and kernel
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


# ------------------------------------------------ XBRL-XML parser seam
_XBRL_XML = """<?xml version="1.0" encoding="utf-8"?>
<xbrl xmlns="http://www.xbrl.org/2003/instance"
      xmlns:ifrs-full="http://xbrl.ifrs.org/taxonomy/2021-03-24/ifrs-full">
  <context id="CI"><entity><identifier scheme="s">00000042</identifier></entity>
    <period><instant>2025-06-30</instant></period></context>
  <context id="CIS"><period><instant>2025-06-30</instant></period>
    <scenario><explicitMember dimension="d">SeparateMember</explicitMember></scenario></context>
  <context id="CD"><period><startDate>2025-04-01</startDate><endDate>2025-06-30</endDate></period></context>
  <context id="COLD"><period><instant>2024-06-30</instant></period></context>
  <ifrs-full:Assets contextRef="CI" decimals="0">5000000</ifrs-full:Assets>
  <ifrs-full:Assets contextRef="CIS" decimals="0">4000000</ifrs-full:Assets>
  <ifrs-full:Assets contextRef="COLD" decimals="0">1</ifrs-full:Assets>
  <ifrs-full:Equity contextRef="CI" decimals="0">2500000</ifrs-full:Equity>
  <ifrs-full:Revenue contextRef="CD" decimals="0">777000</ifrs-full:Revenue>
</xbrl>"""


def _xml_zip() -> bytes:
    import io
    import zipfile

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        info = zipfile.ZipInfo(
            "entity00000042_2025-06-30.xbrl", date_time=(2026, 1, 1, 0, 0, 0)
        )
        zf.writestr(info, _XBRL_XML)
    return buf.getvalue()


def test_xbrl_xml_byte_identity_through_kernel(spark):
    """A real XBRL 2.1 instance ZIP flows through BOTH the oracle and
    the vectorized kernel via the doc_parsers seam — byte-identical
    extracted text, and the out-of-period 2024 column drops."""
    from dart_xbrl_crawler_spark import oracle
    from dart_xbrl_crawler_spark.operators import extract as X

    url = "https://dart.fss.or.kr/api/fnlttXbrl.xml?rcept_no=x1"
    html = _xml_zip()
    report_nm, rcept_dt = "반기보고서 (2025.06)", "20250615"
    golden = oracle.extract_text_rowwise(url, html, report_nm, rcept_dt, RUN_TS)
    assert golden  # non-empty facts TSV
    assert "5000000" in golden and "777000" in golden
    assert "\t1.0\t" not in golden  # 2024 instant filtered by period

    df = spark.createDataFrame(
        pd.DataFrame(
            [
                {
                    "url": url,
                    "html": html,
                    "report_nm": report_nm,
                    "rcept_dt": rcept_dt,
                }
            ]
        ),
        schema="url string, html binary, report_nm string, rcept_dt string",
    )
    rows = X.extract_text(df, RUN_TS).collect()
    assert len(rows) == 1 and rows[0]["parse_ok"]
    assert rows[0]["text"] == golden


# --------------------------------------- XBRL label linkbases from ZIP
_LINKBASE_XML_INSTANCE = """<?xml version="1.0" encoding="utf-8"?>
<xbrl xmlns="http://www.xbrl.org/2003/instance"
      xmlns:ifrs-full="http://xbrl.ifrs.org/taxonomy/2021-03-24/ifrs-full">
  <context id="CI"><entity><identifier scheme="s">00000042</identifier></entity>
    <period><instant>2025-06-30</instant></period></context>
  <context id="CD"><period><startDate>2025-04-01</startDate>
    <endDate>2025-06-30</endDate></period></context>
  <ifrs-full:Assets contextRef="CI" decimals="0">5000000</ifrs-full:Assets>
  <ifrs-full:OtherCurrentAssets contextRef="CI" decimals="0">123000</ifrs-full:OtherCurrentAssets>
  <ifrs-full:Revenue contextRef="CD" decimals="0">777000</ifrs-full:Revenue>
</xbrl>"""


_LAB_KO = """<?xml version="1.0" encoding="utf-8"?>
<linkbase xmlns="http://www.xbrl.org/2003/linkbase"
          xmlns:xlink="http://www.w3.org/1999/xlink">
 <labelLink xlink:type="extended" xlink:role="http://www.xbrl.org/2003/role/link">
  <loc xlink:type="locator" xlink:href="tax.xsd#ifrs-full_OtherCurrentAssets"
       xlink:label="loc_oca"/>
  <label xlink:type="resource" xlink:label="lab_oca"
         xlink:role="http://www.xbrl.org/2003/role/label"
         xml:lang="ko">기타유동자산</label>
  <labelArc xlink:type="arc"
            xlink:arcrole="http://www.xbrl.org/2003/arcrole/concept-label"
            xlink:from="loc_oca" xlink:to="lab_oca"/>
 </labelLink>
</linkbase>"""


_LAB_EN = _LAB_KO.replace('xml:lang="ko">기타유동자산', 'xml:lang="en">Other current assets')


def _linkbase_zip() -> bytes:
    import io
    import zipfile

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, body in (
            ("entity00000042_2025-06-30.xbrl", _LINKBASE_XML_INSTANCE),
            ("entity00000042_2025-06-30_lab-ko.xml", _LAB_KO),
            ("entity00000042_2025-06-30_lab-en.xml", _LAB_EN),
        ):
            info = zipfile.ZipInfo(name, date_time=(2026, 1, 1, 0, 0, 0))
            zf.writestr(info, body)
    return buf.getvalue()


def test_parse_label_linkbase_unit():
    from dart_xbrl_crawler_spark import doc_parsers

    labels = doc_parsers.parse_label_linkbase(_LAB_KO.encode())
    assert labels == {"ifrs-full_OtherCurrentAssets": {"ko": "기타유동자산"}}


def test_zip_label_linkbase_byte_identity(spark):
    """A ZIP carrying label linkbases resolves concept labels from the
    linkbase (dart_fss's job in the reference, xbrl_processor.py:339-393)
    instead of the localname fallback — flowing byte-identically through
    BOTH the row-wise oracle and the vectorized kernel (shared
    doc_parsers seam)."""
    from dart_xbrl_crawler_spark import doc_parsers, oracle
    from dart_xbrl_crawler_spark.operators import extract as X

    # seam level: the unknown concept gets its Korean linkbase label
    _, doc = doc_parsers.parse_document(_linkbase_zip())
    by_cid = {r["concept_id"]: r for r in doc["statements"]["BS"]["rows"]}
    assert by_cid["ifrs-full_OtherCurrentAssets"]["label_ko"] == "기타유동자산"
    assert by_cid["ifrs-full_OtherCurrentAssets"]["label_en"] == "Other current assets"
    # known concepts keep the built-in table's labels when the linkbase
    # doesn't carry them
    assert by_cid["ifrs-full_Assets"]["label_ko"] == "자산총계"

    url = "https://dart.fss.or.kr/api/fnlttXbrl.xml?rcept_no=lb1"
    html = _linkbase_zip()
    report_nm, rcept_dt = "반기보고서 (2025.06)", "20250615"
    golden = oracle.extract_text_rowwise(url, html, report_nm, rcept_dt, RUN_TS)
    assert "기타유동자산" in golden  # linkbase label reached the output

    df = spark.createDataFrame(
        pd.DataFrame(
            [{"url": url, "html": html, "report_nm": report_nm, "rcept_dt": rcept_dt}]
        ),
        schema="url string, html binary, report_nm string, rcept_dt string",
    )
    rows = X.extract_text(df, RUN_TS).collect()
    assert len(rows) == 1 and rows[0]["parse_ok"]
    assert rows[0]["text"] == golden


# ----------------- pages_with_meta with page-side report_nm / rcept_dt
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
