"""Round-4 fixes: href quoting recall, backoff coverage for hosts
outside the robots dim, and priority inheritance in discovery."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from dart_xbrl_crawler_spark.operators import politeness as P

RUN_TS = "2026-01-16 00:00:00"


# ------------------------------------------------ href quoting recall
def test_extract_links_quote_styles(spark):
    """Single-quoted, unquoted, spaced and uppercase href attributes
    are all discovered; fragment-only and empty values are still
    dropped in every style."""
    from dart_xbrl_crawler_spark.functions.links import extract_links

    html = (
        b'<a href="/dq">1</a>'
        b"<a href='/sq'>2</a>"
        b"<a href=/uq>3</a>"
        b'<a HREF = "/spaced">4</a>'
        b"<a href='#frag'>5</a><a href=#f>6</a><a href=''>7</a>"
    )
    pages = spark.createDataFrame(
        pd.DataFrame({"url": ["https://q.example/"], "html": [html]}),
        schema="url string, html binary",
    )
    got = {r["link"] for r in extract_links(pages).collect()}
    assert got == {
        "https://q.example/dq",
        "https://q.example/sq",
        "https://q.example/uq",
        "https://q.example/spaced",
    }


# ------------------------------- backoff covers hosts outside robots
def test_backoff_applies_to_hosts_missing_from_robots(spark):
    """A host absent from the robots dim (newly discovered → default
    delay) that fails every fetch must still get backed off — the dim
    gains a row with the default delay scaled by its fail rate."""
    robots = spark.createDataFrame(
        [("known.example", None, 100)],
        schema="host string, disallow_prefix string, crawl_delay_ms long",
    )
    stats = spark.createDataFrame(
        pd.DataFrame(
            {
                "host": ["known.example", "rogue.example"],
                "fail_rate": [0.0, 1.0],
            }
        )
    )
    out = {
        r["host"]: r["crawl_delay_ms"]
        for r in P.apply_backoff(robots, stats, factor=4.0).collect()
    }
    assert out["known.example"] == 100  # clean host: delay unchanged
    # rogue host appears with default delay × (1 + 4·1.0) = 5×
    assert out["rogue.example"] == P.DEFAULT_CRAWL_DELAY_MS * 5
    # and the dim still drops into pop_round unchanged
    from dart_xbrl_crawler_spark.functions.urls import with_url_canon

    frontier = with_url_canon(
        spark.createDataFrame(
            pd.DataFrame({"url": [f"https://rogue.example/p{i}" for i in range(8)]})
        )
    ).select(
        "*",
        F.lit(0.0).alias("priority"),
        F.to_timestamp(F.lit(RUN_TS)).alias("discovered_ts"),
    )
    popped = P.pop_round(
        frontier, P.apply_backoff(robots, stats, factor=4.0), round_ms=20_000
    )
    # budget 20000 / 5000 = 4 of 8 — the backoff actually bites
    assert popped.filter(F.col("selected")).count() == 4


# ------------------------------------- priority inheritance (decay)
def test_discovery_priority_inheritance(spark, tmp_path):
    """Two seeds on one host, priorities 10 (hot) and 0 (cold); each
    links to a child.  With budget 1/round after the seed round, the
    hot seed's child must pop BEFORE the cold seed's child — inherited
    priority (10−decay=9 > 0−decay=−1) orders the frontier, where flat
    0.0 priorities would fall back to insertion/hash order."""
    from dart_xbrl_crawler_spark.operators.frontier import FrontierStore

    def page(name, link_to=None):
        body = (
            f'<html><a href="/{link_to}">n</a></html>' if link_to else "<html>e</html>"
        )
        return (f"https://p.example/{name}", body.encode(), pd.Timestamp("2026-01-01"))

    pages = spark.createDataFrame(
        pd.DataFrame(
            [page("hot", "hot-child"), page("cold", "cold-child"),
             page("hot-child"), page("cold-child")],
            columns=["url", "html", "warc_ts"],
        ),
        schema="url string, html binary, warc_ts timestamp",
    )
    robots = spark.createDataFrame(
        [("p.example", None, 1000)],
        schema="host string, disallow_prefix string, crawl_delay_ms long",
    )
    store = FrontierStore(str(tmp_path / "prio"), n_bloom_shards=4)
    store.bootstrap(
        spark.createDataFrame(
            pd.DataFrame(
                {
                    "url": [
                        "https://p.example/hot",
                        "https://p.example/cold",
                    ],
                    "priority": [10.0, 0.0],
                }
            )
        ),
        RUN_TS,
    )
    # one crawl round, budget 2000/1000 = 2: both seeds fetched, both
    # children discovered and inserted with inherited priorities
    summaries = store.run_crawl(
        spark, pages, robots, RUN_TS, max_rounds=1, round_ms=2000
    )
    assert summaries[0]["fetched"] == 2
    assert summaries[0]["discovered_new"] == 2
    q = store.table.read(spark).filter(F.col("state") == "queued")
    prios = {r["url_canon"]: r["priority"] for r in q.collect()}
    assert prios["https://p.example/hot-child"] == 9.0
    assert prios["https://p.example/cold-child"] == -1.0
    # budget-1 pop takes the hot child first
    popped = P.pop_round(
        q, robots, round_ms=1000  # 1000/1000 → budget 1
    )
    sel = [r["url_canon"] for r in popped.filter(F.col("selected")).collect()]
    assert sel == ["https://p.example/hot-child"]


# ------------------------------------- XBRL label linkbases from ZIP
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


# --------------------------------------------- real PNG pixel decode
def _png_encode(px, filters, color_type=2, palette=None):
    """Minimal test-side PNG encoder with a CHOSEN filter per row —
    independent inverse of the engine's unfilter, so round-tripping
    exercises every filter path (0=None 1=Sub 2=Up 3=Average 4=Paeth)."""
    import struct
    import zlib

    import numpy as np

    h, w, c = px.shape if px.ndim == 3 else (*px.shape, 1)
    arr = px.reshape(h, w * c).astype(np.int32)
    stride = w * c
    raw = bytearray()
    prev = np.zeros(stride, dtype=np.int32)
    for y, ftype in zip(range(h), filters):
        row = arr[y]
        enc = np.zeros(stride, dtype=np.int32)
        for i in range(stride):
            a = row[i - c] if i >= c else 0
            b = prev[i]
            cc = prev[i - c] if i >= c else 0
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = a
            elif ftype == 2:
                pred = b
            elif ftype == 3:
                pred = (a + b) >> 1
            else:
                p = a + b - cc
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
            enc[i] = (row[i] - pred) & 0xFF
        raw.append(ftype)
        raw += bytes(enc.astype(np.uint8))
        prev = row

    def chunk(ctype, body):
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
    if palette is not None:
        out += chunk(b"PLTE", bytes(palette))
    out += chunk(b"IDAT", zlib.compress(bytes(raw)))
    out += chunk(b"IEND", b"")
    return out


def test_decode_png_all_filters_roundtrip():
    import numpy as np

    from dart_xbrl_crawler_spark.operators.multimodal import decode_png

    rng = np.random.RandomState(7)
    px = rng.randint(0, 256, size=(5, 6, 3), dtype=np.uint8)
    # one row per filter type, incl. a repeat
    payload = _png_encode(px, filters=[0, 1, 2, 3, 4])
    got = decode_png(payload)
    assert got is not None and got.shape == (5, 6, 3)
    assert np.array_equal(got, px)
    # grayscale (color type 0)
    g = rng.randint(0, 256, size=(4, 4), dtype=np.uint8)
    got_g = decode_png(_png_encode(g.reshape(4, 4, 1), [4, 3, 2, 1], color_type=0))
    assert np.array_equal(got_g[:, :, 0], g)
    # RGBA (color type 6)
    a = rng.randint(0, 256, size=(3, 3, 4), dtype=np.uint8)
    got_a = decode_png(_png_encode(a, [1, 4, 3], color_type=6))
    assert np.array_equal(got_a, a)
    # palette (color type 3): indices 0..3 → RGB triples
    idx = np.array([[0, 1], [2, 3]], dtype=np.uint8).reshape(2, 2, 1)
    pal = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 9, 9, 9])
    got_p = decode_png(_png_encode(idx, [0, 0], color_type=3, palette=pal))
    assert got_p.shape == (2, 2, 3)
    assert list(got_p[0, 0]) == [255, 0, 0] and list(got_p[1, 1]) == [9, 9, 9]
    # out-of-envelope inputs → None, not an exception
    assert decode_png(b"\x89PNG\r\n\x1a\njunk") is None
    assert decode_png(b"not a png") is None
