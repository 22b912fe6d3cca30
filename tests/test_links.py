"""Link keys, link text and link extraction: SURT keys
(``functions.urls.surt_key``), anchor-text extraction
(``functions.links.extract_anchor_texts``), and href discovery and
resolution (``functions.links.extract_links``)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F


# ------------------------------------------------- SURT key edge rules
def test_surt_key_rules(spark):
    from dart_xbrl_crawler_spark.functions.urls import surt_key

    cases = [
        # (url_canon, host, expected)
        ("https://www.Sub.Example.com/a/b?z=1&a=2", "www.sub.example.com",
         "com,example,sub)/a/b?a=2&z=1"),
        ("https://example.com", "example.com", "com,example)/"),
        ("https://www.www.example.com/x", "www.www.example.com",
         "com,example,www)/x"),  # only ONE leading www. label strips
        ("https://h3.ex/p.html?only=1", "h3.ex", "ex,h3)/p.html?only=1"),
    ]
    df = spark.createDataFrame(
        [(u, h) for u, h, _ in cases], "url_canon string, host string"
    )
    got = [
        r[0]
        for r in df.select(
            surt_key(F.col("url_canon"), F.col("host"))
        ).collect()
    ]
    assert got == [e for _, _, e in cases]


def test_extract_anchor_texts_styles_and_drops(spark):
    from dart_xbrl_crawler_spark.functions.links import extract_anchor_texts

    html = (
        '<a href="/abs/1">Double</a>'
        "<a href='rel.html'>Single</a>"
        "<A HREF=bare.html>Bare  case</A>"
        '<a href="#frag">dropped</a>'
        '<a href="mailto:x@y">dropped too</a>'
        '<a href="https://ext.example/z"> ext  text </a>'
    )
    df = spark.createDataFrame(
        [("https://h.ex/dir/page.html", bytearray(html.encode()))],
        "url string, html binary",
    )
    rows = {
        r["link"]: r["anchor"]
        for r in extract_anchor_texts(df).collect()
    }
    assert rows == {
        "https://h.ex/abs/1": "Double",
        "https://h.ex/dir/rel.html": "Single",
        "https://h.ex/dir/bare.html": "Bare  case",
        "https://ext.example/z": "ext  text",
    }


# --------------------------------- link extraction and href resolution
def test_extract_links_resolution(spark):
    html = (
        b'<a href="/abs/x">1</a><a href="rel.html">2</a>'
        b'<a href="https://other.example/p">3</a>'
        b'<a href="//cdn.example/js">4</a><a href="#frag">5</a>'
        b'<a href="mailto:a@b">6</a><a href="ftp://x/y">7</a>'
    )
    pages = spark.createDataFrame(
        pd.DataFrame(
            {"url": ["https://site.example/dir/page.html"], "html": [html]}
        ),
        schema="url string, html binary",
    )
    from dart_xbrl_crawler_spark.functions.links import extract_links

    got = {r["link"] for r in extract_links(pages).collect()}
    assert got == {
        "https://site.example/abs/x",
        "https://site.example/dir/rel.html",
        "https://other.example/p",
        "https://cdn.example/js",
    }


def test_resolve_href_matches_urljoin_property(spark):
    """Relative resolution (incl. ./ and ../ segments within root)
    matches urllib.parse.urljoin on a generated case battery — one
    batched Spark evaluation, not per-example sessions."""
    import itertools
    from urllib.parse import urljoin

    from dart_xbrl_crawler_spark.functions.links import extract_links

    dirs = ["/", "/a/", "/a/b/", "/a/b/c/"]
    hrefs = [
        "x.html", "./x.html", "sub/x", "sub/./x", "../x", "../../x",
        "./../x", "sub/../x", "/rooted/y", "/rooted/../y", "d/",
        "..", "x/..", "x/y/../../z",
    ]
    def climbs_above_root(d: str, h: str) -> bool:
        raw = h if h.startswith("/") else d + h
        bal = 0
        for seg in raw.split("/"):
            if seg in ("", "."):
                continue
            bal += -1 if seg == ".." else 1
            if bal < 0:
                return True
        return False

    cases = []
    for d, h in itertools.product(dirs, hrefs):
        base = f"https://p.example{d}page.html"
        # skip above-root climbs: urljoin clamps at root, the engine's
        # bounded normalizer intentionally leaves them visible
        if climbs_above_root(d, h):
            continue
        cases.append((base, h, urljoin(base, h)))
    assert len(cases) > 30
    # one link per page; a unique query-string tag keys each case
    rows2 = pd.DataFrame(
        {
            "url": [f"{c[0]}?case={i}" for i, c in enumerate(cases)],
            "html": [f'<a href="{c[1]}">l</a>'.encode() for i, c in enumerate(cases)],
        }
    )
    got2 = {
        int(r["src_url"].split("case=")[1]): r["link"]
        for r in extract_links(
            spark.createDataFrame(rows2, schema="url string, html binary")
        ).collect()
    }
    bad = []
    for i, (base, h, want) in enumerate(cases):
        if got2.get(i) != want:
            bad.append((base, h, got2.get(i), want))
    assert not bad, bad[:8]
