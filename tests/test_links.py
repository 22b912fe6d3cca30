"""Link keys and link text: SURT keys (``functions.urls.surt_key``) and
anchor-text extraction (``functions.links.extract_anchor_texts``)."""

from __future__ import annotations

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
