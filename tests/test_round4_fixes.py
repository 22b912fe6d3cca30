"""Href quoting recall in ``functions.links.extract_links``.

The other tests of this file's round moved to their component files
(``test_links.py``, ``test_politeness.py``, ``test_frontier.py``,
``test_multimodal.py``, ``test_extract_identity.py``); this one follows
``test_links.py`` in a later change."""

from __future__ import annotations

import pandas as pd


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
