"""Round-6 optimization-round regression tests: every optimization that
changed an operator's internals gets an equivalence gate here.

* with_url_canon_split (Catalyst fast path + UDF fallback) must produce
  exactly with_url_canon's values on every input — eligible, ineligible
  and adversarial spellings.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from dart_xbrl_crawler_spark.functions.urls import (
    _FAST_URL_RE,
    canonicalize_one,
    with_url_canon,
    with_url_canon_split,
)

# Mixed corpus: bench-shaped, fixture trap spellings, general-path
# oddities (userinfo, %-escapes, ipv6, whitespace, multi-'=', odd
# ports, queries without paths, empty paths, fragments with '#').
ADVERSARIAL_URLS = [
    "https://DART.FSS.OR.KR/api/doc?b=3&a=17#frag",
    "https://host7.example/api/doc?b=0&a=100",
    "http://h.example:80/",
    "https://h.example:443/p?x=",
    "https://h.example:8080/p?x=",
    "https://h.example:080/p",
    "https://h.example",
    "https://h.example#frag",
    "https://h.example?x=1",  # query without path → general parser
    "https://H.example/p?a=b=c",  # '=' in value → general parser
    "https://h.example/p?a=%20x",  # percent escape
    "https://h.example/p%20x/y",  # percent in path
    "https://h.example/p?b=2&a=1&b=0",
    "https://user:pw@h.example/p",  # userinfo
    "https://h.example:bad/p",  # invalid port
    "https://h.example/p?&&a=1&",
    "https://h.example/p?a",
    "https://h.example/p?",
    "https://h.example/p#a#b?c",  # '#' and '?' inside fragment
    "  https://h.example/p  ",  # whitespace → strip in general path
    "https://h.example/pa th",  # space in path
    "ftp://h.example:80/p",  # non-http scheme keeps :80
    "HtTpS://UPPER.HOST:443/Path/UPPER?Z=9&a=1",
    "https://[2001:db8::1]/p",  # ipv6
    "https://h.example/p?a-x=c&a=b",  # '-' in key sorts before '='
    "https://h.example/p?a=2&a=10",  # value tie-break is lexicographic
    "no-scheme-at-all",
    "://missing.scheme/p",
    "https://h.example/p?~x=.&_y=-",
    "https://h.example/a//b///c",
    "https://h.example/p?k" + "&k=" ,  # duplicate key w/ and w/o '='
    "https://h.example/p\n",  # Java '$' matches before a final '\n'
    "https://h.example/p\r\n",
]


def test_split_matches_udf_on_adversarial(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"url": ADVERSARIAL_URLS, "tag": range(len(ADVERSARIAL_URLS))}),
        schema="url string, tag long",
    )
    got = {
        r["tag"]: (r["url_canon"], r["host"], r["url_hash"])
        for r in with_url_canon_split(df).collect()
    }
    assert len(got) == len(ADVERSARIAL_URLS)
    for i, u in enumerate(ADVERSARIAL_URLS):
        c, h = canonicalize_one(u)
        assert got[i][0] == c, f"url_canon mismatch for {u!r}: {got[i][0]!r} != {c!r}"
        assert got[i][1] == h, f"host mismatch for {u!r}"


def test_split_matches_udf_on_generated_corpus(spark):
    """Bench-shaped + randomized generated corpus through both paths."""
    n = 2000
    base = spark.range(n)
    url = F.concat(
        F.lit("https://"),
        F.when(F.col("id") % 10 < 6, F.lit("DART.FSS.OR.KR")).otherwise(
            F.concat(F.lit("host"), (F.col("id") % 211).cast("string"), F.lit(".example"))
        ),
        F.lit("/api/doc?b="),
        (F.col("id") % 7).cast("string"),
        F.lit("&a="),
        F.col("id").cast("string"),
        F.when(F.col("id") % 3 == 0, "#frag").otherwise(""),
    )
    df = base.select(F.col("id").alias("tag"), url.alias("url"))
    a = {
        r["tag"]: (r["url_canon"], r["host"], r["url_hash"])
        for r in with_url_canon_split(df).collect()
    }
    b = {
        r["tag"]: (r["url_canon"], r["host"], r["url_hash"])
        for r in with_url_canon(df).collect()
    }
    assert a == b


def test_fast_regex_is_subset_of_python_fast_path():
    """Every URL the Catalyst gate accepts must be one canonicalize_one
    handles on its own fast path (no urllib fallback) — the Catalyst
    expressions replicate exactly that branch.  (NB the spec is
    canonicalize_one itself: its string-compare port check keeps
    ':080' while urllib would drop it; the Catalyst path matches
    canonicalize_one, as test_split_matches_udf_* pin value-level.)"""
    import re
    from unittest import mock

    rx = re.compile(_FAST_URL_RE.replace(r"\z", r"\Z"))  # python spells \z \Z
    from dart_xbrl_crawler_spark.functions import urls as U

    for u in ADVERSARIAL_URLS:
        if rx.match(u):
            with mock.patch.object(
                U, "_canonicalize_general",
                side_effect=AssertionError(f"general path hit for {u!r}"),
            ):
                canonicalize_one(u)


def test_split_matches_udf_on_null_url(spark):
    """A NULL url must meet the same fate in both canonicalizers, not
    vanish from the split's two filtered branches."""
    df = spark.createDataFrame(
        [("https://h.example/p", 0), (None, 1)], schema="url string, tag long"
    )

    def outcome(fn):
        try:
            return {r["tag"]: tuple(r) for r in fn(df).collect()}
        except Exception as e:  # the UDF's kernel rejects None
            return type(e).__name__

    assert outcome(with_url_canon_split) == outcome(with_url_canon)
