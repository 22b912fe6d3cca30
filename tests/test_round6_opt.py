"""Round-6 optimization-round regression tests: every optimization that
changed an operator's internals gets an equivalence gate here.

* with_url_canon_split (Catalyst fast path + UDF fallback) must produce
  exactly with_url_canon's values on every input — eligible, ineligible
  and adversarial spellings;
* pop_round's regime-prefilter restructure must keep the selected set
  and host_rank values identical to a straightforward recomputation.
"""

from __future__ import annotations

import pandas as pd
import pytest
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


@pytest.mark.parametrize("round_ms", [1_000, 10_000])
def test_pop_round_regime_prefilter_equivalence(spark, fixture_bundle, round_ms):
    """pop_round after the regime-prefilter restructure: selected sets
    and host_rank values must match on a mixed bypass/exact workload."""
    from dart_xbrl_crawler_spark.operators import politeness as P
    from dart_xbrl_crawler_spark.schemas import PAGES, ROBOTS

    pages, _, _, robots = fixture_bundle
    frontier = (
        with_url_canon(spark.createDataFrame(pages, schema=PAGES).select("url"))
        .withColumn("priority", F.lit(0.0))
        .withColumn("discovered_ts", F.to_timestamp(F.lit("2026-01-16")))
    )
    robots_df = spark.createDataFrame(robots, schema=ROBOTS)
    out = P.pop_round(
        frontier, robots_df, round_ms=round_ms, salt_buckets=4,
        exact_rank_max=2,  # force some hosts into the quota regime
    ).select("url_hash", "selected", "host_rank", "robots_blocked").collect()
    got = {r["url_hash"]: (r["selected"], r["host_rank"]) for r in out}

    # oracle: naive per-host recomputation in pandas
    gated = P.apply_robots(frontier, robots_df).toPandas()
    budget = (round_ms // gated["crawl_delay_ms"].clip(lower=1)).astype(int)
    gated = gated.assign(_budget=budget)
    want: dict[int, tuple] = {}
    for host, g in gated.groupby("host"):
        cand = g[~g["robots_blocked"]]
        b = int(g["_budget"].iloc[0])
        for _, r in g[g["robots_blocked"]].iterrows():
            want[r["url_hash"]] = (False, None)
        if len(cand) <= b:
            for _, r in cand.iterrows():
                want[r["url_hash"]] = (True, None)
            continue
        cand = cand.sort_values(
            ["priority", "discovered_ts", "url_hash"],
            ascending=[False, True, True],
        ).reset_index()
        if b > 2:  # quota regime (exact_rank_max=2)
            quota = {s: b // 4 + (1 if s < b % 4 else 0) for s in range(4)}
            seen_per_salt: dict[int, int] = {}
            for _, r in cand.iterrows():
                s = int(r["url_hash"] % 4)
                if s < 0:
                    s += 4
                k = seen_per_salt.get(s, 0) + 1
                seen_per_salt[s] = k
                want[r["url_hash"]] = (k <= quota[s], None)
        else:
            for rank, (_, r) in enumerate(cand.iterrows(), start=1):
                # exact regime: global top-b selected with host_rank
                sel = rank <= b
                want[r["url_hash"]] = (sel, rank if rank <= b * 4 else None)

    for h, (sel, rank) in want.items():
        assert got[h][0] == sel, f"selected mismatch for hash {h}"
    # exact-regime survivor ranks match where the oracle computed them
    for h, (sel, rank) in want.items():
        if rank is not None and sel:
            assert got[h][1] == rank, f"host_rank mismatch for hash {h}"


# ---------------------------------------------------------------- plans
def _fmt_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_pop_round_regime_filter_below_window(spark, fixture_bundle):
    """r6 shape guard: the quota/exact regime predicate must sit BELOW
    each ranking window's Exchange (scan side), not above the Window —
    the pre-r6 shape filtered after ranking and every union branch
    shuffled+sorted the full candidate set.  Detected structurally: in
    the formatted plan tree, every Window's own subtree must contain
    the exact_rank_max literal (either regime polarity)."""
    import re

    from dart_xbrl_crawler_spark.functions.urls import with_url_canon
    from dart_xbrl_crawler_spark.operators import politeness as P
    from dart_xbrl_crawler_spark.schemas import PAGES, ROBOTS

    pages, _, _, robots = fixture_bundle
    frontier = (
        with_url_canon(spark.createDataFrame(pages, schema=PAGES).select("url"))
        .withColumn("priority", F.lit(0.0))
        .withColumn("discovered_ts", F.to_timestamp(F.lit("2026-01-16")))
    )
    robots_df = spark.createDataFrame(robots, schema=ROBOTS)
    marker = 7777  # unique literal so the assertion can't false-match
    plan = _fmt_plan(
        P.pop_round(frontier, robots_df, round_ms=10_000, exact_rank_max=marker)
    )
    tree = plan.split("\n\n")[0]  # the indented operator tree
    lines = tree.splitlines()
    windows = [
        (i, len(l) - len(l.lstrip(" :+-")))
        for i, l in enumerate(lines)
        if re.search(r"\bWindow\b", l)
    ]
    assert windows, "pop plan lost its ranking windows"
    for i, indent in windows:
        # subtree = following lines with strictly deeper indentation
        block = []
        for l in lines[i + 1 :]:
            d = len(l) - len(l.lstrip(" :+-"))
            if d <= indent:
                break
            block.append(l)
        ids = re.findall(r"\((\d+)\)", "\n".join(block))
        detail = "\n".join(
            seg for seg in plan.split("\n\n") if re.match(r"\(\d+\)", seg)
            and seg[1 : seg.index(")")] in ids
        )
        assert str(marker) in detail, (
            "regime predicate not below this Window's subtree:\n"
            + lines[i]
        )
