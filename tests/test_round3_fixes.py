"""Round-3 fixes: crawl-delay clamping and RFC 9309 wildcard rules."""

from __future__ import annotations

import pandas as pd
import pytest

from dart_xbrl_crawler_spark.operators import politeness as P

RUN_TS = "2026-01-16 00:00:00"


# --------------------------------------------------- crawl-delay clamp
def test_parse_robots_crawl_delay_zero_clamped():
    rules, delay = P.parse_robots_txt(
        "User-agent: *\nDisallow: /x\nCrawl-delay: 0\n", P.USER_AGENT
    )
    assert delay == 1  # 0 → 1 ms floor, never a zero divisor
    _, neg = P.parse_robots_txt("User-agent: *\nCrawl-delay: -3\n", P.USER_AGENT)
    assert neg == 1
    _, frac = P.parse_robots_txt("User-agent: *\nCrawl-delay: 0.0004\n", P.USER_AGENT)
    assert frac == 1


# ------------------------------------------------- RFC 9309 wildcards
def test_rule_to_match_translation():
    assert P._rule_to_match("/plain") == ("/plain", None)
    prefix, rx = P._rule_to_match("/*.pdf$")
    assert prefix == "/" and rx == "^/.*\\.pdf$"
    prefix2, rx2 = P._rule_to_match("/a/*/b")
    assert prefix2 == "/a/" and rx2 == "^/a/.*/b"
    # '$' not at the end is a literal
    assert P._rule_to_match("/a$b") == ("/a$b", None) or P._rule_to_match(
        "/a$b"
    )[1] is None


def test_wildcard_rules_evaluation(spark):
    txt = (
        "User-agent: *\n"
        "Disallow: /*.pdf$\n"
        "Disallow: /private*/data\n"
        "Allow: /private-open/data\n"
    )
    rules_dim = P.robots_rules_from_txt(
        spark.createDataFrame(pd.DataFrame({"host": ["w.example"], "robots_txt": [txt]}))
    )
    from dart_xbrl_crawler_spark.functions.urls import with_url_canon

    cases = {
        "https://w.example/doc.pdf": True,       # *.pdf$ matches
        "https://w.example/doc.pdfx": False,     # $ anchors the end
        "https://w.example/a/doc.pdf": True,     # * spans directories
        "https://w.example/private1/data": True,
        "https://w.example/private-open/data": False,  # longer Allow wins
        "https://w.example/open/doc.txt": False,
    }
    frontier = with_url_canon(
        spark.createDataFrame(pd.DataFrame({"url": list(cases)}))
    )
    got = {
        r["url"]: r["robots_blocked"]
        for r in P.apply_robots(frontier, rules_dim).collect()
    }
    assert got == cases


def test_legacy_two_field_rules_still_work(spark):
    """Plain (prefix, allow) structs (q44's shape) are normalized and
    evaluate exactly as before."""
    from dart_xbrl_crawler_spark.functions.urls import with_url_canon

    rules = spark.createDataFrame(
        [("l.example", [("/p1", False), ("/p1/ok", True)], None)],
        schema=P.ROBOTS_RULES_SCHEMA,
    )
    frontier = with_url_canon(
        spark.createDataFrame(
            pd.DataFrame(
                {"url": ["https://l.example/p1/x", "https://l.example/p1/ok/y"]}
            )
        )
    )
    got = {
        r["url"]: r["robots_blocked"]
        for r in P.apply_robots(frontier, rules).collect()
    }
    assert got == {
        "https://l.example/p1/x": True,
        "https://l.example/p1/ok/y": False,
    }


if __name__ == "__main__":
    pytest.main([__file__, "-x", "-q"])


# ------------------------------------------- date-window targeting
def test_date_window_arithmetic():
    from dart_xbrl_crawler_spark.operators.scheduler import date_window

    # explicit bgn/end wins when both given
    assert date_window("2026-01-16", 6, "20250101", "20250630") == (
        "20250101",
        "20250630",
    )
    # months_back*30 days from the injected run_ts (reference arithmetic)
    assert date_window("2026-01-16 00:00:00", 2) == ("20251117", "20260116")
    assert date_window("2026-01-16", None) is None


def test_date_window_ordering_matches_reference_model(spark, fixture_bundle):
    from dart_xbrl_crawler_spark import fixtures, oracle
    from dart_xbrl_crawler_spark.operators import scheduler as SCH
    from dart_xbrl_crawler_spark.schemas import SEEDS

    _, seeds, _, _ = fixture_bundle
    win = SCH.date_window(fixtures.RUN_TS, months_back=2)
    sched = SCH.reference_schedule(
        spark.createDataFrame(seeds, schema=SEEDS), window=win
    )
    got = [r["rcept_no"] for r in sched.orderBy("visit_rank").collect()]
    want = oracle.sequential_schedule(seeds.to_dict("records"), window=win)
    assert got == want
    # the window genuinely excludes seeds (fixture spans 2025-03..12)
    full = oracle.sequential_schedule(seeds.to_dict("records"))
    assert 0 < len(got) < len(full)
    assert all(r in full for r in got)


# ---------------------------------------------- XBRL-XML parser seam
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


def test_run_round_reads_table_exactly_once(spark, fixture_bundle, tmp_path, monkeypatch):
    """The only O(|frontier|) work in a round is the pop's own scan:
    run_round must call table.read exactly once (round 1 re-read the
    merged table for the changed-rows join AND the metrics; both now
    derive from the round's own cached frames)."""
    from dart_xbrl_crawler_spark import fixtures
    from dart_xbrl_crawler_spark.operators.frontier import FrontierStore
    from dart_xbrl_crawler_spark.operators.scheduler import seeds_to_frontier
    from dart_xbrl_crawler_spark.schemas import PAGES, ROBOTS, SEEDS
    from dart_xbrl_crawler_spark.sources.checkpoint import MergeTable

    pages, seeds, _, robots = fixture_bundle
    store = FrontierStore(str(tmp_path / "f3"), n_bloom_shards=8)
    store.bootstrap(
        seeds_to_frontier(spark.createDataFrame(seeds, schema=SEEDS)),
        fixtures.RUN_TS,
    )
    calls = {"n": 0}
    orig = MergeTable.read

    def counting_read(self, spark_):
        calls["n"] += 1
        return orig(self, spark_)

    monkeypatch.setattr(MergeTable, "read", counting_read)
    store.run_round(
        spark,
        spark.createDataFrame(pages, schema=PAGES),
        spark.createDataFrame(robots, schema=ROBOTS),
        fixtures.RUN_TS,
        round_id=0,
    )
    assert calls["n"] == 1, f"run_round read the table {calls['n']} times"


def test_cli_bootstrap_date_window(spark, fixture_bundle, tmp_path, monkeypatch):
    """`bootstrap --months-back` limits the seeded frontier exactly like
    the reference's MONTHS_BACK knob (applied before the per-corp cap)."""
    from dart_xbrl_crawler_spark import cli, fixtures, oracle
    from dart_xbrl_crawler_spark.operators.scheduler import date_window
    from dart_xbrl_crawler_spark.schemas import SEEDS

    # reuse the test session; the CLI normally owns (and stops) its own
    monkeypatch.setattr(cli, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)

    _, seeds, _, _ = fixture_bundle
    seeds_path = str(tmp_path / "seeds")
    spark.createDataFrame(seeds, schema=SEEDS).write.parquet(seeds_path)
    store_path = str(tmp_path / "store")
    rc = cli.main(
        [
            "--run-ts", fixtures.RUN_TS,
            "bootstrap",
            "--seeds", seeds_path,
            "--store", store_path,
            "--months-back", "2",
        ]
    )
    assert rc == 0
    from dart_xbrl_crawler_spark.operators.frontier import FrontierStore

    store = FrontierStore(store_path)
    want = oracle.sequential_schedule(
        seeds.to_dict("records"),
        window=date_window(fixtures.RUN_TS, months_back=2),
    )
    got = {
        r["seed_rcp_no"]
        for r in store.table.read(spark).select("seed_rcp_no").collect()
    }
    assert got == set(want) and got  # windowed, non-empty


# -------------------------------------- link discovery + crawl loop
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


def test_run_crawl_discovers_link_graph(spark, tmp_path):
    """Seeded with page A; A links to B, B links to C — three budgeted
    rounds fetch the whole chain via discovery inserts, with exact
    lineage (1 fetched/round, dup self-links deduped)."""
    from dart_xbrl_crawler_spark.operators.frontier import FrontierStore

    def page(name, link_to=None):
        body = f'<html><a href="/{link_to}">next</a></html>' if link_to else "<html>end</html>"
        return (f"https://g.example/{name}", body.encode(), pd.Timestamp("2026-01-01"))

    rows = pd.DataFrame(
        [page("a", "b"), page("b", "c"), page("c")],
        columns=["url", "html", "warc_ts"],
    )
    pages = spark.createDataFrame(
        rows, schema="url string, html binary, warc_ts timestamp"
    )
    robots = spark.createDataFrame(
        [("g.example", None, 100)],
        schema="host string, disallow_prefix string, crawl_delay_ms long",
    )
    store = FrontierStore(str(tmp_path / "g"), n_bloom_shards=8)
    seeds = spark.createDataFrame(
        pd.DataFrame({"url": ["https://g.example/a"], "priority": [0.0]})
    )
    store.bootstrap(seeds, RUN_TS)
    rounds = store.run_crawl(
        spark, pages, robots, RUN_TS, max_rounds=5, round_ms=100_000
    )
    counts = store.state_counts(spark)
    assert counts.get("fetched") == 3 and counts.get("queued", 0) == 0
    assert [r["fetched"] for r in rounds] == [1, 1, 1]
    assert [r["discovered_new"] for r in rounds] == [1, 1, 0]
    lineage = store.lineage_counts(spark)
    assert lineage["fetched"] == 3


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


# --------------------------------- connected components / dedup clusters
def test_connected_components_planted_clusters(spark):
    from dart_xbrl_crawler_spark.operators.components import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (21, 20), (30, 31), (31, 32), (32, 33),
         (33, 34)],  # incl. a 5-node chain (propagation depth > 1)
        "a_id long, b_id long",
    )
    comp = {
        r["node"]: r["component"]
        for r in connected_components(pairs).collect()
    }
    assert comp == {
        1: 1, 2: 1, 3: 1,
        10: 10, 11: 10,
        20: 20, 21: 20,
        30: 30, 31: 30, 32: 30, 33: 30, 34: 30,
    }


def test_run_crawl_text_out_matches_oracle(spark, tmp_path):
    """crawl with text_out: each round's fetched pages land in the text
    sink, byte-identical to the row-at-a-time oracle extractor."""
    from dart_xbrl_crawler_spark import oracle
    from dart_xbrl_crawler_spark.operators.frontier import FrontierStore
    from dart_xbrl_crawler_spark.schemas import SEEDS

    def page(name, link_to=None):
        body = (
            f'<p>Text of {name}.</p><a href="/{link_to}">n</a>'
            if link_to
            else f"<p>Text of {name}.</p>"
        ).encode()
        return (f"https://t.example/{name}", body, pd.Timestamp("2026-01-01"))

    rows = pd.DataFrame(
        [page("a", "b"), page("b")], columns=["url", "html", "warc_ts"]
    )
    pages = spark.createDataFrame(
        rows, schema="url string, html binary, warc_ts timestamp"
    )
    robots = spark.createDataFrame(
        [("t.example", None, 100)],
        schema="host string, disallow_prefix string, crawl_delay_ms long",
    )
    store = FrontierStore(str(tmp_path / "t"), n_bloom_shards=8)
    store.bootstrap(
        spark.createDataFrame(
            pd.DataFrame({"url": ["https://t.example/a"], "priority": [0.0]})
        ),
        RUN_TS,
    )
    out = str(tmp_path / "texts")
    store.run_crawl(
        spark, pages, robots, RUN_TS, max_rounds=4, text_out=out,
        seeds=spark.createDataFrame([], SEEDS),  # no DART seeds
    )
    got = {
        r["url"]: r["text"] for r in spark.read.parquet(out).collect()
    }
    want = {
        u: oracle.extract_text_rowwise(u, bytes(h), None, None, RUN_TS)
        for u, h, _ in [page("a", "b"), page("b")]
    }
    assert got == want and len(got) == 2


# --------------------------------------- adaptive politeness backoff
def test_host_stats_and_backoff(spark, fixture_bundle, tmp_path):
    """Failure-rate backoff: hosts whose fetches error slow down by
    delay x (1 + factor*fail_rate); clean hosts keep their delay."""
    from dart_xbrl_crawler_spark import fixtures
    from dart_xbrl_crawler_spark.operators.frontier import FrontierStore
    from dart_xbrl_crawler_spark.schemas import PAGES, ROBOTS

    # seeds on two hosts; pages exist only for ok.example → the other
    # host's fetches all fail
    seeds = spark.createDataFrame(
        pd.DataFrame(
            {
                "url": [
                    "https://ok.example/1", "https://ok.example/2",
                    "https://bad.example/1", "https://bad.example/2",
                ],
                "priority": [0.0] * 4,
            }
        )
    )
    pages = spark.createDataFrame(
        pd.DataFrame(
            {
                "url": ["https://ok.example/1", "https://ok.example/2"],
                "html": [b"<html>1</html>", b"<html>2</html>"],
                "warc_ts": pd.to_datetime(["2026-01-01"] * 2),
            }
        ),
        schema="url string, html binary, warc_ts timestamp",
    )
    robots = spark.createDataFrame(
        [("ok.example", None, 100), ("bad.example", None, 100)],
        schema="host string, disallow_prefix string, crawl_delay_ms long",
    )
    store = FrontierStore(str(tmp_path / "b"), n_bloom_shards=8)
    store.bootstrap(seeds, fixtures.RUN_TS)
    store.run_round(spark, pages, robots, fixtures.RUN_TS, round_id=0)
    stats = {r["host"]: r for r in store.host_stats(spark).collect()}
    assert stats["ok.example"]["fail_rate"] == 0.0
    assert stats["bad.example"]["fail_rate"] == 1.0
    assert stats["bad.example"]["n_failed"] == 2

    adjusted = {
        r["host"]: r["crawl_delay_ms"]
        for r in P.apply_backoff(
            robots, store.host_stats(spark), factor=4.0
        ).collect()
    }
    assert adjusted["ok.example"] == 100      # clean host unchanged
    assert adjusted["bad.example"] == 500     # 100 * (1 + 4*1.0)
