"""Round-2 features: real robots.txt semantics, delta frontier commits
(O(|round|) bytes)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from dart_xbrl_crawler_spark.operators import politeness as P
from dart_xbrl_crawler_spark.functions.urls import with_url_canon

RUN_TS = "2026-01-16 00:00:00"


# ---------------------------------------------------------------------
# robots.txt parser + REP evaluation
# ---------------------------------------------------------------------

ROBOTS_TXT = """
# comments are ignored
User-agent: googlebot
Disallow: /

User-agent: dart-xbrl-crawler
User-agent: other-bot
Disallow: /private
Allow: /private/public   # longest match wins over /private
Disallow: /tmp/
Allow:
Crawl-delay: 0.25

User-agent: *
Disallow: /everything
"""


def test_parse_robots_txt_group_selection_and_rules():
    rules, delay = P.parse_robots_txt(ROBOTS_TXT, "dart-xbrl-crawler/1.0")
    assert ("(/private)" or True)  # readability anchor
    assert ("/private", False) in rules
    assert ("/private/public", True) in rules
    assert ("/tmp/", False) in rules
    assert all(p != "" for p, _ in rules)  # empty Allow dropped
    assert delay == 250
    # unknown agent falls back to *
    rules_star, delay_star = P.parse_robots_txt(ROBOTS_TXT, "randombot")
    assert rules_star == [("/everything", False)]
    assert delay_star is None
    # googlebot gets its own full block
    rules_g, _ = P.parse_robots_txt(ROBOTS_TXT, "googlebot")
    assert rules_g == [("/", False)]


def test_robots_rules_longest_match_evaluation(spark):
    txt_df = spark.createDataFrame(
        pd.DataFrame({"host": ["h.example"], "robots_txt": [ROBOTS_TXT]})
    )
    rules_dim = P.robots_rules_from_txt(txt_df)
    urls = [
        ("https://h.example/private/secret", True),    # /private disallow
        ("https://h.example/private/public/x", False), # longer Allow wins
        ("https://h.example/tmp/f", True),
        ("https://h.example/ok", False),
        ("https://unlisted.example/anything", False),  # no rules → allowed
    ]
    frontier = (
        with_url_canon(
            spark.createDataFrame(pd.DataFrame({"url": [u for u, _ in urls]}))
        )
        .withColumn("priority", F.lit(0.0))
        .withColumn("discovered_ts", F.to_timestamp(F.lit(RUN_TS)))
    )
    got = {
        r["url"]: r["robots_blocked"]
        for r in P.apply_robots(frontier, rules_dim).collect()
    }
    for u, blocked in urls:
        assert got[u] == blocked, u
    # crawl-delay flows through to the budget input
    delays = {
        r["host"]: r["crawl_delay_ms"]
        for r in P.apply_robots(frontier, rules_dim)
        .select("host", "crawl_delay_ms")
        .distinct()
        .collect()
    }
    assert delays["h.example"] == 250
    assert delays["unlisted.example"] == P.DEFAULT_CRAWL_DELAY_MS


def test_cli_fetch_parses_robots_txt(spark, tmp_path, monkeypatch):
    """``fetch --robots`` given robots.txt bodies (host, robots_txt)
    gates the round on the parsed wildcard rules: ``Disallow: /*.pdf$``
    blocks the .pdf url and leaves the .pdfx url to be fetched."""
    from dart_xbrl_crawler_spark import cli
    from dart_xbrl_crawler_spark.operators.frontier import FrontierStore

    # reuse the test session; the CLI normally owns (and stops) its own
    monkeypatch.setattr(cli, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)
    pdf, pdfx, page = (f"https://w.example/{p}" for p in ("doc.pdf", "doc.pdfx", "a.html"))
    urls = [pdf, pdfx, page]
    paths = {k: str(tmp_path / k) for k in ("seeds", "pages", "robots", "store")}
    spark.createDataFrame(
        pd.DataFrame({"url": urls, "priority": [0.0] * len(urls)})
    ).write.parquet(paths["seeds"])
    spark.createDataFrame(
        pd.DataFrame({
            "url": urls,
            "html": [b"<html>p</html>"] * len(urls),
            "warc_ts": [pd.Timestamp("2026-01-01")] * len(urls),
        }),
        schema="url string, html binary, warc_ts timestamp",
    ).write.parquet(paths["pages"])
    spark.createDataFrame(
        pd.DataFrame({"host": ["w.example"],
                      "robots_txt": ["User-agent: *\nDisallow: /*.pdf$\n"]})
    ).write.parquet(paths["robots"])

    for argv in (["bootstrap", "--seeds", paths["seeds"]],
                 ["fetch", "--pages", paths["pages"], "--robots", paths["robots"]]):
        assert cli.main(["--run-ts", RUN_TS, *argv, "--store", paths["store"]]) == 0
    states = {
        r["url"]: r["state"]
        for r in FrontierStore(paths["store"]).table.read(spark).collect()
    }
    assert states == {pdf: "robots_blocked", pdfx: "fetched", page: "fetched"}


# ---------------------------------------------------------------------
# delta commits: bytes per round ∝ |round|, not |frontier|
# ---------------------------------------------------------------------

def test_delta_commit_bytes_scale_with_round(spark, tmp_path):
    from dart_xbrl_crawler_spark.operators.frontier import FrontierStore

    store = FrontierStore(str(tmp_path / "frontier"), n_bloom_shards=8)
    n = 20_000
    urls = spark.range(n).select(
        F.concat(
            F.lit("https://h"), (F.col("id") % 7).cast("string"),
            F.lit(".example/p/"), F.col("id").cast("string"),
        ).alias("url"),
        F.lit(0.0).alias("priority"),
    )
    store.bootstrap(urls, RUN_TS)
    snaps = store.table.table.snapshots()
    base_id = snaps[-1]["id"]
    base_bytes = store.table.snapshot_bytes(base_id)

    # rounds fetch ~70 rows each (7 hosts × budget 10)
    robots = spark.createDataFrame(
        [(f"h{k}.example", None, 100) for k in range(7)],
        schema="host string, disallow_prefix string, crawl_delay_ms long",
    )
    pages = urls.select(
        "url", F.lit(b"<!doctype html><p>x</p>").alias("html")
    ).withColumn("warc_ts", F.to_timestamp(F.lit(RUN_TS)))
    delta_bytes = []
    for rid in range(3):
        snap, fetched = store.run_round(
            spark, pages, robots, RUN_TS, round_id=rid, round_ms=1000,
            salt_buckets=4,
        )
        delta_bytes.append(store.table.snapshot_bytes(snap))
    # every round's snapshot is a small fraction of the base image
    for b in delta_bytes:
        assert b < base_bytes / 5, (delta_bytes, base_bytes)
    # state is correct after merging deltas
    counts = store.state_counts(spark)
    assert counts.get("fetched", 0) == 3 * 70
    assert counts["queued"] == n - 3 * 70
    # each round popped DIFFERENT urls (queued-only filter works)
    assert fetched.count() == 70


def test_delta_resume_after_unpublished_write(spark, tmp_path):
    """A crashed round (delta written but never published) must be
    invisible to readers — resume sees the previous state."""
    from dart_xbrl_crawler_spark.operators.frontier import FrontierStore

    store = FrontierStore(str(tmp_path / "f2"), n_bloom_shards=8)
    urls = spark.range(100).select(
        F.concat(F.lit("https://x.example/"), F.col("id").cast("string")).alias("url"),
        F.lit(0.0).alias("priority"),
    )
    store.bootstrap(urls, RUN_TS)
    before = store.state_counts(spark)
    # simulate a crash: write a snapshot dir WITHOUT publishing it
    import os
    crash_dir = os.path.join(store.table.table.path, "snap-999999-deadbeef")
    store.table.table.read(spark).limit(5).write.parquet(crash_dir)
    after = store.state_counts(spark)
    assert after == before
