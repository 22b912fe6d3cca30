"""Frontier machinery: canonicalization properties, Bloom exactness,
politeness budgets, crawl-ordering reproduction, kill-and-resume."""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from dart_xbrl_crawler_spark import fixtures, oracle
from dart_xbrl_crawler_spark.functions.urls import canonicalize_one, with_url_canon
from dart_xbrl_crawler_spark.operators import politeness as P
from dart_xbrl_crawler_spark.operators import scheduler as S
from dart_xbrl_crawler_spark.operators.frontier import FrontierStore
from dart_xbrl_crawler_spark.schemas import PAGES, ROBOTS, SEEDS


# ---------------------------------------------------------------- urls
_url_strategy = st.builds(
    lambda scheme, host, port, path, q, frag: (
        f"{scheme}://{host}{port}/{path}"
        + (f"?{q}" if q else "")
        + (f"#{frag}" if frag else "")
    ),
    st.sampled_from(["http", "https", "HTTP", "HtTpS"]),
    st.from_regex(r"[A-Za-z0-9.\-]{1,20}", fullmatch=True),
    st.sampled_from(["", ":80", ":443", ":8080"]),
    st.from_regex(r"[a-z0-9/._\-]{0,30}", fullmatch=True),
    st.from_regex(r"([a-z]=[a-z0-9]{0,5}&){0,3}([a-z]=[a-z0-9]{0,5})?", fullmatch=True),
    st.from_regex(r"[a-z0-9]{0,8}", fullmatch=True),
)


@given(_url_strategy)
@settings(max_examples=300, deadline=None)
def test_canonicalize_idempotent(url):
    c1, h1 = canonicalize_one(url)
    c2, h2 = canonicalize_one(c1)
    assert c1 == c2 and h1 == h2


@given(_url_strategy)
@settings(max_examples=300, deadline=None)
def test_canonicalize_fast_matches_general(url):
    from dart_xbrl_crawler_spark.functions.urls import _canonicalize_general

    assert canonicalize_one(url) == _canonicalize_general(url)


def test_canonicalize_fast_edge_cases():
    from dart_xbrl_crawler_spark.functions.urls import _canonicalize_general

    cases = [
        "https://H.example/p?a=b=c",          # '=' in value → quoted path
        "https://h.example/p?a=%20x",          # percent escape
        "https://h.example/p?b=2&a=1&b=0",     # duplicate keys, sort
        "https://user:pw@h.example/p",         # userinfo
        "https://h.example:8080/p?x=",         # blank value, odd port
        "https://h.example:bad/p",             # invalid port
        "https://h.example",                   # empty path
        "http://h.example:80/",                # default port drop
        "https://h.example/p?&&a=1&",          # empty segments
        "https://h.example/p?a",               # key without '='
    ]
    for u in cases:
        assert canonicalize_one(u) == _canonicalize_general(u), u


def test_canonicalize_traps():
    a, _ = canonicalize_one("https://DART.FSS.OR.KR/api/x.xml?b=2&a=1#frag")
    b, _ = canonicalize_one("https://dart.fss.or.kr:443/api/x.xml?a=1&b=2")
    assert a == b == "https://dart.fss.or.kr/api/x.xml?a=1&b=2"


def test_with_url_canon_spark(spark, fixture_bundle):
    pages, *_ = fixture_bundle
    df = with_url_canon(spark.createDataFrame(pages, schema=PAGES))
    got = df.select("url", "url_canon", "host").toPandas()
    for _, r in got.iterrows():
        c, h = canonicalize_one(r["url"])
        assert r["url_canon"] == c and r["host"] == h
    # the three fixture trap-spellings collapse onto their base url's hash
    n_urls = df.count()
    n_hashes = df.select("url_hash").distinct().count()
    assert n_hashes <= n_urls - 3


# ---------------------------------------------------------- politeness
def test_politeness_budget_never_exceeded(spark, fixture_bundle):
    pages, seeds, corp_map, robots = fixture_bundle
    pages_df = with_url_canon(spark.createDataFrame(pages, schema=PAGES))
    frontier = (
        pages_df.dropDuplicates(["url_hash"])
        .withColumn("priority", F.lit(0.0))
        .withColumn("discovered_ts", F.col("warc_ts"))
        .select("url", "url_canon", "url_hash", "host", "priority", "discovered_ts")
    )
    robots_df = spark.createDataFrame(robots, schema=ROBOTS)
    popped = P.pop_round(frontier, robots_df, round_ms=10_000, salt_buckets=8)

    sel = popped.filter(F.col("selected")).groupBy("host", "crawl_delay_ms").count()
    for r in sel.collect():
        budget = 10_000 // r["crawl_delay_ms"]
        assert r["count"] <= budget, (r["host"], r["count"], budget)

    # robots: fully-blocked hosts ('/' prefix) select nothing and are marked
    blocked_hosts = set(
        robots[robots["disallow_prefix"] == "/"]["host"].tolist()
    )
    if blocked_hosts:
        rows = popped.filter(F.col("host").isin(list(blocked_hosts))).collect()
        assert rows and all(r["robots_blocked"] and not r["selected"] for r in rows)


def test_politeness_over_budget_matches_bruteforce(spark):
    """Two-phase ranking must select EXACTLY the brute-force top-budget
    per host (full tie-break ordering), bypass path included."""
    import itertools

    rows = []
    # giant host: 500 rows, budget 7; small host: 5 rows, budget 50
    for i in range(500):
        rows.append(("https://giant.x/p%d" % i, "giant.x", float(i % 13), i))
    for i in range(5):
        rows.append(("https://tiny.x/p%d" % i, "tiny.x", 1.0, i))
    pdf = pd.DataFrame(rows, columns=["url", "host", "priority", "k"])
    pdf["url_canon"] = pdf["url"]
    pdf["url_hash"] = pdf["k"] * 7919 + 13
    import datetime

    pdf["discovered_ts"] = [
        datetime.datetime(2026, 1, 1) + datetime.timedelta(seconds=int(k % 50))
        for k in pdf["k"]
    ]
    frontier = spark.createDataFrame(
        pdf[["url", "url_canon", "url_hash", "host", "priority", "discovered_ts"]]
    )
    robots = spark.createDataFrame(
        [("giant.x", None, 1000), ("tiny.x", None, 140)],
        schema="host string, disallow_prefix string, crawl_delay_ms long",
    )
    popped = P.pop_round(frontier, robots, round_ms=7_000, salt_buckets=8)
    got = {
        r["url"] for r in popped.filter(F.col("selected")).collect()
    }

    # brute force in pandas: top-budget per host by the same ordering
    want = set()
    for host, budget in (("giant.x", 7), ("tiny.x", 50)):
        sub = pdf[pdf["host"] == host].sort_values(
            ["priority", "discovered_ts", "url_hash"],
            ascending=[False, True, True],
        )
        want |= set(sub["url"].head(budget))
    assert got == want


# ----------------------------------------------------------- scheduler
def test_reference_crawl_ordering(spark, fixture_bundle):
    _, seeds, *_ = fixture_bundle
    seeds_df = spark.createDataFrame(seeds, schema=SEEDS)
    got = [
        r["rcept_no"]
        for r in S.reference_schedule(seeds_df).orderBy("visit_rank").collect()
    ]
    want = oracle.sequential_schedule(seeds.to_dict("records"))
    assert got == want
    # cap respected: corp 0 has 8 disclosures, at most 5 visited
    heavy = seeds[seeds["corp_code"] == seeds["corp_code"].iloc[0]]
    visited_heavy = [r for r in got if r in set(heavy["rcept_no"])]
    assert len(visited_heavy) <= 5


def test_snapshot_crash_safety(spark, tmp_path):
    """A writer killed mid-snapshot leaves an unpublished dir; readers
    never see it, and the next commit proceeds normally."""
    import os

    from dart_xbrl_crawler_spark.sources.checkpoint import SnapshotTable

    t = SnapshotTable(str(tmp_path / "t"))
    df1 = spark.range(10).withColumnRenamed("id", "k")
    s1 = t.commit(df1, note="first")

    # simulate a crashed writer: half-written snapshot dir, no manifest entry
    orphan = os.path.join(t.path, "snap-999999-deadbeef")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-00000.parquet"), "wb") as f:
        f.write(b"garbage not parquet")

    assert t.latest_snapshot_id() == s1
    assert t.read(spark).count() == 10  # orphan invisible

    s2 = t.commit(spark.range(20).withColumnRenamed("id", "k"), note="second")
    assert t.read(spark).count() == 20
    assert t.read(spark, s1).count() == 10  # time travel intact
    assert [s["id"] for s in t.snapshots()] == [s1, s2]


# ------------------------------------------------------ frontier store
def test_frontier_rounds_and_resume(spark, fixture_bundle, tmp_path):
    pages, seeds, corp_map, robots = fixture_bundle
    pages_df = spark.createDataFrame(pages, schema=PAGES)
    seeds_df = spark.createDataFrame(seeds, schema=SEEDS)
    robots_df = spark.createDataFrame(robots, schema=ROBOTS)

    from dart_xbrl_crawler_spark.operators.scheduler import seeds_to_frontier

    store = FrontierStore(str(tmp_path / "frontier"), n_bloom_shards=8)
    store.bootstrap(seeds_to_frontier(seeds_df), fixtures.RUN_TS)
    c0 = store.state_counts(spark)
    assert set(c0) == {"queued"}

    # duplicate re-insert → everything deduped
    _, n_ins, n_dup = store.insert(
        spark, seeds_to_frontier(seeds_df).select("url", "priority"), fixtures.RUN_TS
    )
    assert n_ins == 0 and n_dup == c0["queued"]

    snap1, fetched = store.run_round(
        spark, pages_df, robots_df, fixtures.RUN_TS, round_id=1, round_ms=120_000
    )
    n_fetched_pages = fetched.count()
    c1 = store.state_counts(spark)
    assert c1.get("fetched", 0) == n_fetched_pages > 0

    # kill-and-resume: reading latest snapshot reproduces exactly c1
    store2 = FrontierStore(str(tmp_path / "frontier"), n_bloom_shards=8)
    assert store2.state_counts(spark) == c1
    # rollback to bootstrap → states as before the round (idempotent replay)
    first = store2.table.snapshots()[0]["id"]
    store2.table.rollback_to(first)
    assert store2.state_counts(spark) == c0

    # lineage metrics recorded per partition with the required states
    mdf = store.metrics.read(spark)
    states = {r["state"] for r in mdf.select("state").distinct().collect()}
    assert "fetched" in states


if __name__ == "__main__":
    pytest.main([__file__, "-x", "-q"])
