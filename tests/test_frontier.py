"""Frontier machinery: canonicalization properties, the split
canonicalizer's equivalence to the UDF one, politeness budgets, crawl-ordering reproduction, kill-and-resume, and the
FrontierStore lifecycle — admission, lineage counters, transitions
under cache loss, fetch-cache release and metrics-chain folding; the
crawl loop with link discovery and priority inheritance, and the CLI's
bootstrap date window."""

from __future__ import annotations

import os

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from dart_xbrl_crawler_spark import fixtures, oracle
from dart_xbrl_crawler_spark.functions.urls import (
    _FAST_URL_RE,
    canonicalize_one,
    with_url_canon,
    with_url_canon_split,
)
from dart_xbrl_crawler_spark.operators import politeness as P
from dart_xbrl_crawler_spark.operators import scheduler as S
from dart_xbrl_crawler_spark.operators.frontier import FrontierStore
from dart_xbrl_crawler_spark.schemas import PAGES, ROBOTS, SEEDS

RUN_TS = fixtures.RUN_TS
LATER_TS = "2026-02-01 00:00:00"

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


# with_url_canon_split (Catalyst fast path + UDF fallback) must produce
# exactly with_url_canon's values on every input — eligible, ineligible
# and adversarial spellings.
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


# ------------------------------------- lineage metrics from deltas
def test_lineage_counts_match_exact_state_counts(spark, fixture_bundle, tmp_path):
    """The metrics chain folds to the exact per-state counts after every
    kind of commit: bootstrap, insert, rounds, recrawl, expire (the
    transitions record the states their rows leave) and an insert that
    resurrects expired urls."""
    pages, seeds, _, robots = fixture_bundle
    store = FrontierStore(str(tmp_path / "f"), n_bloom_shards=8, seen_filter="cuckoo")
    seeds_df = spark.createDataFrame(seeds, schema=SEEDS)
    pages_df = spark.createDataFrame(pages, schema=PAGES)
    robots_df = spark.createDataFrame(robots, schema=ROBOTS)

    def assert_lineage_exact(n_dup):
        lineage = store.lineage_counts(spark)
        assert lineage.pop("deduped", 0) == n_dup
        assert lineage == {k: v for k, v in store.state_counts(spark).items() if v}

    store.bootstrap(S.seeds_to_frontier(seeds_df), RUN_TS)
    assert_lineage_exact(0)
    # duplicate insert contributes a 'deduped' lineage counter
    _, _, n_dup = store.insert(
        spark, S.seeds_to_frontier(seeds_df).select("url", "priority"), RUN_TS
    )
    assert n_dup > 0
    assert_lineage_exact(n_dup)
    for rid in range(2):
        store.run_round(
            spark, pages_df, robots_df, RUN_TS, round_id=rid, round_ms=120_000
        )
        assert_lineage_exact(n_dup)
    assert store.recrawl(spark, LATER_TS) > 0
    assert_lineage_exact(n_dup)
    store.run_round(spark, pages_df, robots_df, RUN_TS, round_id=2, round_ms=120_000)
    assert store.expire(spark, LATER_TS) > 0
    assert_lineage_exact(n_dup)
    # re-inserting expired urls resurrects their rows: they leave 'expired'
    back = (
        store.table.read(spark).filter(F.col("state") == "expired")
        .orderBy("url_hash").limit(2).select("url", F.lit(1.0).alias("priority"))
    )
    assert store.insert(spark, back, RUN_TS)[1:] == (2, 0)
    assert_lineage_exact(n_dup)


def test_driver_written_lineage_reads_like_spark_written(spark, tmp_path, count_jobs):
    """Lineage rows written from the driver record the schema Spark
    records, so a chain that mixes them with an older store's
    Spark-written per-partition rows plans with no inference job, and
    folds and sums like one chain."""
    store = FrontierStore(
        str(tmp_path / "f"), n_bloom_shards=4, metrics_compact_every=2
    )
    store.metrics.commit(
        spark.createDataFrame(
            [(-1, 0, "queued", 5), (-1, 1, "queued", 4)],
            schema="round_id int, partition_id int, state string, n long",
        ),
        note="insert lineage",
    )
    store._commit_lineage(
        0, {"fetched": 2, "failed": 1, "robots_blocked": 0}, "round=0"
    )
    store._commit_lineage(-1, {"queued": 3, "deduped": 2}, "insert lineage")
    assert len({s["schema_ddl"] for s in store.metrics.snapshots()}) == 1
    _, n_jobs = count_jobs(lambda: store.metrics.read_all(spark).schema)
    assert n_jobs == 0
    want = {"queued": 9, "fetched": 2, "failed": 1, "deduped": 2}
    assert store.lineage_counts(spark) == want
    store._maybe_compact_metrics(spark)  # 3 snapshots > 2: fold
    assert len(store.metrics.snapshots()) == 1
    assert store.lineage_counts(spark) == want


def test_bootstrap_and_round_job_count(spark, fixture_bundle, tmp_path, count_jobs):
    """A cold bootstrap plus one compacting run_round runs a pinned
    number of Spark jobs: lineage counters are observed on the writes
    that already run, never jobs of their own."""
    pages, seeds, _, robots = fixture_bundle
    seeds_df = S.seeds_to_frontier(spark.createDataFrame(seeds, schema=SEEDS))
    pages_df = spark.createDataFrame(pages, schema=PAGES)
    robots_df = spark.createDataFrame(robots, schema=ROBOTS)
    store = FrontierStore(str(tmp_path / "f"), n_bloom_shards=8, compact_every=0)

    def bootstrap_and_round():
        store.bootstrap(seeds_df, RUN_TS)
        store.run_round(
            spark, pages_df, robots_df, RUN_TS, round_id=1, round_ms=120_000
        )

    _, n_jobs = count_jobs(bootstrap_and_round)
    assert store.table._latest_base()["note"] == "auto-compact after round=1"
    assert n_jobs == 32
    # a bloom store's insert runs no resurrection count (cuckoo only)
    new = spark.createDataFrame(
        [("https://new.example/a", 1.0), ("https://new.example/b", 1.0)],
        schema="url string, priority double",
    )
    batch = seeds_df.select("url", "priority").unionByName(new)
    (_, n_ins, _), n_jobs = count_jobs(lambda: store.insert(spark, batch, RUN_TS))
    assert n_ins == 2 and n_jobs == 27


def test_round_delta_written_at_fetch_width(spark, fixture_bundle, tmp_path):
    """run_round writes its delta in at most as many files as the fetch
    stage has tasks (at fixture size, the session's default parallelism),
    and commits one lineage row per state whose counts are the delta's
    own."""
    pages, seeds, _, robots = fixture_bundle
    store = FrontierStore(str(tmp_path / "f"), n_bloom_shards=8)
    seeds_df = spark.createDataFrame(seeds, schema=SEEDS)
    store.bootstrap(S.seeds_to_frontier(seeds_df), RUN_TS)
    # bytes for every other page only: the round fetches some, fails some
    snap, _ = store.run_round(
        spark, spark.createDataFrame(pages.iloc[::2], schema=PAGES),
        spark.createDataFrame(robots, schema=ROBOTS), RUN_TS, round_id=1,
        round_ms=120_000,
    )
    files = os.listdir(os.path.join(store.table.table.path, snap))
    width = spark.sparkContext.defaultParallelism
    assert 0 < len([f for f in files if f.endswith(".parquet")]) <= width
    delta = {
        r["state"]: r["count"]
        for r in store.table.table.read(spark, snap).groupBy("state").count().collect()
    }
    lineage = store.metrics.read(spark).collect()
    assert {r["partition_id"] for r in lineage} == {-1}
    assert len(lineage) == len(delta)
    assert {r["state"]: r["n"] for r in lineage} == delta == store.last_round
    assert set(delta) == {"fetched", "failed"}


def test_run_round_releases_previous_fetch_cache(spark, fixture_bundle, tmp_path):
    from dart_xbrl_crawler_spark import fixtures
    from dart_xbrl_crawler_spark.operators.frontier import FrontierStore
    from dart_xbrl_crawler_spark.operators.scheduler import seeds_to_frontier
    from dart_xbrl_crawler_spark.schemas import PAGES, ROBOTS, SEEDS

    pages, seeds, _, robots = fixture_bundle
    store = FrontierStore(str(tmp_path / "f2"), n_bloom_shards=8)
    store.bootstrap(
        seeds_to_frontier(spark.createDataFrame(seeds, schema=SEEDS)),
        fixtures.RUN_TS,
    )
    pages_df = spark.createDataFrame(pages, schema=PAGES)
    robots_df = spark.createDataFrame(robots, schema=ROBOTS)
    store.run_round(spark, pages_df, robots_df, fixtures.RUN_TS, round_id=0)
    first = store._prev_fetched
    assert first is not None and first.storageLevel.useMemory
    store.run_round(spark, pages_df, robots_df, fixtures.RUN_TS, round_id=1)
    # the first round's cache is gone; the second round's is live
    assert not first.storageLevel.useMemory
    assert store._prev_fetched is not first


# ------------------------------------- lineage clamp for legacy store
def test_lineage_counts_legacy_store_never_negative(spark, tmp_path):
    """A store whose metrics chain has transitions but no insert rows
    (bootstrapped before insert metrics existed) reports queued from
    the exact state scan, not a negative number — so run_crawl's drain
    check still works."""
    from dart_xbrl_crawler_spark.operators.frontier import FrontierStore

    store = FrontierStore(str(tmp_path / "legacy"), n_bloom_shards=4)
    seeds = spark.createDataFrame(
        pd.DataFrame(
            {
                "url": [f"https://l.example/p{i}" for i in range(6)],
                "priority": [0.0] * 6,
            }
        )
    )
    store.bootstrap(seeds, RUN_TS)
    # simulate the legacy chain: drop the bootstrap 'queued' rows,
    # keep only a transition commit
    store.metrics._publish([])
    store.metrics.commit(
        spark.createDataFrame(
            [(0, 0, "fetched", 2)],
            schema="round_id int, partition_id int, state string, n long",
        ),
        note="legacy transition",
    )
    counts = store.lineage_counts(spark)
    assert counts["queued"] >= 0
    # falls back to the exact scan: all 6 rows are still queued in the
    # table (no delta was committed)
    assert counts["queued"] == 6


# ----------------------------------------- run_crawl releases caches
def test_run_crawl_releases_fetch_cache(spark, tmp_path):
    from dart_xbrl_crawler_spark.operators.frontier import FrontierStore

    pages = spark.createDataFrame(
        pd.DataFrame(
            {
                "url": ["https://r.example/a"],
                "html": [b"<html>end</html>"],
                "warc_ts": [pd.Timestamp("2026-01-01")],
            }
        ),
        schema="url string, html binary, warc_ts timestamp",
    )
    robots = spark.createDataFrame(
        [("r.example", None, 100)],
        schema="host string, disallow_prefix string, crawl_delay_ms long",
    )
    store = FrontierStore(str(tmp_path / "rel"), n_bloom_shards=4)
    store.bootstrap(
        spark.createDataFrame(
            pd.DataFrame({"url": ["https://r.example/a"], "priority": [0.0]})
        ),
        RUN_TS,
    )
    store.run_crawl(spark, pages, robots, RUN_TS, max_rounds=3)
    assert store._prev_fetched is None  # last round's cache released


def test_backoff_round_reads_host_metrics_once(spark, tmp_path, monkeypatch):
    """A backoff round's robots dim is persisted: the pop's K aggregate
    and its robots broadcast share one read of the ``_host_metrics``
    chain, and the dim is released with the round.  Each per-host stats
    row the dim reads passes a counting filter; the round must count as
    many as one evaluation of the same dim."""
    seeds = spark.createDataFrame(
        pd.DataFrame(
            {
                "url": [f"https://{h}.example/{i}" for h in ("ok", "bad") for i in range(4)],
                "priority": [0.0] * 8,
            }
        )
    )
    pages = spark.createDataFrame(
        pd.DataFrame(
            {
                "url": [f"https://ok.example/{i}" for i in range(4)],
                "html": [b"<html>ok</html>"] * 4,
                "warc_ts": [pd.Timestamp("2026-01-01")] * 4,
            }
        ),
        schema="url string, html binary, warc_ts timestamp",
    )
    robots = spark.createDataFrame(
        [("ok.example", None, 100), ("bad.example", None, 100)], schema=ROBOTS
    )
    store = FrontierStore(str(tmp_path / "bo"), n_bloom_shards=4)
    store.bootstrap(seeds, RUN_TS)

    reads = spark.sparkContext.accumulator(0)
    # nondeterministic: the optimizer neither copies nor moves the filter
    tick = F.udf(lambda _: reads.add(1) or True, "boolean").asNondeterministic()
    stats: list = []
    host_stats = store.host_stats

    def counted(spark_):
        stats.append(host_stats(spark_).filter(tick("host")))
        return stats[-1]

    monkeypatch.setattr(store, "host_stats", counted)
    dims: list = []
    apply_backoff = P.apply_backoff

    def kept(*args, **kwargs):
        dims.append(apply_backoff(*args, **kwargs))
        return dims[-1]

    monkeypatch.setattr(P, "apply_backoff", kept)
    # budget 2 of each host's 4 urls: round 1 pops with the backoff dim
    out = store.run_crawl(
        spark, pages, robots, RUN_TS, max_rounds=2, round_ms=200,
        discover=False, backoff_factor=4.0,
    )
    assert [r["fetched"] for r in out] == [2, 2]
    assert len(dims) == 1 and not dims[0].is_cached  # released
    in_round = reads.value
    assert len(stats) == 1 and in_round > 0
    apply_backoff(robots, stats[0], factor=4.0).collect()
    assert in_round == reads.value - in_round


def test_run_crawl_text_out_carries_seed_meta(spark, fixture_bundle, tmp_path):
    """run_crawl(seeds=...) extracts each fetched XBRL ZIP with its seed's
    report_nm/rcept_dt: text and parse verdict equal the oracle's, where
    null meta left every ZIP at parse_ok=False."""
    pages, seeds, *_ = fixture_bundle
    seeds_df = spark.createDataFrame(seeds, schema=SEEDS)
    # the seed list's own DART pages: no respelled variant competes for
    # a seed url's bytes in the fetch join
    seed_urls = "https://dart.fss.or.kr/api/fnlttXbrl.xml?rcept_no=" + seeds["rcept_no"]
    dart = pages[pages["url"].isin(set(seed_urls))]
    store = FrontierStore(str(tmp_path / "f"), n_bloom_shards=4)
    store.bootstrap(S.seeds_to_frontier(seeds_df), RUN_TS)
    robots = spark.createDataFrame([("dart.fss.or.kr", None, 1)], schema=ROBOTS)
    out = str(tmp_path / "texts")
    store.run_crawl(
        spark, spark.createDataFrame(dart, schema=PAGES), robots, RUN_TS,
        max_rounds=1, discover=False, text_out=out, seeds=seeds_df,
    )
    got = {r["url"]: (r["text"], r["parse_ok"])
           for r in spark.read.parquet(out).collect()}
    zips = {
        p["url"]: (p["text"], oracle.parse_mini_xbrl(p["html"])[1] is not None)
        for p in dart.to_dict("records")
        if p["url"] in got and p["html"][:2] == b"PK"
    }
    assert zips and all(ok for _, ok in zips.values())
    assert {u: got[u] for u in zips} == zips


def test_run_crawl_text_out_requires_seeds(spark, tmp_path):
    """text_out without seeds is refused before any round runs, by
    run_crawl and by `cli crawl`: the sink would extract every XBRL ZIP
    without its meta."""
    store = FrontierStore(str(tmp_path / "f"), n_bloom_shards=4)
    with pytest.raises(ValueError, match="requires seeds"):
        store.run_crawl(spark, None, None, RUN_TS, text_out=str(tmp_path / "t"))
    from dart_xbrl_crawler_spark import cli

    with pytest.raises(SystemExit) as exit_:
        cli.main(["crawl", "--pages", "p", "--robots", "r", "--store", "s",
                  "--text-out", str(tmp_path / "t")])
    assert exit_.value.code == 2  # argparse usage error, no session started


# --------------------------------------- metrics chain compaction
def test_metrics_chain_compaction_bounded_and_exact(spark, tmp_path):
    """A multi-round crawl with an aggressive compaction threshold
    keeps the metrics chains bounded while lineage_counts/host_stats
    stay EXACTLY equal to an uncompacted twin's."""
    from dart_xbrl_crawler_spark.operators.frontier import FrontierStore

    def page(name, link_to=None):
        body = (
            f'<html><a href="/{link_to}">n</a></html>' if link_to else "<html>e</html>"
        )
        return (f"https://c.example/{name}", body.encode(), pd.Timestamp("2026-01-01"))

    pages = spark.createDataFrame(
        pd.DataFrame(
            [page("a", "b"), page("b", "c"), page("c", "d"), page("d")],
            columns=["url", "html", "warc_ts"],
        ),
        schema="url string, html binary, warc_ts timestamp",
    )
    robots = spark.createDataFrame(
        [("c.example", None, 100)],
        schema="host string, disallow_prefix string, crawl_delay_ms long",
    )
    seeds = pd.DataFrame({"url": ["https://c.example/a"], "priority": [0.0]})

    stores = {}
    for tag, every in (("compacted", 2), ("plain", 1000)):
        st = FrontierStore(
            str(tmp_path / tag), n_bloom_shards=4, metrics_compact_every=every
        )
        st.bootstrap(spark.createDataFrame(seeds), RUN_TS)
        st.run_crawl(spark, pages, robots, RUN_TS, max_rounds=6, round_ms=100_000)
        stores[tag] = st

    plain, comp = stores["plain"], stores["compacted"]
    # chain bounded: ≤ threshold + the commits of one round (round
    # metrics + host metrics + next insert) before the next fold
    assert len(comp.metrics.snapshots()) <= 4
    assert len(plain.metrics.snapshots()) > 4  # the twin actually grew
    assert comp.lineage_counts(spark) == plain.lineage_counts(spark)
    hs = lambda s: {
        r["host"]: (r["n_fetched"], r["n_failed"], r["fail_rate"])
        for r in s.host_stats(spark).collect()
    }
    assert hs(comp) == hs(plain)


# ----------------------------- expire() survives cache loss mid-flight
def _bootstrap_cuckoo_store(spark, path, urls):
    from dart_xbrl_crawler_spark.operators.frontier import FrontierStore

    store = FrontierStore(str(path), n_bloom_shards=4, seen_filter="cuckoo")
    seeds = spark.createDataFrame(
        pd.DataFrame({"url": urls, "priority": [0.0] * len(urls)})
    )
    store.bootstrap(seeds, RUN_TS)
    return store


def _mark_fetched(spark, store, ts):
    """Flip every queued row to fetched via the normal delta path (the
    round outcome, minus the fetch machinery the test doesn't need)."""
    frontier = store.table.read(spark)
    changed = (
        frontier.filter(F.col("state") == "queued")
        .withColumn("state", F.lit("fetched"))
        .withColumn("fetch_ts", F.to_timestamp(F.lit(ts)))
    )
    store.table.commit_delta(spark, changed, note="test fetch")
    store.metrics.commit(
        changed.groupBy(
            F.lit(0).alias("round_id"),
            F.spark_partition_id().alias("partition_id"),
            "state",
        )
        .count()
        .withColumnRenamed("count", "n"),
        note="test fetch",
    )


def test_expire_retires_seen_even_after_cache_loss(spark, tmp_path):
    """expire() consumes its `changed` frame AFTER commit_delta flips
    those rows to 'expired' — if the frame were a lazy persist over the
    pre-commit frontier, losing the cache there would recompute an
    EMPTY selection (post-commit no row matches state='fetched'), so
    retire_seen would delete nothing and the url could never resurrect.
    Simulate the loss at the worst moment: clear every SQL cache right
    after the commit, then check the url still resurrects."""
    url = "https://loss.example/a"
    store = _bootstrap_cuckoo_store(spark, tmp_path / "f", [url])
    _mark_fetched(spark, store, RUN_TS)

    orig = store.table.commit_delta

    def commit_then_lose_cache(spark_, df, note=""):
        snap = orig(spark_, df, note=note)
        spark.catalog.clearCache()
        return snap

    store.table.commit_delta = commit_then_lose_cache
    try:
        n = store.expire(spark, LATER_TS)
    finally:
        store.table.commit_delta = orig
    assert n == 1
    assert store.state_counts(spark).get("expired") == 1

    # rediscovery must insert a fresh queued row (resurrection)
    batch = spark.createDataFrame(pd.DataFrame({"url": [url]}))
    _, n_fresh, n_dup = store.insert(spark, batch, LATER_TS)
    assert (n_fresh, n_dup) == (1, 0)
    assert store.state_counts(spark).get("queued") == 1


@pytest.mark.parametrize("method", ["recrawl", "recrawl_hints"])
def test_recrawl_counts_survive_cache_loss(spark, tmp_path, method):
    """recrawl()'s and recrawl_hints()' count/metrics read `changed`
    after the commit flips the rows to 'queued' — a recompute over the
    post-commit frontier would report 0 re-queued.  Same cache-loss
    simulation."""
    urls = [f"https://re.example/{i}" for i in range(5)]
    store = _bootstrap_cuckoo_store(spark, tmp_path / "f", urls)
    _mark_fetched(spark, store, RUN_TS)
    hints = spark.createDataFrame(
        pd.DataFrame({"url": urls, "lastmod": [LATER_TS[:10]] * len(urls)})
    )

    orig = store.table.commit_delta

    def commit_then_lose_cache(spark_, df, note=""):
        snap = orig(spark_, df, note=note)
        spark.catalog.clearCache()
        return snap

    store.table.commit_delta = commit_then_lose_cache
    try:
        if method == "recrawl":
            n = store.recrawl(spark, LATER_TS)
        else:
            n = store.recrawl_hints(spark, hints)
    finally:
        store.table.commit_delta = orig
    assert n == 5
    assert store.state_counts(spark).get("queued") == 5


# -------------------- cuckoo tombstones vs filter false positives
def test_cuckoo_tombstone_fpp_cannot_permadedup(spark, tmp_path):
    """A rediscovered expired url whose hash still hits the filter (a
    ~1.2e-4 false positive at 16-bit tags — simulated here by
    re-adding the hash) must NOT exact-confirm against its own expired
    tombstone row: expire()'s contract is that later rediscovery
    unconditionally resurrects."""
    url = "https://fpp.example/a"
    store = _bootstrap_cuckoo_store(spark, tmp_path / "f", [url])
    _mark_fetched(spark, store, RUN_TS)
    assert store.expire(spark, LATER_TS) == 1

    # simulate the false positive: put the retired hash back into the
    # filter while the frontier row stays an expired tombstone
    store._commit_bloom_batch(
        spark, store.table.read(spark).select("url_hash"), "fpp-sim"
    )

    batch = spark.createDataFrame(pd.DataFrame({"url": [url]}))
    _, n_fresh, n_dup = store.insert(spark, batch, LATER_TS)
    assert (n_fresh, n_dup) == (1, 0), "tombstone exact-confirmed a live url"
    assert store.state_counts(spark).get("queued") == 1


# ------------------------- metrics chain bounded over a long crawl
def test_metrics_chain_bounded_over_100_rounds(spark, tmp_path):
    """100 rounds of metrics/host-metrics commits with compaction keep
    BOTH chains ≤ threshold+1 snapshots at every step, and the folded
    running sums stay exactly equal to the arithmetic totals (fold
    marker rows round_id=-2 must aggregate, not duplicate)."""
    from dart_xbrl_crawler_spark.operators.frontier import FrontierStore

    store = FrontierStore(
        str(tmp_path / "f"), n_bloom_shards=4, metrics_compact_every=8
    )
    total_fetched = 0
    host_fetched = {"a.example": 0, "b.example": 0}
    for rid in range(100):
        n = 1 + (rid % 3)
        total_fetched += n
        host = "a.example" if rid % 2 == 0 else "b.example"
        host_fetched[host] += n
        store.metrics.commit(
            spark.createDataFrame(
                # a queued (insert-side) row balancing each fetched row,
                # as real rounds produce — lineage_counts' queue math
                # needs the insert counters the crawl always commits
                [(rid, 0, "queued", n), (rid, 0, "fetched", n)],
                schema="round_id int, partition_id int, state string, n long",
            ),
            note=f"round={rid}",
        )
        store.host_metrics.commit(
            spark.createDataFrame(
                [(rid, host, "fetched", n)],
                schema="round_id int, host string, state string, n long",
            ),
            note=f"round={rid}",
        )
        store._maybe_compact_metrics(spark)
        assert len(store.metrics.snapshots()) <= 9, f"chain grew at round {rid}"
        assert len(store.host_metrics.snapshots()) <= 9

    assert store.lineage_counts(spark) == {"fetched": total_fetched}
    hs = {
        r["host"]: r["n_fetched"] for r in store.host_stats(spark).collect()
    }
    assert hs == host_fetched


def test_recrawl_hints_requeues_only_advertised(spark, tmp_path):
    """Sitemap-lastmod-driven freshness: only hinted urls whose fetch
    predates the advertised lastmod flip back to queued; unparseable
    lastmods and fresh rows stay put."""
    import pandas as pd
    from dart_xbrl_crawler_spark.operators.frontier import FrontierStore
    from dart_xbrl_crawler_spark import fixtures
    from dart_xbrl_crawler_spark.schemas import PAGES, ROBOTS

    urls = [f"https://r.ex/p{i}" for i in range(4)]
    pages = spark.createDataFrame(
        pd.DataFrame({
            "url": urls,
            "html": [f"<html>{i}</html>".encode() for i in range(4)],
            "warc_ts": [pd.Timestamp("2026-01-01")] * 4,
        }),
        schema="url string, html binary, warc_ts timestamp",
    )
    robots = spark.createDataFrame(
        [("r.ex", None, 1)],
        schema="host string, disallow_prefix string, crawl_delay_ms long",
    )
    store = FrontierStore(str(tmp_path / "r"), n_bloom_shards=4)
    store.bootstrap(
        spark.createDataFrame(
            pd.DataFrame({"url": urls, "priority": [0.0] * 4})
        ),
        "2026-01-02 00:00:00",
    )
    store.run_crawl(spark, pages, robots, "2026-01-02 00:00:00",
                    max_rounds=1, discover=False)
    assert store.state_counts(spark).get("fetched") == 4
    hints = spark.createDataFrame(
        [
            (urls[0], "2026-02-01"),              # newer → requeue
            (urls[1], "2026-02-01T09:30:00Z"),    # full ISO → requeue
            (urls[2], "2025-12-01"),              # older than fetch → keep
            (urls[3], "not-a-date"),              # unparseable → keep
            ("https://r.ex/unknown", "2026-02-01"),  # not in frontier
        ],
        schema="url string, lastmod string",
    )
    n = store.recrawl_hints(spark, hints)
    assert n == 2
    counts = store.state_counts(spark)
    assert counts.get("queued") == 2 and counts.get("fetched") == 2
    queued = {
        r["url_canon"]
        for r in store.table.read(spark)
        .filter(F.col("state") == "queued").select("url_canon").collect()
    }
    assert queued == {urls[0], urls[1]}
    store.release()

# --------------------------------------------------------- admission
def test_insert_keeps_first_wins_survivor(spark, tmp_path):
    """insert keeps bootstrap's survivor among spellings of one url —
    the highest priority, then the smallest url — whatever the batch's
    row order or partitioning (in run_crawl the priority drives pop
    order, so the survivor decides when a url is crawled)."""
    store = FrontierStore(str(tmp_path / "f"), n_bloom_shards=4)
    store.bootstrap(
        spark.createDataFrame(
            pd.DataFrame({"url": ["https://seed.example/"], "priority": [0.0]})
        ),
        RUN_TS,
    )
    for n_parts in (1, 2):
        def up(i):
            return f"https://H{n_parts}{i}.EXAMPLE/x"

        def low(i):
            return f"https://h{n_parts}{i}.example/x"

        rows = [
            (up(0), 1.0), (low(0), 5.0),  # higher priority second
            (low(1), 5.0), (up(1), 1.0),  # higher priority first
            (low(2), 2.0), (up(2), 2.0),  # equal priorities: the smaller
            (up(3), 2.0), (low(3), 2.0),  # url wins, in either order
        ]
        batch = spark.createDataFrame(
            spark.sparkContext.parallelize(rows, n_parts),
            "url string, priority double",
        )
        _, n_ins, n_dup = store.insert(spark, batch, RUN_TS)
        assert (n_ins, n_dup) == (4, 0)
        got = {
            (r["url"], r["priority"])
            for r in store.table.read(spark)
            .filter(F.col("host").startswith(f"h{n_parts}"))
            .collect()
        }
        assert got == {(low(0), 5.0), (low(1), 5.0), (up(2), 2.0), (up(3), 2.0)}


# ------------------------------------------------------ cli store fold
def test_cli_fetch_folds_metrics_chains(spark, tmp_path, monkeypatch):
    """The store-writing CLI subcommands fold the metrics chains before
    growing them, as run_crawl does between rounds: four `fetch` calls
    keep both chains bounded, and the folded lineage counts stay exact."""
    import functools

    from dart_xbrl_crawler_spark import cli

    # reuse the test session; the CLI normally owns (and stops) its own
    monkeypatch.setattr(cli, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)
    monkeypatch.setattr(
        cli, "FrontierStore", functools.partial(FrontierStore, metrics_compact_every=2)
    )

    urls = [f"https://f.example/p{i}" for i in range(8)]
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
    # budget 60 000 / 20 000 = 3 pages per round: every fetch does work
    spark.createDataFrame(
        [("f.example", None, 20_000)],
        schema="host string, disallow_prefix string, crawl_delay_ms long",
    ).write.parquet(paths["robots"])

    def run(*argv):
        assert cli.main(["--run-ts", RUN_TS, *argv, "--store", paths["store"]]) == 0

    run("bootstrap", "--seeds", paths["seeds"])
    store = FrontierStore(paths["store"])
    for rid in range(4):
        run("fetch", "--pages", paths["pages"], "--robots", paths["robots"],
            "--round-id", str(rid))
        assert len(store.metrics.snapshots()) <= 3, f"chain grew at fetch {rid}"
        assert len(store.host_metrics.snapshots()) <= 3
    assert store.state_counts(spark) == {"fetched": len(urls)}
    assert store.lineage_counts(spark) == {"fetched": len(urls)}


if __name__ == "__main__":
    pytest.main([__file__, "-x", "-q"])


# ------------------------------------ rounds, crawl loop and discovery
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
