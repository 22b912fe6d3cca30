"""Politeness pop (``operators.politeness.pop_round``): budgets, robots
gating, the ranking plan's shape, and a differential check of the
selected set, the robots-blocked set and ``host_rank`` against a pandas
recomputation; robots.txt parsing, RFC 9309 wildcard rules and their
longest-match evaluation, the lifted single-prefix dim against a
``startswith`` reference on hostile inputs, and adaptive backoff."""

from __future__ import annotations

import datetime
import re

import pandas as pd
import pytest
from pyspark.sql import functions as F

from dart_xbrl_crawler_spark.functions.urls import with_url_canon
from dart_xbrl_crawler_spark.operators import politeness as P

RUN_TS = "2026-01-16 00:00:00"
DIM = "host string, disallow_prefix string, crawl_delay_ms long"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_pop_round_crawl_delay_zero_does_not_starve(spark):
    """A dim row carrying crawl_delay_ms=0 (built outside the parser)
    must neither crash the budget division nor silently drop the host."""
    frontier = spark.range(20).select(
        F.concat(F.lit("https://zero.example/p"), F.col("id").cast("string")).alias("url"),
        F.lit(0.0).alias("priority"),
        F.to_timestamp(F.lit(RUN_TS)).alias("discovered_ts"),
    )
    from dart_xbrl_crawler_spark.functions.urls import with_url_canon

    robots = spark.createDataFrame(
        [("zero.example", None, 0)],
        schema="host string, disallow_prefix string, crawl_delay_ms long",
    )
    popped = P.pop_round(with_url_canon(frontier), robots, round_ms=1000)
    rows = popped.collect()
    assert len(rows) == 20
    assert all(r["selected"] for r in rows)  # 1000ms/1ms ≥ 20 slots


# ------------------------------------------- robots/backoff dims broadcast
def test_robots_and_backoff_dims_broadcast(spark):
    """The robots and backoff joins broadcast their dim even with
    Catalyst's auto-broadcast off, and the pop over them keeps its
    budget semantics."""
    from dart_xbrl_crawler_spark.functions.urls import with_url_canon

    frontier = with_url_canon(
        spark.createDataFrame(
            pd.DataFrame({"url": [f"https://h{i % 7}.ex/p{i}" for i in range(40)]})
        )
    ).select(
        "*",
        F.lit(0.0).alias("priority"),
        F.to_timestamp(F.lit(RUN_TS)).alias("discovered_ts"),
    )
    robots = spark.createDataFrame(
        [(f"h{k}.ex", None, 10) for k in range(7)],
        schema="host string, disallow_prefix string, crawl_delay_ms long",
    )
    stats = spark.createDataFrame(
        pd.DataFrame({"host": [f"h{k}.ex" for k in range(7)], "fail_rate": [0.5] * 7})
    )
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan_g = P.apply_robots(
            frontier, robots
        )._jdf.queryExecution().executedPlan().toString()
        plan_b = P.apply_backoff(
            robots, stats
        )._jdf.queryExecution().executedPlan().toString()
        out = P.pop_round(frontier, robots, round_ms=1000)
        n_sel = out.filter(F.col("selected")).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    assert "BroadcastExchange" in plan_g, plan_g
    assert "BroadcastExchange" in plan_b, plan_b
    # budget 1000/10=100 ≥ all queues → all pop
    assert n_sel == 40


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

    # a row that stays queued does not come back from the pop
    for h, (sel, rank) in want.items():
        assert got.get(h, (False, None))[0] == sel, f"selected mismatch for hash {h}"
    # exact-regime survivor ranks match where the oracle computed them
    for h, (sel, rank) in want.items():
        if rank is not None and sel:
            assert got[h][1] == rank, f"host_rank mismatch for hash {h}"


# ------------------------------------------------- differential oracle
# host → (rows, crawl_delay_ms or None for a host outside the dim,
# disallow_prefix).  Budgets at round_ms=1000: big 10 (ties on
# priority and discovered_ts), zero 1000 (delay 0 clamps to 1 ms),
# few 4 (its queue fits), slow 0 (delay above round_ms), walled fully
# blocked, part 3 with some rows blocked, nodim 1 (default delay).
_HOSTS = {
    "big.x": (60, 100, None),
    "zero.x": (5, 0, None),
    "few.x": (2, 250, None),
    "slow.x": (4, 5_000, None),
    "walled.x": (6, 100, "/"),
    "part.x": (10, 300, "/private"),
    "nodim.x": (8, None, None),
}
_ROUND_MS = 1_000
_SALTS = 8


def _oracle_frontier() -> pd.DataFrame:
    rows = []
    for host, (n, _, _) in _HOSTS.items():
        for i in range(n):
            path = f"/private/{i}" if host == "part.x" and i % 2 else f"/p{i}"
            rows.append(
                {
                    "url": f"https://{host}{path}",
                    "host": host,
                    # few distinct (priority, discovered_ts) pairs: ties
                    # are broken by url_hash, negative hashes included
                    "priority": float(i % 3),
                    "discovered_ts": datetime.datetime(2026, 1, 1, i % 2),
                    "url_hash": (len(rows) * 7_919 + 13) * (1 if i % 4 else -1),
                }
            )
    pdf = pd.DataFrame(rows)
    pdf["url_canon"] = pdf["url"]
    return pdf


def _oracle_pop(pdf: pd.DataFrame, exact_rank_max: int) -> dict:
    """url_hash → (selected, robots_blocked, host_rank) for every row
    that leaves the queue this round."""

    def budget_of(delay):
        return _ROUND_MS // max(1, P.DEFAULT_CRAWL_DELAY_MS if delay is None else delay)

    quota_regime = max(budget_of(d) for _, d, _ in _HOSTS.values()) > exact_rank_max
    want = {}
    for host, g in pdf.groupby("host"):
        _, delay, prefix = _HOSTS[host]
        budget = budget_of(delay)
        path = g["url_canon"].str.replace(f"https://{host}", "", regex=False)
        blocked = path.str.startswith(prefix) if prefix else pd.Series(False, g.index)
        for h in g.loc[blocked, "url_hash"]:
            want[h] = (False, True, None)
        cand = g[~blocked].sort_values(
            ["priority", "discovered_ts", "url_hash"], ascending=[False, True, True]
        )
        counted = quota_regime and budget > budget_of(None)
        if counted and len(cand) <= budget:
            for h in cand["url_hash"]:  # a counted queue that fits
                want[h] = (True, False, None)
        elif budget <= exact_rank_max:
            for rank, h in enumerate(cand["url_hash"][:budget], start=1):
                want[h] = (True, False, rank)
        else:  # quota regime: an even share of the budget per salt bucket
            taken = {s: 0 for s in range(_SALTS)}
            for h in cand["url_hash"]:
                s = h % _SALTS  # Python's % is already Spark's pmod
                taken[s] += 1
                quota = budget // _SALTS + (1 if s < budget % _SALTS else 0)
                if taken[s] <= quota:
                    want[h] = (True, False, None)
    return want


@pytest.mark.parametrize("exact_rank_max", [P.EXACT_RANK_MAX, 5])
@pytest.mark.parametrize("partitions", [2, 16])
def test_pop_round_matches_pandas_oracle(spark, partitions, exact_rank_max):
    """The pop returns exactly the round's rows, with the selected set,
    the robots-blocked set and host_rank of a per-host recomputation:
    with fewer input partitions than salt buckets and with more (one
    ranking Exchange either way), at the default exact_rank_max and
    with a quota regime: big.x splits its budget over its salt buckets,
    while zero.x and few.x, whose queues fit their budgets, pop them
    whole."""
    pdf = _oracle_frontier()
    frontier = spark.createDataFrame(pdf).repartition(partitions).localCheckpoint()
    robots = spark.createDataFrame(
        [(h, p, d) for h, (_, d, p) in _HOSTS.items() if d is not None], schema=DIM
    )
    popped = P.pop_round(
        frontier,
        robots,
        round_ms=_ROUND_MS,
        salt_buckets=_SALTS,
        exact_rank_max=exact_rank_max,
    )
    if exact_rank_max == P.EXACT_RANK_MAX:  # the plan before it runs: one shape
        assert _plan(popped).count("Exchange hashpartitioning") == 1
    got = {
        r["url_hash"]: (r["selected"], r["robots_blocked"], r["host_rank"])
        for r in popped.collect()
    }
    assert got == _oracle_pop(pdf, exact_rank_max)


# ------------------------------------------------------------ plan shape
def _small_frontier(spark):
    pdf = _oracle_frontier()
    return spark.createDataFrame(pdf).repartition(2).localCheckpoint()


@pytest.mark.parametrize(
    "delay_ms, round_ms",
    # bound 10; bound 5 000, above Spark's default windowGroupLimitThreshold
    [(100, _ROUND_MS), (1, 5_000)],
    ids=["bound10", "bound5000"],
)
def test_pop_plan_is_one_bounded_window_exchange(spark, delay_ms, round_ms):
    """Exact regime: the pop's plan has one Exchange, a map-side
    WindowGroupLimit below it, and no aggregate over the frontier."""
    robots = spark.createDataFrame([("big.x", None, delay_ms)], schema=DIM)
    plan = _plan(P.pop_round(_small_frontier(spark), robots, round_ms=round_ms))
    lines = plan.splitlines()
    exchanges = [i for i, l in enumerate(lines) if "Exchange hashpartitioning" in l]
    assert len(exchanges) == 1, plan
    below = "\n".join(lines[exchanges[0] + 1 :])
    assert "WindowGroupLimit" in below and "Partial" in below, plan
    assert "Aggregate" not in plan, plan


def test_pop_plan_quota_branch_only_when_dim_admits_it(spark):
    """The quota branch, with its host count, is planned only when the
    robots dim admits a budget above exact_rank_max — here through a
    dim row for a host the frontier does not even hold."""
    frontier = _small_frontier(spark)
    slow = [("big.x", None, 100)]
    fast = slow + [("absent.x", None, 10)]  # budget 100 > exact_rank_max
    plans = {
        name: _plan(
            P.pop_round(
                frontier,
                spark.createDataFrame(dim, schema=DIM),
                round_ms=_ROUND_MS,
                exact_rank_max=50,
            )
        )
        for name, dim in (("slow", slow), ("fast", fast))
    }
    assert "Aggregate" not in plans["slow"] and "Union" not in plans["slow"]
    assert "HashAggregate" in plans["fast"] and "Union" in plans["fast"]


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


# ---------------------------------------- robots.txt rules and backoff
def test_parse_robots_crawl_delay_zero_clamped():
    rules, delay = P.parse_robots_txt(
        "User-agent: *\nDisallow: /x\nCrawl-delay: 0\n", P.USER_AGENT
    )
    assert delay == 1  # 0 → 1 ms floor, never a zero divisor
    _, neg = P.parse_robots_txt("User-agent: *\nCrawl-delay: -3\n", P.USER_AGENT)
    assert neg == 1
    _, frac = P.parse_robots_txt("User-agent: *\nCrawl-delay: 0.0004\n", P.USER_AGENT)
    assert frac == 1


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


# -------------------------- lifted single-prefix dim vs startswith reference
# hostile pieces of a rule prefix or a url path: regex metacharacters,
# %-escapes, non-ASCII text.  A raw backslash or a '%' that starts no
# escape is not a legal URI path (parse_url raises on it under ANSI), so
# a path carries those escaped while a prefix carries them raw.
_PIECES = ["", "/", "*", "$", ".", "(", "%2F", "%E4%B8%AD", "中文", "ü", "a", "b/"]
_LONG = "/" + "x" * 2047  # a 2 KB prefix
_ILLEGAL_IN_PATH = re.compile(r"\\|%(?![0-9A-Fa-f]{2})")


def _hostile(rng, in_path: bool) -> str:
    pieces = _PIECES + (["%25", "%5C"] if in_path else ["%", "\\"])
    return "/" + "".join(rng.choice(pieces) for _ in range(rng.randint(0, 5)))


def test_lifted_single_prefix_dim_matches_startswith_reference(spark):
    """apply_robots over the ROBOTS single-prefix schema, which
    robots_dim lifts into one Disallow rule per host for _eval_rules,
    blocks exactly the rows that ``path.startswith(prefix)`` blocks, on
    seeded hostile prefixes and paths: empty, '/', regex
    metacharacters, %-escapes, non-ASCII text, a 2 KB string, a null
    prefix, a host outside the dim and a url whose parsed path is null.
    A rules table in the retired two-field (prefix, allow) shape is
    rejected."""
    import random

    rng = random.Random(9309)
    prefixes = ["", "/", "*", "$", ".", "(", "\\", "%", "/%E4", "/中", _LONG, None]
    prefixes += [_hostile(rng, in_path=False) for _ in range(20)]
    dim, rows = [], []
    for i, prefix in enumerate(prefixes):
        host = f"h{i}.x"
        dim.append((host, prefix, 100 + i))
        paths = [_hostile(rng, in_path=True) for _ in range(6)]
        paths += [_LONG, _LONG + "y", _LONG[:2000], "/中文/ü", "/a*$.("]
        if prefix and prefix.startswith("/"):
            # paths that start with the prefix, or with a cut of it
            cands = [prefix, prefix + _hostile(rng, in_path=True), prefix[:-1]]
            paths += [p for p in cands if p and not _ILLEGAL_IN_PATH.search(p)]
        rows += [(host, f"https://{host}{p}") for p in paths]
        rows.append((host, f"urn:{host}"))  # opaque: parsed path is null
    rows += [("nodim.x", "https://nodim.x/"), ("nodim.x", "https://nodim.x/p")]
    frontier = spark.createDataFrame(
        [(h, u, n) for n, (h, u) in enumerate(rows)],
        "host string, url_canon string, url_hash long",
    )
    robots = spark.createDataFrame(dim, schema=DIM)
    got = P.apply_robots(frontier, robots).select(
        "url_hash",
        F.parse_url("url_canon", F.lit("PATH")).alias("path"),
        "robots_blocked",
        "crawl_delay_ms",
    )
    by_host = {h: (p, d) for h, p, d in dim}
    verdicts = []
    for r in got.collect():
        host, _ = rows[r["url_hash"]]
        prefix, delay = by_host.get(host, (None, P.DEFAULT_CRAWL_DELAY_MS))
        path = r["path"]
        want = prefix is not None and path is not None and path.startswith(prefix)
        assert r["robots_blocked"] is want, (host, prefix, path)
        assert r["crawl_delay_ms"] == delay
        verdicts.append((path is None, want))
    assert len(verdicts) == len(rows)
    assert sum(null for null, _ in verdicts) == len(prefixes)  # the urn: rows
    assert {want for _, want in verdicts} == {True, False}

    two_field = spark.createDataFrame(
        [("h0.x", [("/p", False)], None)],
        "host string, rules array<struct<prefix:string,allow:boolean>>, "
        "crawl_delay_ms long",
    )
    with pytest.raises(ValueError, match="pattern"):
        P.apply_robots(frontier, two_field)
