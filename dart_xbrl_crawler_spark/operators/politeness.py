"""Politeness scheduler: robots gating + per-host budgets as a window
top-k, with explicit salting for giant hosts.

Reference analog: a global 60 ms sleep (dart_api_manager.py:44-46,
199-205) and a 0.1 s inter-download pause (dart_api_manager.py:538) —
wall-clock throttling in one process.  Distributed, the budget becomes
*data*: each crawl round grants every host
``round_ms / crawl_delay_ms`` fetch slots; candidate URLs rank within
their host (priority desc, discovered_ts, url_hash — explicit
tie-breaks) and only ``rank <= budget`` rows are popped.  The pop
returns only the rows that leave the queue this round (selected or
robots-blocked); ``host_rank`` is a selected row's rank in its host's
queue.

Skew: one giant host (dart.fss.or.kr, ≥60% of the frontier) would pin
one task.  The ranking is bounded by a literal (the largest budget the
robots dim admits), so each input partition ships at most that many
rows per host to the host's ranking task.  The *fetch work* is salted:
``salt = pmod(url_hash, S)`` and a ``repartition(host, salt)`` spreads
the giant host over S tasks; the quota regime (a budget above
``EXACT_RANK_MAX``) ranks per (host, salt) bucket.  AQE skew-join
handles residual imbalance (session.py enables it).
"""

from __future__ import annotations

import math
import re

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_CRAWL_DELAY_MS = 1000
# pop_round ranks a host's queue exactly up to this budget; get_spark
# raises Spark's windowGroupLimitThreshold to it, so a rank bound this
# large still plants the map-side WindowGroupLimit
EXACT_RANK_MAX = 100_000
# the product token robots.txt groups are matched against
USER_AGENT = "dart-xbrl-crawler"
# adaptive backoff never slows a host by more than this factor
_BACKOFF_MAX_MULTIPLIER = 16.0

# ---------------------------------------------------------------------
# robots.txt parsing (REP, RFC 9309): user-agent groups, multiple
# Allow/Disallow lines, longest-path-match precedence (Allow wins ties),
# crawl-delay.  The reference has no robots handling at all — its
# analog is the hard-coded report-name filter + global sleep
# (dart_api_manager.py:298-326, 44-46).
# ---------------------------------------------------------------------

# The one robots dim inside the engine: per host, its rules and crawl
# delay.  Each rule carries the literal prefix up to the first wildcard
# (cheap Catalyst prefilter), an anchored Java regex when the raw rule
# used RFC 9309 '*'/'$' special characters (null otherwise — the common
# case never pays a regex), and the raw rule's length for
# most-specific-match precedence.  robots_dim lifts every accepted
# robots input into it.
ROBOTS_RULES_SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField(
            "rules",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("prefix", T.StringType(), False),
                        T.StructField("pattern", T.StringType(), True),
                        T.StructField("allow", T.BooleanType(), False),
                        T.StructField("rlen", T.IntegerType(), False),
                    ]
                )
            ),
            True,
        ),
        T.StructField("crawl_delay_ms", T.LongType(), True),
    ]
)


def _rule_to_match(path_rule: str) -> tuple[str, str | None]:
    """RFC 9309 rule path → (literal_prefix, anchored_regex|None).

    '*' matches any run of octets; a TRAILING '$' anchors the end of the
    path ('$' anywhere else is a literal).  Rules without either special
    character return (rule, None) and match by plain prefix."""
    if "*" not in path_rule and not path_rule.endswith("$"):
        return path_rule, None
    end_anchor = path_rule.endswith("$")
    body = path_rule[:-1] if end_anchor else path_rule
    parts = body.split("*")
    regex = "^" + ".*".join(re.escape(p) for p in parts)
    if end_anchor:
        regex += "$"
    return parts[0], regex


def parse_robots_txt(
    text: str, user_agent: str
) -> tuple[list[tuple[str, bool]], int | None]:
    """robots.txt body → ([(path_prefix, allow)], crawl_delay_ms|None).

    Group selection per RFC 9309 §2.2.1: the group whose user-agent
    token is the LONGEST match for our product token wins; ``*`` is the
    fallback.  Empty Disallow means allow-all (dropped).  Crawl-delay
    is read from the chosen group (de-facto extension, seconds)."""
    ua = user_agent.lower()
    groups: list[tuple[list[str], list[tuple[str, bool]], float | None]] = []
    cur_agents: list[str] = []
    cur_rules: list[tuple[str, bool]] = []
    cur_delay: float | None = None
    in_group_body = False

    def flush():
        nonlocal cur_agents, cur_rules, cur_delay, in_group_body
        if cur_agents:
            groups.append((cur_agents, cur_rules, cur_delay))
        cur_agents, cur_rules, cur_delay = [], [], None
        in_group_body = False

    for raw_line in text.splitlines():
        line = raw_line.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        field, _, value = line.partition(":")
        field = field.strip().lower()
        value = value.strip()
        if field == "user-agent":
            if in_group_body:
                flush()
            cur_agents.append(value.lower())
        elif field in ("allow", "disallow"):
            in_group_body = True
            if value:  # empty Disallow = allow everything = no rule
                cur_rules.append((value, field == "allow"))
        elif field == "crawl-delay":
            in_group_body = True
            try:
                cur_delay = float(value)
            except ValueError:
                pass
    flush()

    best: tuple[int, list[tuple[str, bool]], float | None] | None = None
    for agents, rules, delay in groups:
        for a in agents:
            if a == "*":
                score = 0
            elif a in ua:
                score = len(a)
            else:
                continue
            if best is None or score > best[0]:
                best = (score, rules, delay)
    if best is None:
        return [], None
    # Clamp to ≥1 ms: 'Crawl-delay: 0' (or negative) means "no delay
    # requested", NOT "divide the round budget by zero" — an unclamped 0
    # crashes the budget division under ANSI mode and silently starves
    # the host under non-ANSI (null budget passes no branch filter).
    delay_ms = max(1, int(best[2] * 1000)) if best[2] is not None else None
    return best[1], delay_ms


def robots_rules_from_txt(robots_txt: DataFrame) -> DataFrame:
    """(host, robots_txt) → the ROBOTS_RULES_SCHEMA dim, from the groups
    for ``USER_AGENT``: each rule as its literal prefix, an anchored
    regex for '*'/'$' rules and the raw rule's length for precedence.
    robots_dim calls it for robots.txt bodies.  Tiny-dim path: parsing
    runs in a pandas UDF batch; the result is broadcast by
    apply_robots."""
    import pandas as pd

    def parse(it):
        for pdf in it:
            hosts, rules_col, delays = [], [], []
            for host, txt in zip(pdf["host"], pdf["robots_txt"]):
                rules, delay = parse_robots_txt(txt or "", USER_AGENT)
                hosts.append(host)
                structs = []
                for p, a in rules:
                    prefix, pattern = _rule_to_match(p)
                    structs.append(
                        {
                            "prefix": prefix,
                            "pattern": pattern,
                            "allow": a,
                            "rlen": len(p),
                        }
                    )
                rules_col.append(structs)
                delays.append(delay)
            yield pd.DataFrame(
                {"host": hosts, "rules": rules_col, "crawl_delay_ms": delays}
            )

    return robots_txt.mapInPandas(parse, schema=ROBOTS_RULES_SCHEMA)


def _eval_rules(path):
    """Longest-match REP evaluation as ONE Catalyst expression over the
    broadcast rules array — no row multiplication, no UDF.  Struct
    max-ordering on (rule_length, allow) makes Allow win exact-length
    ties, per Google/RFC-9309 semantics.  The literal prefix prefilters
    cheap, the regex (only present for '*'/'$' rules) decides wildcard
    rules.  No rules, or none matching, is False."""
    matched = F.filter(
        F.col("rules"),
        lambda r: path.startswith(r["prefix"])
        & (r["pattern"].isNull() | F.regexp_like(path, r["pattern"])),
    )
    best = F.array_max(
        F.transform(
            matched,
            lambda r: F.struct(r["rlen"].alias("l"), r["allow"].alias("allow")),
        )
    )
    return F.when(best.isNotNull(), ~best["allow"]).otherwise(F.lit(False))


def robots_dim(robots: DataFrame) -> DataFrame:
    """Lift a robots input into the ROBOTS_RULES_SCHEMA dim, the one
    shape apply_robots, apply_backoff and pop_round evaluate:

      * robots.txt bodies (host, robots_txt) are parsed by
        robots_rules_from_txt (RFC 9309 '*'/'$' wildcards, longest
        match, crawl-delay);
      * the ROBOTS single-prefix schema (host, disallow_prefix,
        crawl_delay_ms) of fixtures, perfbench and the driver contract:
        a prefix becomes one Disallow rule with a null pattern, a null
        prefix null rules;
      * a table already in the rules shape passes through.

    A projection: it starts no job.  A rules column whose structs lack
    ``pattern`` or ``rlen`` raises ValueError."""
    if "robots_txt" in robots.columns:
        return robots_rules_from_txt(robots)
    if "rules" in robots.columns:
        element = getattr(robots.schema["rules"].dataType, "elementType", None)
        if not {"pattern", "rlen"} <= set(getattr(element, "names", ())):
            raise ValueError(
                "robots rules must be "
                f"{ROBOTS_RULES_SCHEMA.simpleString()}, got "
                f"{robots.schema.simpleString()}"
            )
        return robots.select("host", "rules", "crawl_delay_ms")
    prefix = F.col("disallow_prefix")
    rule = F.struct(
        prefix.alias("prefix"),
        F.lit(None).cast("string").alias("pattern"),
        F.lit(False).alias("allow"),
        F.length(prefix).alias("rlen"),
    )
    return robots.select(
        "host",
        F.when(prefix.isNotNull(), F.array(rule)).alias("rules"),
        "crawl_delay_ms",
    )


def apply_robots(frontier: DataFrame, robots: DataFrame) -> DataFrame:
    """Mark rows blocked by robots rules; adds ``robots_blocked`` and
    ``crawl_delay_ms``.  ``robots`` is any input robots_dim lifts:
    robots.txt bodies, the ROBOTS single-prefix schema or a
    ROBOTS_RULES_SCHEMA table; one evaluator applies full RFC 9309
    longest-match semantics to all of them.  The join broadcasts the
    dim: one row per host, orders of magnitude smaller than the
    frontier (a dim too big to broadcast would need a cardinality
    gate).  A host outside the dim is allowed, at the default delay."""
    path = F.parse_url(F.col("url_canon"), F.lit("PATH"))
    joined = frontier.join(F.broadcast(robots_dim(robots)), "host", "left")
    return (
        joined.withColumn("robots_blocked", _eval_rules(path))
        .withColumn(
            "crawl_delay_ms",
            F.coalesce("crawl_delay_ms", F.lit(DEFAULT_CRAWL_DELAY_MS)),
        )
        .drop("rules")
    )


def apply_backoff(
    robots: DataFrame, host_stats: DataFrame, factor: float = 4.0
) -> DataFrame:
    """Adaptive politeness: scale each host's crawl delay by its
    observed failure rate — delay × (1 + factor·fail_rate), capped.
    A host erroring on every fetch ends up factor+1× slower; a clean
    host keeps its robots/default delay exactly.  host_stats comes from
    FrontierStore.host_stats (the per-host metrics chain — never a
    frontier scan); the reference has no analog (its single loop simply
    sleeps a constant).  Returns the robots input lifted by robots_dim,
    with adjusted crawl_delay_ms, so it drops into pop_round unchanged.

    Failing hosts OUTSIDE the robots dim (newly discovered hosts get
    the default delay without a robots row) are appended with null
    rules and delay (base_delay reads it as the default), so backoff
    covers every observed host — a left join into robots alone would
    silently exempt them.  Both legs broadcast: a full-outer join can't
    broadcast-hash, so this is left-join + anti-join-union instead."""
    robots = robots_dim(robots)
    stats = host_stats.select("host", "fail_rate")
    mult = F.least(
        F.lit(1.0) + F.lit(factor) * F.coalesce("fail_rate", F.lit(0.0)),
        F.lit(_BACKOFF_MAX_MULTIPLIER),
    )
    base_delay = F.coalesce(
        F.col("crawl_delay_ms"), F.lit(DEFAULT_CRAWL_DELAY_MS)
    )
    known = robots.join(F.broadcast(stats), "host", "left")
    missing = stats.join(
        F.broadcast(robots.select("host")), "host", "left_anti"
    ).select(
        "host",
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in ROBOTS_RULES_SCHEMA[1:]],
        "fail_rate",
    )
    return (
        known.unionByName(missing)
        .withColumn("crawl_delay_ms", F.ceil(base_delay * mult).cast("long"))
        .drop("fail_rate")
    )


def pop_round(
    frontier: DataFrame,
    robots: DataFrame,
    round_ms: int = 60_000,
    salt_buckets: int = 32,
    exact_rank_max: int = EXACT_RANK_MAX,
) -> DataFrame:
    """Select this round's fetch set.

    Returns only the rows that leave the queue this round: the selected
    rows and the robots-blocked ones, each with the frontier columns +
    ``robots_blocked`` + ``crawl_delay_ms`` + ``partition_salt`` +
    ``selected`` + ``host_rank``, so the caller can transition states
    (selected → fetch; robots_blocked → terminal) and repartition by
    (host, partition_salt) for the fetch stage.  A row that stays
    queued does not come back.

    ``host_rank`` is a selected row's rank in its host's queue (priority
    desc, discovered_ts, url_hash), 1 for the host's first pop.  It is
    null on robots-blocked rows, and on the rows the quota regime below
    selects without a host-wide rank.

    One scan, one broadcast of the dim, one ``row_number`` window per
    host bounded by a literal: K, the largest budget the dim admits,
    caps every host's budget, so ``rank ≤ K`` lets Spark plant a
    map-side WindowGroupLimit before the one Exchange and at most K
    rows per host and input partition are shuffled.  A host's ranking
    task gets at most K times the input partitions.  No salted
    (host, partition_salt) pre-ranking runs: on a 128-partition,
    4 M-row frontier and on rounds over pending deltas it cost more
    CPU than the one Exchange it would bound (see CHANGES.md).

    Quota regime, planned only when K exceeds ``exact_rank_max``:
    ranking a queue that large host-wide would funnel it into one task,
    and a politeness budget of that magnitude is a capacity bound, not
    an ordering contract.  The candidates of the hosts whose budget is
    above the default's are counted (dim hosts only, a broadcast-sized
    set); a counted host whose queue fits its budget pops it whole,
    unranked.  A host whose budget exceeds ``exact_rank_max`` and whose
    queue does not fit splits its budget over its salt buckets
    (⌊budget/S⌋ each, one more for buckets < budget % S), each popping
    its top rows by bucket rank; with hash-uniform salting that is the
    whole budget, and never more.  Every other host is ranked as above.
    """
    robots = robots_dim(robots)
    gated = apply_robots(frontier, robots).withColumn(
        "partition_salt",
        F.pmod(F.col("url_hash"), F.lit(salt_buckets)).cast("int"),
    )
    # ≥1 ms guard: a rules dim built outside parse_robots_txt may carry
    # crawl_delay_ms=0 ("no delay requested") — clamp instead of ANSI
    # DIVIDE_BY_ZERO / a silent null budget that starves the host.
    budget = F.floor(
        F.lit(round_ms) / F.greatest(F.lit(1), F.col("crawl_delay_ms"))
    )
    gated = gated.withColumn("_budget", budget)
    cols = [c for c in gated.columns if c != "_budget"]
    blocked = F.col("robots_blocked")
    order = [
        F.col("priority").desc(),
        F.col("discovered_ts").asc(),
        F.col("url_hash").asc(),
    ]

    k = _max_budget(robots, round_ms)
    # a robots-blocked row ranks alone in its window partition (url_hash
    # is the frontier's key), so the bound passes it through unranked
    alone = F.when(blocked, F.col("url_hash"))
    bound = F.col("_rn") <= F.lit(max(1, min(k, exact_rank_max)))
    fits = blocked | (F.col("_rn") <= F.col("_budget"))

    def ranked(df: DataFrame) -> DataFrame:
        w = Window.partitionBy("host", alone).orderBy(*order)
        ranks = df.withColumn("_rn", F.row_number().over(w))
        return ranks.filter(bound & fits).select(
            *cols,
            (~blocked).alias("selected"),
            F.when(~blocked, F.col("_rn")).cast("int").alias("host_rank"),
        )

    if k <= exact_rank_max:
        return ranked(gated)

    # quota regime: count the queues of the hosts whose budget is above
    # the default's.  Only dim hosts have one, so unless the default
    # budget is itself above exact_rank_max (then every host is counted)
    # the counts are a broadcast-sized set that covers every quota host.
    cand = gated.filter(~blocked)
    default_budget = _budget_of(round_ms, DEFAULT_CRAWL_DELAY_MS)
    dim_only = default_budget <= exact_rank_max
    if dim_only:
        cand = cand.filter(F.col("_budget") > F.lit(default_budget))
    counts = cand.groupBy("host").agg(F.count("*").alias("_n"))
    counted = gated.join(F.broadcast(counts) if dim_only else counts, "host", "left")
    whole = F.coalesce(F.col("_n") <= F.col("_budget"), F.lit(False))
    quota_mode = F.col("_budget") > F.lit(exact_rank_max)
    unranked = [
        F.lit(True).alias("selected"),
        F.lit(None).cast("int").alias("host_rank"),
    ]
    whole_rows = counted.filter(~blocked & whole).select(*cols, *unranked)
    s = F.lit(salt_buckets)
    quota = F.floor(F.col("_budget") / s) + F.when(
        F.col("partition_salt") < F.pmod(F.col("_budget"), s), F.lit(1)
    ).otherwise(F.lit(0))
    w1 = Window.partitionBy("host", "partition_salt").orderBy(*order)
    quota_rows = (
        counted.filter(~blocked & ~whole & quota_mode)
        .withColumn("_rn", F.row_number().over(w1))
        .filter(F.col("_rn") <= quota)
        .select(*cols, *unranked)
    )
    return (
        ranked(counted.filter(blocked | ~(whole | quota_mode)))
        .unionByName(whole_rows)
        .unionByName(quota_rows)
    )


def _budget_of(round_ms: int, crawl_delay_ms: int) -> int:
    """A host's round budget, as pop_round's ``_budget`` column computes it."""
    return math.floor(round_ms / max(1, crawl_delay_ms))


def _max_budget(robots: DataFrame, round_ms: int) -> int:
    """The largest budget the dim admits; a host outside it, or a dim
    row without a delay, gets the default delay.  One aggregate in one
    task (the dim is broadcast-sized; one partition needs no Exchange,
    so it is one job): only the dim's smallest delay reaches the driver."""
    (least,) = robots.coalesce(1).agg(F.min("crawl_delay_ms")).first()
    if least is None or least > DEFAULT_CRAWL_DELAY_MS:
        least = DEFAULT_CRAWL_DELAY_MS
    return _budget_of(round_ms, least)


def fetch_partitioning(
    selected: DataFrame,
    n_partitions: int | None = None,
    target_rows_per_task: int = 5_000,
) -> DataFrame:
    """Spread the selected set for the fetch stage: co-locate by host
    for connection reuse, salt so a giant host spans many tasks.

    ``n_partitions=None`` (the default) derives the task count from the
    selected set itself — ceil(|selected| / target_rows_per_task),
    floored at the session's default parallelism — so a 10× larger
    politeness budget gets proportionally more fetch tasks without the
    caller re-tuning a constant.  The count is an aggregation over the
    pop's already-persisted output, never a second frontier scan."""
    return selected.repartition(
        fetch_width(selected, n_partitions, target_rows_per_task),
        "host", "partition_salt",
    )


def fetch_width(
    selected: DataFrame,
    n_partitions: int | None = None,
    target_rows_per_task: int = 5_000,
) -> int:
    """The fetch stage's task count (see fetch_partitioning):
    ``n_partitions`` when given, else one ``count`` of ``selected``."""
    if n_partitions is not None:
        return n_partitions
    n = selected.count()
    return max(
        -(-n // target_rows_per_task),
        selected.sparkSession.sparkContext.defaultParallelism,
    )
