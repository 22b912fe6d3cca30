"""Query catalog: every SURVEY.md §2 operator as a (Spark DataFrame
plan, DuckDB oracle SQL) pair over the driver testdata tables.

Conventions that make the driver's value-hash comparison deterministic:

* every computed column is aliased identically on both sides;
* big float SUMs go through ``CAST(x AS DECIMAL(18,6))`` so the
  aggregation is exact (double-sum reordering across engines would make
  any rounding flaky), then back to DOUBLE;
* per-row double arithmetic (IEEE, same inputs → same bits) is rounded
  only where accumulated over vectors (cosine → round 4);
* every top-k / row_number has a full tie-break;
* timestamps exit as formatted strings.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

Q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _dsum(col):
    """Exact cross-engine SUM of a double expression."""
    return F.sum(col.cast("decimal(18,6)")).cast("double")


def query(name: str, sql: str | None):
    def deco(fn):
        Q[name] = fn
        if sql is not None:
            ORACLE[name] = sql
        return fn

    return deco


# =====================================================================
# §2.4 aggregations — flagship TPC-H-Q1-style pricing summary
# =====================================================================
@query(
    "q01_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_qty,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01(spark, sf):
    li = _t(spark, sf, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum(F.col("l_quantity")).alias("sum_qty"),
            _dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "sum_disc_price"
            ),
            (_dsum(F.col("l_quantity")) / F.count("*")).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


# =====================================================================
# §2.3 joins — broadcast dim chain (corp_map analog)
# =====================================================================
@query(
    "q02_dim_join_revenue",
    """
    SELECT r.r_name, n.n_name,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_orders
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """,
)
def q02(spark, sf):
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")
    r = _t(spark, sf, "region")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            _dsum(F.col("o_totalprice")).alias("revenue"),
            F.count("*").alias("n_orders"),
        )
    )


# §2.3 left-semi (seed targeting, xbrl_batch_processor.py:466)
@query(
    "q03_semi_join_segments",
    """
    SELECT c_mktsegment, COUNT(*) AS n_customers
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c_mktsegment
    """,
)
def q03(spark, sf):
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
    )


# §2.3 left-anti (URL-seen analog)
@query(
    "q04_anti_join_idle_customers",
    """
    SELECT c_mktsegment, COUNT(*) AS n_idle
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c_mktsegment
    """,
)
def q04(spark, sf):
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_idle"))
    )


# =====================================================================
# §2.5 windows — per-corp top-5 (the crawl-ordering top-k,
# dart_api_manager.py:513) with explicit tie-breaks
# =====================================================================
@query(
    "q05_top5_per_customer",
    """
    SELECT o_custkey, o_orderkey, rn FROM (
      SELECT o_custkey, o_orderkey,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      FROM orders)
    WHERE rn <= 5
    """,
)
def q05(spark, sf):
    o = _t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("o_custkey", "o_orderkey", "rn")
    )


# §2.5 group-min window (order_no section-min, xbrl_processor.py:1050-1062)
@query(
    "q06_section_min",
    """
    SELECT DISTINCT l_orderkey,
           MIN(l_linenumber) OVER (PARTITION BY l_orderkey) AS section_min
    FROM lineitem
    """,
)
def q06(spark, sf):
    li = _t(spark, sf, "lineitem")
    w = Window.partitionBy("l_orderkey")
    return li.select(
        "l_orderkey", F.min("l_linenumber").over(w).alias("section_min")
    ).distinct()


# =====================================================================
# §2.7 set ops — union + dedup (pd.concat analog, xbrl_processor.py:1141)
# =====================================================================
@query(
    "q07_union_dedup",
    """
    SELECT event_type, COUNT(*) AS n FROM (
      SELECT event_id, event_type FROM events WHERE value > 50
      UNION
      SELECT event_id, event_type FROM events WHERE event_type IN ('click','view')
    ) GROUP BY event_type
    """,
)
def q07(spark, sf):
    e = _t(spark, sf, "events")
    a = e.filter(F.col("value") > 50).select("event_id", "event_type")
    b = e.filter(F.col("event_type").isin("click", "view")).select(
        "event_id", "event_type"
    )
    return a.unionByName(b).distinct().groupBy("event_type").agg(
        F.count("*").alias("n")
    )


# =====================================================================
# §2.8 scalar functions — lpad / regexp_extract (corp-code normalization,
# xbrl_processor.py:274, fixed_corp_map_lambda.py:83)
# =====================================================================
@query(
    "q08_code_normalize",
    """
    SELECT c_custkey,
           LPAD(CAST(c_custkey AS VARCHAR), 8, '0') AS corp_code,
           REGEXP_EXTRACT(c_name, '([0-9]+)', 1) AS name_num,
           SUBSTRING(LPAD(CAST(c_custkey AS VARCHAR), 8, '0'), 1, 4) AS code_prefix
    FROM customer
    """,
)
def q08(spark, sf):
    c = _t(spark, sf, "customer")
    code = F.lpad(F.col("c_custkey").cast("string"), 8, "0")
    return c.select(
        "c_custkey",
        code.alias("corp_code"),
        F.regexp_extract("c_name", "([0-9]+)", 1).alias("name_num"),
        F.substring(code, 1, 4).alias("code_prefix"),
    )


# §2.8 month-diff → 3개월/누적 (xbrl_processor.py:929-945)
@query(
    "q09_month_diff_label",
    """
    SELECT months, CASE WHEN months <= 3 THEN '3개월' ELSE '누적' END AS period_label,
           COUNT(*) AS n
    FROM (
      SELECT (1998 - YEAR(o_orderdate)) * 12 + (1 - MONTH(o_orderdate)) + 1 AS months
      FROM orders)
    GROUP BY months
    """,
)
def q09(spark, sf):
    o = _t(spark, sf, "orders")
    months = (
        (F.lit(1998) - F.year("o_orderdate")) * 12
        + (F.lit(1) - F.month("o_orderdate"))
        + 1
    )
    return (
        o.select(months.alias("months"))
        .groupBy("months")
        .agg(F.count("*").alias("n"))
        .withColumn(
            "period_label",
            F.when(F.col("months") <= 3, "3개월").otherwise("누적"),
        )
        .select("months", "period_label", "n")
    )


# §2.8 JSON payload (events.props; reference parses JSON at
# dart_api_manager.py:251)
@query(
    "q10_json_extract",
    """
    SELECT CAST(props->>'$.k' AS INT) % 10 AS k_bucket, COUNT(*) AS n
    FROM events GROUP BY k_bucket
    """,
)
def q10(spark, sf):
    e = _t(spark, sf, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        e.select((k % 10).alias("k_bucket"))
        .groupBy("k_bucket")
        .agg(F.count("*").alias("n"))
    )


# §2.4 value_counts head-10 (xbrl_processor.py:710-713) with tie-break
@query(
    "q11_value_counts",
    """
    SELECT event_type, COUNT(*) AS n FROM events
    GROUP BY event_type ORDER BY n DESC, event_type LIMIT 10
    """,
)
def q11(spark, sf):
    e = _t(spark, sf, "events")
    return (
        e.groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "event_type")
        .limit(10)
    )


# §2.4 distinct partition combos (s3_uploader.py:316)
@query(
    "q12_distinct_pairs",
    "SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders",
)
def q12(spark, sf):
    return _t(spark, sf, "orders").select("o_orderstatus", "o_orderpriority").distinct()


# §2.8 map lookup (report_type → report_name, xbrl_processor.py:843-849)
@query(
    "q13_map_lookup",
    """
    SELECT CASE o_orderstatus WHEN 'O' THEN '진행'
                              WHEN 'F' THEN '완료'
                              WHEN 'P' THEN '부분' ELSE '기타' END AS status_nm,
           COUNT(*) AS n
    FROM orders GROUP BY status_nm
    """,
)
def q13(spark, sf):
    o = _t(spark, sf, "orders")
    status_nm = (
        F.when(F.col("o_orderstatus") == "O", "진행")
        .when(F.col("o_orderstatus") == "F", "완료")
        .when(F.col("o_orderstatus") == "P", "부분")
        .otherwise("기타")
    )
    return (
        o.select(status_nm.alias("status_nm"))
        .groupBy("status_nm")
        .agg(F.count("*").alias("n"))
    )


# §2.8 conditional rewrite chain (총계-strip analog, xbrl_processor.py:820-839)
@query(
    "q14_conditional_rewrite",
    """
    SELECT CASE WHEN p_type LIKE '%BRASS%' THEN REPLACE(p_type, 'BRASS', '황동')
                WHEN p_type LIKE '%COPPER%' THEN REPLACE(p_type, 'COPPER', '구리')
                ELSE p_type END AS p_type_kr,
           COUNT(*) AS n
    FROM part GROUP BY p_type_kr
    """,
)
def q14(spark, sf):
    p = _t(spark, sf, "part")
    rewritten = (
        F.when(
            F.col("p_type").contains("BRASS"),
            F.regexp_replace("p_type", "BRASS", "황동"),
        )
        .when(
            F.col("p_type").contains("COPPER"),
            F.regexp_replace("p_type", "COPPER", "구리"),
        )
        .otherwise(F.col("p_type"))
    )
    return (
        p.select(rewritten.alias("p_type_kr"))
        .groupBy("p_type_kr")
        .agg(F.count("*").alias("n"))
    )


# §2.8 date formatting (YYYYMMDD → ISO, xbrl_processor.py:427)
@query(
    "q15_date_format",
    """
    SELECT strftime(o_orderdate, '%Y-%m') AS year_mm, COUNT(*) AS n
    FROM orders GROUP BY year_mm
    """,
)
def q15(spark, sf):
    o = _t(spark, sf, "orders")
    return (
        o.select(F.date_format("o_orderdate", "yyyy-MM").alias("year_mm"))
        .groupBy("year_mm")
        .agg(F.count("*").alias("n"))
    )


# §2.2 periodic-report rlike filter (dart_api_manager.py:298-326 analog)
@query(
    "q16_regex_filter",
    """
    SELECT o_orderpriority,
           REGEXP_EXTRACT(o_orderpriority, '([0-9])-', 1) AS prio_num,
           COUNT(*) AS n
    FROM orders
    WHERE REGEXP_MATCHES(o_orderpriority, '(URGENT|HIGH)')
    GROUP BY o_orderpriority, prio_num
    """,
)
def q16(spark, sf):
    o = _t(spark, sf, "orders")
    return (
        o.filter(F.col("o_orderpriority").rlike("(URGENT|HIGH)"))
        .groupBy(
            "o_orderpriority",
            F.regexp_extract("o_orderpriority", "([0-9])-", 1).alias("prio_num"),
        )
        .agg(F.count("*").alias("n"))
    )


# §2.5 targeted order_no reassignment (자산총계 → 0, xbrl_processor.py:1044-1048)
@query(
    "q17_order_reassign",
    """
    SELECT l_orderkey, l_linenumber,
           CASE WHEN l_returnflag = 'R' THEN 0 ELSE l_linenumber END AS order_no
    FROM lineitem WHERE l_orderkey % 100 = 0
    """,
)
def q17(spark, sf):
    li = _t(spark, sf, "lineitem")
    return li.filter(F.col("l_orderkey") % 100 == 0).select(
        "l_orderkey",
        "l_linenumber",
        F.when(F.col("l_returnflag") == "R", 0)
        .otherwise(F.col("l_linenumber"))
        .alias("order_no"),
    )


# §2.4 countDistinct (approx_count_distinct's exact twin for the oracle)
@query(
    "q18_distinct_counts",
    """
    SELECT n.n_name,
           COUNT(DISTINCT o.o_custkey) AS n_active_customers,
           COUNT(*) AS n_orders
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def q18(spark, sf):
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.countDistinct("o_custkey").alias("n_active_customers"),
            F.count("*").alias("n_orders"),
        )
    )


# §2.9 time-window aggregation (streaming windowed agg, batch twin)
@query(
    "q19_time_window",
    """
    SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H') AS hour_bucket,
           event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events GROUP BY hour_bucket, event_type
    """,
)
def q19(spark, sf):
    e = _t(spark, sf, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            _dsum(F.col("value")).alias("total_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH").alias("hour_bucket"),
            "event_type",
            "n",
            "total_value",
        )
    )


# =====================================================================
# crawl-shaped operators over testdata-derived URLs
# =====================================================================
# §2.8 URL canonicalization (SQL-expressible core: lowercase + fragment
# strip; the full sorted-params UDF is pytest-covered)
@query(
    "q20_url_canon_dedup",
    """
    SELECT REGEXP_EXTRACT(canon, 'https://([^/]+)/', 1) AS host,
           COUNT(DISTINCT canon) AS n_unique_urls, COUNT(*) AS n_urls
    FROM (
      SELECT LOWER(REGEXP_REPLACE(
               'https://HOST' || CAST(o_custkey % 7 AS VARCHAR) ||
               '.EXAMPLE/order/' || CAST(o_orderkey AS VARCHAR) ||
               CASE WHEN o_orderkey % 3 = 0 THEN '#frag' ELSE '' END,
               '#.*$', '')) AS canon
      FROM orders)
    GROUP BY host
    """,
)
def q20(spark, sf):
    o = _t(spark, sf, "orders")
    url = F.concat(
        F.lit("https://HOST"),
        (F.col("o_custkey") % 7).cast("string"),
        F.lit(".EXAMPLE/order/"),
        F.col("o_orderkey").cast("string"),
        F.when(F.col("o_orderkey") % 3 == 0, "#frag").otherwise(""),
    )
    canon = F.lower(F.regexp_replace(url, "#.*$", ""))
    return (
        o.select(canon.alias("canon"))
        .groupBy(F.regexp_extract("canon", "https://([^/]+)/", 1).alias("host"))
        .agg(
            F.countDistinct("canon").alias("n_unique_urls"),
            F.count("*").alias("n_urls"),
        )
    )


# politeness budget top-k per host (salted-queue semantics, SQL twin)
@query(
    "q21_host_budget_topk",
    """
    SELECT host, event_id, host_rank FROM (
      SELECT 'h' || CAST(user_id % 20 AS VARCHAR) AS host, event_id,
             ROW_NUMBER() OVER (PARTITION BY user_id % 20
                                ORDER BY ts DESC, event_id DESC) AS host_rank
      FROM events)
    WHERE host_rank <= 5
    """,
)
def q21(spark, sf):
    e = _t(spark, sf, "events")
    w = Window.partitionBy(F.col("user_id") % 20).orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        e.withColumn("host_rank", F.row_number().over(w))
        .filter(F.col("host_rank") <= 5)
        .select(
            F.concat(F.lit("h"), (F.col("user_id") % 20).cast("string")).alias(
                "host"
            ),
            "event_id",
            "host_rank",
        )
    )


# URL-seen anti-join over derived urls (frontier − seen)
@query(
    "q22_seen_antijoin",
    """
    WITH urls AS (
      SELECT DISTINCT 'https://h' || CAST(o_custkey % 50 AS VARCHAR) ||
             '.ex/c/' || CAST(o_custkey AS VARCHAR) AS url,
             'h' || CAST(o_custkey % 50 AS VARCHAR) AS host,
             o_custkey
      FROM orders),
    seen AS (
      SELECT DISTINCT o_custkey FROM orders
      WHERE o_orderdate < TIMESTAMP '1996-01-01 00:00:00')
    SELECT host, COUNT(*) AS n_new
    FROM urls WHERE o_custkey NOT IN (SELECT o_custkey FROM seen)
    GROUP BY host
    """,
)
def q22(spark, sf):
    o = _t(spark, sf, "orders")
    urls = o.select(
        F.concat(
            F.lit("https://h"),
            (F.col("o_custkey") % 50).cast("string"),
            F.lit(".ex/c/"),
            F.col("o_custkey").cast("string"),
        ).alias("url"),
        F.concat(F.lit("h"), (F.col("o_custkey") % 50).cast("string")).alias("host"),
        "o_custkey",
    ).distinct()
    seen = (
        o.filter(F.col("o_orderdate") < F.lit("1996-01-01 00:00:00").cast("timestamp"))
        .select("o_custkey")
        .distinct()
    )
    return (
        urls.join(seen, "o_custkey", "left_anti")
        .groupBy("host")
        .agg(F.count("*").alias("n_new"))
    )


# two-level salted aggregation (skew pattern) — algebra check: equals
# the direct per-host counts
@query(
    "q23_salted_agg",
    """
    SELECT host, CAST(SUM(n) AS BIGINT) AS n_events,
           CAST(SUM(v) AS DOUBLE) AS total_value
    FROM (
      SELECT CASE WHEN event_id % 10 < 6 THEN 'giant.host'
                  ELSE 'h' || CAST(user_id % 5 AS VARCHAR) END AS host,
             event_id % 8 AS salt, COUNT(*) AS n,
             SUM(CAST(value AS DECIMAL(18,6))) AS v
      FROM events GROUP BY host, salt)
    GROUP BY host
    """,
)
def q23(spark, sf):
    # decimal end-to-end through both aggregation levels (exact on both
    # engines); ONE double cast at the very end — re-rounding a double
    # through decimal twice has engine-specific tie behavior.
    e = _t(spark, sf, "events")
    host = F.when(F.col("event_id") % 10 < 6, "giant.host").otherwise(
        F.concat(F.lit("h"), (F.col("user_id") % 5).cast("string"))
    )
    partial = (
        e.select(host.alias("host"), (F.col("event_id") % 8).alias("salt"), "value")
        .groupBy("host", "salt")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("v"),
        )
    )
    return partial.groupBy("host").agg(
        F.sum("n").alias("n_events"),
        F.sum("v").cast("double").alias("total_value"),
    )


# robots.txt REP evaluation (multi-rule, longest-match, Allow wins
# ties) against a DuckDB window-function oracle — value-level evidence
# for the rules matcher in operators/politeness.py
@query(
    "q44_robots_eval",
    """
    WITH urls AS (
      SELECT DISTINCT 'h' || CAST(o_custkey % 5 AS VARCHAR) AS host,
             '/p' || CAST(o_custkey % 4 AS VARCHAR) || '/'
                  || CAST(o_custkey AS VARCHAR) AS path
      FROM orders),
    rules(host, prefix, allow) AS (VALUES
      ('h0', '/p1', FALSE), ('h0', '/p1/1', TRUE), ('h0', '/p3', FALSE),
      ('h1', '/', FALSE),
      ('h2', '/p2', FALSE), ('h2', '/p2/', TRUE)),
    m AS (
      SELECT u.host, u.path, r.prefix, r.allow
      FROM urls u LEFT JOIN rules r
        ON u.host = r.host AND starts_with(u.path, r.prefix)),
    best AS (
      SELECT host, path, allow,
             ROW_NUMBER() OVER (
               PARTITION BY host, path
               ORDER BY (prefix IS NULL) ASC, length(prefix) DESC,
                        allow DESC) AS rk
      FROM m),
    verdict AS (
      SELECT host, CASE WHEN allow IS NULL THEN FALSE ELSE NOT allow END
               AS blocked
      FROM best WHERE rk = 1)
    SELECT host, blocked, COUNT(*) AS n
    FROM verdict GROUP BY host, blocked
    """,
)
def q44(spark, sf):
    # Catalyst-split canonicalizer: the urls here are cheap to rescan
    # (distinct over a generated projection), which is exactly the
    # shape with_url_canon_split is for — the common-form rows never
    # cross the python boundary (measured 5.7 s → 2.9 s first-run at
    # 32 cores; value-identity pinned by the DuckDB parity gate)
    from ..functions.urls import with_url_canon_split as with_url_canon
    from ..operators.politeness import ROBOTS_RULES_SCHEMA, apply_robots

    o = _t(spark, sf, "orders")
    urls = o.select(
        F.concat(
            F.lit("https://h"), (F.col("o_custkey") % 5).cast("string"),
            F.lit(".ex/p"), (F.col("o_custkey") % 4).cast("string"),
            F.lit("/"), F.col("o_custkey").cast("string"),
        ).alias("url")
    ).distinct()
    rules = spark.createDataFrame(
        [
            (host, [(p, None, allow, len(p)) for p, allow in rs], None)
            for host, rs in (
                ("h0.ex", [("/p1", False), ("/p1/1", True), ("/p3", False)]),
                ("h1.ex", [("/", False)]),
                ("h2.ex", [("/p2", False), ("/p2/", True)]),
            )
        ],
        schema=ROBOTS_RULES_SCHEMA,
    )
    frontier = with_url_canon(urls)
    out = apply_robots(frontier, rules)
    return (
        out.select(
            F.regexp_replace("host", r"\.ex$", "").alias("host"),
            F.col("robots_blocked").alias("blocked"),
        )
        .groupBy("host", "blocked")
        .agg(F.count("*").alias("n"))
    )
