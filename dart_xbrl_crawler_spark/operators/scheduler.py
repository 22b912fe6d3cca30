"""Crawl-ordering reproduction: the reference's sequential visit order
as a deterministic Spark plan.

The reference loops corps in list order, pulls each corp's disclosure
list sorted ``date desc`` (page 1, ≤100 rows), and takes the first 5
(/root/reference/dart_api_manager.py:491-540,241-243,513).  That whole
control flow collapses into: filter periodic → per-corp top-k window →
global sort key (corp first-appearance rank, date desc, rcept_no desc).

The visit sequence must equal oracle.sequential_schedule on the same
seed list — that is the north_rule crawl-ordering test.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

def periodic_pred():
    """Periodic-report frontier filter (dart_api_manager.py:298-326):
    name carries a periodic kind AND a '(YYYY.MM)' tag.  Lazy — Column
    construction needs an active session."""
    return F.col("report_nm").rlike("(반기보고서|분기보고서|사업보고서)") & F.col(
        "report_nm"
    ).rlike(r"\((\d{4})\.(\d{2})\)")


_RANK_BUCKET = 1 << 14  # corps per cumsum bucket
# the reference takes the first 5 disclosures of each corp's page 1
# (≤100 rows, dart_api_manager.py:241-243,513)
_PER_CORP_CAP = 5


def date_window(
    run_ts: str,
    months_back: int | None = None,
    bgn_de: str | None = None,
    end_de: str | None = None,
) -> tuple[str, str] | None:
    """The reference's crawl date-window (dart_api_manager.py:220-232):
    explicit bgn/end when BOTH are given; otherwise ``months_back * 30``
    DAYS (the reference's exact arithmetic — timedelta(days=m*30), not
    calendar months) back from the injected run_ts — never wall-clock.
    Returns (bgn_de, end_de) as YYYYMMDD strings, or None for no window."""
    if bgn_de and str(bgn_de).strip() and end_de and str(end_de).strip():
        return str(bgn_de).strip(), str(end_de).strip()
    if months_back is None:
        return None
    from datetime import datetime, timedelta

    end = datetime.strptime(run_ts[:10], "%Y-%m-%d")
    start = end - timedelta(days=months_back * 30)
    return start.strftime("%Y%m%d"), end.strftime("%Y%m%d")


def reference_schedule(
    seeds: DataFrame, window: tuple[str, str] | None = None
) -> DataFrame:
    """seeds → (rcept_no, corp_code, rcept_dt, visit_rank), in the
    reference's exact visit order (corp-major, date-desc, capped).

    visit_rank is assigned WITHOUT a global window over the seed-level
    table (Window.orderBy() with no partition key serializes the whole
    seed list into one task — a straggler at a 10^8-seed bootstrap).
    Instead: per-corp disc_rank (salt-free window, corps are the
    partition key) + per-corp cumulative offsets via a two-level
    bucketed cumsum — intra-bucket window partitioned by bucket, then
    one tiny unpartitioned cumsum over the ≤|corps|/2^14-row bucket
    totals.  visit_rank = offset(corp) + disc_rank, identical to the
    old global row_number.

    ``window=(bgn_de, end_de)`` reproduces the reference's date-range
    targeting (API params ``bgn_de``/``end_de``, the MONTHS_BACK knob):
    the predicate applies BEFORE page-1 truncation and the per-corp cap,
    exactly as the API-side filter does — YYYYMMDD strings compare
    lexicographically, so this stays a pushdown-able string BETWEEN."""
    periodic = seeds.filter(periodic_pred())
    if window is not None:
        periodic = periodic.filter(
            F.col("rcept_dt").between(window[0], window[1])
        )

    # corps visit in first-appearance order of the seed list
    corp_rank = periodic.groupBy("corp_code").agg(
        F.min("seed_rank").alias("corp_rank")
    )

    w = Window.partitionBy("corp_code").orderBy(
        F.col("rcept_dt").desc(), F.col("rcept_no").desc()
    )
    capped = (
        periodic.withColumn("disc_rank", F.row_number().over(w))
        .filter(F.col("disc_rank") <= _PER_CORP_CAP)
    )

    # per-corp capped counts → cumulative offsets (two-level cumsum)
    counts = capped.groupBy("corp_code").agg(F.count("*").alias("_n")).join(
        corp_rank, "corp_code"
    ).withColumn("_bucket", F.floor(F.col("corp_rank") / _RANK_BUCKET))
    w_intra = (
        Window.partitionBy("_bucket")
        .orderBy("corp_rank")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    counts = counts.withColumn(
        "_intra", F.coalesce(F.sum("_n").over(w_intra), F.lit(0))
    )
    bucket_tot = counts.groupBy("_bucket").agg(F.sum("_n").alias("_bn"))
    w_bucket = (
        Window.orderBy("_bucket").rowsBetween(Window.unboundedPreceding, -1)
    )  # unpartitioned, but over ≤ |corps|/2^14 aggregate rows — never seeds
    bucket_off = bucket_tot.withColumn(
        "_boff", F.coalesce(F.sum("_bn").over(w_bucket), F.lit(0))
    )
    offsets = (
        counts.join(F.broadcast(bucket_off), "_bucket")
        .select(
            "corp_code",
            (F.col("_boff") + F.col("_intra")).alias("_offset"),
        )
    )

    ordered = capped.join(F.broadcast(offsets), "corp_code")
    return ordered.withColumn(
        "visit_rank", (F.col("_offset") + F.col("disc_rank")).cast("int")
    ).select("rcept_no", "corp_code", "report_nm", "rcept_dt", "visit_rank")


def seeds_to_frontier(
    seeds: DataFrame, window: tuple[str, str] | None = None
) -> DataFrame:
    """Expand the seed list into frontier rows: DART fetch URLs with
    priority = -visit_rank (higher priority pops first), so the
    politeness window reproduces the reference order within each host."""
    sched = reference_schedule(seeds, window=window)
    urls = sched.select(
        F.concat(
            F.lit("https://dart.fss.or.kr/api/fnlttXbrl.xml?rcept_no="),
            F.col("rcept_no"),
        ).alias("url"),
        F.col("rcept_no").alias("seed_rcp_no"),
        (-F.col("visit_rank")).cast("double").alias("priority"),
    )
    return urls
