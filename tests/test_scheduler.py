"""Seed scheduling (``operators.scheduler``): the crawl date window and
the reference-order schedule it limits."""

from __future__ import annotations


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
