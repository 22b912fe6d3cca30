"""North-rule end-to-end: under the same seed list + politeness budget,
the engine's multi-round fetch sequence equals the reference's
sequential visit order (oracle.sequential_schedule)."""

from __future__ import annotations

from pyspark.sql import functions as F

from dart_xbrl_crawler_spark import fixtures, oracle
from dart_xbrl_crawler_spark.operators.frontier import FrontierStore
from dart_xbrl_crawler_spark.operators.scheduler import seeds_to_frontier
from dart_xbrl_crawler_spark.schemas import PAGES, ROBOTS, SEEDS


def test_multi_round_visit_order_matches_reference(spark, fixture_bundle, tmp_path):
    pages, seeds, corp_map, robots = fixture_bundle
    pages_df = spark.createDataFrame(pages, schema=PAGES)
    seeds_df = spark.createDataFrame(seeds, schema=SEEDS)
    # single-host frontier (all DART urls); a 1 ms crawl delay and a
    # 3 ms round give it a per-round budget of 3
    robots_df = spark.createDataFrame(
        [("dart.fss.or.kr", None, 1)], schema=ROBOTS
    )

    store = FrontierStore(str(tmp_path / "front"), n_bloom_shards=8)
    store.bootstrap(seeds_to_frontier(seeds_df), fixtures.RUN_TS)

    want = oracle.sequential_schedule(seeds.to_dict("records"))

    got: list[str] = []
    for rnd in range(1, 20):
        _, fetched = store.run_round(
            spark,
            pages_df,
            robots_df,
            fixtures.RUN_TS,
            round_id=rnd,
            round_ms=3,
        )
        # within a round, visit order = priority desc (priority encodes
        # the reference visit rank)
        batch = [
            r["seed_rcp_no"]
            for r in fetched.orderBy(F.col("priority").desc())
            .select("seed_rcp_no")
            .collect()
        ]
        if not batch:
            break
        assert len(batch) <= 3  # budget respected every round
        got.extend(batch)

    assert got == want, (
        f"visit sequence diverged:\n got={got}\nwant={want}"
    )
    # everything queued was eventually fetched exactly once
    counts = store.state_counts(spark)
    assert counts.get("queued", 0) == 0
    assert counts["fetched"] == len(want)
