"""The sharded URL-seen filters (the north star's Bloom/cuckoo pairing):
no false negatives, bounded fpp, shard-aligned incremental adds,
DELETION (the capability Bloom lacks), Bloom bytes against a numpy
reference, dedup_urls interchangeability and exactness, and
FrontierStore wiring (filter kind and geometry pinned per store)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from dart_xbrl_crawler_spark.operators import dedup as D

RUN_TS = "2026-01-16 00:00:00"


# ------------------------------------------------ pure-numpy kernel
def test_cuckoo_kernel_membership_and_delete():
    rng = np.random.RandomState(3)
    keys = rng.randint(-(2**62), 2**62, size=50_000, dtype=np.int64)
    keys = np.unique(keys)
    m = D._cuckoo_m(len(keys))
    table = np.zeros((m, D._CUCKOO_SLOTS), dtype=np.uint16)
    assert D._cuckoo_insert_keys(table, keys, rng_seed=1) == 0
    # no false negatives
    assert D._cuckoo_contains(table, keys).all()
    # fpp bounded: 16-bit tags, 2 buckets × 4 slots ⇒ ~1.2e-4; allow 1e-3
    others = rng.randint(-(2**62), 2**62, size=50_000, dtype=np.int64)
    others = np.setdiff1d(others, keys)
    fpp = D._cuckoo_contains(table, others).mean()
    assert fpp < 1e-3, fpp
    # delete half, they disappear (up to fp-collision noise), rest stay
    gone, keep = keys[::2], keys[1::2]
    assert D._cuckoo_delete_keys(table, gone) == 0
    assert D._cuckoo_contains(table, keep).all()
    assert D._cuckoo_contains(table, gone).mean() < 1e-3


def test_cuckoo_kernel_multiset_semantics():
    """Duplicate inserts hold duplicate copies: one delete leaves the
    key present, the second removes it — the paper's multiset contract
    that makes delete safe under re-insertion."""
    table = np.zeros((D._cuckoo_m(100), D._CUCKOO_SLOTS), dtype=np.uint16)
    k = np.array([42], dtype=np.int64)
    D._cuckoo_insert_keys(table, np.repeat(k, 2), rng_seed=0)
    assert D._cuckoo_delete_keys(table, k) == 0
    assert D._cuckoo_contains(table, k).all()
    assert D._cuckoo_delete_keys(table, k) == 0
    assert not D._cuckoo_contains(table, k).any()


def test_cuckoo_over_capacity_raises():
    keys = np.arange(1000, dtype=np.int64)
    table = np.zeros((D._cuckoo_m(64), D._CUCKOO_SLOTS), dtype=np.uint16)
    with pytest.raises(Exception):
        failed = D._cuckoo_insert_keys(table, keys, rng_seed=0)
        if failed:  # kernel reports, Spark layer raises — accept either
            raise ValueError("over capacity")


# ------------------------------------------------ Spark shard layer
def _hashes_df(spark, values):
    return spark.createDataFrame(
        pd.DataFrame({"url_hash": np.asarray(values, dtype=np.int64)})
    )


def test_cuckoo_filter_probe_and_incremental_insert(spark):
    rng = np.random.RandomState(7)
    seen = np.unique(rng.randint(-(2**62), 2**62, size=20_000, dtype=np.int64))
    fresh = np.setdiff1d(
        rng.randint(-(2**62), 2**62, size=5_000, dtype=np.int64), seen
    )
    cf = D.add_to_seen_filter(
        None, _hashes_df(spark, seen), "cuckoo", n_shards=8, expected_keys=40_000
    )
    probed = D.probe_seen(_hashes_df(spark, seen[:2000]), cf, n_shards=8)
    assert probed.filter(~F.col("seen_maybe")).count() == 0  # no false neg
    miss = D.probe_seen(_hashes_df(spark, fresh), cf, n_shards=8)
    assert miss.filter(F.col("seen_maybe")).count() <= 5  # fpp tiny

    # incremental insert: new keys land, old keys stay, via the stored
    # tables (one cogroup task per shard)
    cf2 = D.add_to_seen_filter(
        cf, _hashes_df(spark, fresh), "cuckoo", n_shards=8, expected_keys=40_000
    )
    both = np.concatenate([seen[:1000], fresh[:1000]])
    probed2 = D.probe_seen(_hashes_df(spark, both), cf2, n_shards=8)
    assert probed2.filter(~F.col("seen_maybe")).count() == 0


def test_cuckoo_delete_spark(spark):
    rng = np.random.RandomState(11)
    keys = np.unique(rng.randint(-(2**62), 2**62, size=8_000, dtype=np.int64))
    cf = D.add_to_seen_filter(
        None, _hashes_df(spark, keys), "cuckoo", n_shards=4, expected_keys=16_000
    )
    gone, keep = keys[::2], keys[1::2]
    cf2 = D.remove_from_seen_filter(cf, _hashes_df(spark, gone), n_shards=4)
    kept = D.probe_seen(_hashes_df(spark, keep), cf2, n_shards=4)
    assert kept.filter(~F.col("seen_maybe")).count() == 0
    dropped = D.probe_seen(_hashes_df(spark, gone), cf2, n_shards=4)
    assert dropped.filter(F.col("seen_maybe")).count() <= 4


def test_dedup_urls_with_cuckoo_filter_exact(spark):
    """dedup_urls takes the cuckoo table interchangeably with the bloom
    and still returns EXACTLY frontier − seen."""
    from dart_xbrl_crawler_spark.functions.urls import with_url_canon

    urls = [f"https://cd.example/p{i}" for i in range(400)]
    frontier = with_url_canon(
        spark.createDataFrame(pd.DataFrame({"url": urls}))
    )
    seen = with_url_canon(
        spark.createDataFrame(pd.DataFrame({"url": urls[:150] + ["https://cd.example/other"]}))
    ).select("url_hash")
    cf = D.add_to_seen_filter(None, seen, "cuckoo", n_shards=8, expected_keys=1_000)
    out = D.dedup_urls(frontier, seen, cf, n_shards=8, max_confirmed_hint=200)
    got = {r["url"] for r in out.select("url").collect()}
    assert got == set(urls[150:])


def test_cuckoo_add_remove_membership_and_counts(spark):
    """After two adds and a remove, every committed hash tests present,
    every retired hash absent, and each shard's n_keys counts the keys
    it still holds."""
    rng = np.random.RandomState(5)
    keys = np.unique(rng.randint(-(2**62), 2**62, size=3_000, dtype=np.int64))
    cf = D.add_to_seen_filter(
        None, _hashes_df(spark, keys[:2_000]), "cuckoo", 8, expected_keys=4_096
    )
    cf = D.add_to_seen_filter(
        cf, _hashes_df(spark, keys[2_000:]), "cuckoo", 8, expected_keys=4_096
    ).localCheckpoint()
    retired = keys[::3]
    kept = np.setdiff1d(keys, retired)
    cf = D.remove_from_seen_filter(cf, _hashes_df(spark, retired), 8).localCheckpoint()
    verdict = D.probe_seen(_hashes_df(spark, keys), cf, 8).toPandas()
    seen_maybe = dict(zip(verdict["url_hash"], verdict["seen_maybe"]))
    assert all(seen_maybe[h] for h in kept)
    assert not any(seen_maybe[h] for h in retired)
    n_keys = {r["shard"]: r["n_keys"] for r in cf.collect()}
    assert n_keys == pd.Series(np.mod(kept, 8)).value_counts().to_dict()


# ------------------------------------------------------------- bloom
def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_bloom_no_false_negatives_and_exact_dedup(spark):
    seen_pd = pd.DataFrame({"url_hash": [i * 2_654_435_761 % 2**63 for i in range(5000)]})
    new_pd = pd.DataFrame(
        {"url_hash": list(seen_pd["url_hash"][:500]) + [-(i + 1) for i in range(4500)]}
    )
    seen = spark.createDataFrame(seen_pd, schema="url_hash long")
    new = spark.createDataFrame(new_pd, schema="url_hash long")

    bloom = D.add_to_seen_filter(None, seen, "bloom", n_shards=8).cache()
    probed = D.probe_seen(new, bloom, n_shards=8)
    # no false negatives: every truly-seen row flags
    truly_seen = set(seen_pd["url_hash"][:500])
    flags = {r["url_hash"]: r["seen_maybe"] for r in probed.collect()}
    assert all(flags[h] for h in truly_seen)

    # exact dedup survives = frontier − seen exactly
    out = D.dedup_urls(new, seen, bloom, n_shards=8)
    got = {r["url_hash"] for r in out.collect()}
    assert got == set(new_pd["url_hash"]) - set(seen_pd["url_hash"])

    # fpp sanity: flagged unseen rows should be rare
    unseen_flagged = sum(1 for h, f in flags.items() if f and h not in truly_seen)
    assert unseen_flagged < 0.05 * 4500


def test_bloom_sizing_spans_arrow_chunks(spark):
    # 40k keys in 4 shards → ~10k keys/shard, far beyond one ~2048-row
    # Arrow chunk; with the old first-chunk sizing, n_keys ≫ m/10 and
    # the observed fpp explodes
    n = 40_000
    seen = spark.range(n).select((F.col("id") * 4).alias("url_hash"))
    bloom = D.add_to_seen_filter(None, seen, "bloom", n_shards=4).toPandas()
    assert int(bloom["n_keys"].sum()) == n
    for _, row in bloom.iterrows():
        # sized for the full shard at fpp=0.01 → ≥9.5 bits/key
        assert row["m_bits"] >= 9 * row["n_keys"]
    # observed fpp on a disjoint probe set stays near the target
    bloom_df = D.add_to_seen_filter(None, seen, "bloom", n_shards=4)
    probe = spark.range(n).select((F.col("id") * 4 + 1).alias("url_hash"))
    fresh = D.dedup_urls(probe, seen, bloom_df, n_shards=4)
    assert fresh.count() == n  # exactness: nothing falsely removed


def test_dedup_no_hint_large_overlap_no_forced_broadcast(spark):
    """Without a caller bound and with overlap above broadcast_max_rows,
    dedup must fall back to a non-broadcast anti-join — and stay exact."""
    from dart_xbrl_crawler_spark.functions.urls import with_url_canon

    canon = with_url_canon(
        spark.range(4000).select(
            F.concat(F.lit("https://d.example/"), F.col("id").cast("string")).alias(
                "url"
            ),
            "id",
        )
    )
    seen = canon.filter(F.col("id") % 2 == 0).select("url_hash")
    bloom = D.add_to_seen_filter(None, seen, "bloom", n_shards=8)
    out = D.dedup_urls(
        canon.drop("id"), seen, bloom, n_shards=8, broadcast_max_rows=100
    )
    assert out.count() == 2000  # exact: odd ids survive
    assert "BroadcastHashJoin" not in _plan(out)
    # with a fitting hint the broadcast fast path is kept
    out2 = D.dedup_urls(
        canon.drop("id"), seen, bloom, n_shards=8, max_confirmed_hint=4000
    )
    assert out2.count() == 2000
    assert "BroadcastHashJoin" in _plan(out2)


def _url_batch(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.concat(F.lit("https://b.example/"), F.col("id").cast("string")).alias("url"),
        F.lit(0.0).alias("priority"),
    )


def _bloom_reference(hashes, n_shards, expected_keys):
    """{shard: (bits, m_bits, k_hashes, n_keys)} built in numpy with the
    Bloom kernels alone, one bitmap per shard sized for the store."""
    m, k = D._bloom_params(expected_keys // n_shards + 1)
    shards = np.mod(hashes, n_shards)
    ref = {}
    for s in np.unique(shards):
        hs = hashes[shards == s]
        bits = np.zeros(m // 64, dtype=np.uint64)
        for pos in D._positions(hs, m, k):
            D._set_bits(bits, pos)
        ref[int(s)] = (bits.tobytes(), m, k, len(hs))
    return ref


def test_bloom_rows_match_numpy_reference(spark, tmp_path):
    """A bootstrap and two overlapping inserts leave Bloom rows
    byte-identical to a reference built from every committed hash."""
    from dart_xbrl_crawler_spark.operators.frontier import FrontierStore

    store = FrontierStore(str(tmp_path / "ref"), n_bloom_shards=8, expected_keys=4_096)
    store.bootstrap(_url_batch(spark, 0, 600), RUN_TS)
    assert store.insert(spark, _url_batch(spark, 400, 1000), RUN_TS)[1:] == (400, 200)
    assert store.insert(spark, _url_batch(spark, 900, 1300), RUN_TS)[1:] == (300, 100)
    committed = store.table.read(spark).select("url_hash").toPandas()["url_hash"]
    assert len(committed) == 1300
    got = {
        r["shard"]: (bytes(r["bits"]), r["m_bits"], r["k_hashes"], r["n_keys"])
        for r in store.bloom.read(spark).collect()
    }
    assert got == _bloom_reference(committed.to_numpy(), 8, 4_096)


def test_frontier_store_cuckoo_end_to_end(spark, tmp_path):
    """FrontierStore(seen_filter='cuckoo'): bootstrap → insert dedups
    exactly; retire_seen removes hashes so the same urls re-insert —
    the expiry/recrawl path a Bloom-backed store cannot offer."""
    from dart_xbrl_crawler_spark.operators.frontier import FrontierStore

    store = FrontierStore(
        str(tmp_path / "ck"), n_bloom_shards=4, expected_keys=4_096,
        seen_filter="cuckoo",
    )
    seeds = spark.createDataFrame(
        pd.DataFrame(
            {"url": [f"https://ck.example/s{i}" for i in range(20)],
             "priority": [0.0] * 20}
        )
    )
    store.bootstrap(seeds, RUN_TS)
    batch = spark.createDataFrame(
        pd.DataFrame(
            {"url": [f"https://ck.example/s{i}" for i in range(10, 30)],
             "priority": [0.0] * 20}
        )
    )
    _, n_ins, n_dup = store.insert(spark, batch, RUN_TS)
    assert (n_ins, n_dup) == (10, 10)
    # retire two seed urls from the seen filter → they re-insert
    from dart_xbrl_crawler_spark.functions.urls import with_url_canon

    retire = with_url_canon(
        spark.createDataFrame(
            pd.DataFrame({"url": ["https://ck.example/s0", "https://ck.example/s1"]})
        )
    ).select("url_hash")
    store.retire_seen(spark, retire)
    again = spark.createDataFrame(
        pd.DataFrame(
            {"url": ["https://ck.example/s0", "https://ck.example/s1",
                      "https://ck.example/s2"],
             "priority": [0.0] * 3}
        )
    )
    # NOTE: the frontier TABLE still holds the rows; dedup checks the
    # filter first, then exactly confirms against the table — retiring
    # from the filter alone is not enough to re-insert while the table
    # row exists, so this asserts the FILTER state directly
    cf = store.bloom.read(spark)
    probed = D.probe_seen(retire, cf, n_shards=4)
    assert probed.filter(F.col("seen_maybe")).count() == 0
    del again


# ------------------------------------------- recrawl / expire loop
def _mini_crawl_store(spark, tmp_path, seen_filter="cuckoo"):
    from dart_xbrl_crawler_spark.operators.frontier import FrontierStore

    pages = spark.createDataFrame(
        pd.DataFrame(
            {
                "url": [f"https://rc.example/p{i}" for i in range(6)],
                "html": [b"<html>x</html>"] * 6,
                "warc_ts": [pd.Timestamp("2026-01-01")] * 6,
            }
        ),
        schema="url string, html binary, warc_ts timestamp",
    )
    robots = spark.createDataFrame(
        [("rc.example", None, 100)],
        schema="host string, disallow_prefix string, crawl_delay_ms long",
    )
    store = FrontierStore(
        str(tmp_path / seen_filter), n_bloom_shards=4, expected_keys=4_096,
        seen_filter=seen_filter,
    )
    store.bootstrap(
        spark.createDataFrame(
            pd.DataFrame(
                {"url": [f"https://rc.example/p{i}" for i in range(6)],
                 "priority": [0.0] * 6}
            )
        ),
        RUN_TS,
    )
    store.run_round(spark, pages, robots, RUN_TS, round_id=0, round_ms=100_000)
    return store, pages, robots


def test_recrawl_requeues_stale_rows(spark, tmp_path):
    """Rows fetched before the cutoff flip back to queued (O(|stale|)
    delta); the next round refetches them; lineage stays consistent."""
    store, pages, robots = _mini_crawl_store(spark, tmp_path)
    assert store.state_counts(spark) == {"fetched": 6}
    n = store.recrawl(spark, "2026-02-01 00:00:00")
    assert n == 6
    assert store.state_counts(spark) == {"queued": 6}
    assert store.lineage_counts(spark).get("queued") == 6
    # cutoff BEFORE the fetch: nothing stale
    assert store.recrawl(spark, "2020-01-01 00:00:00") == 0
    # the refetch round works under the normal politeness budget
    store.run_round(
        spark, pages, robots, "2026-03-01 00:00:00", round_id=1,
        round_ms=100_000,
    )
    assert store.state_counts(spark) == {"fetched": 6}
    assert store.lineage_counts(spark).get("queued", 0) == 0


def test_expire_tombstones_and_allows_reinsert(spark, tmp_path):
    """Expired rows tombstone (state='expired'), their hashes leave the
    cuckoo filter, and a rediscovered url re-inserts as a FRESH queued
    row (last-wins resurrection) — while a bloom-backed store keeps
    deduping it (the documented asymmetry)."""
    store, pages, robots = _mini_crawl_store(spark, tmp_path)
    n = store.expire(spark, "2026-02-01 00:00:00")
    assert n == 6
    assert store.state_counts(spark) == {"expired": 6}
    # lineage: expire is terminal→terminal, queue stays drained
    assert store.lineage_counts(spark).get("queued", 0) == 0
    batch = spark.createDataFrame(
        pd.DataFrame(
            {"url": ["https://rc.example/p0", "https://rc.example/new"],
             "priority": [0.0] * 2}
        )
    )
    _, n_ins, n_dup = store.insert(spark, batch, "2026-03-01 00:00:00")
    assert (n_ins, n_dup) == (2, 0)  # the expired url resurrects
    counts = store.state_counts(spark)
    assert counts == {"expired": 5, "queued": 2}

    # bloom twin: same flow, the expired url STAYS deduped
    store_b, _, _ = _mini_crawl_store(spark, tmp_path, seen_filter="bloom")
    store_b.expire(spark, "2026-02-01 00:00:00")
    _, n_ins_b, n_dup_b = store_b.insert(spark, batch, "2026-03-01 00:00:00")
    assert (n_ins_b, n_dup_b) == (1, 1)


def test_store_remembers_filter_kind(spark, tmp_path):
    """seen_filter persists in the store config at the FIRST WRITE
    (bootstrap/insert — a read-only open like `status` on an empty path
    must not pin the kind): a later process reopens with the right
    semantics, and a conflicting explicit argument errors instead of
    silently mixing filters."""
    from dart_xbrl_crawler_spark.operators.frontier import FrontierStore

    seeds = spark.createDataFrame(
        pd.DataFrame({"url": ["https://cfg.example/a"], "priority": [0.0]})
    )
    p = str(tmp_path / "cfg")
    # a pre-creation read-only open does NOT pin the kind...
    FrontierStore(p)
    store = FrontierStore(p, seen_filter="cuckoo")  # ...so this still works
    store.bootstrap(seeds, RUN_TS)  # first write stamps the config
    assert FrontierStore(p).seen_filter == "cuckoo"  # default reopen
    assert FrontierStore(p, seen_filter="cuckoo").seen_filter == "cuckoo"
    with pytest.raises(ValueError):
        FrontierStore(p, seen_filter="bloom")
    # default-created stores pin bloom at their first write too — a
    # later explicit cuckoo reopen errors instead of misreading the
    # bloom snapshot chain as cuckoo tables
    p2 = str(tmp_path / "cfg2")
    FrontierStore(p2).bootstrap(seeds, RUN_TS)
    assert FrontierStore(p2).seen_filter == "bloom"
    with pytest.raises(ValueError):
        FrontierStore(p2, seen_filter="cuckoo")


def test_reopen_adopts_pinned_filter_geometry(spark, tmp_path):
    """n_bloom_shards and expected_keys are pinned at the first write:
    a default reopen probes the shards the filter was built with (every
    re-inserted url is a duplicate), and a conflicting explicit value is
    an error instead of a probe against the wrong shards."""
    from dart_xbrl_crawler_spark.operators.frontier import FrontierStore

    p = str(tmp_path / "geo")
    n = 200
    FrontierStore(p, n_bloom_shards=8, expected_keys=4_096).bootstrap(
        _url_batch(spark, 0, n), RUN_TS
    )
    store = FrontierStore(p)
    assert (store.n_bloom_shards, store.expected_keys) == (8, 4_096)
    assert store.insert(spark, _url_batch(spark, 0, n), RUN_TS)[1:] == (0, n)
    with pytest.raises(ValueError):
        FrontierStore(p, n_bloom_shards=4)
    with pytest.raises(ValueError):
        FrontierStore(p, expected_keys=1_024)


def test_incremental_bloom_across_inserts(spark, tmp_path):
    """The URL-seen filter is a durable artifact each insert adds its
    hashes into — never rebuilt from the full frontier — and dedup
    stays exact."""
    from dart_xbrl_crawler_spark.operators.frontier import FrontierStore

    store = FrontierStore(str(tmp_path / "fb"), n_bloom_shards=8)
    mk = lambda lo, hi: spark.range(lo, hi).select(
        F.concat(F.lit("https://b.example/"), F.col("id").cast("string")).alias("url"),
        F.lit(0.0).alias("priority"),
    )
    store.bootstrap(mk(0, 1000), RUN_TS)
    assert len(store.bloom.snapshots()) == 1
    # overlapping insert: 500 dupes + 500 new
    _, n_ins, n_dup = store.insert(spark, mk(500, 1500), RUN_TS)
    assert (n_ins, n_dup) == (500, 500)
    assert len(store.bloom.snapshots()) == 2  # ONE merged commit, no rebuild
    # fully-duplicate insert → nothing enters, no bloom commit
    _, n_ins2, n_dup2 = store.insert(spark, mk(0, 1500), RUN_TS)
    assert (n_ins2, n_dup2) == (0, 1500)
    assert len(store.bloom.snapshots()) == 2
    assert store.state_counts(spark) == {"queued": 1500}


def test_filter_chain_bounded(spark, tmp_path):
    """Each insert commits a FULL filter image (≈12 GB at the 10^10
    design point) — the chain must not grow one copy per round.  Both
    store kinds keep ≤ filter_keep_last snapshots on disk while dedup
    exactness is unaffected."""
    import os

    from dart_xbrl_crawler_spark.operators.frontier import FrontierStore

    for kind in ("bloom", "cuckoo"):
        store = FrontierStore(
            str(tmp_path / kind), n_bloom_shards=4, expected_keys=4_096,
            seen_filter=kind, filter_keep_last=3,
        )
        store.bootstrap(
            spark.createDataFrame(
                pd.DataFrame({"url": ["https://fb.example/seed"], "priority": [0.0]})
            ),
            RUN_TS,
        )
        for i in range(6):
            batch = spark.createDataFrame(
                pd.DataFrame(
                    {"url": [f"https://fb.example/b{i}-{j}" for j in range(5)],
                     "priority": [0.0] * 5}
                )
            )
            _, n_ins, n_dup = store.insert(spark, batch, RUN_TS)
            assert (n_ins, n_dup) == (5, 0)
        assert len(store.bloom.snapshots()) <= 3
        dirs = [d for d in os.listdir(str(tmp_path / kind) + "_bloom")
                if d.startswith("snap-")]
        assert len(dirs) <= 3  # old full images GC'd from disk
        # dedup still exact after expiry
        _, n_ins, n_dup = store.insert(
            spark,
            spark.createDataFrame(
                pd.DataFrame({"url": ["https://fb.example/b0-0",
                                       "https://fb.example/freshest"],
                              "priority": [0.0] * 2})
            ),
            RUN_TS,
        )
        assert (n_ins, n_dup) == (1, 1)


def test_recrawl_covers_failed_rows(spark, tmp_path):
    """failed (and robots_blocked) transitions stamp fetch_ts too, so
    the freshness predicates can actually select them — a failed fetch
    retries via recrawl instead of being permanently terminal."""
    from dart_xbrl_crawler_spark.operators.frontier import FrontierStore

    pages = spark.createDataFrame(  # only ONE of the two urls has bytes
        pd.DataFrame(
            {
                "url": ["https://fl.example/ok"],
                "html": [b"<html>x</html>"],
                "warc_ts": [pd.Timestamp("2026-01-01")],
            }
        ),
        schema="url string, html binary, warc_ts timestamp",
    )
    robots = spark.createDataFrame(
        [("fl.example", None, 100)],
        schema="host string, disallow_prefix string, crawl_delay_ms long",
    )
    store = FrontierStore(str(tmp_path / "fl"), n_bloom_shards=4)
    store.bootstrap(
        spark.createDataFrame(
            pd.DataFrame(
                {"url": ["https://fl.example/ok", "https://fl.example/missing"],
                 "priority": [0.0] * 2}
            )
        ),
        RUN_TS,
    )
    store.run_round(spark, pages, robots, RUN_TS, round_id=0, round_ms=100_000)
    assert store.state_counts(spark) == {"fetched": 1, "failed": 1}
    n = store.recrawl(spark, "2026-02-01 00:00:00")
    assert n == 2  # the FAILED row requeues along with the fetched one
    assert store.state_counts(spark) == {"queued": 2}
