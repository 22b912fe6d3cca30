"""Snapshot-checkpointed tables: crash safety, merge-on-read and
compaction, snapshot expiry, and the frontier's delta commits
(O(|round|) bytes per round)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from dart_xbrl_crawler_spark.sources.checkpoint import MergeTable, SnapshotTable

RUN_TS = "2026-01-16 00:00:00"


# ------------------------------------------------------- crash safety
def test_snapshot_crash_safety(spark, tmp_path):
    """A writer killed mid-snapshot leaves an unpublished dir; readers
    never see it, and the next commit proceeds normally."""
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


def test_snapshot_read_takes_schema_from_manifest(spark, tmp_path, count_jobs):
    """Every manifest entry records its schema, so planning a read or a
    read_all runs no footer schema-inference job.  An entry without one
    (written before schemas were recorded) still reads, by inference."""
    t = SnapshotTable(str(tmp_path / "t"))
    df = spark.range(5).select(F.col("id").alias("k"), F.lit("x").alias("v"))
    t.commit(df, note="a")
    t.commit(df, note="b")
    assert count_jobs(lambda: t.read(spark).schema)[1] == 0
    assert count_jobs(lambda: t.read_all(spark).schema)[1] == 0
    assert t.read_all(spark).count() == 10

    snaps = t.snapshots()
    t._publish([{k: v for k, v in s.items() if k != "schema_ddl"} for s in snaps])
    assert count_jobs(lambda: t.read(spark).schema)[1] > 0
    assert sorted(t.read(spark).collect()) == sorted(df.collect())


# -------------------------------------------- merge-on-read + compaction
def test_merge_table_compaction(spark, tmp_path):
    mt = MergeTable(str(tmp_path / "m"), key="k", compact_every=3)
    base = spark.createDataFrame([(i, "a") for i in range(10)], "k long, v string")
    mt.commit_base(base)
    want = {i: "a" for i in range(10)}
    # pending deltas: key 1 rewritten in two of them, key 42 only in one
    for rows in ([(0, "v0"), (1, "v1")], [(1, "v1b")], [(42, "new")]):
        mt.commit_delta(spark, spark.createDataFrame(rows, "k long, v string"))
        want.update(rows)
    merged = mt.read(spark)
    assert merged.columns == ["k", "v"]
    assert {r["k"]: r["v"] for r in merged.collect()} == want  # last-wins
    for j in range(2, 5):  # exceeds compact_every → auto-compact folds chain
        mt.commit_delta(
            spark,
            spark.createDataFrame([(j, f"v{j}")], "k long, v string"),
            note=f"d{j}",
        )
        want[j] = f"v{j}"
    got = {r["k"]: r["v"] for r in mt.read(spark).collect()}
    assert len(got) == 11
    assert got == want  # last-wins applied
    kinds = [s.get("kind") for s in mt.table.snapshots()]
    assert kinds.count("base") >= 2  # compaction produced a new base


# --------------------------------------- retention / expiry / orphan GC
def test_merge_table_expiry_bounds_disk_and_resume(spark, tmp_path):
    path = str(tmp_path / "m")
    mt = MergeTable(path, key="k", compact_every=3, expire_keep_last=4)
    mt.commit_base(
        spark.createDataFrame([(i, "a") for i in range(50)], "k long, v string")
    )
    for j in range(12):  # several auto-compactions with retention
        mt.commit_delta(
            spark,
            spark.createDataFrame([(j % 50, f"v{j}")], "k long, v string"),
            note=f"d{j}",
        )
    snaps = mt.snapshots()
    assert len(snaps) <= 4 + 1  # bounded manifest
    on_disk = [d for d in os.listdir(path) if d.startswith("snap-")]
    assert sorted(on_disk) == sorted(s["id"] for s in snaps)  # no orphans
    # seqs stay strictly monotonic across expiry
    seqs = [s["seq"] for s in snaps]
    assert seqs == sorted(seqs) and len(set(seqs)) == len(seqs)
    # resume (fresh handle) reproduces last-wins state
    mt2 = MergeTable(path, key="k")
    rows = {r["k"]: r["v"] for r in mt2.read(spark).collect()}
    assert len(rows) == 50
    for j in range(12):
        assert rows[j % 50] != "a" or (j % 50) > 11
    # a new commit after expiry gets a fresh, higher seq
    mt2.commit_delta(
        spark, spark.createDataFrame([(0, "zz")], "k long, v string")
    )
    assert mt2.snapshots()[-1]["seq"] > seqs[-1]
    assert {r["v"] for r in mt2.read(spark).filter(F.col("k") == 0).collect()} == {
        "zz"
    }


def test_expire_never_drops_reachable_state(spark, tmp_path):
    """expire_snapshots keeps the latest base + every delta after it even
    when keep_last is smaller."""
    mt = MergeTable(str(tmp_path / "m2"), key="k", compact_every=100)
    mt.commit_base(spark.createDataFrame([(1, "a")], "k long, v string"))
    for j in range(5):
        mt.commit_delta(
            spark, spark.createDataFrame([(1, f"v{j}")], "k long, v string")
        )
    mt.expire_snapshots(keep_last=1)
    # base + 5 deltas all survive (they reconstruct current state)
    assert len(mt.snapshots()) == 6
    assert mt.read(spark).collect()[0]["v"] == "v4"


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
