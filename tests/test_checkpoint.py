"""Snapshot-checkpointed tables: crash safety, merge-on-read and
compaction on both base layouts (plain parquet and bucketed), snapshot
expiry and catalog loss."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from dart_xbrl_crawler_spark.sources.checkpoint import (
    MergeTable,
    SnapshotTable,
    _catalog_name,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _shuffle_join_plan(spark, df) -> str:
    """Executed plan of ``df`` under a forced shuffle join (broadcast
    disabled), the strategy planned at 10^10-row scale."""
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        return _plan(df)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)


def _base_dir(mt: MergeTable) -> str:
    return os.path.join(mt.table.path, mt._latest_base()["id"])


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
@pytest.mark.parametrize("n_buckets", [None, 8])
def test_merge_table_compaction(spark, tmp_path, n_buckets):
    mt = MergeTable(str(tmp_path / "m"), key="k", compact_every=3, n_buckets=n_buckets)
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
    assert mt._latest_base().get("buckets") == n_buckets  # layout kept


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


# ------------------------------------------------------- bucketed base
def test_bucketed_merge_table_last_wins_and_no_base_shuffle(spark, tmp_path):
    bt = MergeTable(str(tmp_path / "b"), key="k", n_buckets=8, compact_every=100)
    base = spark.createDataFrame([(i, "a") for i in range(500)], "k long, v string")
    bt.commit_base(base, note="base")
    bt.commit_delta(
        spark, spark.createDataFrame([(i, "b") for i in range(50)], "k long, v string")
    )
    bt.commit_delta(
        spark,
        spark.createDataFrame([(0, "c"), (600, "new")], "k long, v string"),
    )
    merged = bt.read(spark)
    rows = {r["k"]: r["v"] for r in merged.collect()}
    assert len(rows) == 501
    assert rows[0] == "c" and rows[1] == "b" and rows[499] == "a" and rows[600] == "new"
    # plan shape under a forced shuffle join: the base scan keeps its
    # bucket layout and is never re-shuffled — every Exchange in the
    # plan belongs to the small delta subtree (union of delta scans
    # → groupBy, → join-side distribution).
    plan = _shuffle_join_plan(spark, bt.read(spark))
    assert "Bucketed: true" in plan
    table = _catalog_name(_base_dir(bt))
    base_scan = [
        ln for ln in plan.splitlines() if table in ln and "Scan parquet" in ln
    ]
    assert base_scan, plan
    n_exchange = plan.count("Exchange hashpartitioning")
    assert n_exchange <= 2, plan

    # compaction folds into a fresh bucketed base and drops old tables
    bt.compact(spark, expire_keep_last=1)
    assert bt._deltas_since_base() == []
    assert bt._latest_base()["buckets"] == 8
    rows2 = {r["k"]: r["v"] for r in bt.read(spark).collect()}
    assert rows2 == rows


def test_bucketed_base_survives_catalog_loss(spark, tmp_path):
    """Without Hive support the catalog is in-memory per session: a new
    process sees the manifest but no table entry.  The base is external
    (data under the store path) and read() re-registers it from the
    manifest — simulate the new session by dropping the catalog entry
    and prove read() still reconstructs, WITHOUT re-shuffling the base."""
    t = MergeTable(str(tmp_path / "bm"), key="k", n_buckets=8)
    base = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    t.commit_base(base, note="b0")
    t.commit_delta(
        spark,
        spark.range(5).select(
            F.col("id").alias("k"), F.lit(-1).cast("long").alias("v")
        ),
        note="d0",
    )
    before = {r["k"]: r["v"] for r in t.read(spark).collect()}
    # simulate a fresh session: the in-memory catalog entry is gone
    spark.sql(f"DROP TABLE IF EXISTS {_catalog_name(_base_dir(t))}")
    t2 = MergeTable(str(tmp_path / "bm"), key="k")  # no layout argument
    after = {r["k"]: r["v"] for r in t2.read(spark).collect()}
    assert after == before
    assert after[3] == -1 and after[50] == 100
    # the re-registered base still carries its bucket spec: under a
    # forced shuffle join (the 10^10-row strategy) the base scan keeps
    # its bucket layout — every Exchange belongs to the delta subtree
    plan = _shuffle_join_plan(spark, t2.read(spark))
    assert "Bucketed: true" in plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_bucketed_compact_removes_superseded_base_dirs(spark, tmp_path):
    t = MergeTable(str(tmp_path / "bc"), key="k", n_buckets=4)
    t.commit_base(
        spark.range(50).select(F.col("id").alias("k"), F.lit(1).alias("v")),
        note="b0",
    )
    old_loc = _base_dir(t)
    t.commit_delta(
        spark,
        spark.range(3).select(F.col("id").alias("k"), F.lit(2).alias("v")),
        note="d",
    )
    t.compact(spark, expire_keep_last=1)
    assert [s["kind"] for s in t.snapshots()] == ["base"]
    assert not os.path.exists(old_loc)  # superseded base data deleted
    assert not spark.catalog.tableExists(_catalog_name(old_loc))
    got = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert got[0] == 2 and got[10] == 1 and len(got) == 50


def test_cobucketed_join_has_no_exchange(spark, tmp_path):
    """Two bases bucketed on the same key with the same bucket count
    join with NO Exchange — the shuffle is paid once at write time (the
    100 TB frontier⋈seen pattern)."""
    a = MergeTable(str(tmp_path / "frontier"), n_buckets=8)
    a.commit_base(spark.range(10_000).select(
        F.col("id").alias("url_hash"), (F.col("id") % 7).alias("state_a")
    ))
    b = MergeTable(str(tmp_path / "seen"), n_buckets=8)
    b.commit_base(spark.range(5_000).select(
        F.col("id").alias("url_hash"), (F.col("id") % 3).alias("state_b")
    ))

    joined = a.read(spark).join(b.read(spark), "url_hash")
    plan = _shuffle_join_plan(spark, joined)
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan, plan
    assert joined.count() == 5_000
    # anti-join (URL-seen) over the same layout: also shuffle-free
    anti = a.read(spark).join(b.read(spark), "url_hash", "left_anti")
    plan2 = _shuffle_join_plan(spark, anti)
    assert "Exchange" not in plan2, plan2
    assert anti.count() == 5_000

