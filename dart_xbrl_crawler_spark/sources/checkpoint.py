"""Snapshot-checkpointed tables: Iceberg semantics over plain parquet.

The design point is an Iceberg catalog (`df.writeTo(tbl)` + snapshot-id
time travel, hidden partitioning) — but the Iceberg runtime jar is not
in this environment, so the same contract is implemented directly:

* every commit writes a fresh immutable snapshot directory,
* a manifest (JSON, written atomically via tmp+rename) lists committed
  snapshots in order,
* readers resolve the latest committed snapshot — a killed writer can
  never corrupt a reader (its half-written dir is simply never
  committed),
* resume = read latest snapshot (or any pinned snapshot-id).

Every snapshot is a plain parquet directory, named by its id.

Swap point: a real Iceberg catalog replaces ``MergeTable`` behind the
same five calls FrontierStore makes, with no other change:

* ``commit_base(df)`` → ``df.writeTo(tbl).using("iceberg")``
  ``.createOrReplace()``;
* ``commit_delta(spark, df)`` → ``MERGE INTO tbl USING df ON key``
  (update matched, insert unmatched) — the O(|round|)-bytes commit
  then comes from the format itself;
* ``read(spark)`` → ``spark.table(tbl)``;
* ``snapshots()`` → the ``tbl.snapshots`` metadata table;
* ``rollback_to(id)`` → the ``system.rollback_to_snapshot`` procedure.

Retention (``compact``/``expire_keep_last``) maps onto Iceberg's own
snapshot expiry.  It needs the Iceberg Spark runtime jar and a
configured catalog, neither of which this package ships.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import tempfile
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema


def _reader(spark: SparkSession, entries: list[dict]):
    """A parquet reader for these snapshots: with the schema their
    manifest entries record when all record the same one, else one that
    infers it from a footer (a one-task Spark job; entries written
    before the schema was recorded)."""
    ddls = {e.get("schema_ddl") for e in entries}
    if len(ddls) == 1 and None not in ddls:
        return spark.read.schema(ddls.pop())
    return spark.read


class SnapshotTable:
    """Append-only snapshot-versioned parquet table."""

    def __init__(self, path: str):
        self.path = path
        os.makedirs(path, exist_ok=True)

    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.path, "MANIFEST.json")

    def snapshots(self) -> list[dict]:
        if not os.path.exists(self._manifest_path):
            return []
        with open(self._manifest_path) as f:
            return json.load(f)["snapshots"]

    def latest_snapshot_id(self) -> str | None:
        snaps = self.snapshots()
        return snaps[-1]["id"] if snaps else None

    def commit(self, df: DataFrame, note: str = "", kind: str = "base") -> str:
        """Write df as a new immutable snapshot; atomically publish it.
        ``kind`` is "base" (full table image) or "delta" (changed rows
        only — see MergeTable).  Returns the snapshot id."""
        snaps = self.snapshots()
        entry = self._write(df, snaps, note, kind)
        self._publish(snaps + [entry])
        return entry["id"]

    def _write(self, df: DataFrame, snaps: list[dict], note: str, kind: str) -> dict:
        """Write df as the snapshot after ``snaps``; returns its
        manifest entry (not yet published)."""
        entry = self._entry(snaps, df.schema, note, kind)
        df.write.mode("overwrite").parquet(os.path.join(self.path, entry["id"]))
        return entry

    def _entry(self, snaps: list[dict], schema, note: str, kind: str) -> dict:
        """The manifest entry of the snapshot after ``snaps``."""
        # monotonic, NOT len(snaps): expiry trims the manifest front, and
        # a reused seq would corrupt MergeTable's last-wins-by-_seq merge
        seq = (snaps[-1]["seq"] + 1) if snaps else 0
        # the schema as a parquet reader sees it (all nullable): read()
        # passes it to the reader, which then runs no footer job
        return {"id": f"snap-{seq:06d}-{uuid.uuid4().hex[:8]}", "seq": seq,
                "note": note, "kind": kind,
                "schema_ddl": schema.toNullable().toDDL()}

    def commit_arrow(self, table: pa.Table, note: str = "") -> str:
        """Write a driver-side Arrow table as a new snapshot with no
        Spark job: the few rows of a counter chain, whose values the
        driver already holds.  Its entry records the schema Spark would
        record for the same columns, so it reads alongside Spark-written
        snapshots of the chain without a schema-inference job."""
        snaps = self.snapshots()
        entry = self._entry(snaps, from_arrow_schema(table.schema), note, "base")
        loc = os.path.join(self.path, entry["id"])
        os.makedirs(loc)
        pq.write_table(table, os.path.join(loc, "part-00000.parquet"))
        self._publish(snaps + [entry])
        return entry["id"]

    def _publish(self, snaps: list[dict]) -> None:
        fd, tmp = tempfile.mkstemp(dir=self.path, suffix=".manifest.tmp")
        with os.fdopen(fd, "w") as f:
            json.dump({"snapshots": snaps}, f, indent=1)
        os.replace(tmp, self._manifest_path)  # atomic on POSIX

    def read(self, spark: SparkSession, snapshot_id: str | None = None) -> DataFrame:
        snaps = self.snapshots()
        if not snaps:
            raise FileNotFoundError(f"no committed snapshots at {self.path}")
        if snapshot_id is None:
            snapshot_id = snaps[-1]["id"]
        entry = next((s for s in snaps if s["id"] == snapshot_id), None)
        if entry is None:
            raise KeyError(f"unknown snapshot {snapshot_id}")
        return _reader(spark, [entry]).parquet(os.path.join(self.path, snapshot_id))

    def read_all(self, spark: SparkSession) -> DataFrame:
        """Union of EVERY committed snapshot (append-only chains like
        per-round metrics, where each commit is an independent batch)."""
        snaps = self.snapshots()
        if not snaps:
            raise FileNotFoundError(f"no committed snapshots at {self.path}")
        return _reader(spark, snaps).parquet(
            *[os.path.join(self.path, s["id"]) for s in snaps]
        )

    def rewrite(self, df: DataFrame, note: str = "compact") -> str:
        """Replace the WHOLE chain with one snapshot holding ``df`` —
        the append-only chain's compaction primitive (metrics chains
        fold per-round counter rows into running sums).  Crash-safe in
        one atomic manifest swap: the fold dir is fully written first,
        then the manifest flips to reference ONLY it — a crash before
        the flip leaves an orphan dir (GC'd later), never a chain that
        double-counts fold + originals."""
        entry = self._write(df, self.snapshots(), note, "base")
        self._publish([entry])
        self._gc_orphans()
        return entry["id"]

    def rollback_to(self, snapshot_id: str) -> None:
        snaps = self.snapshots()
        keep = []
        for s in snaps:
            keep.append(s)
            if s["id"] == snapshot_id:
                break
        else:
            raise KeyError(f"unknown snapshot {snapshot_id}")
        self._publish(keep)

    def expire(self, keep_last: int) -> list[str]:
        """Retention: drop all but the last ``keep_last`` manifest
        entries, then GC every unreferenced snapshot dir (including
        orphans from crashed writers and past rollbacks).  Manifest
        FIRST, dirs second — a crash in between leaves unreferenced
        dirs (cleaned by the next expire), never a dangling manifest
        entry.  Returns the ids whose dirs were removed."""
        snaps = self.snapshots()
        if keep_last > 0 and len(snaps) > keep_last:
            self._publish(snaps[-keep_last:])
        return self._gc_orphans()

    def _gc_orphans(self) -> list[str]:
        live = {s["id"] for s in self.snapshots()}
        removed = []
        for d in os.listdir(self.path):
            if d.startswith("snap-") and d not in live:
                shutil.rmtree(os.path.join(self.path, d), ignore_errors=True)
                removed.append(d)
        return removed


class MergeTable:
    """MERGE-INTO semantics over SnapshotTable: base images + append-only
    delta snapshots, last-wins-by-key reconstruction on read, periodic
    compaction.

    This is the scale-critical difference from full-rewrite snapshots
    (SURVEY.md §2.9): a crawl round touches |round| rows of a 10^10-row
    frontier, so the round commit must write O(|round|) bytes, not
    O(|frontier|).  read() is ``base LEFT ANTI latest-delta keys ∪
    latest-delta rows``: a delta side under the broadcast threshold is
    broadcast, and then only the pending deltas move.  Compaction folds
    deltas back into a new base every ``compact_every`` deltas to bound
    read amplification.  Retention GC deletes snapshot dirs by path, so
    ``path`` must be storage this table exclusively owns (an Iceberg
    catalog would own GC instead — see the module docstring).
    """

    def __init__(
        self,
        path: str,
        key: str = "url_hash",
        compact_every: int = 16,
        expire_keep_last: int | None = None,
    ):
        self.table = SnapshotTable(path)
        self.key = key
        self.compact_every = compact_every
        # retention applied after each auto-compaction; None = keep all
        self.expire_keep_last = expire_keep_last

    # -- commits ---------------------------------------------------------
    def commit_base(self, df: DataFrame, note: str = "") -> str:
        return self.table.commit(df, note=note, kind="base")

    def commit_delta(self, spark: SparkSession, df: DataFrame, note: str = "") -> str:
        """Append changed/new FULL rows (same schema as base); last
        write wins per key.  Auto-compacts when the delta chain exceeds
        ``compact_every``."""
        snap = self.table.commit(df, note=note, kind="delta")
        if len(self._deltas_since_base()) > self.compact_every:
            self.compact(
                spark,
                note=f"auto-compact after {note}",
                expire_keep_last=self.expire_keep_last,
            )
        return snap

    def _deltas_since_base(self) -> list[dict]:
        snaps = self.table.snapshots()
        out: list[dict] = []
        for s in snaps:
            if s.get("kind", "base") == "base":
                out = []
            else:
                out.append(s)
        return out

    def _latest_base(self) -> dict | None:
        base = None
        for s in self.table.snapshots():
            if s.get("kind", "base") == "base":
                base = s
        return base

    # -- read (merge-on-read) ---------------------------------------------
    def read(self, spark: SparkSession) -> DataFrame:
        """Current state: the base, minus every key a pending delta
        rewrites, plus each such key's row from its latest delta
        (``max_by`` commit seq over the deltas only).  With deltas
        pending the key column comes first, as the USING join puts it."""
        base = self._latest_base()
        if base is None:
            raise FileNotFoundError(f"no base snapshot at {self.table.path}")
        rows = self.table.read(spark, base["id"])
        deltas = self._deltas_since_base()
        if not deltas:
            return rows
        tagged = functools.reduce(
            DataFrame.unionByName,
            [
                self.table.read(spark, s["id"]).withColumn("_seq", F.lit(int(s["seq"])))
                for s in deltas
            ],
        )
        cols = [c for c in tagged.columns if c not in ("_seq", self.key)]
        latest = tagged.groupBy(self.key).agg(
            *[F.max_by(F.col(c), F.col("_seq")).alias(c) for c in cols]
        )
        return rows.join(latest.select(self.key), self.key, "left_anti").unionByName(
            latest.select(*rows.columns)
        )

    def compact(
        self,
        spark: SparkSession,
        note: str = "compact",
        expire_keep_last: int | None = None,
    ) -> str:
        """Fold base+deltas into a fresh base snapshot.  With
        ``expire_keep_last`` set, old snapshots beyond that many are
        expired afterwards and orphan dirs GC'd — without retention the
        store grows one full-table image per compaction, unbounded."""
        snap = self.commit_base(self.read(spark), note=note)
        if expire_keep_last is not None:
            self.expire_snapshots(expire_keep_last)
        return snap

    def expire_snapshots(self, keep_last: int = 1) -> list[str]:
        """Retention that can never break reads: the latest base and
        every delta after it are ALWAYS kept (they reconstruct current
        state); beyond that, keep the last ``keep_last`` manifest
        entries for time travel.  Unreferenced dirs (expired, crashed
        writers, rollback leftovers) are deleted — manifest first, dirs
        second.  Reference analog: the 7-day download-retention cleanup
        (/root/reference/dart_api_manager.py:582-602), as snapshot
        retention instead of mtime deletes."""
        snaps = self.table.snapshots()
        base_idx = None
        for i, s in enumerate(snaps):
            if s.get("kind", "base") == "base":
                base_idx = i
        if base_idx is None:
            return []
        cut = min(base_idx, max(0, len(snaps) - keep_last))
        if cut > 0:
            self.table._publish(snaps[cut:])
        return self.table._gc_orphans()

    # -- snapshot surface (time travel works on the delta chain too:
    # rollback truncates the manifest; read() then merges the latest
    # base at-or-before the cut with the deltas after it) -------------
    def snapshots(self) -> list[dict]:
        return self.table.snapshots()

    def rollback_to(self, snapshot_id: str) -> None:
        self.table.rollback_to(snapshot_id)

    def snapshot_bytes(self, snapshot_id: str) -> int:
        """On-disk size of one snapshot (test/observability surface for
        the O(|round|)-bytes-per-commit invariant)."""
        d = os.path.join(self.table.path, snapshot_id)
        return sum(
            os.path.getsize(os.path.join(root, f))
            for root, _, files in os.walk(d)
            for f in files
        )
