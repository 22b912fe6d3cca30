"""URL-seen dedup: a sharded Bloom or cuckoo filter + exact confirmation.

Reference analog: re-download avoidance by directory existence
(/root/reference/dart_api_manager.py:388-389) — a single-node trick that
cannot scale.  Here (north_rule): a **sharded seen filter** keyed by
``xxhash64(url_canon)``, of one of two kinds — Bloom (add, test) or
cuckoo (add, test, remove).

Scale design (10^10 URLs): ``P`` shards keyed ``pmod(url_hash, P)``.
Each shard sizes for n/P keys — at 10^10 keys, 1% fpp, P=4096 → a
~3 MB Bloom bitmap per shard.  Every task holds exactly one shard
(cogroup-aligned), never the whole 12 GB filter, and no shard ever
rides a broadcast or a row:

- ``add_to_seen_filter`` / ``remove_from_seen_filter`` are the one
  update plan (``_update_shards``): the batch's hashes cogroup with the
  stored shards, and each task adds (or removes) its keys in its shard.
  A shard is sized once, when it is created, so a batch always lands in
  the geometry of the shard it meets.
- ``probe_seen`` and ``dedup_urls`` test membership through the one
  per-shard helper ``_shard_contains``, for either kind.

Exactness: both kinds have false positives, so ``dedup_urls`` uses the
filter only as a *prefilter*: rows flagged maybe-seen get an exact
confirmation against the seen table.  No false negatives
(property-tested) → the surviving set is exactly frontier − seen.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

BLOOM_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.IntegerType(), False),
        T.StructField("bits", T.BinaryType(), False),
        T.StructField("m_bits", T.LongType(), False),
        T.StructField("k_hashes", T.IntegerType(), False),
        T.StructField("n_keys", T.LongType(), False),
    ]
)

_LN2 = float(np.log(2.0))
_BLOOM_FPP = 0.01


def _bloom_params(n: int) -> tuple[int, int]:
    """(m_bits, k_hashes) for n keys at the target fpp; m rounded up to
    a multiple of 64."""
    n = max(n, 1)
    m = int(np.ceil(-n * np.log(_BLOOM_FPP) / (_LN2 * _LN2)))
    m = ((m + 63) // 64) * 64
    k = max(1, int(round(m / n * _LN2)))
    return m, k


def _mix(h: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer — decorrelates structured keys so bit
    positions stay uniform even for non-xxhash inputs."""
    z = h + np.uint64(0x9E3779B97F4A7C15)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def _positions(hashes: np.ndarray, m_bits: int, k: int) -> Iterator[np.ndarray]:
    """k double-hashed bit positions per key; h2 forced odd so the
    stride cycles the whole bitmap."""
    h = hashes.astype(np.uint64)
    h1 = _mix(h)
    h2 = _mix(h ^ np.uint64(0xD6E8FEB86659FD93)) | np.uint64(1)
    for i in range(k):
        yield ((h1 + np.uint64(i) * h2) % np.uint64(m_bits)).astype(np.uint64)


def _set_bits(bits: np.ndarray, pos: np.ndarray) -> None:
    np.bitwise_or.at(bits, (pos >> np.uint64(6)).astype(np.int64),
                     np.uint64(1) << (pos & np.uint64(63)))


def _test_bits(bits: np.ndarray, pos: np.ndarray) -> np.ndarray:
    word = bits[(pos >> np.uint64(6)).astype(np.int64)]
    return (word >> (pos & np.uint64(63))) & np.uint64(1) != 0


_VERDICT_SCHEMA = T.StructType(
    [
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("seen_maybe", T.BooleanType(), False),
    ]
)


def probe_seen(
    frontier: DataFrame, bloom: DataFrame, n_shards: int = 64
) -> DataFrame:
    """frontier + ``seen_maybe`` boolean; ``bloom`` is either kind of
    seen filter (BLOOM_SCHEMA or CUCKOO_SCHEMA rows).

    The python side sees ONLY (shard int, url_hash long) — pure numpy,
    no object churn (full string rows through the Arrow channel
    collapsed >8-worker throughput; measured 6× at 32 cores).  The
    boolean verdict joins back to the string payload JVM-side.  Each
    cogroup task holds exactly one shard's bitmap."""
    # distinct: one verdict row per hash, so the join back cannot
    # multiply frontier rows that share a hash
    keyed = frontier.select("url_hash").distinct().withColumn(
        "shard", _shard_of(n_shards)
    )

    def probe(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        hashes = left["url_hash"].to_numpy(dtype=np.int64)
        return pd.DataFrame(
            {"url_hash": hashes, "seen_maybe": _shard_contains(right, hashes)}
        )

    verdict = (
        keyed.groupBy("shard")
        .cogroup(bloom.groupBy("shard"))
        .applyInPandas(probe, schema=_VERDICT_SCHEMA)
    )
    return frontier.join(verdict, "url_hash")


def dedup_urls(
    frontier: DataFrame,
    seen: DataFrame,
    bloom: DataFrame,
    n_shards: int = 64,
    max_confirmed_hint: int | None = None,
    broadcast_max_rows: int = 4_000_000,
) -> DataFrame:
    """Exact frontier − seen.

    ``bloom`` accepts EITHER filter table — BLOOM_SCHEMA or
    CUCKOO_SCHEMA rows (``_shard_contains`` dispatches on the columns);
    the plan and exactness contract are identical for both.

    ONE shard-aligned numeric python stage does both the approximate
    probe AND the exact confirmation — frontier hashes and seen hashes
    are tagged, unioned, cogrouped with the filter by shard; per shard,
    numpy filter-tests the frontier hashes and ``np.isin``-checks
    the flagged ones against that shard's seen hashes.  The output
    (``confirmed``: hashes provably in seen) is bounded by the *batch*
    (true overlap + fpp·|new|), never by |seen| — broadcast it into a
    single anti-join, so the frontier (strings) never shuffles or sorts
    and the seen table moves only as bare int64 hashes.

    The broadcast is NOT unconditional (a rediscovery-heavy batch can
    overlap almost entirely, and a forced multi-million-row broadcast
    OOMs the driver): callers who know an upper bound on the overlap
    (insert knows |batch|) pass ``max_confirmed_hint`` and the hint-fits
    case keeps the zero-extra-action broadcast plan; otherwise the
    confirmed set is materialized once, counted, and broadcast only when
    it actually fits — falling back to a plain anti-join (AQE picks the
    strategy) for genuinely huge overlaps.

    Why not joins: the SortMergeJoin-anti formulation cost two full
    sorts of the 5M-row sides and anti-scaled 1.4× going 8→32 cores;
    flagged-semi-join-then-anti spent its time in driver broadcast
    jobs."""
    tagged = (
        frontier.select("url_hash", F.lit(False).alias("is_seen"))
        .unionByName(seen.select("url_hash", F.lit(True).alias("is_seen")))
        .withColumn("shard", _shard_of(n_shards))
    )

    def probe(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        is_seen = left["is_seen"].to_numpy(dtype=bool)
        hashes = left["url_hash"].to_numpy(dtype=np.int64)
        front = hashes[~is_seen]
        flagged = front[_shard_contains(right, front)]
        confirmed = flagged[np.isin(flagged, hashes[is_seen])]
        return pd.DataFrame(
            {
                "url_hash": confirmed,
                "seen_maybe": np.ones(len(confirmed), dtype=bool),
            }
        )

    confirmed_seen = (
        tagged.groupBy("shard")
        .cogroup(bloom.groupBy("shard"))
        .applyInPandas(probe, schema=_VERDICT_SCHEMA)
        .select("url_hash")
    )
    if max_confirmed_hint is not None and max_confirmed_hint <= broadcast_max_rows:
        return frontier.join(F.broadcast(confirmed_seen), "url_hash", "left_anti")
    # unknown/large bound: materialize the confirmed set once
    # (lineage-free — the python cogroup runs exactly once; blocks are
    # reclaimed by the ContextCleaner) and pick the join strategy on the
    # TRUE count instead of hoping it fits in driver memory
    confirmed_seen = confirmed_seen.localCheckpoint(eager=True)
    if confirmed_seen.count() <= broadcast_max_rows:
        return frontier.join(F.broadcast(confirmed_seen), "url_hash", "left_anti")
    return frontier.join(confirmed_seen, "url_hash", "left_anti")


# =====================================================================
# Partitioned CUCKOO filter — the north star names "Bloom/cuckoo"; the
# cuckoo variant adds the one capability Bloom structurally lacks:
# DELETION (frontier expiry / GC must be able to retire url_hashes from
# the seen structure without a full rebuild).  Same scale shape as the
# Bloom above: P shards keyed pmod(url_hash, P); each probe/add/remove
# task holds exactly one shard table (cogroup-aligned); tables never
# ride a broadcast or a row.
#
# Per-shard layout (Fan et al., "Cuckoo Filter: Practically Better Than
# Bloom", CoNEXT 2014 — public paper): m buckets (power of two) × 4
# slots of 16-bit fingerprints (0 = empty slot; fingerprints are forced
# nonzero).  Candidate buckets i1 = H(x) & (m-1) and
# i2 = (i1 ^ H'(fp)) & (m-1) — the xor form makes i1 recoverable from
# (i2, fp), which is what lets eviction relocate entries without the
# original key.  fpp ≈ 2·4/2^16 ≈ 1.2e-4 per lookup at 16-bit tags.
#
# The insert path is a two-pass vectorized fill (rank-within-bucket
# against free slots for i1 then i2) with a per-key kick loop only for
# the residue — pure-python honesty: a production cluster would swap a
# native kernel behind the same (shard, table) contract, exactly like
# the parse kernels.
# =====================================================================

CUCKOO_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.IntegerType(), False),
        T.StructField("table", T.BinaryType(), False),
        T.StructField("m_buckets", T.LongType(), False),
        T.StructField("n_keys", T.LongType(), False),
    ]
)

_CUCKOO_SLOTS = 4
_CUCKOO_MAX_KICKS = 500
_CUCKOO_LOAD = 0.84


def _cuckoo_m(expected: int) -> int:
    """Bucket count: next power of two holding ``expected`` keys at the
    target load factor (0.84 keeps the kick residue tiny at 4 slots)."""
    need = max(1, int(np.ceil(expected / (_CUCKOO_LOAD * _CUCKOO_SLOTS))))
    return 1 << int(np.ceil(np.log2(need)))


def _cuckoo_fp(h: np.ndarray) -> np.ndarray:
    """16-bit nonzero fingerprints from the key hash."""
    fp = (_mix(h.astype(np.uint64)) >> np.uint64(48)).astype(np.uint16)
    return np.where(fp == 0, np.uint16(1), fp)


def _cuckoo_b1(h: np.ndarray, m: int) -> np.ndarray:
    return (_mix(h.astype(np.uint64)) & np.uint64(m - 1)).astype(np.int64)


def _cuckoo_alt(b: np.ndarray, fp: np.ndarray, m: int) -> np.ndarray:
    """Partner bucket: i ^ H'(fp) — involutive, so alt(alt(b)) == b."""
    tag_hash = _mix(fp.astype(np.uint64)) & np.uint64(m - 1)
    return (b.astype(np.uint64) ^ tag_hash).astype(np.int64) & (m - 1)


def _cuckoo_fill(table: np.ndarray, buckets: np.ndarray, fps: np.ndarray) -> np.ndarray:
    """Vectorized pass: place each (bucket, fp) into a free slot of its
    bucket where rank-within-bucket < free-slot count.  Returns the
    boolean mask of keys NOT placed."""
    order = np.argsort(buckets, kind="stable")
    b_sorted = buckets[order]
    # rank of each key within its bucket run
    starts = np.flatnonzero(np.r_[True, b_sorted[1:] != b_sorted[:-1]])
    run_id = np.cumsum(np.r_[True, b_sorted[1:] != b_sorted[:-1]]) - 1
    rank = np.arange(len(b_sorted)) - starts[run_id]
    free = (table[b_sorted] == 0).sum(axis=1)
    placeable = rank < free
    # slot index: rank'th free slot of the bucket
    for i in np.flatnonzero(placeable):
        b = b_sorted[i]
        empt = np.flatnonzero(table[b] == 0)
        table[b, empt[0]] = fps[order[i]]
    unplaced = np.ones(len(buckets), dtype=bool)
    unplaced[order[placeable]] = False
    return unplaced


def _cuckoo_insert_keys(table: np.ndarray, hashes: np.ndarray, rng_seed: int) -> int:
    """Insert hashes into a shard table in place; returns the number of
    keys that could NOT be placed (0 under correct sizing).  Duplicate
    hashes insert duplicate fingerprints — deletion stays safe (one
    delete removes one copy), matching the paper's multiset semantics."""
    m = table.shape[0]
    fps = _cuckoo_fp(hashes)
    b1 = _cuckoo_b1(hashes, m)
    left = _cuckoo_fill(table, b1, fps)
    if left.any():
        b2 = _cuckoo_alt(b1[left], fps[left], m)
        still = _cuckoo_fill(table, b2, fps[left])
        idx = np.flatnonzero(left)[still]
    else:
        idx = np.empty(0, dtype=np.int64)
    # kick loop for the residue — deterministic RNG (seeded per shard)
    rng = np.random.RandomState(rng_seed & 0x7FFFFFFF)
    failed = 0
    for i in idx:
        fp = fps[i]
        b = int(b1[i])
        placed = False
        for _ in range(_CUCKOO_MAX_KICKS):
            empt = np.flatnonzero(table[b] == 0)
            if len(empt):
                table[b, empt[0]] = fp
                placed = True
                break
            slot = rng.randint(_CUCKOO_SLOTS)
            fp, table[b, slot] = table[b, slot], fp
            b = int(_cuckoo_alt(np.array([b]), np.array([fp], dtype=np.uint16), m)[0])
        if not placed:
            failed += 1
    return failed


def _cuckoo_contains(table: np.ndarray, hashes: np.ndarray) -> np.ndarray:
    m = table.shape[0]
    fps = _cuckoo_fp(hashes)
    b1 = _cuckoo_b1(hashes, m)
    b2 = _cuckoo_alt(b1, fps, m)
    return (table[b1] == fps[:, None]).any(axis=1) | (
        table[b2] == fps[:, None]
    ).any(axis=1)


def _cuckoo_delete_keys(table: np.ndarray, hashes: np.ndarray) -> int:
    """Remove ONE fingerprint copy per key (checking both candidate
    buckets); returns how many keys had no matching fingerprint."""
    m = table.shape[0]
    fps = _cuckoo_fp(hashes)
    b1 = _cuckoo_b1(hashes, m)
    b2 = _cuckoo_alt(b1, fps, m)
    missing = 0
    for i in range(len(hashes)):
        hit = False
        for b in (int(b1[i]), int(b2[i])):
            slots = np.flatnonzero(table[b] == fps[i])
            if len(slots):
                table[b, slots[0]] = 0
                hit = True
                break
        missing += 0 if hit else 1
    return missing


# =====================================================================
# One shard-update plan and one membership test for both kinds.  Each
# kind is a small numpy adapter over one stored row: ``create`` a shard
# sized for n keys, ``add`` keys, test keys (``contains``) and, cuckoo
# only, ``remove`` keys.
# =====================================================================


class _BloomShard:
    schema = BLOOM_SCHEMA

    def __init__(self, row) -> None:
        self.shard = int(row["shard"])
        self.m, self.k = int(row["m_bits"]), int(row["k_hashes"])
        self.n_keys = int(row["n_keys"])
        self.bits = np.frombuffer(row["bits"], dtype=np.uint64).copy()

    @classmethod
    def create(cls, shard: int, n: int) -> _BloomShard:
        m, k = _bloom_params(n)
        return cls({"shard": shard, "bits": bytes(m // 8), "m_bits": m,
                    "k_hashes": k, "n_keys": 0})

    def add(self, hashes: np.ndarray) -> None:
        for pos in _positions(hashes, self.m, self.k):
            _set_bits(self.bits, pos)
        self.n_keys += len(hashes)

    def contains(self, hashes: np.ndarray) -> np.ndarray:
        hit = np.ones(len(hashes), dtype=bool)
        for pos in _positions(hashes, self.m, self.k):
            hit &= _test_bits(self.bits, pos)
        return hit

    def row(self) -> dict:
        return {"shard": self.shard, "bits": self.bits.tobytes(),
                "m_bits": self.m, "k_hashes": self.k, "n_keys": self.n_keys}


class _CuckooShard:
    schema = CUCKOO_SCHEMA

    def __init__(self, row) -> None:
        self.shard = int(row["shard"])
        self.m, self.n_keys = int(row["m_buckets"]), int(row["n_keys"])
        self.table = (
            np.frombuffer(row["table"], dtype=np.uint16)
            .reshape(self.m, _CUCKOO_SLOTS)
            .copy()
        )

    @classmethod
    def create(cls, shard: int, n: int) -> _CuckooShard:
        m = _cuckoo_m(n)
        return cls({"shard": shard, "table": bytes(2 * m * _CUCKOO_SLOTS),
                    "m_buckets": m, "n_keys": 0})

    def add(self, hashes: np.ndarray) -> None:
        failed = _cuckoo_insert_keys(self.table, hashes, rng_seed=self.shard)
        if failed:
            raise ValueError(
                f"cuckoo shard {self.shard} over capacity ({failed} unplaced "
                f"of {len(hashes)}; size expected_keys for the table lifetime)"
            )
        self.n_keys += len(hashes)

    def contains(self, hashes: np.ndarray) -> np.ndarray:
        return _cuckoo_contains(self.table, hashes)

    def remove(self, hashes: np.ndarray) -> None:
        self.n_keys -= len(hashes) - _cuckoo_delete_keys(self.table, hashes)

    def row(self) -> dict:
        return {"shard": self.shard, "table": self.table.tobytes(),
                "m_buckets": self.m, "n_keys": self.n_keys}


_KINDS = {"bloom": _BloomShard, "cuckoo": _CuckooShard}


def _shard_of(n_shards: int):
    return F.pmod(F.col("url_hash"), F.lit(n_shards)).cast("int")


def _shard_contains(shard_pdf: pd.DataFrame, hashes: np.ndarray) -> np.ndarray:
    """Membership of ``hashes`` in one stored shard of either kind; a
    shard with no stored row holds nothing."""
    if shard_pdf.empty:
        return np.zeros(len(hashes), dtype=bool)
    kind = _BloomShard if "bits" in shard_pdf.columns else _CuckooShard
    return kind(shard_pdf.iloc[0]).contains(hashes)


def _update_shards(
    stored: DataFrame | None,
    hashes: DataFrame,
    kind: type,
    n_shards: int,
    op: str,
    expected_keys: int | None = None,
) -> DataFrame:
    """The one plan that writes seen-filter shards: hashes(url_hash)
    cogroup with the stored shards by shard id, and each task applies
    ``op`` ('add' | 'remove') to one shard — O(shard bytes) per task.
    Shards the batch does not touch pass through unchanged.  'add'
    creates a shard with no stored row, sized for ``expected_keys``/P
    keys (for the keys it receives when no size is given); a stored
    shard keeps its size for the table's lifetime.  Duplicate hashes
    are added as they come (the cuckoo's multiset contract)."""
    if stored is None:
        # from an RDD with no partitions: no task, so no Python worker
        # (a Python worker decodes a frame built from a local list)
        spark = hashes.sparkSession
        stored = spark.createDataFrame(spark.sparkContext.emptyRDD(), kind.schema)
    per_shard_n = expected_keys // n_shards + 1 if expected_keys else None
    keyed = hashes.select(_shard_of(n_shards).alias("shard"), "url_hash")

    def update(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if not right.empty:
            shard = kind(right.iloc[0])
        elif op == "add":
            shard = kind.create(int(left["shard"].iloc[0]), per_shard_n or len(left))
        else:  # nothing stored to remove from
            return pd.DataFrame()
        if not left.empty:
            getattr(shard, op)(left["url_hash"].to_numpy(dtype=np.int64))
        return pd.DataFrame([shard.row()])

    return (
        keyed.groupBy("shard")
        .cogroup(stored.groupBy("shard"))
        .applyInPandas(update, schema=kind.schema)
    )


def add_to_seen_filter(
    stored: DataFrame | None,
    hashes: DataFrame,
    kind: str,
    n_shards: int,
    expected_keys: int | None = None,
) -> DataFrame:
    """The filter table of ``kind`` ('bloom' | 'cuckoo') holding
    ``stored`` (None: an empty filter) plus hashes(url_hash)."""
    return _update_shards(
        stored, hashes, _KINDS[kind], n_shards, "add", expected_keys
    )


def remove_from_seen_filter(
    stored: DataFrame, hashes: DataFrame, n_shards: int
) -> DataFrame:
    """The stored cuckoo table minus one copy of each of hashes(url_hash)
    — what frontier expiry needs and a Bloom filter cannot do."""
    return _update_shards(stored, hashes, _CuckooShard, n_shards, "remove")
