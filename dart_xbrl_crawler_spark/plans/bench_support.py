"""Benchmark workloads shared by bench.py and its scaling subprocesses.

The crawl workload is self-synthesized (deterministic, seeded by row
id — no wall-clock, no external data): a skewed frontier of DART-style
URLs over mini-XBRL ZIP payloads, ≥60% of rows on one giant host
(north_rule skew shape).
"""

from __future__ import annotations

import io
import json
import time
import zipfile
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

RUN_TS = "2026-01-16 00:00:00"

_CONCEPTS = [
    ("ifrs-full_Assets", "자산총계", "Total assets", "자산 [개요]", "자산 [개요]", ""),
    ("ifrs-full_CurrentAssets", "유동자산", "Current assets", "자산총계", "유동자산", ""),
    ("ifrs-full_Cash", "현금및현금성자산", "Cash", "자산총계", "유동자산", "현금"),
    ("ifrs-full_PPE", "유형자산", "PP&E", "자산총계", "비유동자산", "유형자산"),
    ("ifrs-full_Liabilities", "부채총계", "Total liabilities", "부채 [개요]", "부채 [개요]", ""),
    ("ifrs-full_CurrentLiab", "유동부채", "Current liabilities", "부채총계", "유동부채", ""),
    ("ifrs-full_Equity", "자본총계", "Total equity", "자본 [개요]", "자본 [개요]", ""),
    ("ifrs-full_IssuedCapital", "자본금", "Issued capital", "자본총계", "자본금", ""),
    ("ifrs-full_Revenue", "수익(매출액)", "Revenue", "수익 [개요]", "", ""),
    ("ifrs-full_CostOfSales", "매출원가", "Cost of sales", "수익 [개요]", "매출원가", ""),
    ("ifrs-full_GrossProfit", "매출총이익", "Gross profit", "수익 [개요]", "매출총이익", ""),
    ("ifrs-full_ProfitLoss", "당기순이익", "Profit", "수익 [개요]", "당기순이익", ""),
]


def _doc_for(i: int) -> dict:
    """Deterministic WIDE mini-XBRL (mini-xbrl-2) document for row id i —
    the bench extract stage exercises the real wide→long unpivot."""
    mm = [3, 6, 9, 12][i % 4]
    q_end = f"2025{mm:02d}30"
    q_start = f"2025{mm - 2:02d}01"
    bs_cols = [[q_end, ["연결재무제표"]], [q_end, ["별도재무제표"]],
               [f"2024{mm:02d}30", ["연결재무제표"]]]  # out-of-period col
    cis_cols = [
        [f"{q_start}-{q_end}", ["연결재무제표"]],
        [f"{q_start}-{q_end}", ["별도재무제표"]],
        ["비고", ["연결재무제표"]],  # regex-rejected label
    ]
    stmts: dict = {
        "BS": {"columns": bs_cols, "rows": []},
        "CIS": {"columns": cis_cols, "rows": []},
    }
    for ci, (cid, ko, en, c1, c2, c3) in enumerate(_CONCEPTS):
        rt = "BS" if ci < 8 else "CIS"
        cols = stmts[rt]["columns"]
        values = [
            float((i * 31 + ci * 7 + fi * 3) % 100_000 + 1) * 1000.0
            for fi in range(len(cols))
        ]
        stmts[rt]["rows"].append(
            {
                "concept_id": cid,
                "label_ko": ko,
                "label_en": en,
                "class1": c1,
                "class2": c2,
                "class3": c3,
                "values": values,
            }
        )
    return {"doc_format": "mini-xbrl-2", "statements": stmts}


def synth_pages(spark: SparkSession, n_docs: int, n_parts: int) -> DataFrame:
    """Distributed deterministic page generation: spark.range →
    mapInPandas ZIP builder.  60% of urls land on the giant host."""

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids = pdf["id"].tolist()
            urls, htmls, rnms, rdts = [], [], [], []
            for i in ids:
                corp = f"{i % 997:08d}"
                mm = [3, 6, 9, 12][i % 4]
                doc = _doc_for(i)
                buf = io.BytesIO()
                with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
                    info = zipfile.ZipInfo(
                        f"entity{corp}_2025-{mm:02d}-30.xbrl",
                        date_time=(2026, 1, 1, 0, 0, 0),
                    )
                    zf.writestr(info, json.dumps(doc, ensure_ascii=False))
                host = (
                    "dart.fss.or.kr" if i % 10 < 6 else f"host{i % 37}.example"
                )
                urls.append(
                    f"https://{host}/api/fnlttXbrl.xml?rcept_no={20250000000000 + i}"
                )
                htmls.append(buf.getvalue())
                rnms.append(f"반기보고서 (2025.{mm:02d})")
                rdts.append(f"2025{mm:02d}15")
            yield pd.DataFrame(
                {"url": urls, "html": htmls, "report_nm": rnms, "rcept_dt": rdts}
            )

    return spark.range(n_docs, numPartitions=n_parts).mapInPandas(
        gen, schema="url string, html binary, report_nm string, rcept_dt string"
    )


def _batch_urls(spark: SparkSession, n_urls: int):
    """Deterministic skewed url batch (60% on the giant host), generated
    inline — spark.range + JVM expressions, no I/O.  FIXED partition
    count, independent of cores: the scaling comparison must vary only
    the executor count — deriving task counts from defaultParallelism
    quadruples the number of sub-second tasks at 4N and the
    single-threaded DAGScheduler becomes the bottleneck (measured as 4N
    anti-scaling)."""
    base = spark.range(n_urls, numPartitions=64)
    url = F.concat(
        F.lit("https://"),
        F.when(F.col("id") % 10 < 6, F.lit("DART.FSS.OR.KR")).otherwise(
            F.concat(F.lit("host"), (F.col("id") % 211).cast("string"), F.lit(".example"))
        ),
        F.lit("/api/doc?b="),
        (F.col("id") % 7).cast("string"),
        F.lit("&a="),
        F.col("id").cast("string"),
        F.when(F.col("id") % 3 == 0, "#frag").otherwise(""),
    )
    return base.select(url.alias("url"), "id")


class CrawlBench:
    """One crawl round over a skewed n_urls frontier, split into the
    stages a production round actually runs, so each stage is timed on
    its own work:

      setup (UNTIMED)  — the durable artifacts a round inherits from
        previous rounds: the seen-hash set and its incrementally-grown
        Bloom filter.  Rebuilding them per measurement would charge the
        round for work the engine explicitly never repeats
        (FrontierStore keeps the bloom as a durable, incrementally grown
        artifact).
      insert (timed)   — discovery-side: canonicalize the batch (pandas
        UDF, persisted ONCE — unpersisted, multiple consumers race to
        compute the cache and 3×cores python workers oversubscribe the
        box) and dedup against seen via the bloom+exact cogroup.
      pop (timed)      — politeness round over the deduped frontier:
        robots gate, per-host budgets, salted top-k, selection.
      extract (timed)  — wide-matrix XBRL parse of fetched pages
        (extract_job below).
    """

    def __init__(self, spark: SparkSession, n_urls: int, pop_mult: int | None = None):
        from pyspark.storagelevel import StorageLevel

        from ..functions.urls import with_url_canon
        from ..operators import dedup as D

        self.spark = spark
        self.n_urls = n_urls
        if pop_mult is not None:
            self.POP_MULT = pop_mult
        self._lvl = StorageLevel.MEMORY_AND_DISK
        # 10% already-seen: a pop round mostly meets NEW urls (high-dup
        # batches belong to insert/discovery)
        seen_urls = _batch_urls(spark, n_urls).filter(F.col("id") % 10 == 0)
        self.seen = (
            with_url_canon(seen_urls).select("url_hash").persist(self._lvl)
        )
        self.seen.count()
        self.bloom = D.add_to_seen_filter(
            None, self.seen, "bloom", n_shards=64, expected_keys=n_urls // 10
        ).persist(self._lvl)
        self.bloom.count()
        # small-host delay 5 ms: budget 40 k covers each of the 211
        # small hosts' queues up to a 20 M-row pop frontier (they hold
        # 0.4/211 of it), so they pop whole and unranked, and the
        # measured pop work is the skew path — the giant host's salted
        # per-bucket quota ranking — plus that scan, at every campaign
        # quantum.  At 10 ms the small hosts' queues outgrew their
        # budget between the 8 M and 16 M quanta, so different campaign
        # quanta measured different code paths (and the 16 M+ host-wide
        # sort made in-session memory pressure, 66→171 s trial drift at
        # 24 M).
        self.robots = spark.createDataFrame(
            [("dart.fss.or.kr", None, 1)]
            + [(f"host{k}.example", None, 5) for k in range(211)],
            schema="host string, disallow_prefix string, crawl_delay_ms long",
        )
        self.frontier = None

    def insert_job(self) -> int:
        """Timed: canonicalize + bloom/exact dedup.  Leaves the deduped
        frontier persisted+materialized — the production analog is the
        frontier table on storage between stages (pop_round has several
        consumers; a lazy persist lets them race to compute the cache →
        concurrent python stages → worker oversubscription)."""
        from ..functions.urls import with_url_canon
        from ..operators import dedup as D

        if self.frontier is not None:
            self.frontier.unpersist()
        canon = with_url_canon(_batch_urls(self.spark, self.n_urls)).persist(
            self._lvl
        )
        canon.count()  # materialize: canonicalizer runs exactly once
        self.frontier = (
            D.dedup_urls(
                canon.drop("id"),
                self.seen,
                self.bloom,
                n_shards=64,
                max_confirmed_hint=self.n_urls // 10 + 1,
            )
            .withColumn("priority", F.lit(0.0))
            .withColumn("discovered_ts", F.to_timestamp(F.lit(RUN_TS)))
            .persist(self._lvl)
        )
        n = self.frontier.count()
        canon.unpersist()
        return n

    # pop frontier = POP_MULT × n_urls (see pop_job).  Default 4 keeps
    # ad-hoc runs cheap; the bench campaign passes pop_mult=8 (16 M
    # rows at 2 M urls) so the pop stage's variable work dominates its
    # ~2-4 s of per-stage constants (AQE waves, counts broadcast) even
    # in the 2-core leg — measured fits: t ≈ c + V/cores with c ≈ 2-4 s
    # and V ≈ 58 s per 8 M rows idle, so 8 M rows reads 0.65-0.84
    # efficiency depending on the co-tenant window while 16 M doubles
    # the variable term.  16 M is also the ceiling: past ~20 M the
    # small hosts' queues outgrow their budget (see robots above) and
    # the added host-wide sorts push the session into memory-pressure
    # territory (measured 66→171 s trial drift at 24 M).
    POP_MULT = 4

    def _pop_frontier(self, n: int | None = None):
        """The pop stage's input: a stored-frontier stand-in MUCH larger
        than one insert batch — production-shaped (a round pops from a
        10^10-row table; an insert batch is comparatively tiny).  Pure
        Catalyst expressions over spark.range: already-canonical rows,
        zero python, zero setup cost, deterministic — each branch scan
        regenerates them inside whole-stage codegen for less than a
        cache read would cost."""
        if n is None:
            n = self.n_urls * self.POP_MULT
        base = self.spark.range(n, numPartitions=64)
        host = F.when(F.col("id") % 10 < 6, F.lit("dart.fss.or.kr")).otherwise(
            F.concat(
                F.lit("host"), (F.col("id") % 211).cast("string"), F.lit(".example")
            )
        )
        url_canon = F.concat(
            F.lit("https://"), host, F.lit("/api/doc?a="), F.col("id").cast("string")
        )
        return base.select(
            url_canon.alias("url_canon"),
            F.xxhash64(url_canon).alias("url_hash"),
            host.alias("host"),
            F.lit(0.0).alias("priority"),
            F.to_timestamp(F.lit(RUN_TS)).alias("discovered_ts"),
        )

    def pop_job(self) -> int:
        """Timed: one politeness round over a POP_MULT×n_urls frontier.

        round_ms is sized so the giant host (60% of the frontier, 1 ms
        delay → budget 200k ≪ its queue) lands in the salted QUOTA
        regime — the skew path whose parallel per-bucket ranking is the
        round's real distributed work.  A huge round budget would let
        every host pop its whole queue unranked, and a small frontier
        would leave the job dominated by per-stage scheduling constants
        (measured: flat ~5-9 s at any core count → anti-scaling
        artifacts)."""
        from ..operators import politeness as P

        popped = P.pop_round(
            self._pop_frontier(),
            self.robots,
            round_ms=200_000,
            salt_buckets=64,
        )
        return popped.filter(F.col("selected")).count()

    def pop_probe_job(self) -> int:
        """Per-stage CONSTANTS probe: the identical pop_round plan on a
        frontier small enough that stage constants (AQE waves, counts
        broadcast, task scheduling) dominate — 500 k keeps the giant
        host (300 k > budget 200 k) in the quota regime, so the probe
        walks the SAME stages as pop_job, just with negligible variable
        work.  The bench subtracts this from the 16 M measurement to
        report the variable part's scaling efficiency separately
        (t ≈ c + V/cores; eff_raw conflates the two)."""
        from ..operators import politeness as P

        popped = P.pop_round(
            self._pop_frontier(500_000),
            self.robots,
            round_ms=200_000,
            salt_buckets=64,
        )
        return popped.filter(F.col("selected")).count()

    def close(self) -> None:
        for df in (self.seen, self.bloom, self.frontier):
            if df is not None:
                df.unpersist()


def frontier_scale_job(spark: SparkSession, n_urls: int) -> int:
    """Back-compat composite (setup + insert + pop in one timing) —
    used only for cheap worker warm-up."""
    b = CrawlBench(spark, n_urls)
    try:
        b.insert_job()
        return b.pop_job()
    finally:
        b.close()


# Extract-stage task layout: 128 one-file scan splits (4m
# maxPartitionBytes, below) coalesced — WITHOUT a shuffle — to this
# many tasks.  One task per tiny file paid ~50 ms of scheduling/Arrow
# setup against ~40 ms of kernel work once the r6 kernel landed
# (measured 4.5 s → 2.0 s at 8 cores for 60 k docs); ~5 files per task
# restores the compute:overhead ratio.  FIXED, not derived from cores:
# the 2- and 8-core scaling legs must run the identical task layout or
# the comparison measures the DAGScheduler (see _batch_urls).
EXTRACT_COALESCE = 24


def extract_job(spark: SparkSession, pages_path: str, limit: int | None = None) -> int:
    """Extract stage over pre-synthesized pages; returns parsed count.
    ``limit`` bounds the input (used for cheap worker warm-up runs).

    The parse kernel is COMPUTE-bound (~0.2 ms/doc in python after the
    r6 vectorization), so the scan split must follow the file layout,
    not bytes: the default 128 MB maxPartitionBytes packs 240k small
    docs into ~5 tasks and starves every core (measured 196 s vs ~19 s
    at 16 cores).  The bench session therefore sets
    maxPartitionBytes=4m (bench.py) — one split per synth file — and
    the splits coalesce (narrow, still NO shuffle) to EXTRACT_COALESCE
    tasks, a count fixed by the file layout and independent of the
    executor count (varying task counts would make the scaling
    comparison measure the DAGScheduler).  Production has the same
    property for free: extract consumes the fetch stage's output,
    which fetch_partitioning already spreads over (host, salt)
    partitions sized by target_rows_per_task."""
    from ..operators import extract as X

    pages = spark.read.parquet(pages_path)
    if limit:
        pages = pages.limit(limit)
    else:
        pages = pages.coalesce(EXTRACT_COALESCE)
    out = X.extract_text(pages, RUN_TS)
    return out.filter(F.col("parse_ok")).count()


def timed(fn, *args) -> tuple[float, object]:
    t0 = time.time()
    out = fn(*args)
    return time.time() - t0, out
