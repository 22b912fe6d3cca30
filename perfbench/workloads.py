"""The benchmark workloads: ``crawl_start`` and ``content``.

Each workload builds its inputs in ``setup`` (untimed), runs one engine
operation per ``op`` call through the engine's public functions, and
checks that operation's output in ``check`` (untimed).  ``traced_op``
runs the same operation decomposed into the calls the engine makes,
materializing each layer's output inside a span (see spans.py).
"""

from __future__ import annotations

import math
import os
import shutil
from collections import Counter

import duckdb
import pyarrow.parquet as pq
from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

import gen
from dart_xbrl_crawler_spark.functions import urls as U
from dart_xbrl_crawler_spark.operators import extract as X
from dart_xbrl_crawler_spark.operators import politeness as P
from dart_xbrl_crawler_spark.operators.frontier import FrontierStore
from dart_xbrl_crawler_spark.plans import pipeline
from dart_xbrl_crawler_spark.schemas import CORP_MAP

RUN_TS = gen.RUN_TS
MEM = StorageLevel.MEMORY_AND_DISK


def tree_bytes(*paths: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for p in paths
        for root, _, files in os.walk(p)
        for f in files
    )


def _norm(v) -> str:
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.9g}"
    return str(v)


def canon_rows(cols: list[str], rows: list[tuple]) -> list[tuple]:
    """Order-insensitive rows with columns sorted by name, floats to 9
    significant digits (the catalog's oracle-parity convention)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


class Workload:
    """Sizes come from ``SIZES[scale]``.  A run times at most
    ``max_ops`` ops."""

    SIZES: dict[str, dict] = {}
    max_ops = 12

    def __init__(self, spark, rundir: str, seed: int, scale: str = "full"):
        self.spark = spark
        self.dir = rundir
        self.seed = seed
        self.size = self.SIZES[scale]
        self.n_ops = 0  # ops started

    def counts(self) -> dict[str, float]:
        """Per-layer counts for the op just traced."""
        return {}


# ---------------------------------------------------------------------
class CrawlStart(Workload):
    """One op = start a crawl on a fresh durable FrontierStore:
    ``bootstrap`` it from a seed list that respells some urls, then
    ``run_round`` over a queue far larger than a round's budget.  The
    store compacts after every delta (compact_every=0), so the round's
    commit folds its delta into a new base."""

    name = "crawl_start"
    COMPACT_EVERY = 0
    SIZES = {"full": {"frontier": 20_000, "pages_share": 0.5, "dup_share": 0.1},
             "tiny": {"frontier": 3_000, "pages_share": 0.5, "dup_share": 0.1}}

    def setup(self) -> None:
        spark, n = self.spark, self.size["frontier"]
        self.urls = {u.canon: u for u in gen.frontier_urls(self.seed, n)}
        self.seed_list, self.n_seed_rows = gen.seed_list(
            spark, list(self.urls.values()), self.seed, self.size["dup_share"],
            f"{self.dir}/in/seeds")
        self.pages, self.covered = gen.pages_frame(
            spark, list(self.urls.values()), self.seed, self.size["pages_share"],
            f"{self.dir}/in/pages")
        self.robots = gen.robots_df(spark, f"{self.dir}/in/robots").persist(MEM)
        self.robots.count()
        warm_python_workers(spark)

    def _store(self) -> FrontierStore:
        i, self.n_ops = self.n_ops, self.n_ops + 1
        return FrontierStore(f"{self.dir}/store/op{i}/f", n_bloom_shards=8,
                             expected_keys=2 * len(self.urls),
                             compact_every=self.COMPACT_EVERY)

    def _round_args(self) -> dict:
        return {"round_ms": gen.ROUND_MS, "salt_buckets": 32}

    # -- the op ----------------------------------------------------------
    def op(self):
        st = self._store()
        base = st.bootstrap(self.seed_list, RUN_TS)
        snap, _ = st.run_round(self.spark, self.pages, self.robots, RUN_TS, round_id=1,
                               **self._round_args())
        return len(self.urls), (st, base, snap)

    def traced_op(self, tr):
        """The same op decomposed into the calls bootstrap and run_round
        make, each layer's output materialized inside its span."""
        spark, st = self.spark, self._store()
        with tr.span("frontier.bootstrap"):
            with tr.span("urls.canon"):
                canon = (U.with_url_canon(self.seed_list)
                         .withColumn("seed_rcp_no", F.lit(None).cast("string")).persist(MEM))
                canon.count()
            with tr.span("dedup.first_wins"):
                first = Window.partitionBy("url_hash").orderBy(F.col("priority").desc(),
                                                               F.col("url").asc())
                boot = (
                    canon.withColumn("_rn", F.row_number().over(first))
                    .filter(F.col("_rn") == 1).drop("_rn")
                    .withColumn("depth", F.lit(0))
                    .withColumn("state", F.lit("queued"))
                    .withColumn("discovered_ts", F.to_timestamp(F.lit(RUN_TS)))
                    .withColumn("fetch_ts", F.lit(None).cast("timestamp"))
                    .withColumn("partition_salt", F.lit(0))
                    .persist(MEM)
                )
                n_boot = boot.count()
            with tr.span("dedup.filter_commit"):
                st._commit_bloom_batch(spark, boot.select("url_hash"), "bootstrap")
            with tr.span("checkpoint.commit"):
                base = st.table.commit_base(boot, note="bootstrap")
            with tr.span("frontier.metrics_commit"):
                st._commit_insert_metrics(spark, boot, n_boot, 0)
        for df in (canon, boot):
            df.unpersist()

        with tr.span("frontier.round"):
            with tr.span("checkpoint.read"):
                frontier = st.table.read(spark).persist(MEM)
                frontier.count()
            with tr.span("politeness.pop"):
                popped = P.pop_round(frontier.filter(F.col("state") == "queued"),
                                     self.robots, **self._round_args()).persist(MEM)
                popped.count()
            with tr.span("politeness.fetch_partition"):
                fetch_in = P.fetch_partitioning(popped.filter(F.col("selected")))
                fetch_in = fetch_in.persist(MEM)
                fetch_in.count()
            with tr.span("urls.canon"):
                page_bytes = (U.with_url_canon(self.pages)
                              .select("url_hash", "html", "warc_ts")
                              .dropDuplicates(["url_hash"]).persist(MEM))
                page_bytes.count()
            with tr.span("frontier.fetch_join"):
                fetched = fetch_in.join(page_bytes, "url_hash", "left").persist(MEM)
                fetched.count()
            fcols, ts = frontier.columns, F.to_timestamp(F.lit(RUN_TS))

            def to_state(df, state):
                return df.withColumn("state", F.lit(state)).withColumn(
                    "fetch_ts", ts).select(*fcols)

            changed = (
                to_state(fetched.filter(F.col("html").isNotNull()), "fetched")
                .unionByName(to_state(fetched.filter(F.col("html").isNull()), "failed"))
                .unionByName(to_state(popped.filter(F.col("robots_blocked")),
                                      "robots_blocked"))
            )
            with tr.span("checkpoint.commit"):
                t = st.table
                snap = t.table.commit(changed, note="round=1", kind="delta")
            if len(t._deltas_since_base()) > t.compact_every:
                with tr.span("checkpoint.compact"):
                    t.compact(spark, note="auto-compact after round=1",
                              expire_keep_last=t.expire_keep_last)
            with tr.span("frontier.metrics_commit"):
                st.metrics.commit(
                    changed.groupBy(F.lit(1).alias("round_id"),
                                    F.spark_partition_id().alias("partition_id"), "state")
                    .count().withColumnRenamed("count", "n"), note="round=1")
                st.host_metrics.commit(
                    changed.groupBy(F.lit(1).alias("round_id"), "host", "state")
                    .count().withColumnRenamed("count", "n"), note="round=1")
        for df in (frontier, popped, fetch_in, page_bytes, fetched):
            df.unpersist()
        self._fast = self.seed_list.filter(F.col("url").rlike(U._FAST_URL_RE)).count()
        return len(self.urls), (st, base, snap)

    # -- checks and counts -------------------------------------------------
    def check(self, info) -> list[str]:
        st, base, snap = info
        errs = self._check_bootstrap(st, base) + self._check_round(st, snap)
        st.release()
        paths = [st.table_path + p for p in ("", "_bloom", "_metrics", "_host_metrics")]
        self._written = tree_bytes(*paths)
        prev = getattr(self, "_last_store", None)
        if prev:  # keep only the newest store on disk
            shutil.rmtree(os.path.dirname(prev.table_path), ignore_errors=True)
        self._last_store = st
        return errs[:5]

    def _check_bootstrap(self, st, base) -> list[str]:
        """The base holds every seed url exactly once, by its canonical
        spelling: respelled rows were canonicalized and folded."""
        got = [r[0] for r in st.table.table.read(self.spark, base).select("url_canon").collect()]
        if len(got) != len(set(got)):
            return [f"bootstrap kept {len(got) - len(set(got))} duplicate urls"]
        if set(got) != set(self.urls):
            return [f"bootstrap urls differ from the seed list: {len(set(got) ^ set(self.urls))}"]
        return []

    def _check_round(self, st, snap) -> list[str]:
        """Per host: selected = min(queue, budget), so no host goes past
        its budget; every queued blocked row turns robots_blocked; a
        selected row is fetched iff the pages table covers it."""
        rows = st.table.table.read(self.spark, snap).select("url_canon", "state").collect()
        queued, blocked = gen.host_counts(self.urls.values())
        errs: list[str] = []
        sel, blk = Counter(), Counter()
        for r in rows:
            u = self.urls.get(r["url_canon"])
            if u is None:
                errs.append(f"unknown url in the round delta: {r['url_canon']}")
                continue
            if r["state"] == "robots_blocked":
                blk[u.host] += 1
                if not u.blocked:
                    errs.append(f"{u.canon} robots_blocked but robots allow it")
                continue
            sel[u.host] += 1
            want = "fetched" if u.lid in self.covered else "failed"
            if r["state"] != want:
                errs.append(f"{u.canon}: {r['state']} != {want}")
        want_sel = {h: min(q, gen.budget_of(h)) for h, q in queued.items() if q}
        if dict(sel) != want_sel:
            bad = sorted(h for h in set(sel) | set(want_sel) if sel[h] != want_sel.get(h, 0))
            errs.append(f"selected per host differs on {len(bad)} hosts, e.g. {bad[:3]}")
        if dict(blk) != {h: n for h, n in blocked.items() if n}:
            errs.append(f"robots_blocked {sum(blk.values())} != {sum(blocked.values())}")
        self._ranked = sum(q for h, q in queued.items() if q > gen.budget_of(h))
        self._selected = sum(sel.values())
        return errs

    def counts(self) -> dict[str, float]:
        return {
            "politeness.ranked_rows": self._ranked,
            "politeness.selected_rows": self._selected,
            "dedup.dup_share": 1 - len(self.urls) / self.n_seed_rows,
            "urls.fast_path_share": self._fast / self.n_seed_rows,
            "checkpoint.bytes_written": self._written,
        }


def warm_python_workers(spark) -> None:
    """Start one Python worker per core with the engine imported, so a
    timed op does not pay for worker start-up."""

    def load(it):
        import dart_xbrl_crawler_spark.operators.dedup  # noqa: F401
        import dart_xbrl_crawler_spark.operators.extract  # noqa: F401

        yield from it

    n = spark.sparkContext.defaultParallelism
    spark.range(n, numPartitions=n).mapInPandas(load, "id long").count()


# ---------------------------------------------------------------------
class FetchExtract(Workload):
    """One op = run_extract + write_facts into a fresh directory, plus an
    extract_text pass that collects each page's parse outcome and the
    md5 of its text."""

    name = "fetch_extract"
    SIZES = {"full": {"pages": 1_000}, "tiny": {"pages": 200}}

    def setup(self) -> None:
        spark = self.spark
        gen_df, pages = gen.extract_pages(spark, self.seed, self.size["pages"],
                                          f"{self.dir}/in/pages")
        self.pages = gen_df.select("url", "html")
        self.seeds = gen_df.select(
            "rcept_no", F.lit("00000000").alias("corp_code"), "report_nm", "rcept_dt",
            F.lit(0).alias("seed_rank"),
        )
        self.corp_map = spark.createDataFrame(gen.corp_map_rows(), schema=CORP_MAP)
        self.want_facts = sum(p.n_facts for p in pages)
        self.want_text = {p.url: (p.parse_ok, p.text_md5) for p in pages}

    def _sink(self, i: int) -> str:
        return f"{self.dir}/sink/op{i}"

    def op(self):
        i, self.n_ops = self.n_ops, self.n_ops + 1
        facts = pipeline.run_extract(self.pages, self.seeds, self.corp_map, RUN_TS)
        pipeline.write_facts(facts.drop("url"), self._sink(i))
        text = _text_digest(X.extract_text(pipeline.pages_with_meta(self.pages, self.seeds),
                                           RUN_TS))
        return self.size["pages"], (i, text)

    def traced_op(self, tr):
        """meta join → facts kernel → corp join → partitioned sink, then
        the text kernel."""
        i, self.n_ops = self.n_ops, self.n_ops + 1
        with tr.span("pipeline.meta_join"):
            meta = pipeline.pages_with_meta(self.pages, self.seeds).persist(MEM)
            meta.count()
        with tr.span("extract.kernel"):
            facts = X.extract_facts(meta, RUN_TS).persist(MEM)
            n_facts = facts.count()
        with tr.span("pipeline.corp_join"):
            named = X.attach_corp_name(facts, self.corp_map).persist(MEM)
            named.count()
        with tr.span("pipeline.sink"):
            pipeline.write_facts(named.drop("url"), self._sink(i))
        with tr.span("extract.kernel"):
            text = _text_digest(X.extract_text(meta, RUN_TS))
        for df in (meta, facts, named):
            df.unpersist()
        self._facts_out = n_facts
        return self.size["pages"], (i, text)

    def counts(self) -> dict[str, float]:
        files = [f for _, _, fs in os.walk(self._last_sink) for f in fs
                 if f.endswith(".parquet")]
        return {
            "extract.facts_out": self._facts_out,
            "extract.parse_ok_share": self._ok_share,
            "pipeline.sink_files": len(files),
            "pipeline.sink_bytes": tree_bytes(self._last_sink),
        }

    def check(self, info) -> list[str]:
        """Facts rows in the sink equal the oracle's; every page has one
        text row, none dropped; each page's parse verdict (parse_ok=False
        for each corrupt ZIP) and text bytes (by md5) equal the
        row-at-a-time oracle's.  Reads only parquet footers and the
        collected digests, so the check runs no Spark job."""
        i, text = info
        errs = []
        sink = self._sink(i)
        n_facts = sum(pq.read_metadata(os.path.join(root, f)).num_rows
                      for root, _, files in os.walk(sink)
                      for f in files if f.endswith(".parquet"))
        if n_facts != self.want_facts:
            errs.append(f"facts rows {n_facts} != oracle {self.want_facts}")
        if len(text) != len(self.want_text):
            errs.append(f"text rows {len(text)} != pages {len(self.want_text)}")
        bad = [u for u, want in self.want_text.items() if text.get(u) != want]
        if bad:
            errs.append(f"{len(bad)} pages differ from the oracle's text or verdict, "
                        f"e.g. {bad[0]}")
        self._ok_share = sum(ok for ok, _ in text.values()) / max(1, len(text))
        prev = getattr(self, "_last_sink", None)
        if prev:  # keep only the newest sink on disk
            shutil.rmtree(prev, ignore_errors=True)
        self._last_sink = sink
        return errs


def _text_digest(text_df) -> dict[str, tuple[bool, str]]:
    """url → (parse_ok, md5 of text), collected."""
    return {r[0]: (r[1], r[2]) for r in
            text_df.select("url", "parse_ok", F.md5("text")).collect()}


# ---------------------------------------------------------------------
class ContentNeardup(Workload):
    """One op = one pass of the near-dup catalog queries, each result
    collected into this process.  q48 is one of the four banded-LSH
    self-joins and has a DuckDB oracle; the other four near-dup queries
    are left out to keep a run short."""

    name = "content_neardup"
    QUERIES = ["q48_simhash_md5_pairs"]
    SIZES = {"full": {"docs": 600}, "tiny": {"docs": 200}}

    def setup(self) -> None:
        import __spark_entry__ as E

        self.path = f"{self.dir}/docs"
        os.makedirs(self.path)
        gen.documents(self.seed, self.size["docs"], self.path)
        self.q = {n: E.queries()[n] for n in self.QUERIES}
        sql = E.oracle_sql()
        con = duckdb.connect()
        con.execute(f"SET temp_directory='{self.dir}/duck'")
        con.execute("CREATE VIEW documents AS SELECT * FROM "
                    f"read_parquet('{self.path}/documents.parquet')")
        self.want = {}
        for n in self.QUERIES:
            res = con.execute(sql[n])
            self.want[n] = canon_rows([d[0] for d in res.description], res.fetchall())
        con.close()

    def _query(self, n: str):
        df = self.q[n](self.spark, self.path)
        return df.columns, [tuple(r) for r in df.collect()]

    def op(self):
        self.n_ops += 1
        return self.size["docs"], {n: self._query(n) for n in self.QUERIES}

    def traced_op(self, tr):
        self.n_ops += 1
        out = {}
        for n in self.QUERIES:
            with tr.span(f"catalog_text.{n}"):
                out[n] = self._query(n)
        return self.size["docs"], out

    def check(self, results) -> list[str]:
        """Every query's rows equal its DuckDB oracle's."""
        return [f"{n} differs from the DuckDB oracle"
                for n, (cols, rows) in results.items()
                if canon_rows(cols, rows) != self.want[n]]


# ---------------------------------------------------------------------
class Content(Workload):
    """One op = one FetchExtract op, then one ContentNeardup op: the
    content side of the engine, which runs no frontier work."""

    name = "content"
    SIZES = {"full": {}, "tiny": {}}

    def __init__(self, spark, rundir: str, seed: int, scale: str = "full"):
        super().__init__(spark, rundir, seed, scale)
        self.parts = [FetchExtract(spark, rundir, seed, scale),
                      ContentNeardup(spark, rundir, seed, scale)]

    def setup(self) -> None:
        for p in self.parts:
            p.setup()
        warm_python_workers(self.spark)

    def _run(self, call):
        items, infos = 0, []
        for p in self.parts:
            n, info = call(p)
            items += n
            infos.append(info)
        return items, infos

    def op(self):
        return self._run(lambda p: p.op())

    def traced_op(self, tr):
        return self._run(lambda p: p.traced_op(tr))

    def check(self, infos) -> list[str]:
        return [e for p, info in zip(self.parts, infos) for e in p.check(info)]

    def counts(self) -> dict[str, float]:
        return {k: v for p in self.parts for k, v in p.counts().items()}


WORKLOADS = {w.name: w for w in (CrawlStart, Content)}
