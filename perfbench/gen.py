"""Seeded input generators for the crawl-engine benchmark.

Every input is a pure function of (GEN_VERSION, seed, size).  Inputs are
generated in this process and written to parquet with pyarrow, so set-up
runs no Spark job for them.  They go under the run's own directory, whose
name carries the generator version and the seed, and are deleted when
the run ends, so a changed generator can never be served stale inputs.
The engine receives only the generated tables; the expected answers the
checks need are computed here, from the generator's own logical ids and
the row-at-a-time oracle, never by the engine.
"""

from __future__ import annotations

import bisect
import hashlib
import io
import itertools
import json
import os
import random
import zipfile
from collections import Counter
from collections.abc import Iterable
from dataclasses import dataclass
from typing import NamedTuple

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

GEN_VERSION = "g2"
RUN_TS = "2026-01-16 00:00:00"

# -- host mix -----------------------------------------------------------
# One giant host with ~60 % of rows, a band of mid hosts and a Zipf tail
# of small hosts.  Crawl delays are chosen so that per round the giant
# host and the mid hosts are over budget (exact two-phase ranking) and
# small hosts cross from ranking into bypass as their queues drain.
GIANT = "dart.fss.or.kr"
N_MID = 20
N_SMALL = 300
ROUND_MS = 10_000
GIANT_DELAY_MS = 10  # budget 1000 per round
MID_DELAY_MS = 500  # budget 20 per round
SMALL_DELAY_MS = 4000  # budget 2 per round
BLOCKED_PREFIX = "/private"  # disallowed on the giant host and mid hosts


# cumulative weights of the small-host tail: host i has weight 1/(i+1)
_ZIPF_CDF = [
    c / sum(1.0 / (i + 1) for i in range(N_SMALL))
    for c in itertools.accumulate(1.0 / (i + 1) for i in range(N_SMALL))
]


def host_of(u: float, k: int) -> str:
    """Host for a row from its uniform draw ``u`` and a second draw ``k``."""
    if u < 0.6:
        return GIANT
    if u < 0.8:
        return f"mid{k % N_MID}.example"
    r = (k % 1_000_003) / 1_000_003
    return f"small{min(bisect.bisect_left(_ZIPF_CDF, r), N_SMALL - 1)}.example"


def budget_of(host: str) -> int:
    if host == GIANT:
        return ROUND_MS // GIANT_DELAY_MS
    if host.startswith("mid"):
        return ROUND_MS // MID_DELAY_MS
    return ROUND_MS // SMALL_DELAY_MS


def robots_rows() -> list[tuple]:
    rows = [(GIANT, BLOCKED_PREFIX, GIANT_DELAY_MS)]
    rows += [(f"mid{i}.example", BLOCKED_PREFIX, MID_DELAY_MS) for i in range(N_MID)]
    rows += [(f"small{i}.example", None, SMALL_DELAY_MS) for i in range(N_SMALL)]
    return rows


def write_table(table: pa.Table, path: str, n_files: int = 4) -> None:
    """``table`` as up to ``n_files`` parquet files under ``path``: several
    files, so the engine's scans split across the cores."""
    os.makedirs(path, exist_ok=True)
    step = max(1, -(-table.num_rows // n_files))
    for i, start in enumerate(range(0, max(1, table.num_rows), step)):
        pq.write_table(table.slice(start, step), f"{path}/part-{i:05d}.parquet")


def robots_df(spark: SparkSession, path: str) -> DataFrame:
    host, prefix, delay = zip(*robots_rows())
    write_table(pa.table({
        "host": pa.array(host, pa.string()),
        "disallow_prefix": pa.array(prefix, pa.string()),
        "crawl_delay_ms": pa.array(delay, pa.int64()),
    }), path, n_files=1)
    return spark.read.parquet(path)


# -- logical urls -------------------------------------------------------
@dataclass(frozen=True)
class LogicalUrl:
    """One logical page: its canonical spelling and the facts the checks
    need (host, whether robots rules block it)."""

    lid: int
    host: str
    blocked: bool
    canon: str
    priority: float


_M64 = (1 << 64) - 1


def mix64(x: int) -> int:
    """splitmix64 finalizer: a fast, seedable integer hash."""
    x = (x + 0x9E3779B97F4A7C15) & _M64
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & _M64
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & _M64
    return x ^ (x >> 31)


def logical_url(seed: int, lid: int) -> LogicalUrl:
    h = mix64(mix64(seed * 1_000_003 + 17) ^ lid)
    host = host_of((h & 0xFFFF) / 65536.0, h >> 16)
    blocked = not host.startswith("small") and (h >> 48) % 100 < 5
    path = f"{BLOCKED_PREFIX}/{lid}" if blocked else f"/p/{lid}"
    canon = f"https://{host}{path}?a={lid % 7}&b=x"
    return LogicalUrl(lid, host, blocked, canon, float((h >> 40) % 10))


def spelling(u: LogicalUrl, variant: int) -> str:
    """A spelling of ``u`` that canonicalizes to ``u.canon``.  Variants
    0-3 pass the Catalyst fast-path gate; 4 (userinfo) and 5 (a %-escape
    in the query) miss it and take the general parser."""
    path = u.canon[len("https://") + len(u.host) : u.canon.index("?")]
    a = f"a={u.lid % 7}"
    if variant == 0:
        return u.canon
    if variant == 1:
        return f"HTTPS://{u.host.upper()}{path}?{a}&b=x"
    if variant == 2:
        return f"https://{u.host}:443{path}?b=x&{a}"
    if variant == 3:
        return f"https://{u.host}{path}?{a}&b=x#frag{u.lid % 5}"
    if variant == 4:
        return f"https://crawler@{u.host}{path}?{a}&b=x"
    return f"https://{u.host}{path}?b=%78&{a}"


# -- frontier store inputs ------------------------------------------------
def frontier_urls(seed: int, n: int) -> list[LogicalUrl]:
    return [logical_url(seed, lid) for lid in range(n)]


def seed_list(
    spark: SparkSession, urls: list[LogicalUrl], seed: int, dup_share: float, path: str
) -> tuple[DataFrame, int]:
    """The crawl's seed list as a stored (url, priority) table: every url
    once in its canonical spelling, plus ``dup_share`` extra rows that
    respell a random url non-canonically (variants 1-5 of ``spelling``),
    which bootstrap must fold into one row per url.  Returns the frame
    and its row count."""
    rng = random.Random(f"{GEN_VERSION}:{seed}:seeds")
    rows = [(u.canon, u.priority) for u in urls]
    for _ in range(int(len(urls) * dup_share)):
        u = rng.choice(urls)
        rows.append((spelling(u, rng.randrange(1, 6)), u.priority))
    rng.shuffle(rows)
    write_table(pa.table({
        "url": pa.array([r[0] for r in rows], pa.string()),
        "priority": pa.array([r[1] for r in rows], pa.float64()),
    }), path)
    return spark.read.parquet(path), len(rows)


def pages_frame(
    spark: SparkSession, urls: list[LogicalUrl], seed: int, share: float, path: str
) -> tuple[DataFrame, set[int]]:
    """Fetched-bytes table covering ``share`` of the frontier; a third of
    its rows are spelled non-canonically, so the fetch join depends on
    canonicalization.  Returns the frame and the covered logical ids."""
    rng = random.Random(f"{GEN_VERSION}:{seed}:pages")
    rows, covered = [], set()
    for u in urls:
        if rng.random() < share:
            covered.add(u.lid)
            body = f"<html><body>page {u.lid}</body></html>".encode()
            rows.append((spelling(u, rng.randrange(0, 4)), body))
    warc_ts = pa.scalar(1_768_003_200_000_000, pa.timestamp("us", tz="UTC"))  # 2026-01-10
    write_table(pa.table({
        "url": pa.array([r[0] for r in rows], pa.string()),
        "html": pa.array([r[1] for r in rows], pa.binary()),
        "warc_ts": pa.array([warc_ts] * len(rows), warc_ts.type),
    }), path)
    return spark.read.parquet(path), covered


# -- fetched XBRL pages ---------------------------------------------------
_CONCEPTS = [
    ("ifrs-full_Assets", "자산총계", "Total assets", "자산 [개요]", "자산 [개요]", ""),
    ("ifrs-full_CurrentAssets", "유동자산", "Current assets", "자산총계", "유동자산", ""),
    ("ifrs-full_Cash", "현금및현금성자산", "Cash", "자산총계", "유동자산", "현금"),
    ("ifrs-full_Liabilities", "부채총계", "Total liabilities", "부채 [개요]", "부채 [개요]", ""),
    ("ifrs-full_Equity", "자본총계", "Total equity", "자본 [개요]", "자본 [개요]", ""),
    ("ifrs-full_Revenue", "수익(매출액)", "Revenue", "수익 [개요]", "", ""),
    ("ifrs-full_CostOfSales", "매출원가", "Cost of sales", "수익 [개요]", "매출원가", ""),
    ("ifrs-full_ProfitLoss", "당기순이익", "Profit", "수익 [개요]", "당기순이익", ""),
]
N_CORPS = 6


def corp_code(i: int) -> str:
    return f"{(i + 1) * 37 % 10**8:08d}"


def _xbrl_zip(corp: str, mm: int, rng: random.Random) -> bytes:
    q_end = f"2025{mm:02d}30"
    bs_cols = [[q_end, ["연결재무제표"]], [q_end, ["별도재무제표"]],
               [f"2024{mm:02d}30", ["연결재무제표"]]]
    cis_cols = [[f"2025{mm - 2:02d}01-{q_end}", ["연결재무제표"]],
                [f"20250101-{q_end}", ["별도재무제표"]], ["비고", ["연결재무제표"]]]
    stmts: dict = {"BS": {"columns": bs_cols, "rows": []},
                   "CIS": {"columns": cis_cols, "rows": []}}
    for ci, (cid, ko, en, c1, c2, c3) in enumerate(_CONCEPTS):
        st = stmts["BS" if ci < 5 else "CIS"]
        values = [
            None if rng.random() < 0.05 else round(rng.uniform(-5e9, 5e9), 2)
            for _ in st["columns"]
        ]
        st["rows"].append({"concept_id": cid, "label_ko": ko, "label_en": en,
                           "class1": c1, "class2": c2, "class3": c3, "values": values})
    doc = {"doc_format": "mini-xbrl-2", "statements": stmts}
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        info = zipfile.ZipInfo(f"entity{corp}_2025-{mm:02d}-30.xbrl",
                               date_time=(2026, 1, 1, 0, 0, 0))
        zf.writestr(info, json.dumps(doc, ensure_ascii=False))
    return buf.getvalue()


def _page_rows(seed: int, ids: list[int], html_share: float, corrupt_share: float):
    """Fetched pages plus their seed-list rows and the row-at-a-time
    oracle's facts count, parse verdict and text md5.  Kinds: 'zip' (a
    mini-XBRL ZIP), 'html' (a non-ZIP page), 'corrupt' (a truncated or
    bit-flipped ZIP)."""
    from dart_xbrl_crawler_spark import oracle

    for i in ids:
        rng = random.Random(f"{GEN_VERSION}:{seed}:page:{i}")
        r = rng.random()
        rcept_no = f"2025{i:010d}"
        url = f"https://dart.fss.or.kr/api/fnlttXbrl.xml?rcept_no={rcept_no}"
        mm = [3, 6, 9, 12][i % 4]
        report_nm, rcept_dt = f"반기보고서 (2025.{mm:02d})", f"2025{mm:02d}15"
        if r < html_share:
            kind = "html"
            html = (f"<html><head><title>t{i}</title></head><body><p>notice {i} "
                    f"&amp; words {rng.randrange(1000)}</p></body></html>").encode()
        else:
            html = _xbrl_zip(corp_code(rng.randrange(N_CORPS + 2)), mm, rng)
            kind = "zip"
            if r < html_share + corrupt_share:
                kind = "corrupt"
                if rng.random() < 0.5:
                    html = html[: len(html) // 2]
                else:
                    b = bytearray(html)
                    for _ in range(8):
                        b[rng.randrange(30, len(b))] ^= 0xFF
                    html = bytes(b)
        n_facts = len(oracle.extract_facts_rowwise(url, html, report_nm, rcept_dt, RUN_TS))
        parse_ok = html[:2] != b"PK" or oracle.parse_mini_xbrl(html)[1] is not None
        text = oracle.extract_text_rowwise(url, html, report_nm, rcept_dt, RUN_TS)
        yield (url, html, rcept_no, report_nm, rcept_dt, kind, n_facts, parse_ok,
               hashlib.md5(text.encode()).hexdigest())


class Page(NamedTuple):
    """A generated page, its seed-list meta, its kind, and the row-at-a-time
    oracle's facts count and parse verdict."""

    url: str
    html: bytes
    rcept_no: str
    report_nm: str
    rcept_dt: str
    kind: str
    n_facts: int
    parse_ok: bool
    text_md5: str


_PAGE_TYPES = [pa.string(), pa.binary(), pa.string(), pa.string(), pa.string(),
               pa.string(), pa.int64(), pa.bool_(), pa.string()]


def extract_pages(
    spark: SparkSession,
    seed: int,
    n_pages: int,
    path: str,
    html_share: float = 0.1,
    corrupt_share: float = 0.05,
) -> tuple[DataFrame, list[Page]]:
    """Seeded fetched pages as a stored table, and the same pages in
    memory, with the oracle's answers, for the checks' expectations.  The engine is only ever handed
    (url, html) and the seed list."""
    pages = [Page(*r) for r in _page_rows(seed, list(range(n_pages)), html_share,
                                         corrupt_share)]
    write_table(pa.table({
        name: pa.array([p[i] for p in pages], t)
        for i, (name, t) in enumerate(zip(Page._fields, _PAGE_TYPES))
    }), path)
    return spark.read.parquet(path), pages


def corp_map_rows() -> list[tuple]:
    """Company dimension; the last two generated corp codes are absent,
    so their facts take the ``Corp_{code}`` fallback."""
    return [(f"회사{i}", corp_code(i), f"주식{i}", f"{i:06d}", "Y") for i in range(N_CORPS)]


# -- documents for the near-dup queries -----------------------------------
_VOCAB = (
    "batch part spark line column order small sort fast value scan hash slow "
    "group agg filter query big key window row table stream merge data vector "
    "join index page crawl host fetch parse token shard bloom delta base round"
).split()


def documents(seed: int, n_docs: int, path: str) -> None:
    """``documents.parquet`` in the testdata layout (doc_id, text, lang,
    source, n_chars) with planted exact copies and one-token edits."""
    rng = random.Random(f"{GEN_VERSION}:{seed}:docs")
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i >= 8 and r < 0.04:  # exact copy, same residue mod 4 (the md5 twins' subset)
            texts.append(texts[rng.randrange(i % 4, i, 4)])
        elif i >= 8 and r < 0.08:  # one-token edit of an earlier doc
            toks = texts[rng.randrange(i)].split(" ")
            toks[rng.randrange(len(toks))] = rng.choice(_VOCAB)
            texts.append(" ".join(toks))
        else:
            texts.append(" ".join(rng.choice(_VOCAB) for _ in range(rng.randint(12, 60))))
    langs = ["en", "ko", "ja", "zh"]
    pq.write_table(pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [langs[rng.randrange(4)] for _ in range(n_docs)],
        "source": [f"src{rng.randrange(8)}" for _ in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), f"{path}/documents.parquet")


def host_counts(urls: Iterable[LogicalUrl]) -> tuple[Counter, Counter]:
    """(queued non-blocked rows per host, blocked rows per host)."""
    ok, blocked = Counter(), Counter()
    for u in urls:
        (blocked if u.blocked else ok)[u.host] += 1
    return ok, blocked
