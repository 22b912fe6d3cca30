"""Vectorized extract kernel: zipped mini-XBRL / HTML pages → long fact
rows + byte-identical extracted text.

Spark surface: ``mapInPandas`` (the UDTF shape — one page row explodes
into many fact rows, SURVEY.md §2.10).  Inside a batch everything is
columnar pandas/numpy; the only per-item Python is the ZIP/JSON parse
itself (unavoidable, analogous to the reference's ``zipfile`` +
``dart_fss`` parse at /root/reference/dart_api_manager.py:369-415 and
xbrl_processor.py:505-745).  All fact-level transforms — predicates,
period format/filter/reclass, hierarchy rewrites, last-wins class-id
mapping — are batch-wide vectorized operations, NOT per-row loops.

Semantics contract: byte-identical output to oracle.extract_facts_rowwise
/ extract_text_rowwise per url (tests/test_extract_identity.py).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import oracle
from ..schemas import FACTS_PRE_JOIN

# extract_facts output: url + the pre-join facts schema
FACTS_OUT = T.StructType(
    [T.StructField("url", T.StringType(), False)] + list(FACTS_PRE_JOIN.fields)
)

TEXT_OUT = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("parse_ok", T.BooleanType(), False),
        T.StructField("n_facts", T.LongType(), False),
    ]
)

_META_COLS = ["url", "html", "report_nm", "rcept_dt"]


def _parse_batch(pdf: pd.DataFrame, run_ts: str) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Parse a batch of pages.

    Returns (docs, long):
      docs — one row per input page: doc_idx, url, is_zip, parse_ok,
             year, mm, receipt_ymd, corp_code
      long — one row per (concept × fact) across all parsed documents,
             with raw (unfiltered) values.
    """
    doc_rows = []
    # per-CONCEPT accumulators (one entry per concept row kept) + flat
    # per-cell accumulators; the concept-level columns expand to cell
    # rows via ONE np.repeat at batch end instead of per-concept
    # [x]*nf list extends (9 per concept — the old unpivot's dominant
    # cost, measured ~2/3 of _parse_batch)
    k_doc: list[int] = []
    k_rt: list[str] = []
    k_ord: list[int] = []
    k_id: list[str] = []
    k_ko: list[str] = []
    k_en: list[str] = []
    k_c1: list[str] = []
    k_c2: list[str] = []
    k_c3: list[str] = []
    k_nf: list[int] = []
    c_per: list[str] = []
    c_fs: list[str] = []
    c_amt: list = []

    for i, (url, html, report_nm, rcept_dt) in enumerate(
        zip(pdf["url"], pdf["html"], pdf["report_nm"], pdf["rcept_dt"])
    ):
        html_b = bytes(html) if html is not None else b""
        is_zip = html_b[:2] == b"PK"
        parse_ok = False
        year = mm = ""
        corp_code = ""
        if is_zip:
            member_corp, doc = oracle.parse_mini_xbrl(html_b)
            if doc is not None:
                m = oracle._REPORT_NM_RE.search(report_nm or "")
                if m:
                    year, mm = m.group(1), m.group(2)
                elif rcept_dt and len(str(rcept_dt)) == 8:
                    year, mm = str(rcept_dt)[:4], str(rcept_dt)[4:6]
                if year:
                    parse_ok = True
                    corp_code = member_corp or ""
                    for report_type in ("BS", "CIS"):
                        stmt = (doc.get("statements") or {}).get(report_type)
                        if not stmt:
                            continue
                        # wide→long unpivot (xbrl_processor.py:505-745):
                        # per concept row × tuple-labeled period column.
                        # Null cells drop here; numeric / zero / NaN /
                        # period-shape filtering stays vectorized in
                        # _transform_long.  Duplicate period columns
                        # emit duplicate cells (reference semantics).
                        columns = [
                            (
                                str(c[0]) if c and len(c) > 0 else "",
                                str(c[1][0])
                                if c and len(c) > 1 and c[1]
                                else "연결재무제표",
                            )
                            for c in stmt.get("columns", [])
                        ]
                        for order_no, concept in enumerate(
                            stmt.get("rows", []), start=1
                        ):
                            values = concept.get("values", [])
                            nf = 0
                            for (p, fs), v in zip(columns, values):
                                if v is not None:
                                    c_per.append(p)
                                    c_fs.append(fs)
                                    c_amt.append(v)
                                    nf += 1
                            if not nf:
                                continue
                            k_doc.append(i)
                            k_rt.append(report_type)
                            k_ord.append(order_no)
                            k_id.append(str(concept.get("concept_id", "")))
                            k_ko.append(str(concept.get("label_ko", "")))
                            k_en.append(str(concept.get("label_en", "")))
                            k_c1.append(str(concept.get("class1", "") or ""))
                            k_c2.append(str(concept.get("class2", "") or ""))
                            k_c3.append(str(concept.get("class3", "") or ""))
                            k_nf.append(nf)
        rd = str(rcept_dt) if rcept_dt is not None else ""
        receipt_ymd = (
            f"{rd[:4]}-{rd[4:6]}-{rd[6:8]}"
            if len(rd) == 8 and rd.isdigit()
            else run_ts[:10]
        )
        doc_rows.append((i, url, is_zip, parse_ok, year, mm, receipt_ymd, corp_code))

    docs = pd.DataFrame(
        doc_rows,
        columns=[
            "doc_idx",
            "url",
            "is_zip",
            "parse_ok",
            "year",
            "mm",
            "receipt_ymd",
            "corp_code",
        ],
    )
    nf_arr = np.asarray(k_nf, dtype=np.int64)

    def rep(vals, dtype):
        return np.repeat(np.asarray(vals, dtype=dtype), nf_arr)

    long = pd.DataFrame(
        {
            "doc_idx": rep(k_doc, np.int64),
            "report_type": rep(k_rt, object),
            "order_no": rep(k_ord, np.int64),
            "account_id": rep(k_id, object),
            "account_name": rep(k_ko, object),
            "account_name_en": rep(k_en, object),
            "class1": rep(k_c1, object),
            "class2": rep(k_c2, object),
            "class3": rep(k_c3, object),
            "period_raw": np.asarray(c_per, dtype=object),
            "fs": np.asarray(c_fs, dtype=object),
            "amount": c_amt,
        }
    )
    return docs, long


_PERIOD_SHAPE = oracle._PERIOD_RE


def _transform_long(long: pd.DataFrame, docs: pd.DataFrame, run_ts: str) -> pd.DataFrame:
    """Batch-wide columnar fact pipeline (spec: oracle.py).

    Implementation note (r6): every per-row python loop is replaced by
    distinct-value encoding — period strings, fs labels and account
    names repeat massively (a batch has a handful of distinct period
    columns), so regex/format/reclass work runs once per DISTINCT value
    via ``np.unique(..., return_inverse=True)`` and fans back out by
    inverse index; group-minima and last-wins lookups use
    ``np.minimum.at``/``np.maximum.at`` over compacted integer keys;
    the final deterministic sort is a stable ``np.lexsort`` over the
    same code spaces (np.unique's object-string sort is python ``<``,
    i.e. exactly the tuple-sort order the row-wise kernel used).
    Byte-identity to oracle.extract_facts_rowwise is pinned per url by
    tests/test_extract_identity.py.  Doc-level attrs join by plain
    fancy-indexing (doc_idx is the row position in ``docs``).
    """
    empty = pd.DataFrame(columns=["doc_idx", *oracle.FACT_COLUMNS])
    if long.empty:
        return empty

    doc_idx = long["doc_idx"].to_numpy(dtype=np.int64)
    raw = long["period_raw"].to_numpy(dtype=object)
    amount = pd.to_numeric(long["amount"], errors="coerce").to_numpy(dtype=np.float64)

    # doc-level attrs by position
    d_year = docs["year"].to_numpy(dtype=object)
    d_mm = docs["mm"].to_numpy(dtype=object)

    # predicates + period filter, regex/format once per DISTINCT raw.
    # pd.factorize (hash table, O(n)) everywhere grouping is all we
    # need; np.unique's sort-based distinct pays an O(n log n) python
    # string compare that measured ~2× the whole transform.
    match = _PERIOD_SHAPE.match
    inv, u_raw = pd.factorize(raw)
    u_raw = np.asarray(u_raw, dtype=object)
    n_u = len(u_raw)
    u_fmt = np.empty(n_u, dtype=object)
    u_start = np.empty(n_u, dtype=object)  # 'YYYY-MM' of (start) date
    u_end = np.empty(n_u, dtype=object)  # 'YYYY-MM' of end date (ranges)
    for j, r in enumerate(u_raw):
        if not match(r):
            u_fmt[j] = None
            u_start[j] = None
            u_end[j] = None
        elif len(r) == 17:
            p = f"{r[:4]}-{r[4:6]}-{r[6:8]} ~ {r[9:13]}-{r[13:15]}-{r[15:17]}"
            u_fmt[j] = p
            u_start[j] = p[:7]
            u_end[j] = p[13:20]
        else:
            p = f"{r[:4]}-{r[4:6]}-{r[6:8]}"
            u_fmt[j] = p
            u_start[j] = p[:7]
            u_end[j] = None
    needles = np.array(
        [f"{y}-{mm}" for y, mm in zip(d_year, d_mm)], dtype=object
    )
    nd = needles[doc_idx]
    starts = u_start[inv]
    keep = (
        ~np.isnan(amount)
        & (amount != 0.0)
        & ((starts == nd) | (u_end[inv] == nd))
    )
    if not keep.any():
        return empty

    idx = np.flatnonzero(keep)
    doc_idx = doc_idx[idx]
    amount = amount[idx]
    period = u_fmt[inv[idx]]  # object array (copy via fancy indexing)
    order_no = long["order_no"].to_numpy(dtype=np.int64)[idx]
    report_type = long["report_type"].to_numpy(dtype=object)[idx]
    account_id = long["account_id"].to_numpy(dtype=object)[idx]
    account_name = long["account_name"].to_numpy(dtype=object)[idx]
    account_name_en = long["account_name_en"].to_numpy(dtype=object)[idx]
    class1 = long["class1"].to_numpy(dtype=object)[idx]
    class2 = long["class2"].to_numpy(dtype=object)[idx]
    class3 = long["class3"].to_numpy(dtype=object)[idx]
    fs = long["fs"].to_numpy(dtype=object)[idx]
    m = len(idx)

    inv_fs, u_fs = pd.factorize(fs)
    fs_type = np.array(
        ["연결" if "연결" in s else "별도" for s in u_fs], dtype=object
    )[inv_fs]

    # -- hierarchy improve (BS only; order matters vs 총계-strip below) --
    is_bs = report_type == "BS"
    for k, v in oracle.OUTLINE_REWRITE.items():
        class1[is_bs & (class1 == k)] = v
    in_totals = np.zeros(m, dtype=bool)
    for t in oracle.TOTALS:
        in_totals |= class1 == t
    class2[is_bs & in_totals & (class1 == class2)] = ""
    order_no[is_bs & (account_name == "자산총계")] = 0

    # section-min per (doc, report_type, class1) via compacted int keys
    c1_code, u_c1 = pd.factorize(class1)
    skey = (doc_idx * 2 + is_bs.astype(np.int64)) * np.int64(len(u_c1)) + c1_code
    sk_idx, u_sk = pd.factorize(skey)
    smin = np.full(len(u_sk), np.iinfo(np.int64).max, dtype=np.int64)
    np.minimum.at(smin, sk_idx, order_no)
    reassign = is_bs & (
        (account_name == "부채총계") | (account_name == "자본총계")
    )
    order_no[reassign] = smin[sk_idx[reassign]]
    drop = is_bs & (account_name == "자본과부채총계")
    if drop.any():
        sel = ~drop
        doc_idx, amount, order_no = doc_idx[sel], amount[sel], order_no[sel]
        report_type, account_id = report_type[sel], account_id[sel]
        account_name, account_name_en = account_name[sel], account_name_en[sel]
        class1, class2, class3 = class1[sel], class2[sel], class3[sel]
        fs_type, period, is_bs = fs_type[sel], period[sel], is_bs[sel]
        m = len(doc_idx)
    if m == 0:
        return empty

    # -- enrich/save ------------------------------------------------------
    # last-wins (doc, account_name) → account_id, then class1..3 lookups
    # in the SAME (doc, name) code space — np.maximum.at over row
    # positions reproduces dict-insertion last-wins exactly
    all_names = np.concatenate([account_name, class1, class2, class3])
    nm_code, u_nm = pd.factorize(all_names)
    pkeys = np.tile(doc_idx, 4) * np.int64(len(u_nm)) + nm_code
    pk_code, _ = pd.factorize(pkeys)
    lastpos = np.full(pk_code.max() + 1, -1, dtype=np.int64)
    np.maximum.at(lastpos, pk_code[:m], np.arange(m))

    def _ids_for(codes: np.ndarray) -> np.ndarray:
        pos = lastpos[codes]
        out = np.full(m, "", dtype=object)
        hit = pos >= 0
        out[hit] = account_id[pos[hit]]
        return out

    class1_id = _ids_for(pk_code[m : 2 * m])
    class2_id = _ids_for(pk_code[2 * m : 3 * m])
    class3_id = _ids_for(pk_code[3 * m :])

    rn_map = oracle.REPORT_NAME_MAP
    report_name = np.full(m, rn_map.get("CIS", ""), dtype=object)
    report_name[is_bs] = rn_map.get("BS", "")
    # BS rows: period '당기' + 총계-strip on account_name and class1
    # (AFTER the id lookups above — the dict used pre-strip names)
    for k, v in oracle.TOTAL_STRIP.items():
        account_name[is_bs & (account_name == k)] = v
        class1[is_bs & (class1 == k)] = v
    period[is_bs] = "당기"
    cis = ~is_bs
    if cis.any():
        p_inv, u_p = pd.factorize(period[cis])

        def _reclass(p: str) -> str:
            if len(p) == 10:
                return "3개월"
            months = (int(p[13:17]) - int(p[:4])) * 12 + (
                int(p[18:20]) - int(p[5:7])
            ) + 1
            return "3개월" if months <= 3 else "누적"

        period[cis] = np.array([_reclass(p) for p in u_p], dtype=object)[p_inv]

    # deterministic final sort — stable lexsort over RANKED distinct
    # codes: factorize assigns first-seen codes, so rank the (tiny)
    # distinct set with argsort to recover python's string '<' order
    def _sort_code(arr: np.ndarray) -> np.ndarray:
        codes, uniques = pd.factorize(arr)
        rank = np.empty(len(uniques), dtype=np.int64)
        rank[np.argsort(np.asarray(uniques, dtype=object))] = np.arange(
            len(uniques)
        )
        return rank[codes]

    take = np.lexsort(
        (
            _sort_code(account_id),
            _sort_code(fs_type),
            _sort_code(period),
            order_no,
            _sort_code(report_type),
            doc_idx,
        )
    )

    d_receipt = docs["receipt_ymd"].to_numpy(dtype=object)
    d_corp = docs["corp_code"].to_numpy(dtype=object)
    sdoc = doc_idx[take]
    return pd.DataFrame(
        {
            "doc_idx": sdoc,
            "order_no": order_no[take].astype(np.int32),
            "year": d_year[sdoc],
            "mm": d_mm[sdoc],
            "receipt_ymd": d_receipt[sdoc],
            "corp_code": d_corp[sdoc],
            "report_type": report_type[take],
            "report_name": report_name[take],
            "account_id": account_id[take],
            "account_name": account_name[take],
            "account_name_en": account_name_en[take],
            "class1": class1[take],
            "class2": class2[take],
            "class3": class3[take],
            "class1_id": class1_id[take],
            "class2_id": class2_id[take],
            "class3_id": class3_id[take],
            "fs_type": fs_type[take],
            "period": period[take],
            "amount": amount[take],
            "crawl_time": run_ts,
        },
        columns=["doc_idx", *oracle.FACT_COLUMNS],
    )


def _facts_batches(
    it: Iterator[pd.DataFrame], run_ts: str
) -> Iterator[pd.DataFrame]:
    out_cols = ["url", *oracle.FACT_COLUMNS]
    for pdf in it:
        docs, long = _parse_batch(pdf, run_ts)
        facts = _transform_long(long, docs, run_ts)
        # doc_idx == row position in docs → plain fancy-index, no merge
        d_url = docs["url"].to_numpy(dtype=object)
        facts.insert(0, "url", d_url[facts["doc_idx"].to_numpy(dtype=np.int64)]
                     if len(facts) else np.array([], dtype=object))
        yield facts[out_cols]


def _text_batches(it: Iterator[pd.DataFrame], run_ts: str) -> Iterator[pd.DataFrame]:
    for pdf in it:
        docs, long = _parse_batch(pdf, run_ts)
        facts = _transform_long(long, docs, run_ts)

        # ZIP docs → canonical TSV: one '\t'.join per row, rows grouped
        # by doc via a single pass (facts are doc-sorted) — avoids the
        # 20× full-batch string-concat temporaries of the Series form
        if not facts.empty:
            cols = []
            for c in oracle.FACT_COLUMNS:
                v = facts[c].to_numpy(dtype=object)
                if c == "amount":
                    cols.append([repr(x) for x in v])
                elif c == "order_no":
                    cols.append([str(int(x)) for x in v])
                else:
                    cols.append(v)
            join = "\t".join
            lines = [join(row) for row in zip(*cols)]
            fdoc = facts["doc_idx"].to_numpy(dtype=np.int64)
            tsv_map: dict[int, list[str]] = {}
            for di, ln in zip(fdoc, lines):
                tsv_map.setdefault(int(di), []).append(ln)
            tsv = pd.Series({k: "\n".join(v) for k, v in tsv_map.items()}, dtype=object)
            n_facts = pd.Series({k: len(v) for k, v in tsv_map.items()}, dtype="int64")
        else:
            tsv = pd.Series(dtype=object)
            n_facts = pd.Series(dtype="int64")

        out = docs.set_index("doc_idx")
        out["text"] = tsv
        out["n_facts"] = n_facts
        out["n_facts"] = out["n_facts"].fillna(0).astype("int64")

        # non-ZIP pages → stripped HTML text (vectorized regex chain)
        html = pdf["html"].reset_index(drop=True)
        gen_mask = (~out["is_zip"]).to_numpy()
        if gen_mask.any():
            raw = html[gen_mask].map(
                lambda b: b.decode("utf-8", errors="replace") if b else ""
            )
            s = raw.str.replace(oracle._SCRIPT_RE, " ", regex=True)
            s = s.str.replace(oracle._TAG_RE, " ", regex=True)
            for k, v in oracle._ENTITIES.items():
                s = s.str.replace(k, v, regex=False)
            s = s.str.replace(oracle._WS_RE, " ", regex=True).str.strip()
            out.loc[gen_mask, "text"] = s.values
        out["text"] = out["text"].fillna("")
        # a ZIP page that parsed to zero facts still 'parsed ok' iff the
        # zip opened; failed = zip page with parse_ok False
        out["parse_ok"] = np.where(out["is_zip"], out["parse_ok"], True)
        yield out.reset_index()[["url", "text", "parse_ok", "n_facts"]]


def extract_facts(pages: DataFrame, run_ts: str) -> DataFrame:
    """pages(url, html, report_nm, rcept_dt, …) → long facts
    (url + FACTS_PRE_JOIN).  Projects away every unneeded column before
    the UDF so the Arrow channel only carries what the kernel reads."""
    src = pages.select(*_META_COLS)
    return src.mapInPandas(
        lambda it: _facts_batches(it, run_ts), schema=FACTS_OUT
    )


def extract_text(pages: DataFrame, run_ts: str) -> DataFrame:
    """pages → (url, text, parse_ok, n_facts): the byte-identity surface."""
    src = pages.select(*_META_COLS)
    return src.mapInPandas(
        lambda it: _text_batches(it, run_ts), schema=TEXT_OUT
    )


def attach_corp_name(facts: DataFrame, corp_map: DataFrame) -> DataFrame:
    """corp_code → corp_name via broadcast joins with the reference's
    full fallback chain (xbrl_processor.py:281-306):

      1. exact match on the LPAD-8 code (the reference dict keys the raw
         ``str(corp_code)``; normalize_corp_map lpads, which already
         absorbs short unpadded keys like '123');
      2. zero-stripped *loose* match — ``lstrip('0')`` both sides
         (xbrl_processor.py:296-303; catches keys the lpad can't, e.g.
         over-long '0000000123').  The reference takes the first dict
         hit; we pin min(corp_name) for determinism;
      3. ``Corp_{code}`` default (xbrl_processor.py:305).

    Raw maps with duplicate codes go through normalize_corp_map's
    pinned min-name dedup, never a nondeterministic dropDuplicates."""
    from ..sources.corp_map import normalize_corp_map

    # both dims are broadcast whole: read the map in one task per dim
    # (a list-built map is otherwise decoded by one Python task per slice)
    corp_map = corp_map.coalesce(1)
    dim = normalize_corp_map(corp_map).select(
        F.col("dart_corp_code").alias("corp_code"),
        F.col("dart_corp").alias("corp_name"),
    )
    # loose dim keyed by the zero-stripped RAW code (pre-lpad, like the
    # reference's dict keys), deterministic min-name per stripped key
    loose = (
        corp_map.filter(
            F.col("dart_corp_code").isNotNull() & F.col("dart_corp").isNotNull()
        )
        .select(
            F.regexp_replace(F.col("dart_corp_code"), "^0+", "").alias("_stripped"),
            F.col("dart_corp").alias("_loose_name"),
        )
        .groupBy("_stripped")
        .agg(F.min("_loose_name").alias("_loose_name"))
    )
    joined = (
        facts.join(F.broadcast(dim), "corp_code", "left")
        .withColumn(
            "_stripped", F.regexp_replace(F.col("corp_code"), "^0+", "")
        )
        .join(F.broadcast(loose), "_stripped", "left")
    )
    return joined.withColumn(
        "corp_name",
        F.coalesce(
            F.col("corp_name"),
            F.col("_loose_name"),
            F.concat(F.lit("Corp_"), F.col("corp_code")),
        ),
    ).drop("_stripped", "_loose_name")
