"""Document parsers: format sniff → one of two built-in parsers.

The extract kernel's unpivot consumes ONE wide-document shape
(``mini-xbrl-2``: tuple-labeled period columns × concept rows — the
shape of the reference's pandas frame, xbrl_processor.py:458-503).
Two formats produce that shape:

* ``mini-xbrl-2`` JSON members (the synthetic fixture format);
* real XBRL 2.1 instance XML members, parsed by a minimal pure-Python
  parser below (the reference does this via the ``dart_fss`` taxonomy
  machinery, xbrl_processor.py:54,339-393 — not installable here, so
  this parser covers instance-document structure: contexts with
  instant/duration periods, consolidated/separate scenario members,
  namespaced facts; labels come from a built-in concept table where
  known, falling back to the concept localname).

``parse_document`` tries the two (sniff, parse) pairs in order.
Everything here is plain-python and runs INSIDE the Arrow batch UDF —
no Spark imports.
"""

from __future__ import annotations

import io
import json
import re
import zipfile
from xml.etree import ElementTree

try:  # optional fast path; byte-identical accepted documents
    import orjson as _orjson
except ImportError:  # pragma: no cover - orjson ships in the image
    _orjson = None

import struct
import zlib

# ---------------------------------------------------------------------
# Fast in-memory ZIP reader for the common archive shape (measured ~2×
# the whole parse_document on mini-XBRL pages: zipfile's ZipFile/
# ZipExtFile machinery costs ~100 µs per tiny archive).  STRICT: the
# central directory is validated up front — any comment, zip64 marker,
# multi-disk field, encryption flag, unsupported method, malformed
# local header or local name that differs from the central one returns
# None and the stdlib path runs instead, so the accepted-document set
# (and the failure semantics: corrupt data → exception → (None, None))
# is identical.  A member whose inflated size differs from the central
# directory's is re-read by zipfile.  CRC is verified like
# zipfile._update_crc does.
# ---------------------------------------------------------------------
_EOCD = struct.Struct("<4H2LH")
_CDENT = struct.Struct("<6H3L5H2L")


def _zip_entries_fast(data: bytes):
    """[(name, (method, crc, csize, usize, data_start))] in
    central-directory order, or None when the archive needs the stdlib
    parser."""
    if len(data) < 22 or data[-22:-18] != b"PK\x05\x06":
        return None  # archive comment / truncated → stdlib
    disk, cd_disk, n_disk, n_total, cd_size, cd_off, clen = _EOCD.unpack(
        data[-18:]
    )
    if (
        clen
        or disk
        or cd_disk
        or n_disk != n_total
        or n_total == 0xFFFF
        or cd_off == 0xFFFFFFFF
        or cd_off + cd_size > len(data) - 22
    ):
        return None
    entries = []
    pos = cd_off
    for _ in range(n_total):
        if data[pos : pos + 4] != b"PK\x01\x02":
            return None
        (
            _vm,
            _vn,
            flags,
            method,
            _t,
            _d,
            crc,
            csize,
            usize,
            nlen,
            elen,
            comlen,
            _dsk,
            _ia,
            _ea,
            loff,
        ) = _CDENT.unpack(data[pos + 4 : pos + 46])
        if flags & 0x1 or method not in (0, 8):
            return None  # encrypted / unsupported method → stdlib
        if csize == 0xFFFFFFFF or usize == 0xFFFFFFFF or loff == 0xFFFFFFFF:
            return None  # zip64
        raw_name = data[pos + 46 : pos + 46 + nlen]
        if len(raw_name) != nlen:
            return None
        name = (
            raw_name.decode("utf-8")
            if flags & 0x800
            else raw_name.decode("cp437")
        )
        # local header gives the true data offset (its name/extra
        # lengths may differ from the central entry's)
        if data[loff : loff + 4] != b"PK\x03\x04":
            return None
        lnlen, lelen = struct.unpack("<2H", data[loff + 26 : loff + 30])
        if data[loff + 30 : loff + 30 + lnlen] != raw_name:
            return None  # zipfile rejects a local/central name mismatch
        start = loff + 30 + lnlen + lelen
        if start + csize > len(data):
            return None
        entries.append((name, (method, crc, csize, usize, start)))
        pos += 46 + nlen + elen + comlen
    return entries


def _zip_read_member(data: bytes, meta) -> bytes | None:
    """Decompress + CRC-verify one member; raises (like zipfile's
    BadZipFile path) on corrupt data — parse_document's except turns
    that into (None, None) exactly as before.  None when the inflated
    size disagrees with the central directory: zipfile decides."""
    method, crc, csize, usize, start = meta
    raw = data[start : start + csize]
    out = raw if method == 0 else zlib.decompress(raw, -15)
    if len(out) != usize:
        return None
    if zlib.crc32(out) & 0xFFFFFFFF != crc:
        raise ValueError("Bad CRC-32 for zip member")
    return out

_ENTITY_RE = re.compile(r"entity(\d{8})")

_LAB_MEMBER_RE = re.compile(r"_lab(-[a-z]{2})?\.xml$", re.IGNORECASE)
_PRE_MEMBER_RE = re.compile(r"_pre(-[a-z]{2})?\.xml$", re.IGNORECASE)


def parse_label_linkbase(body: bytes) -> dict[str, dict[str, str]]:
    """XBRL 2.1 label linkbase (XLink) → {concept_id: {lang: label}}.

    Resolution walks the standard triple: <loc xlink:href="…#concept">
    locators, <label xml:lang=…> resources, <labelArc from=to> arcs —
    the structure dart_fss resolves for the reference
    (/root/reference/xbrl_processor.py:339-393).  The href fragment is
    the concept id (DART taxonomy convention 'prefix_LocalName',
    matching the instance parser's concept_id)."""
    XLINK = "{http://www.w3.org/1999/xlink}"
    XML_NS = "{http://www.w3.org/XML/1998/namespace}"
    try:
        root = ElementTree.fromstring(body)
    except ElementTree.ParseError:
        return {}
    locs: dict[str, str] = {}
    resources: dict[str, list[tuple[str, str]]] = {}
    arcs: list[tuple[str, str]] = []
    for el in root.iter():
        name = _local(el.tag)
        if name == "loc":
            href = el.get(XLINK + "href") or ""
            lab = el.get(XLINK + "label")
            if lab and "#" in href:
                locs[lab] = href.rsplit("#", 1)[-1]
        elif name == "label":
            lab = el.get(XLINK + "label")
            lang = (el.get(XML_NS + "lang") or "").lower()
            text = (el.text or "").strip()
            if lab and text:
                resources.setdefault(lab, []).append((lang, text))
        elif name == "labelArc":
            f, t = el.get(XLINK + "from"), el.get(XLINK + "to")
            if f and t:
                arcs.append((f, t))
    out: dict[str, dict[str, str]] = {}
    for f, t in arcs:
        cid = locs.get(f)
        if not cid:
            continue
        for lang, text in resources.get(t, []):
            # first arc wins per (concept, lang) — deterministic under
            # duplicate arcs, and the standard role precedes verbose
            # roles in document order in DART linkbases
            out.setdefault(cid, {}).setdefault(lang, text)
    return out


def parse_presentation_linkbase(body: bytes) -> dict[str, tuple[str, float]]:
    """XBRL 2.1 presentation linkbase (``*_pre.xml``) →
    ``{child_concept_id: (parent_concept_id, order)}``.

    Walks <presentationLink> extended links; XLink locator labels are
    scoped PER extended link (two links may reuse the same labels for
    different concepts), so locs/arcs resolve within their own link.
    First link wins per child — deterministic under a concept appearing
    in several roles.  This is the arc structure dart_fss's hierarchy
    passes consume for the reference (xbrl_processor.py:339-393 and the
    class1..3 nesting at :971-1089)."""
    XLINK = "{http://www.w3.org/1999/xlink}"
    try:
        root = ElementTree.fromstring(body)
    except ElementTree.ParseError:
        return {}
    out: dict[str, tuple[str, float]] = {}
    for link in root.iter():
        if _local(link.tag) != "presentationLink":
            continue
        locs: dict[str, str] = {}
        arcs: list[tuple[str, str, float]] = []
        for el in link:
            name = _local(el.tag)
            if name == "loc":
                href = el.get(XLINK + "href") or ""
                lab = el.get(XLINK + "label")
                if lab and "#" in href:
                    locs[lab] = href.rsplit("#", 1)[-1]
            elif name == "presentationArc":
                f, t = el.get(XLINK + "from"), el.get(XLINK + "to")
                if f and t:
                    try:
                        order = float(el.get("order") or 0.0)
                    except ValueError:
                        order = 0.0
                    arcs.append((f, t, order))
        for f, t, order in arcs:
            parent, child = locs.get(f), locs.get(t)
            if parent and child and child != parent:
                out.setdefault(child, (parent, order))
    return out


def presentation_ranks(pres: dict[str, tuple[str, float]]) -> dict[str, int]:
    """Depth-first pre-order rank of every concept in the presentation
    forest — the statement's display order (order attr sorts siblings,
    concept id breaks ties).  Iterative: linkbase depth is small but a
    malformed file must not hit the recursion limit."""
    children: dict[str, list[tuple[float, str]]] = {}
    for child, (parent, order) in pres.items():
        children.setdefault(parent, []).append((order, child))
    roots = sorted(p for p in children if p not in pres)
    rank: dict[str, int] = {}
    stack = [r for r in reversed(roots)]
    while stack:
        node = stack.pop()
        if node in rank:
            continue  # cycle guard
        rank[node] = len(rank)
        for _, child in sorted(children.get(node, []), reverse=True):
            stack.append(child)
    return rank


def parse_document(html: bytes) -> tuple[str | None, dict | None]:
    """ZIP bytes → (corp_code, wide doc dict | None).

    Opens the in-memory ZIP, takes the first ``entity{8}_*.xbrl``
    member, sniffs its body against the parser registry.  Label
    linkbase members (``*_lab-ko.xml`` / ``*_lab-en.xml`` — the files
    dart_fss reads for the reference's Korean labels) are parsed into
    an aux labels map handed to the parser, so a real DART filing keeps
    its taxonomy labels instead of falling back to concept localnames.
    (None, None) on any failure — the row becomes state='failed'
    upstream."""
    try:
        fast = _zip_entries_fast(html)
        if fast is None:
            zf = zipfile.ZipFile(io.BytesIO(html))
            namelist = zf.namelist()
            read = zf.read
        else:
            # duplicate names: read() resolves to the LAST entry, the
            # stdlib NameToInfo behavior
            by_name = dict(fast)
            namelist = [n for n, _ in fast]

            def read(n):
                out = _zip_read_member(html, by_name[n])
                if out is None:
                    return zipfile.ZipFile(io.BytesIO(html)).read(n)
                return out

        names = sorted(n for n in namelist if n.endswith(".xbrl"))
        if not names:
            return None, None
        member = names[0]
        m = _ENTITY_RE.search(member)
        corp_code = m.group(1) if m else None
        body = read(member)
        labels: dict[str, dict[str, str]] = {}
        pres: dict[str, tuple[str, float]] = {}
        for n in sorted(namelist):
            if _LAB_MEMBER_RE.search(n):
                for cid, by_lang in parse_label_linkbase(read(n)).items():
                    dst = labels.setdefault(cid, {})
                    for lang, text in by_lang.items():
                        dst.setdefault(lang, text)
            elif _PRE_MEMBER_RE.search(n):
                for cid, arc in parse_presentation_linkbase(read(n)).items():
                    pres.setdefault(cid, arc)
        aux = {"labels": labels, "presentation": pres}
        for sniff, parse in _REGISTRY:
            if sniff(body):
                return corp_code, parse(body, aux=aux)
        return None, None
    except Exception:
        return None, None


# ------------------------------------------------------- mini-xbrl-2
def _sniff_mini(body: bytes) -> bool:
    return body.lstrip()[:1] == b"{"


def _parse_mini(body: bytes, aux: dict | None = None) -> dict | None:
    # orjson when available (~2.5× on this doc shape, measured); it is
    # strict RFC 8259 while json accepts NaN/Infinity literals, so fall
    # back to json on ANY orjson rejection — identical accepted set.
    try:
        if _orjson is not None:
            try:
                doc = _orjson.loads(body)
            except Exception:
                doc = json.loads(body.decode("utf-8"))
        else:
            doc = json.loads(body.decode("utf-8"))
    except Exception:
        return None
    return doc if isinstance(doc, dict) and doc.get("doc_format") == "mini-xbrl-2" else None


# ------------------------------------------------- XBRL 2.1 instance
# Minimal label table for the standard IFRS concepts the fixtures use —
# the reference resolves these through the dart_fss taxonomy
# (xbrl_processor.py:339-393); unknown concepts degrade to their
# localname with empty classes, never to a parse failure.
_CONCEPT_LABELS: dict[str, tuple[str, str, str, str, str]] = {
    "ifrs-full_Assets": ("자산총계", "Total assets", "자산 [개요]", "자산 [개요]", ""),
    "ifrs-full_CurrentAssets": ("유동자산", "Current assets", "자산총계", "유동자산", ""),
    "ifrs-full_Liabilities": ("부채총계", "Total liabilities", "부채 [개요]", "부채 [개요]", ""),
    "ifrs-full_CurrentLiabilities": ("유동부채", "Current liabilities", "부채총계", "유동부채", ""),
    "ifrs-full_Equity": ("자본총계", "Total equity", "자본 [개요]", "자본 [개요]", ""),
    "ifrs-full_Revenue": ("수익(매출액)", "Revenue", "수익 [개요]", "", ""),
    "ifrs-full_CostOfSales": ("매출원가", "Cost of sales", "수익 [개요]", "매출원가", ""),
    "ifrs-full_GrossProfit": ("매출총이익", "Gross profit", "수익 [개요]", "매출총이익", ""),
    "ifrs-full_ProfitLoss": ("당기순이익", "Profit (loss)", "수익 [개요]", "당기순이익", ""),
}


def _sniff_xbrl_xml(body: bytes) -> bool:
    head = body.lstrip()[:256]
    return head.startswith(b"<?xml") or head.startswith(b"<xbrl")


def _local(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def _ns_prefix(tag: str) -> str:
    """'{http://xbrl.ifrs.org/.../ifrs-full}Assets' → 'ifrs-full'."""
    if tag.startswith("{"):
        uri = tag[1:].split("}", 1)[0]
        seg = uri.rstrip("/").rsplit("/", 1)[-1]
        return seg
    return ""


def _parse_xbrl_xml(body: bytes, aux: dict | None = None) -> dict | None:
    """XBRL 2.1 instance → wide mini-xbrl-2-shaped doc.

    Contexts: instant periods label BS columns (YYYYMMDD); duration
    periods label CIS columns (YYYYMMDD-YYYYMMDD).  A scenario/segment
    member mentioning 'Separate' maps to 별도재무제표, else
    연결재무제표.  Facts: any element with a contextRef and a numeric
    body; concept_id = '<nsprefix>_<localname>'.

    Label precedence per concept: the ZIP's own label linkbases
    (aux['labels'], parsed by parse_label_linkbase — what dart_fss
    resolves for the reference) → built-in table → localname.

    Hierarchy precedence: when the ZIP carries presentation linkbases
    (aux['presentation'], ``*_pre.xml`` arcs — the structure dart_fss's
    class passes consume, reference xbrl_processor.py:339-393 +
    :971-1089), class1..3 are the Korean labels of the concept's
    presentation path (statement root excluded, concept itself
    included, deepest levels truncated past class3) and rows sort in
    depth-first presentation order; otherwise the built-in table's
    pinned classes and instance fact order apply."""
    try:
        root = ElementTree.fromstring(body)
    except ElementTree.ParseError:
        return None
    zip_labels: dict[str, dict[str, str]] = (aux or {}).get("labels", {})
    pres: dict[str, tuple[str, float]] = (aux or {}).get("presentation", {})

    def _ko_label(cid: str) -> str:
        lk = zip_labels.get(cid, {})
        if "ko" in lk:
            return lk["ko"]
        if cid in _CONCEPT_LABELS:
            return _CONCEPT_LABELS[cid][0]
        return cid.rsplit("_", 1)[-1]

    def _pres_classes(cid: str) -> tuple[str, str, str] | None:
        """class1..3 from the presentation path, or None when the
        concept isn't in the arcs (fall back to the built-in table)."""
        if cid not in pres:
            return None
        chain = [cid]
        seen_nodes = {cid}
        while chain[0] in pres:
            parent = pres[chain[0]][0]
            if parent in seen_nodes:
                break  # cycle guard
            chain.insert(0, parent)
            seen_nodes.add(parent)
        if len(chain) > 1:
            chain = chain[1:]  # drop the statement-root abstract
        labels = [_ko_label(c) for c in chain[:3]]
        labels += [""] * (3 - len(labels))
        return labels[0], labels[1], labels[2]
    contexts: dict[str, tuple[str, str, bool]] = {}  # id → (period, fs, instant)
    facts: list[tuple[str, str, float]] = []  # (concept_id, ctx, value)
    for el in root:
        name = _local(el.tag)
        if name == "context":
            ctx_id = el.get("id") or ""
            period = fs = ""
            instant = False
            for sub in el.iter():
                sname = _local(sub.tag)
                txt = (sub.text or "").strip()
                if sname == "instant" and txt:
                    period, instant = txt.replace("-", ""), True
                elif sname == "startDate" and txt:
                    period = txt.replace("-", "") + period
                elif sname == "endDate" and txt:
                    period = period + "-" + txt.replace("-", "")
                elif sname in ("explicitMember", "typedMember", "member") and txt:
                    fs = (
                        "별도재무제표"
                        if "separate" in txt.lower()
                        else "연결재무제표"
                    )
            contexts[ctx_id] = (period, fs or "연결재무제표", instant)
        elif el.get("contextRef"):
            txt = (el.text or "").strip()
            if not txt:
                continue
            try:
                val = float(txt)
            except ValueError:
                continue
            prefix = _ns_prefix(el.tag)
            cid = f"{prefix}_{_local(el.tag)}" if prefix else _local(el.tag)
            facts.append((cid, el.get("contextRef"), val))

    stmts: dict[str, dict] = {}
    for rt, want_instant in (("BS", True), ("CIS", False)):
        cols: list[tuple[str, str]] = []
        col_idx: dict[tuple[str, str], int] = {}
        rows: list[dict] = []
        row_idx: dict[str, int] = {}
        for cid, ctx, val in facts:
            info = contexts.get(ctx)
            if info is None or info[2] != want_instant:
                continue
            key = (info[0], info[1])
            if key not in col_idx:
                col_idx[key] = len(cols)
                cols.append(key)
            if cid not in row_idx:
                row_idx[cid] = len(rows)
                ko, en, c1, c2, c3 = _CONCEPT_LABELS.get(
                    cid, (cid.rsplit("_", 1)[-1], cid.rsplit("_", 1)[-1], "", "", "")
                )
                # ZIP-carried linkbase labels win over the built-in
                # table (a real filing's taxonomy labels; the table is
                # only the no-linkbase fallback)
                lk = zip_labels.get(cid, {})
                ko = lk.get("ko", ko)
                en = lk.get("en", en)
                # ZIP-carried presentation arcs win over the built-in
                # classes for the same reason
                pc = _pres_classes(cid)
                if pc is not None:
                    c1, c2, c3 = pc
                rows.append(
                    {
                        "concept_id": cid,
                        "label_ko": ko,
                        "label_en": en,
                        "class1": c1,
                        "class2": c2,
                        "class3": c3,
                        "values": [],
                    }
                )
        for r in rows:
            r["values"] = [None] * len(cols)
        for cid, ctx, val in facts:
            info = contexts.get(ctx)
            if info is None or info[2] != want_instant:
                continue
            rows[row_idx[cid]]["values"][col_idx[(info[0], info[1])]] = val
        if rows and pres:
            # statement display order = depth-first presentation order
            # (the reference's in-parse order_no follows the dart_fss
            # statement structure); concepts outside the arcs keep
            # their fact order after the ranked ones (stable sort)
            ranks = presentation_ranks(pres)
            rows.sort(key=lambda r: ranks.get(r["concept_id"], len(ranks)))
        if rows:
            stmts[rt] = {
                "columns": [[p, [fs]] for p, fs in cols],
                "rows": rows,
            }
    if not stmts:
        return None
    return {"doc_format": "mini-xbrl-2", "statements": stmts}


# sniff(body) -> bool, parse(body, aux) -> doc dict | None, where aux
# carries sidecar context from the surrounding ZIP ('labels', the
# concept→lang→label map parsed from label-linkbase members, and
# 'presentation', the display order); the first sniff that matches wins
_REGISTRY = ((_sniff_mini, _parse_mini), (_sniff_xbrl_xml, _parse_xbrl_xml))
