"""Charset sniffing + decode for raw fetched ``html:binary`` columns.

The input-table contract carries both ``html: binary`` and
``text: string``; this kernel is the step between them for real web
fetches, where the byte stream's encoding must be discovered before
any text operator can run.  Detection follows the WHATWG encoding
sniffing order (https://html.spec.whatwg.org/multipage/parsing.html
#determining-the-character-encoding), restricted to what a crawler
can do without a JS engine:

1. BOM (UTF-8 / UTF-16 LE/BE / UTF-32 LE/BE) — authoritative.
2. ``<meta charset=...>`` / ``<meta http-equiv="content-type"
   content="...; charset=...">`` within the first 1024 bytes
   (byte-level ASCII-compatible scan, per spec).
3. Strict UTF-8 validation of the payload.
4. windows-1252 fallback (the WHATWG default for unlabeled legacy
   content).

Decode itself is ``errors="replace"`` so a lying label can never
throw inside an executor; the chosen charset is surfaced as data so
downstream quality filters can drop mojibake.

Spark surface: an Arrow-batched pandas UDF (`mapInPandas` shape via
``decode_html``).  Byte→str decode is inherently per-row python —
this is one of the few sanctioned python hot paths (SURVEY §2.10),
kept allocation-lean: one pass per row, no pandas .str chains, only
the bytes and the decoded string are materialized.

Reference analog: the reference crawler assumes EUC-KR/UTF-8 DART
payloads implicitly (requests' .text guessing); here the guess is an
explicit, tested operator.
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

__all__ = ["sniff_charset", "decode_bytes", "decode_html"]

# label normalization per WHATWG encoding registry (the aliases a
# crawler actually meets; unknown labels fall through to validation)
_ALIASES = {
    "utf8": "utf-8",
    "utf-8": "utf-8",
    "u8": "utf-8",
    "euc-kr": "euc-kr",
    "euckr": "euc-kr",
    "ks_c_5601-1987": "euc-kr",  # the historic Korean web label
    "ksc5601": "euc-kr",
    "iso-8859-1": "cp1252",  # WHATWG maps latin-1 labels to windows-1252
    "latin-1": "cp1252",
    "latin1": "cp1252",
    "windows-1252": "cp1252",
    "cp1252": "cp1252",
    "ascii": "utf-8",  # ASCII is a UTF-8 subset
    "us-ascii": "utf-8",
    "shift_jis": "shift_jis",
    "shift-jis": "shift_jis",
    "sjis": "shift_jis",
    "euc-jp": "euc-jp",
    "gbk": "gbk",
    "gb2312": "gbk",  # WHATWG maps gb2312 to GBK
    "big5": "big5",
    "utf-16": "utf-16",
    "utf-16le": "utf-16-le",
    "utf-16be": "utf-16-be",
}

_META_RE = re.compile(
    rb"""<meta\s[^>]*?charset\s*=\s*["']?\s*([a-zA-Z0-9._-]+)""",
    re.IGNORECASE | re.DOTALL,
)

_BOMS = (
    (b"\xef\xbb\xbf", "utf-8-sig"),
    (b"\xff\xfe\x00\x00", "utf-32-le"),
    (b"\x00\x00\xfe\xff", "utf-32-be"),
    (b"\xff\xfe", "utf-16-le"),
    (b"\xfe\xff", "utf-16-be"),
)


def sniff_charset(data: bytes) -> str:
    """Return the python codec name chosen by the WHATWG-order sniff."""
    if not data:
        return "utf-8"
    for bom, codec in _BOMS:
        if data.startswith(bom):
            return codec
    m = _META_RE.search(data[:1024])
    if m:
        label = m.group(1).decode("ascii", "ignore").strip().lower()
        codec = _ALIASES.get(label)
        if codec:
            return codec
    # BOM-less UTF-16 passes strict UTF-8 validation (ASCII + NUL is
    # valid UTF-8) and would decode to NUL-ridden garbage — detect it
    # by the NUL stripe: mostly-ASCII UTF-16 has ~half its bytes NUL,
    # at even offsets for BE (high byte first) and odd for LE
    # even-length head so the even/odd stripes compare equal-length
    # slices (256 & ~1 constant-folded — the clamp must apply to the
    # actual head length for payloads shorter than 256 bytes)
    head = data[: min(len(data), 256) & ~1]
    if head:
        even = head[0::2].count(0)
        odd = head[1::2].count(0)
        half = len(head) // 2
        if even > half * 3 // 4 and odd == 0:
            return "utf-16-be"
        if odd > half * 3 // 4 and even == 0:
            return "utf-16-le"
    try:
        data.decode("utf-8", "strict")
        return "utf-8"
    except UnicodeDecodeError:
        return "cp1252"


def decode_bytes(data: bytes | None) -> tuple[str, str]:
    """(charset, text) for one payload; never raises."""
    if data is None:
        return ("utf-8", "")
    raw = bytes(data)
    codec = sniff_charset(raw)
    # endian-specific UTF-16/32 codecs decode the BOM to a literal
    # U+FEFF (only utf-8-sig strips it) — drop the marker bytes so BOM
    # and BOM-less payloads of the same text decode identically
    for bom, bom_codec in _BOMS:
        if codec == bom_codec and raw.startswith(bom):
            raw = raw[len(bom):]
            break
    return (codec, raw.decode(codec, "replace"))


def decode_html(pages: DataFrame) -> DataFrame:
    """Attach decoded ``text`` + detected ``charset`` columns to
    ``pages``, decoded from its ``html`` bytes.

    Arrow-batched ``mapInPandas``: the html bytes stream through once,
    each batch emits only the two new columns alongside the input —
    the binary column itself is not duplicated.
    """
    out_fields = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in pages.schema.fields
    )
    schema = f"{out_fields}, `charset` string, `text` string"

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            decoded = [decode_bytes(v) for v in pdf["html"]]
            pdf = pdf.copy()
            pdf["charset"] = [c for c, _ in decoded]
            pdf["text"] = [t for _, t in decoded]
            yield pdf

    return pages.mapInPandas(_batches, schema=schema)
