"""Round-5 fixes: derived fetch-stage partition count, and the
content, discovery and image kernels added that round."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

RUN_TS = "2026-01-16 00:00:00"


# ------------------------------------- derived fetch partition count
def test_fetch_partition_count_scales_with_selected(spark):
    """A 10× larger selected set gets proportionally more fetch
    partitions without the caller passing a constant (n_partitions=None
    derives from the count, floored at defaultParallelism)."""
    from dart_xbrl_crawler_spark.operators.politeness import fetch_partitioning

    def selected(n):
        return spark.range(n).select(
            F.concat(F.lit("h"), (F.col("id") % 50).cast("string")).alias("host"),
            (F.col("id") % 8).cast("int").alias("partition_salt"),
            F.col("id").alias("url_hash"),
        )

    small = fetch_partitioning(selected(1_000), target_rows_per_task=100)
    big = fetch_partitioning(selected(10_000), target_rows_per_task=100)
    n_small = small.rdd.getNumPartitions()
    n_big = big.rdd.getNumPartitions()
    floor = spark.sparkContext.defaultParallelism
    assert n_small == max(10, floor)
    assert n_big == 100  # 10_000 / 100 — scaled, not a magic constant
    # an explicit caller override still wins
    forced = fetch_partitioning(selected(10_000), n_partitions=7)
    assert forced.rdd.getNumPartitions() == 7


# ------------------------ presentation linkbase → class1..3 hierarchy
_PRE_INSTANCE = """<?xml version="1.0" encoding="utf-8"?>
<xbrl xmlns="http://www.xbrl.org/2003/instance"
      xmlns:ifrs-full="http://xbrl.ifrs.org/taxonomy/2021-03-24/ifrs-full">
  <context id="CI"><entity><identifier scheme="s">00000042</identifier></entity>
    <period><instant>2025-06-30</instant></period></context>
  <ifrs-full:Assets contextRef="CI" decimals="0">3000000</ifrs-full:Assets>
  <ifrs-full:NoncurrentAssets contextRef="CI" decimals="0">2000000</ifrs-full:NoncurrentAssets>
  <ifrs-full:CurrentAssets contextRef="CI" decimals="0">1000000</ifrs-full:CurrentAssets>
</xbrl>"""

_PRE_LAB_KO = """<?xml version="1.0" encoding="utf-8"?>
<linkbase xmlns="http://www.xbrl.org/2003/linkbase"
          xmlns:xlink="http://www.w3.org/1999/xlink">
 <labelLink xlink:type="extended" xlink:role="http://www.xbrl.org/2003/role/link">
  <loc xlink:type="locator" xlink:href="tax.xsd#ifrs-full_AssetsAbstract"
       xlink:label="loc_aa"/>
  <label xlink:type="resource" xlink:label="lab_aa"
         xlink:role="http://www.xbrl.org/2003/role/label"
         xml:lang="ko">자산 [개요]</label>
  <labelArc xlink:type="arc"
            xlink:arcrole="http://www.xbrl.org/2003/arcrole/concept-label"
            xlink:from="loc_aa" xlink:to="lab_aa"/>
  <loc xlink:type="locator" xlink:href="tax.xsd#ifrs-full_NoncurrentAssets"
       xlink:label="loc_nca"/>
  <label xlink:type="resource" xlink:label="lab_nca"
         xlink:role="http://www.xbrl.org/2003/role/label"
         xml:lang="ko">비유동자산</label>
  <labelArc xlink:type="arc"
            xlink:arcrole="http://www.xbrl.org/2003/arcrole/concept-label"
            xlink:from="loc_nca" xlink:to="lab_nca"/>
 </labelLink>
</linkbase>"""

_PRE_XML = """<?xml version="1.0" encoding="utf-8"?>
<linkbase xmlns="http://www.xbrl.org/2003/linkbase"
          xmlns:xlink="http://www.w3.org/1999/xlink">
 <presentationLink xlink:type="extended"
                   xlink:role="http://dart.fss.or.kr/role/bs">
  <loc xlink:type="locator" xlink:label="loc_root"
       xlink:href="tax.xsd#ifrs-full_StatementOfFinancialPositionAbstract"/>
  <loc xlink:type="locator" xlink:label="loc_aa"
       xlink:href="tax.xsd#ifrs-full_AssetsAbstract"/>
  <loc xlink:type="locator" xlink:label="loc_ca"
       xlink:href="tax.xsd#ifrs-full_CurrentAssets"/>
  <loc xlink:type="locator" xlink:label="loc_nca"
       xlink:href="tax.xsd#ifrs-full_NoncurrentAssets"/>
  <loc xlink:type="locator" xlink:label="loc_a"
       xlink:href="tax.xsd#ifrs-full_Assets"/>
  <presentationArc xlink:type="arc"
      xlink:arcrole="http://www.xbrl.org/2003/arcrole/parent-child"
      xlink:from="loc_root" xlink:to="loc_aa" order="1"/>
  <presentationArc xlink:type="arc"
      xlink:arcrole="http://www.xbrl.org/2003/arcrole/parent-child"
      xlink:from="loc_aa" xlink:to="loc_ca" order="1"/>
  <presentationArc xlink:type="arc"
      xlink:arcrole="http://www.xbrl.org/2003/arcrole/parent-child"
      xlink:from="loc_aa" xlink:to="loc_nca" order="2"/>
  <presentationArc xlink:type="arc"
      xlink:arcrole="http://www.xbrl.org/2003/arcrole/parent-child"
      xlink:from="loc_aa" xlink:to="loc_a" order="3"/>
 </presentationLink>
</linkbase>"""


def _pre_zip() -> bytes:
    import io
    import zipfile

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, body in (
            ("entity00000042_2025-06-30.xbrl", _PRE_INSTANCE),
            ("entity00000042_2025-06-30_lab-ko.xml", _PRE_LAB_KO),
            ("entity00000042_2025-06-30_pre.xml", _PRE_XML),
        ):
            info = zipfile.ZipInfo(name, date_time=(2026, 1, 1, 0, 0, 0))
            zf.writestr(info, body)
    return buf.getvalue()


def test_parse_presentation_linkbase_unit():
    from dart_xbrl_crawler_spark import doc_parsers

    pres = doc_parsers.parse_presentation_linkbase(_PRE_XML.encode())
    assert pres == {
        "ifrs-full_AssetsAbstract": (
            "ifrs-full_StatementOfFinancialPositionAbstract", 1.0,
        ),
        "ifrs-full_CurrentAssets": ("ifrs-full_AssetsAbstract", 1.0),
        "ifrs-full_NoncurrentAssets": ("ifrs-full_AssetsAbstract", 2.0),
        "ifrs-full_Assets": ("ifrs-full_AssetsAbstract", 3.0),
    }
    ranks = doc_parsers.presentation_ranks(pres)
    assert (
        ranks["ifrs-full_CurrentAssets"]
        < ranks["ifrs-full_NoncurrentAssets"]
        < ranks["ifrs-full_Assets"]
    )


def test_zip_presentation_linkbase_byte_identity(spark):
    """A ZIP carrying a presentation linkbase derives class1..3 from
    the arcs (the dart_fss hierarchy the reference consumes,
    xbrl_processor.py:339-393 + :971-1089) and orders rows in
    depth-first presentation order — byte-identically through BOTH the
    row-wise oracle and the vectorized kernel.  Instance fact order is
    deliberately REVERSED vs presentation order."""
    from dart_xbrl_crawler_spark import doc_parsers, oracle
    from dart_xbrl_crawler_spark.operators import extract as X

    _, doc = doc_parsers.parse_document(_pre_zip())
    rows = doc["statements"]["BS"]["rows"]
    assert [r["concept_id"] for r in rows] == [
        "ifrs-full_CurrentAssets",
        "ifrs-full_NoncurrentAssets",
        "ifrs-full_Assets",
    ]
    by_cid = {r["concept_id"]: r for r in rows}
    # classes = ko-label path under the statement root (abstract from
    # the lab linkbase, known concepts from the built-in table,
    # NoncurrentAssets from its own linkbase label)
    assert by_cid["ifrs-full_CurrentAssets"]["class1"] == "자산 [개요]"
    assert by_cid["ifrs-full_CurrentAssets"]["class2"] == "유동자산"
    assert by_cid["ifrs-full_NoncurrentAssets"]["class1"] == "자산 [개요]"
    assert by_cid["ifrs-full_NoncurrentAssets"]["class2"] == "비유동자산"
    assert by_cid["ifrs-full_Assets"]["class1"] == "자산 [개요]"
    assert by_cid["ifrs-full_Assets"]["class2"] == "자산총계"
    assert by_cid["ifrs-full_Assets"]["class3"] == ""

    url = "https://dart.fss.or.kr/api/fnlttXbrl.xml?rcept_no=pre1"
    html = _pre_zip()
    report_nm, rcept_dt = "반기보고서 (2025.06)", "20250615"
    golden = oracle.extract_text_rowwise(url, html, report_nm, rcept_dt, RUN_TS)
    assert "비유동자산" in golden  # linkbase label reached the output

    df = spark.createDataFrame(
        pd.DataFrame(
            [{"url": url, "html": html, "report_nm": report_nm, "rcept_dt": rcept_dt}]
        ),
        schema="url string, html binary, report_nm string, rcept_dt string",
    )
    out = X.extract_text(df, RUN_TS).collect()
    assert len(out) == 1 and out[0]["parse_ok"]
    assert out[0]["text"] == golden


# ------------------------------------------- real baseline JPEG decode
def _jpeg_encode(px, subsample=False, restart_interval=0):
    """Minimal test-side baseline JPEG encoder (ITU-T T.81), written
    from the public spec independently of the decoder: all-ones quant
    tables (max fidelity), uniform-length canonical huffman tables
    declared via DHT (DC: 12 symbols at 4 bits; AC: 192 symbols at 8
    bits — exercises the decoder's canonical table build, not a
    hardcoded Annex K), optional 4:2:0 subsampling and restart
    markers.  px: (H, W) grayscale or (H, W, 3) RGB uint8."""
    import numpy as np

    from dart_xbrl_crawler_spark.operators.multimodal import _DCT_A, _ZIGZAG

    gray = px.ndim == 2
    h, w = px.shape[:2]

    # --- canonical tables the encoder will both DECLARE and USE
    dc_counts = [0, 0, 0, 12] + [0] * 12
    dc_syms = list(range(12))
    dc_code = {s: (i, 4) for i, s in enumerate(dc_syms)}
    ac_counts = [0] * 7 + [192] + [0] * 8
    ac_syms = [(r << 4) | s for r in range(16) for s in range(12)]
    ac_code = {s: (i, 8) for i, s in enumerate(ac_syms)}

    out = bytearray(b"\xff\xd8")  # SOI

    def seg(marker, body):
        out.extend(bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body)

    seg(0xDB, bytes([0x00]) + bytes([1] * 64))  # DQT id 0, all ones
    ncomp = 1 if gray else 3
    sof = bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big") + bytes([ncomp])
    if gray:
        sof += bytes([1, 0x11, 0])
    elif subsample:
        sof += bytes([1, 0x22, 0, 2, 0x11, 0, 3, 0x11, 0])
    else:
        sof += bytes([1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0])
    seg(0xC0, sof)
    for tc, counts, syms in ((0, dc_counts, dc_syms), (1, ac_counts, ac_syms)):
        seg(0xC4, bytes([tc << 4]) + bytes(counts) + bytes(syms))
    if restart_interval:
        seg(0xDD, restart_interval.to_bytes(2, "big"))
    sos = bytes([ncomp])
    for cid in range(1, ncomp + 1):
        sos += bytes([cid, 0x00])
    sos += bytes([0, 63, 0])
    seg(0xDA, sos)

    # --- planes (YCbCr BT.601 for color, with optional 2x2 chroma mean)
    if gray:
        planes = [(px.astype(np.float64), 1, 1)]
    else:
        x = px.astype(np.float64)
        r, g, b = x[:, :, 0], x[:, :, 1], x[:, :, 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        if subsample:
            cb = cb.reshape(h // 2, 2, w // 2, 2).mean(axis=(1, 3))
            cr = cr.reshape(h // 2, 2, w // 2, 2).mean(axis=(1, 3))
            planes = [(y, 2, 2), (cb, 1, 1), (cr, 1, 1)]
        else:
            planes = [(y, 1, 1), (cb, 1, 1), (cr, 1, 1)]

    hmax = max(p[1] for p in planes)
    vmax = max(p[2] for p in planes)
    padded = []
    for p, hs, vs in planes:
        ph, pw = p.shape
        th = -(-h // (8 * vmax)) * vs * 8
        tw = -(-w // (8 * hmax)) * hs * 8
        q = np.pad(p, ((0, th - ph), (0, tw - pw)), mode="edge")
        padded.append((q, hs, vs))

    # --- bit writer with FF byte stuffing
    bits = []

    def put(code, length):
        for i in range(length - 1, -1, -1):
            bits.append((code >> i) & 1)

    def cat(v):
        return 0 if v == 0 else int(abs(v)).bit_length()

    def put_val(v, s):
        if s:
            if v < 0:
                v += (1 << s) - 1
            put(v, s)

    def encode_block(block, pred):
        coeffs = _DCT_A @ (block - 128.0) @ _DCT_A.T
        zz = np.rint(coeffs.flatten()[_ZIGZAG]).astype(int)
        diff = int(zz[0]) - pred
        s = cat(diff)
        put(*dc_code[s])
        put_val(diff, s)
        run = 0
        last_nz = max((i for i in range(1, 64) if zz[i]), default=0)
        for k in range(1, last_nz + 1):
            if zz[k] == 0:
                run += 1
                continue
            while run > 15:
                put(*ac_code[0xF0])
                run -= 16
            s = cat(int(zz[k]))
            put(*ac_code[(run << 4) | s])
            put_val(int(zz[k]), s)
            run = 0
        if last_nz < 63:
            put(*ac_code[0x00])
        return int(zz[0])

    def flush_to(buf):
        while len(bits) % 8:
            bits.append(1)
        for i in range(0, len(bits), 8):
            byte = 0
            for b in bits[i : i + 8]:
                byte = (byte << 1) | b
            buf.append(byte)
            if byte == 0xFF:
                buf.append(0x00)
        bits.clear()

    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    preds = [0] * len(padded)
    entropy = bytearray()
    rst = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            idx = my * mcus_x + mx
            if restart_interval and idx and idx % restart_interval == 0:
                flush_to(entropy)
                entropy.extend(bytes([0xFF, 0xD0 + rst % 8]))
                rst += 1
                preds = [0] * len(padded)
            for ci, (p, hs, vs) in enumerate(padded):
                for by in range(vs):
                    for bx in range(hs):
                        y0 = (my * vs + by) * 8
                        x0 = (mx * hs + bx) * 8
                        preds[ci] = encode_block(
                            p[y0 : y0 + 8, x0 : x0 + 8], preds[ci]
                        )
    flush_to(entropy)
    out.extend(entropy)
    out.extend(b"\xff\xd9")  # EOI
    return bytes(out)


def test_decode_jpeg_gray_roundtrip():
    import numpy as np

    from dart_xbrl_crawler_spark.operators.multimodal import decode_jpeg

    rng = np.random.default_rng(5)
    px = rng.integers(0, 256, size=(13, 20), dtype=np.uint8)
    got = decode_jpeg(_jpeg_encode(px))
    assert got is not None and got.shape == (13, 20, 1)
    err = np.abs(got[:, :, 0].astype(int) - px.astype(int))
    # all-ones quant: only DCT-coefficient rounding survives
    assert err.max() <= 4 and err.mean() <= 1.5


def test_decode_jpeg_color_444_roundtrip():
    import numpy as np

    from dart_xbrl_crawler_spark.operators.multimodal import decode_jpeg

    rng = np.random.default_rng(7)
    px = rng.integers(0, 256, size=(16, 24, 3), dtype=np.uint8)
    got = decode_jpeg(_jpeg_encode(px))
    assert got is not None and got.shape == (16, 24, 3)
    err = np.abs(got.astype(int) - px.astype(int))
    # colorspace round-trip adds ~2x amplification on top of rounding
    assert err.max() <= 8 and err.mean() <= 2.0


def test_decode_jpeg_420_subsampling_matches_numpy_model():
    """4:2:0: decoder output must match the numpy model of the SAME
    lossy path (chroma 2x2 mean-downsample + nearest upsample) — not
    the original, which subsampling cannot reproduce."""
    import numpy as np

    from dart_xbrl_crawler_spark.operators.multimodal import decode_jpeg

    rng = np.random.default_rng(11)
    px = rng.integers(0, 256, size=(16, 32, 3), dtype=np.uint8)
    got = decode_jpeg(_jpeg_encode(px, subsample=True))
    assert got is not None and got.shape == (16, 32, 3)

    x = px.astype(np.float64)
    r, g, b = x[:, :, 0], x[:, :, 1], x[:, :, 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    cb = np.repeat(np.repeat(cb.reshape(8, 2, 16, 2).mean(axis=(1, 3)), 2, 0), 2, 1)
    cr = np.repeat(np.repeat(cr.reshape(8, 2, 16, 2).mean(axis=(1, 3)), 2, 0), 2, 1)
    exp = np.stack(
        [
            y + 1.402 * (cr - 128.0),
            y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0),
            y + 1.772 * (cb - 128.0),
        ],
        axis=2,
    )
    exp = np.clip(np.rint(exp), 0, 255)
    err = np.abs(got.astype(float) - exp)
    assert err.max() <= 8 and err.mean() <= 2.0


def test_decode_jpeg_restart_markers():
    import numpy as np

    from dart_xbrl_crawler_spark.operators.multimodal import decode_jpeg

    rng = np.random.default_rng(13)
    px = rng.integers(0, 256, size=(8, 64), dtype=np.uint8)  # 8 MCUs
    got = decode_jpeg(_jpeg_encode(px, restart_interval=2))
    assert got is not None and got.shape == (8, 64, 1)
    err = np.abs(got[:, :, 0].astype(int) - px.astype(int))
    assert err.max() <= 4


def test_decode_jpeg_rejects_out_of_envelope():
    import numpy as np

    from dart_xbrl_crawler_spark.operators.multimodal import decode_jpeg

    px = np.zeros((8, 8), dtype=np.uint8)
    full = _jpeg_encode(px)
    assert decode_jpeg(full[: len(full) // 2]) is None  # truncated
    assert decode_jpeg(b"not a jpeg") is None
    progressive = bytearray(full)
    i = progressive.find(b"\xff\xc0")
    progressive[i + 1] = 0xC2  # SOF0 → SOF2
    assert decode_jpeg(bytes(progressive)) is None


# ----------------------------------------- real GIF first-frame decode
def _gif_lzw_encode(indices, min_code):
    """Real LZW encoder (dictionary growth + dynamic code width +
    12-bit cap with CLEAR), written from the GIF89a spec independently
    of the decoder."""
    clear, eoi = 1 << min_code, (1 << min_code) + 1
    out = bytearray()
    buf = nbits = 0

    def put(code, width):
        nonlocal buf, nbits
        buf |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(buf & 0xFF)
            buf >>= 8
            nbits -= 8

    table = {bytes([i]): i for i in range(clear)}
    nxt, width = eoi + 1, min_code + 1
    put(clear, width)
    prev = b""
    for i in indices:
        cur = prev + bytes([int(i)])
        if cur in table:
            prev = cur
            continue
        put(table[prev], width)
        if nxt < 4096:
            table[cur] = nxt
            if nxt == (1 << width) and width < 12:
                width += 1
            nxt += 1
        else:  # dictionary full: reset
            put(clear, width)
            table = {bytes([j]): j for j in range(clear)}
            nxt, width = eoi + 1, min_code + 1
        prev = bytes([int(i)])
    if prev:
        put(table[prev], width)
    put(eoi, width)
    if nbits:
        out.append(buf & 0xFF)
    return bytes(out)


def _gif_encode(idx, palette, interlace=False, min_code=None):
    """Minimal test-side GIF89a encoder: global color table, one image
    descriptor, real LZW sub-blocks, optional interlace row order."""
    import numpy as np

    h, w = idx.shape
    n = len(palette)
    ctbits = max(1, (n - 1).bit_length())
    if min_code is None:
        min_code = max(2, ctbits)
    out = bytearray(b"GIF89a")
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    out += bytes([0x80 | (ctbits - 1), 0, 0])
    pal = np.zeros((2**ctbits, 3), dtype=np.uint8)
    pal[:n] = palette
    out += pal.tobytes()
    # a graphic-control extension the decoder must skip
    out += bytes([0x21, 0xF9, 4, 0, 0, 0, 0, 0])
    out += bytes([0x2C]) + (0).to_bytes(2, "little") * 2
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    out += bytes([0x40 if interlace else 0])
    rows = idx
    if interlace:
        order = np.concatenate(
            [np.arange(0, h, 8), np.arange(4, h, 8),
             np.arange(2, h, 4), np.arange(1, h, 2)]
        )
        rows = idx[order]
    data = _gif_lzw_encode(rows.flatten(), min_code)
    out += bytes([min_code])
    for i in range(0, len(data), 255):
        chunk = data[i : i + 255]
        out += bytes([len(chunk)]) + chunk
    out += bytes([0, 0x3B])
    return bytes(out)


def test_decode_gif_roundtrip_exact():
    """GIF is lossless given a palette: decode must reproduce the
    palette-mapped pixels EXACTLY, including dictionary growth past the
    initial code width (image big enough to grow the LZW table)."""
    import numpy as np

    from dart_xbrl_crawler_spark.operators.multimodal import decode_gif

    rng = np.random.default_rng(19)
    pal = rng.integers(0, 256, size=(16, 3), dtype=np.uint8)
    idx = rng.integers(0, 16, size=(24, 37), dtype=np.uint8)
    got = decode_gif(_gif_encode(idx, pal))
    assert got is not None and got.shape == (24, 37, 3)
    assert (got == pal[idx]).all()


def test_decode_gif_interlaced():
    import numpy as np

    from dart_xbrl_crawler_spark.operators.multimodal import decode_gif

    rng = np.random.default_rng(23)
    pal = rng.integers(0, 256, size=(8, 3), dtype=np.uint8)
    idx = rng.integers(0, 8, size=(17, 9), dtype=np.uint8)
    got = decode_gif(_gif_encode(idx, pal, interlace=True))
    assert got is not None and (got == pal[idx]).all()


def test_decode_gif_rejects_malformed():
    import numpy as np

    from dart_xbrl_crawler_spark.operators.multimodal import decode_gif

    pal = np.zeros((4, 3), dtype=np.uint8)
    idx = np.zeros((4, 4), dtype=np.uint8)
    full = _gif_encode(idx, pal)
    assert decode_gif(b"GIF89a") is None
    assert decode_gif(b"not a gif") is None
    assert decode_gif(full[:20]) is None  # truncated before image data


# --------------------------------------------- PageRank (q54 operator)
def test_pagerank_matches_numpy_power_iteration(spark):
    """pagerank() equals the dense numpy computation of the same
    formula (uniform init, damping 0.85, leaked dangling mass) on a
    small graph with a dangling node and an unreferenced source."""
    import numpy as np

    from dart_xbrl_crawler_spark.operators.components import pagerank

    edges = [(0, 1), (0, 2), (1, 2), (2, 0), (3, 2)]  # 3: source-only node
    df = spark.createDataFrame(edges, schema="src long, dst long")
    got = {r["node"]: r["pr"] for r in pagerank(df, n_iter=5).collect()}

    nodes = sorted({u for e in edges for u in e})
    n = len(nodes)
    deg = {u: sum(1 for s, _ in edges if s == u) for u in nodes}
    pr = {u: 1.0 / n for u in nodes}
    for _ in range(5):
        mass = {u: 0.0 for u in nodes}
        for s, d in edges:
            mass[d] += pr[s] / deg[s]
        pr = {u: 0.15 / n + 0.85 * mass[u] for u in nodes}
    assert set(got) == set(nodes)
    for u in nodes:
        assert abs(got[u] - pr[u]) < 1e-12
    # node 3 has no in-edges: it holds only the base (1-d)/n mass
    assert got[3] == min(got.values())
    assert abs(got[3] - 0.15 / n) < 1e-12


def test_pagerank_empty_and_duplicate_edges(spark):
    from dart_xbrl_crawler_spark.operators.components import pagerank

    empty = spark.createDataFrame([], schema="src long, dst long")
    assert pagerank(empty).count() == 0
    # duplicate edges collapse: same result as the deduped graph
    dup = spark.createDataFrame(
        [(0, 1), (0, 1), (1, 0)], schema="src long, dst long"
    )
    ded = spark.createDataFrame([(0, 1), (1, 0)], schema="src long, dst long")
    a = {r["node"]: r["pr"] for r in pagerank(dup, n_iter=3).collect()}
    b = {r["node"]: r["pr"] for r in pagerank(ded, n_iter=3).collect()}
    assert a == b


# ---------------------------------------------------------------------
# q61 C4-style line dedup: planted duplicate chunks — semantics pinned
# against a hand-computed reassembly (the sf0.01 parity test covers
# the engines agreeing; this covers them agreeing on the RIGHT thing)
# ---------------------------------------------------------------------
def test_line_dedup_planted_reassembly(spark):
    import hashlib

    from dart_xbrl_crawler_spark.plans import catalog_text as CT

    dup = " ".join(f"dup{i}" for i in range(8))      # one full 8-word line
    uniq_a = " ".join(f"alpha{i}" for i in range(8))
    uniq_b = "tail one two"                          # short final chunk
    docs = [
        (0, f"{dup} {uniq_a} {uniq_b}", "en"),       # 3 lines, 1 removed
        (1, f"{dup} {dup}", "en"),                   # both lines removed
        (2, "  ", "en"),                             # whitespace-only: absent
    ]
    df = spark.createDataFrame(docs, schema="doc_id long, text string, lang string")

    import tempfile

    d = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(d + "/documents.parquet")
    out = {r["doc_id"]: r for r in CT.Q["q61_line_dedup"](spark, d).collect()}

    assert set(out) == {0, 1}                        # doc 2 emits nothing
    assert (out[0]["n_kept"], out[0]["n_removed"]) == (2, 1)
    expect0 = hashlib.md5(f"{uniq_a} {uniq_b}".encode()).hexdigest()
    assert out[0]["text_hash"] == expect0
    assert (out[1]["n_kept"], out[1]["n_removed"]) == (0, 2)
    assert out[1]["text_hash"] == hashlib.md5(b"").hexdigest()


def test_contamination_excluding_self_is_expressible(spark):
    """q62 keeps self-hits by design (deterministic non-empty result);
    the production variant — exclude the benchmark's own source doc —
    is one extra predicate and must yield exactly the cross-doc hits."""
    import tempfile

    from pyspark.sql import functions as F

    from dart_xbrl_crawler_spark.plans import catalog_text as CT

    span = " ".join(f"w{i}" for i in range(20))
    docs = [
        (0, span, "en"),                 # bench source (0 % 37 == 0)
        (7, "prefix " + span, "en"),     # cross-doc contaminated copy
        (8, "totally different words " * 5, "en"),
    ]
    df = spark.createDataFrame(docs, schema="doc_id long, text string, lang string")
    d = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(d + "/documents.parquet")
    hits = {r["doc_id"] for r in CT.Q["q62_contamination_13gram"](spark, d).collect()}
    assert hits == {0, 7}                # source self-hit + dup partner


# ---------------------------------------------------------------------
# charset sniff + decode kernel (functions/charset.py)
# ---------------------------------------------------------------------
def test_charset_sniff_rules():
    from dart_xbrl_crawler_spark.functions.charset import sniff_charset

    korean = "한국 공시 자료"
    assert sniff_charset("plain ascii".encode()) == "utf-8"
    assert sniff_charset(korean.encode("utf-8")) == "utf-8"
    # BOMs are authoritative, even over a lying meta tag
    assert sniff_charset("﻿abc".encode("utf-8")) == "utf-8-sig"
    assert (
        sniff_charset(b"\xff\xfe" + "x<meta charset=euc-kr>".encode("utf-16-le"))
        == "utf-16-le"
    )
    assert sniff_charset("hi".encode("utf-16")) in ("utf-16-le", "utf-16-be")
    # meta tag within the first 1024 bytes, label aliasing
    html = b'<html><head><meta charset="ks_c_5601-1987"></head>' + korean.encode("euc-kr")
    assert sniff_charset(html) == "euc-kr"
    meta2 = (
        b'<meta http-equiv="Content-Type" content="text/html; charset=EUC-KR">'
        + korean.encode("euc-kr")
    )
    assert sniff_charset(meta2) == "euc-kr"
    # unlabeled non-UTF-8 falls back to cp1252 (WHATWG legacy default)
    assert sniff_charset(b"caf\xe9 \x93smart\x94") == "cp1252"
    # a meta tag beyond the 1024-byte prescan window is ignored
    far = b" " * 1100 + b'<meta charset="euc-kr">' + b"\xb0\xa1"
    assert sniff_charset(far) == "cp1252"
    # odd lengths: the NUL-stripe check clamps its head to even length
    assert sniff_charset(b"\x00") == "utf-8"
    assert sniff_charset("hello".encode("utf-16-be")[:-1]) == "utf-16-be"
    assert sniff_charset("hello".encode("utf-16-le")[:-1]) == "utf-16-le"


def test_charset_decode_byte_identity():
    from dart_xbrl_crawler_spark.functions.charset import decode_bytes

    korean = "한국 공시 자료: 재무제표"
    for codec, label in [
        ("euc-kr", b'<meta charset="euc-kr">'),
        ("utf-8", b""),
        ("shift_jis", b'<meta charset="shift_jis">'),
    ]:
        payload = label + korean.encode(codec) if codec != "shift_jis" else (
            label + "日本語テキスト".encode(codec)
        )
        got_codec, text = decode_bytes(payload)
        assert got_codec == codec
        # identity against python's own reference decode
        assert text == payload.decode(codec)
    assert decode_bytes(None) == ("utf-8", "")
    assert decode_bytes(b"") == ("utf-8", "")
    # BOM markers never leak into the text (endian-specific UTF-16/32
    # codecs would otherwise decode them to a literal U+FEFF)
    for payload in (
        "x y z".encode("utf-8-sig"),
        "x y z".encode("utf-16"),          # python emits LE + BOM
        b"\xfe\xff" + "x y z".encode("utf-16-be"),
        b"\xff\xfe\x00\x00" + "x y z".encode("utf-32-le"),
    ):
        codec, text = decode_bytes(payload)
        assert text == "x y z", (payload[:4], codec, text)
    # BOM-less UTF-16 must not pass as NUL-ridden "valid UTF-8":
    # the NUL-stripe heuristic picks the endianness
    for enc in ("utf-16-le", "utf-16-be"):
        codec, text = decode_bytes("just ascii words here now ok".encode(enc))
        assert codec == enc and text == "just ascii words here now ok"
    # replacement, never a throw, on truncated multibyte sequences
    codec, text = decode_bytes(b'<meta charset="euc-kr">\xb0')
    assert codec == "euc-kr" and "�" in text


def test_charset_decode_spark_e2e(spark):
    from dart_xbrl_crawler_spark.functions.charset import decode_html

    korean = "공시자료"
    rows = [
        (1, b'<meta charset="euc-kr">' + korean.encode("euc-kr")),
        (2, "plain utf-8 text ü".encode("utf-8")),
        (3, "﻿bom text".encode("utf-8")),
        (4, b"caf\xe9"),
        (5, None),
    ]
    df = spark.createDataFrame(rows, schema="page_id long, html binary")
    out = {r["page_id"]: r for r in decode_html(df).collect()}
    assert out[1]["charset"] == "euc-kr" and korean in out[1]["text"]
    assert out[2]["charset"] == "utf-8" and out[2]["text"].endswith("ü")
    assert out[3]["charset"] == "utf-8-sig" and out[3]["text"] == "bom text"
    assert out[4]["charset"] == "cp1252" and out[4]["text"] == "café"
    assert out[5]["text"] == ""


# ---------------------------------------------------------------------
# composed webtext curation pipeline (plans/webtext.py)
# ---------------------------------------------------------------------
def test_curate_funnel(spark):
    import hashlib

    from dart_xbrl_crawler_spark.plans.webtext import curate

    good = "the quick brown fox jumps over the lazy dog again and again today"
    rep = " ".join(["spam ham"] * 40)            # top-bigram degenerate
    dup8 = " ".join(f"d{i}" for i in range(8))
    repl = f"{dup8} {dup8} {dup8} {dup8}"        # duplicate-line degenerate
    rows = [
        ("https://a.ex/1", "2026-01-01", None, good, "en"),
        ("https://a.ex/2", "2026-01-01", None, good, "en"),        # exact dup
        ("https://a.ex/3", "2026-01-01", None, rep, "en"),         # quality-drop
        ("https://a.ex/4", "2026-01-01", None, repl, "en"),        # quality-drop
        ("https://a.ex/5", "2026-01-01", None, "too short", "en"), # min_words
        ("https://b.ex/6", "2026-01-01",
         b'<meta charset="euc-kr">'
         + "한국 문서 자료 하나 둘 셋 넷 다섯".encode("euc-kr"),
         None, None),                                              # decode path
    ]
    pages = spark.createDataFrame(
        rows,
        schema="url string, warc_ts string, html binary, text string, lang string",
    )
    curated, stats = curate(pages, min_words=5)
    got = {r["url"]: r for r in curated.collect()}
    st = {r["stage"]: r["rows"] for r in stats.collect()}

    assert st["input"] == 6 and st["decoded"] == 6
    assert st["quality_pass"] == 3          # rows 3,4,5 fail quality
    assert st["deduped"] == 2 and st["curated"] == 2
    assert set(got) == {"https://a.ex/1", "https://b.ex/6"}  # min-url canonical
    assert got["https://b.ex/6"]["charset"] == "euc-kr"
    # the WET strip removed the <meta> tag before word counting: only
    # the 8 Korean words remain
    assert got["https://b.ex/6"]["text"].startswith("한국")
    assert got["https://b.ex/6"]["n_words"] == 8
    assert got["https://a.ex/1"]["charset"] == "pre-decoded"
    assert got["https://a.ex/1"]["lang_guess"] == "en"
    assert got["https://b.ex/6"]["lang_guess"] == "unk"

    # deterministic per-lang downsample: md5(url) < threshold, q58
    # semantics — languages without a threshold are untouched
    curated2, _ = curate(pages, min_words=5, sample_thresholds={"en": "8"})
    kept = {r["url"] for r in curated2.collect()}
    en_kept = {
        u
        for u in ("https://a.ex/1",)
        if hashlib.md5(u.encode()).hexdigest() < "8"
    }
    assert kept == en_kept | {"https://b.ex/6"}
    # and a rerun keeps the identical rows (no RNG anywhere)
    curated3, _ = curate(pages, min_words=5, sample_thresholds={"en": "8"})
    assert {r["url"] for r in curated3.collect()} == kept

    # opt-in PII scrub runs AFTER dedup on survivors only: the two
    # email-bearing duplicates still collapse on their source text,
    # and the canonical copy comes out redacted
    pii_rows = [
        ("https://c.ex/1", "2026-01-01", None, good + " write bob@ex.org now", "en"),
        ("https://c.ex/2", "2026-01-01", None, good + " write bob@ex.org now", "en"),
    ]
    curated4, stats4 = curate(
        spark.createDataFrame(pii_rows, schema=pages.schema), redact=True
    )
    r4 = curated4.collect()
    st4 = {r["stage"]: r["rows"] for r in stats4.collect()}
    assert st4["deduped"] == 1 and len(r4) == 1
    assert r4[0]["text"].endswith("write <EMAIL> now")


# ---------------------------------------------------------------------
# distributed BPE vocabulary induction (operators/bpe.py)
# ---------------------------------------------------------------------
def _ref_bpe(word_freqs, n_merges, min_pair_count=2):
    """Independent single-process reference: word-frequency BPE with
    the same tie-break (max count, then lexicographically smallest)."""
    words = [(list(w), n) for w, n in word_freqs.items()]
    merges = []
    for _ in range(n_merges):
        counts = {}
        for syms, n in words:
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + n
        if not counts:
            break
        (a, b), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if cnt < min_pair_count:
            break
        merges.append((a, b, cnt))
        nxt = []
        for syms, n in words:
            res, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    res.append(a + b)
                    i += 2
                else:
                    res.append(syms[i])
                    i += 1
            nxt.append((res, n))
        words = nxt
    return merges


def test_bpe_train_matches_reference(spark):
    from collections import Counter

    from dart_xbrl_crawler_spark.operators.bpe import train_bpe

    texts = [
        "low low low lower lower lowest",
        "new new newer newer newest newest",
        "wide wider widest low new",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], schema="doc_id long, text string"
    )
    wf = Counter(w for t in texts for w in t.split())
    expect = _ref_bpe(dict(wf), n_merges=12)
    got = train_bpe(docs, n_merges=12)
    assert got == expect
    # merges actually merged something meaningful
    assert len(got) >= 5 and got[0][2] == max(m[2] for m in got)


def test_bpe_on_corpus_deterministic(spark):
    """8 merges over the sf0.001 documents table equal the independent
    reference run over the same parquet — and a second Spark run (other
    partitioning) returns the identical list."""
    from collections import Counter

    import duckdb

    from dart_xbrl_crawler_spark.operators.bpe import train_bpe

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    got = train_bpe(docs, n_merges=8)

    rows = duckdb.sql(
        f"select text from '{sf}/documents.parquet'"
    ).fetchall()
    wf = Counter(w for (t,) in rows for w in (t or "").split())
    assert got == _ref_bpe(dict(wf), n_merges=8)

    again = train_bpe(docs.repartition(13), n_merges=8)
    assert again == got


# ---------------------------------------------------------------------
# bench plausibility guard: a contaminated 2-core leg OVERSTATES the
# scaling ratio; the campaign must rank such attempts below any
# plausible one and flag them in the artifact if budget runs out
# ---------------------------------------------------------------------
def _bench_mod():
    import importlib.util
    import pathlib

    spec = importlib.util.spec_from_file_location(
        "bench_under_test", pathlib.Path(__file__).parent.parent / "bench.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_bench_eff_ranking_plausibility():
    B = _bench_mod()
    ceil = 1.1
    # any pair beats the no-pair sentinel, even an implausible one
    assert B._better_eff(1.296, -1.0, ceil)
    assert B._better_eff(0.5, -1.0, ceil)
    # plausible always beats implausible, in both directions
    assert B._better_eff(0.65, 1.296, ceil)
    assert not B._better_eff(1.296, 0.65, ceil)
    # among plausible: higher wins
    assert B._better_eff(0.86, 0.80, ceil) and not B._better_eff(0.80, 0.86, ceil)
    # among implausible: LOWER wins (closest to truth)
    assert B._better_eff(1.15, 1.296, ceil) and not B._better_eff(1.296, 1.15, ceil)
    # the ceiling itself is plausible (ext legs read ~1.09 on clean boxes)
    assert B._better_eff(1.1, 0.9, ceil)


def test_bench_scaling_block_flags_implausible_lo():
    B = _bench_mod()

    def leg(t):  # equal thirds across the three stages
        return {
            "n_ins": 1000, "t_ins": t / 3, "n_pop": 1000, "t_pop": t / 3,
            "n_ext": 1000, "t_ext": t / 3,
        }

    # 2-core leg 5.2x the 8-core leg -> composed 1.3 > ceiling: flagged
    blk = B._scaling_block(2, 8, leg(52.0), leg(10.0), 3, 1.0, {}, None, 1.1)
    assert blk["efficiency"] == 1.3 and blk["implausible_lo"] is True
    # a clean 0.85 pair carries no flag at all
    blk = B._scaling_block(2, 8, leg(34.0), leg(10.0), 3, 1.0, {}, None, 1.1)
    assert blk["efficiency"] == 0.85 and "implausible_lo" not in blk
    # no ceiling passed (legacy call): never flagged
    blk = B._scaling_block(2, 8, leg(52.0), leg(10.0), 3, 1.0, {}, None)
    assert "implausible_lo" not in blk


# ---------------------------------------------------------------------
# PII redaction (functions/pii.py): conservative contract — the
# redactor must hit emails/IPv4/+phones and MUST NOT eat version
# strings, prices, or bare digit runs (training data preservation)
# ---------------------------------------------------------------------
def test_pii_redaction_contract(spark):
    from dart_xbrl_crawler_spark.functions.pii import pii_flags, redact_pii

    cases = [
        ("mail me at jo.doe+x@sub.ex-2.co.uk today", "mail me at <EMAIL> today"),
        ("server 192.168.10.7 is up", "server <IP> is up"),
        ("call +82 010-1234-5678 or +1 555 867 5309", "call <PHONE> or <PHONE>"),
        # negatives: version, price, bare digits, partial quad
        ("v1.2.3 costs $1,234 ref 5551234567 at 10.0.1", None),
        # order contract: the quad is gone before the phone rule sees it
        ("+10 100.100.1000.1 end", None),
        ("", None),
    ]
    df = spark.createDataFrame([(t,) for t, _ in cases], "text string")
    flags = pii_flags("text")
    got = {
        r["text"]: r
        for r in df.select(
            "text",
            redact_pii("text").alias("red"),
            *[flags[k].alias(k) for k in ("has_email", "has_ip", "has_phone")],
        ).collect()
    }
    for t, want in cases:
        red = got[t]["red"]
        assert red == (want if want is not None else t), (t, red)
    assert got[cases[0][0]]["has_email"] and not got[cases[0][0]]["has_ip"]
    assert got[cases[3][0]]["has_email"] is False
    assert got[cases[3][0]]["has_ip"] is False
    assert got[cases[3][0]]["has_phone"] is False


# ---------------------------------------------------------------------
# robots html companion (functions/links.py): meta robots nofollow /
# noindex flags + rel="nofollow" href exclusion in link discovery
# ---------------------------------------------------------------------
def test_meta_robots_and_nofollow_links(spark):
    from dart_xbrl_crawler_spark.functions.links import (
        extract_links,
        meta_robots_flags,
    )

    pages = [
        # plain page: both links survive
        ("https://a.ex/d/p1", '<a href="/x">x</a><a href="q.html">q</a>'),
        # rel-before-href and href-before-rel nofollow anchors dropped,
        # the plain anchor stays
        ("https://a.ex/d/p2",
         '<a rel="nofollow" href="/no1">n</a>'
         "<a href='/no2' rel='ugc nofollow'>n</a>"
         '<a href="/yes">y</a>'),
        # meta nofollow page contributes nothing at all
        ("https://a.ex/d/p3",
         '<meta name="robots" content="noindex, nofollow">'
         '<a href="/gone">g</a>'),
        # content-before-name attribute order also detected
        ("https://a.ex/d/p4",
         "<META content='nofollow' name=robots><a href=\"/gone2\">g</a>"),
    ]
    df = spark.createDataFrame(pages, "url string, h string").select(
        "url", F.encode("h", "UTF-8").alias("html")
    )
    links = {
        (r["src_url"], r["link"])
        for r in extract_links(df, respect_nofollow=True).collect()
    }
    assert links == {
        ("https://a.ex/d/p1", "https://a.ex/x"),
        ("https://a.ex/d/p1", "https://a.ex/d/q.html"),
        ("https://a.ex/d/p2", "https://a.ex/yes"),
    }
    # default path is unchanged (q50/q53 contract): everything extracts
    assert len(extract_links(df).collect()) == 7

    flags = meta_robots_flags(F.decode("html", "UTF-8"))
    got = {
        r["url"]: (r["nf"], r["ni"])
        for r in df.select(
            "url", flags["nofollow"].alias("nf"), flags["noindex"].alias("ni")
        ).collect()
    }
    assert got["https://a.ex/d/p1"] == (False, False)
    assert got["https://a.ex/d/p3"] == (True, True)
    assert got["https://a.ex/d/p4"] == (True, False)


def test_bench_stage_min_composition():
    """One side of the scaling pair composes per-stage minima across
    legs: a minute-scale contention burst poisons one stage of one leg,
    so the composite must beat every individual leg when the bursts hit
    different stages."""
    B = _bench_mod()
    legs = [
        {"t_ins": 10.0, "t_pop": 50.0, "t_ext": 20.0, "t_popc": 3.0,
         "n_ins": 100, "n_pop": 800, "n_ext": 60, "health_sp": 3.8},
        {"t_ins": 25.0, "t_pop": 40.0, "t_ext": 21.0, "t_popc": 2.5,
         "n_ins": 100, "n_pop": 800, "n_ext": 60, "health_sp": 3.9},
    ]
    c = B._stage_min(legs)
    assert (c["t_ins"], c["t_pop"], c["t_ext"], c["t_popc"]) == (10.0, 40.0, 20.0, 2.5)
    assert B._t_total(c) == 70.0  # beats both legs (80, 86)
    assert c["n_legs"] == 2 and c["health_sp"] == 3.9
    assert c["n_pop"] == 800  # counts are quantum-identical, carried through
    # single leg: composite degenerates to the leg itself
    single = B._stage_min(legs[:1])
    assert B._t_total(single) == 80.0 and single["n_legs"] == 1
    # a leg missing the probe timing drops t_popc from the composite min
    legs2 = [dict(legs[0]), {k: v for k, v in legs[1].items() if k != "t_popc"}]
    c2 = B._stage_min(legs2)
    assert c2["t_popc"] == 3.0  # from the min-total leg, not a cross-leg min


# ------------------------- crawl-trap detection (functions/traps.py)
def test_trap_features_rules(spark):
    from dart_xbrl_crawler_spark.functions.traps import trap_features, is_trap

    rows = [
        ("https://h.ex/a/b?x=1",),                                   # clean
        ("https://h.ex/" + "/".join(f"p{i}" for i in range(13)),),   # depth 13
        ("https://h.ex/s/x/s/x/s/x/s/9",),                           # 's' ×4
        ("https://h.ex/q?" + "&".join(f"p{i}={i}" for i in range(11)),),
        ("https://h.ex/long/" + "z" * 600,),                         # length
        ("https://h.ex/",),                                          # root
    ]
    df = spark.createDataFrame(rows, schema="url string")
    from pyspark.sql import functions as F

    feats = trap_features(F.col("url"))
    out = {
        r["url"]: r
        for r in df.select(
            "url", *[c.alias(n) for n, c in feats.items()]
        ).collect()
    }
    clean = out["https://h.ex/a/b?x=1"]
    assert clean["trap_reason"] is None
    assert (clean["path_depth"], clean["n_params"]) == (2, 1)
    deep = [r for u, r in out.items() if "/p12" in u][0]
    assert deep["trap_reason"] == "depth" and deep["path_depth"] == 13
    rep = out["https://h.ex/s/x/s/x/s/x/s/9"]
    assert rep["trap_reason"] == "segment_repeat"
    assert rep["max_segment_repeat"] == 4
    par = [r for u, r in out.items() if "p10=10" in u][0]
    assert par["trap_reason"] == "params" and par["n_params"] == 11
    lng = [r for u, r in out.items() if "zzz" in u][0]
    assert lng["trap_reason"] == "length" and lng["url_len"] > 512
    root = out["https://h.ex/"]
    assert root["trap_reason"] is None and root["path_depth"] == 0
    n_traps = df.filter(is_trap(F.col("url"))).count()
    assert n_traps == 4


def test_crawl_drops_trap_links(spark, tmp_path):
    """run_crawl(drop_traps=True) keeps a calendar-descent link out of
    the frontier; drop_traps=False lets it in."""
    import pandas as pd
    from dart_xbrl_crawler_spark.operators.frontier import FrontierStore
    from dart_xbrl_crawler_spark import fixtures

    trap_href = "/" + "/".join(f"d{i}" for i in range(14))
    html = (
        '<a href="/fine/page1">ok</a>'
        f'<a href="{trap_href}">cal</a>'
    ).encode()
    seed_url = "https://t.ex/start"
    pages = spark.createDataFrame(
        pd.DataFrame(
            {"url": [seed_url], "html": [html],
             "warc_ts": [pd.Timestamp("2026-01-01")]}
        ),
        schema="url string, html binary, warc_ts timestamp",
    )
    robots = spark.createDataFrame(
        [("t.ex", None, 1)],
        schema="host string, disallow_prefix string, crawl_delay_ms long",
    )
    for drop, expect_trap in ((True, 0), (False, 1)):
        store = FrontierStore(str(tmp_path / f"f_{drop}"), n_bloom_shards=4)
        seeds = spark.createDataFrame(
            pd.DataFrame({"url": [seed_url], "priority": [0.0]})
        )
        store.bootstrap(seeds, fixtures.RUN_TS)
        store.run_crawl(
            spark, pages, robots, fixtures.RUN_TS,
            max_rounds=1, drop_traps=drop,
        )
        urls = [
            r["url_canon"]
            for r in store.table.read(spark).select("url_canon").collect()
        ]
        n_trap = sum("/d13" in u for u in urls)
        assert n_trap == expect_trap, (drop, urls)
        assert any("/fine/page1" in u for u in urls)


# ------------------------- host-level ops (operators/hoststats.py)
def test_mirror_host_pairs_guard_and_jaccard(spark):
    from dart_xbrl_crawler_spark.operators.hoststats import mirror_host_pairs

    rows = (
        # ha and hb are perfect mirrors over 3 sigs; hc shares 1 with ha
        [("ha", s) for s in (1, 2, 3)]
        + [("hb", s) for s in (1, 2, 3)]
        + [("hc", 1), ("hc", 9)]
        # boilerplate sig 99 on every host — must be guarded away
        + [(h, 99) for h in ("ha", "hb", "hc", "hd")]
    )
    df = spark.createDataFrame(rows, schema="host string, sig long")
    out = {
        (r["host_a"], r["host_b"]): r
        for r in mirror_host_pairs(
            df, sig_col="sig", min_shared=1, max_hosts_per_sig=3
        ).collect()
    }
    # sig 99 (4 hosts > 3) excluded everywhere: sizes AND pairs
    ab = out[("ha", "hb")]
    assert ab["n_shared"] == 3 and ab["n_a"] == 3 and ab["n_b"] == 3
    assert abs(ab["jaccard"] - 1.0) < 1e-9
    ac = out[("ha", "hc")]
    assert ac["n_shared"] == 1 and ac["n_b"] == 2
    assert abs(ac["jaccard"] - round(1 / 4, 4)) < 1e-9
    assert ("hc", "hd") not in out and ("ha", "hd") not in out


def test_host_quality_rollup_penalty(spark):
    from dart_xbrl_crawler_spark.operators.hoststats import host_quality_rollup

    rows = [
        ("good", "x" * 500, "en"), ("good", "y" * 300, "en"),
        ("bad", "short", "en"), ("bad", "tiny", "ko"),
        ("bad", "z" * 400, "en"),
    ]
    df = spark.createDataFrame(rows, schema="host string, text string, lang string")
    out = {r["host"]: r for r in host_quality_rollup(df).collect()}
    assert out["good"]["priority_penalty"] == 0.0
    assert out["good"]["mean_chars"] == 400.0 and out["good"]["n_langs"] == 1
    bad = out["bad"]
    assert bad["priority_penalty"] == -2.0  # 2/3 short > 0.5
    assert bad["short_frac"] == round(2 / 3, 4) and bad["n_langs"] == 2


def test_discovery_survives_binary_payloads(spark):
    """A frontier carries non-text bodies (ZIP filings, images,
    truncated bytes). Spark 4's decode(_, 'UTF-8') throws on the first
    invalid byte — discovery/sitemap/anchor/meta paths must use the
    permissive decode so one binary page can never kill a round."""
    import zlib
    from pyspark.sql import functions as F
    from dart_xbrl_crawler_spark.functions.links import (
        decode_permissive,
        extract_anchor_texts,
        extract_links,
        extract_sitemap_entries,
        meta_robots_flags,
    )

    rows = [
        ("https://b.ex/a.zip", b"PK\x03\x04" + bytes(range(256)) * 4),
        ("https://b.ex/b.png", b"\x89PNG\r\n\x1a\n" + zlib.compress(b"x" * 99)),
        ("https://b.ex/page", b'<a href="/ok">fine</a>'),
    ]
    df = spark.createDataFrame(rows, schema="url string, html binary")
    links = extract_links(df, respect_nofollow=True).collect()
    assert {(r["src_url"], r["link"]) for r in links} == {
        ("https://b.ex/page", "https://b.ex/ok")
    }
    assert extract_anchor_texts(df).count() == 1
    assert extract_sitemap_entries(df).count() == 0
    flags = meta_robots_flags(decode_permissive(F.col("html")))
    out = df.select(flags["nofollow"].alias("nf")).collect()
    assert all(r["nf"] is False for r in out)


def test_run_crawl_discovery_over_zip_frontier(spark, tmp_path):
    """The original failing drive: a crawl whose fetched pages are XBRL
    ZIPs (binary) with discovery ON must complete the round instead of
    throwing MALFORMED_CHARACTER_CODING."""
    from dart_xbrl_crawler_spark import fixtures
    from dart_xbrl_crawler_spark.operators.frontier import FrontierStore
    from dart_xbrl_crawler_spark.operators.scheduler import seeds_to_frontier
    from dart_xbrl_crawler_spark.schemas import PAGES, ROBOTS, SEEDS

    pages, seeds, *_ = fixtures.gen_pages(n_corps=2, n_generic=3, seed=23)
    store = FrontierStore(str(tmp_path / "f"), n_bloom_shards=4)
    store.bootstrap(
        seeds_to_frontier(spark.createDataFrame(seeds, schema=SEEDS)),
        fixtures.RUN_TS,
    )
    robots = spark.createDataFrame(
        [("dart.fss.or.kr", None, 1)], schema=ROBOTS
    )
    rounds = store.run_crawl(
        spark, spark.createDataFrame(pages, schema=PAGES), robots,
        fixtures.RUN_TS, max_rounds=2,
    )
    assert rounds and rounds[0]["fetched"] > 0


def test_bench_pop_var_two_point_fit():
    """The constants fit solves t = c + n·v from the (main, probe)
    pair per leg: c = (R·t_probe − t_main)/(R − 1), clamped at 0."""
    B = _bench_mod()
    lo = {"t_ins": 1, "t_pop": 132.8, "t_ext": 1, "t_popc": 12.345}
    hi = {"t_ins": 1, "t_pop": 43.6, "t_ext": 1, "t_popc": 2.989}
    out = B._pop_var_block(lo, hi, row_ratio=32.0)
    assert abs(out["pop_const_fit_s_lo"] - 8.459) < 1e-3
    assert abs(out["pop_const_fit_s_hi"] - 1.679) < 1e-3
    assert abs(out["efficiency_pop_var_fit"] - 0.742) < 1e-3
    # naive decomposition kept for continuity
    assert abs(out["efficiency_pop_var"] - 0.742) < 1e-3
    # no ratio → fit fields absent, naive fields unchanged
    assert "pop_const_fit_s_lo" not in B._pop_var_block(lo, hi)
    # a contended probe can fit negative constants → clamp at 0
    out2 = B._pop_var_block(dict(lo, t_popc=1.0), hi, row_ratio=32.0)
    assert out2["pop_const_fit_s_lo"] == 0.0


def test_curate_host_gate(spark):
    """curate(host_short_frac=…) drops every doc from a fragment-
    dominated host (RefinedWeb-style domain filtering) and surfaces the
    stage in the funnel; good hosts keep their long docs."""
    from dart_xbrl_crawler_spark.plans.webtext import curate

    def row(url, text):
        return (url, None, None, text, None)

    rows = (
        # spam.ex: 3 of 4 docs are fragments (>0.5 short) — all 4 drop,
        # including the long one (every text passes the per-doc quality
        # gate on its own: ≥5 words, varied bigrams)
        # ≥10 varied words so the per-doc top-bigram gate (1/n_bigrams
        # ≤ 0.2) passes, yet <200 chars so the HOST sees a fragment
        [row(f"https://spam.ex/s{i}",
             " ".join(f"t{i}x{j}" for j in range(10)))
         for i in range(3)]
        + [row("https://spam.ex/long",
               " ".join(f"spamword{j}" for j in range(40)))]
        + [row(f"https://good.ex/g{i}",
               " ".join(f"tok{i}x{j}" for j in range(50)))
           for i in range(3)]
    )
    pages = spark.createDataFrame(
        rows, schema="url string, warc_ts timestamp, html binary, "
                     "text string, lang string",
    )
    corpus, stats = curate(pages, host_short_frac=0.5)
    kept = [r["url"] for r in corpus.select("url").collect()]
    assert all("good.ex" in u for u in kept) and len(kept) == 3
    funnel = {r["stage"]: r["rows"] for r in stats.collect()}
    assert funnel["quality_pass"] == 7 and funnel["host_pass"] == 3
    # gate off → spam.ex survives
    corpus2, stats2 = curate(pages)
    assert corpus2.count() == 7
    assert "host_pass" not in {r["stage"] for r in stats2.collect()}


def test_sitemap_entries_lastmod(spark):
    from dart_xbrl_crawler_spark.functions.links import (
        extract_sitemap_entries,
    )

    body = (
        "<urlset>"
        "<url><loc> https://s.ex/a </loc>"
        "<lastmod>2026-03-01</lastmod></url>"
        "<url><loc>https://s.ex/b</loc></url>"
        "</urlset>"
    ).encode()
    index = (
        "<sitemapindex><sitemap><loc>https://s.ex/child.xml</loc>"
        "<lastmod> 2026-01-02T03:04:05Z </lastmod></sitemap></sitemapindex>"
    ).encode()
    df = spark.createDataFrame(
        [("https://s.ex/sitemap.xml", body),
         ("https://s.ex/index.xml", index),
         ("https://s.ex/bin", b"\xff\xfe\x00garbage")],
        schema="url string, html binary",
    )
    rows = {
        (r["src_url"], r["loc"]): r["lastmod"]
        for r in extract_sitemap_entries(df).collect()
    }
    assert rows == {
        ("https://s.ex/sitemap.xml", "https://s.ex/a"): "2026-03-01",
        ("https://s.ex/sitemap.xml", "https://s.ex/b"): None,
        ("https://s.ex/index.xml", "https://s.ex/child.xml"):
            "2026-01-02T03:04:05Z",
    }


def test_is_static_asset_rules(spark):
    from pyspark.sql import functions as F
    from dart_xbrl_crawler_spark.functions.traps import is_static_asset

    cases = {
        "https://h.ex/app.js": True,
        "https://h.ex/app.js?v=3": True,          # query ignored
        "https://h.ex/style.CSS": True,           # case-insensitive
        "https://h.ex/movie.mp4#t=30": True,      # fragment ignored
        "https://h.ex/essay.zipper.html": False,  # anchored at path end
        "https://h.ex/paper.pdf": False,          # convertible document
        "https://h.ex/page": False,
        "https://h.ex/download?file=x.zip": False,  # extension in query
    }
    df = spark.createDataFrame([(u,) for u in cases], schema="url string")
    got = {
        r["url"]: r["a"]
        for r in df.select("url", is_static_asset(F.col("url")).alias("a")).collect()
    }
    assert got == cases


def test_crawl_drops_asset_links(spark, tmp_path):
    import pandas as pd
    from dart_xbrl_crawler_spark.operators.frontier import FrontierStore
    from dart_xbrl_crawler_spark import fixtures

    html = (
        '<a href="/next.html">n</a><a href="/theme.css">c</a>'
        '<a href="/vid.mp4">v</a>'
    ).encode()
    seed_url = "https://as.ex/start"
    pages = spark.createDataFrame(
        pd.DataFrame({"url": [seed_url], "html": [html],
                      "warc_ts": [pd.Timestamp("2026-01-01")]}),
        schema="url string, html binary, warc_ts timestamp",
    )
    robots = spark.createDataFrame(
        [("as.ex", None, 1)],
        schema="host string, disallow_prefix string, crawl_delay_ms long",
    )
    for drop, expect in ((True, 0), (False, 2)):
        store = FrontierStore(str(tmp_path / f"a_{drop}"), n_bloom_shards=4)
        store.bootstrap(
            spark.createDataFrame(
                pd.DataFrame({"url": [seed_url], "priority": [0.0]})
            ),
            fixtures.RUN_TS,
        )
        store.run_crawl(spark, pages, robots, fixtures.RUN_TS,
                        max_rounds=1, drop_assets=drop)
        urls = [r["url_canon"]
                for r in store.table.read(spark).select("url_canon").collect()]
        n_assets = sum(u.endswith((".css", ".mp4")) for u in urls)
        assert n_assets == expect, (drop, urls)
        assert any("next.html" in u for u in urls)


# ------------------------- image resize + perceptual hash (multimodal)
def _gradient_rgb(h, w, seed=0):
    import numpy as np

    y = np.arange(h).reshape(h, 1)
    x = np.arange(w).reshape(1, w)
    r = ((2 * y + 3 * x + seed) % 256).astype(np.uint8)
    g = ((5 * y + x + 2 * seed) % 256).astype(np.uint8)
    b = ((y + 7 * x) % 256).astype(np.uint8)
    return np.dstack([r, g, b])


def test_resize_image_nearest_and_bilinear():
    import numpy as np
    from dart_xbrl_crawler_spark.operators.multimodal import resize_image

    px = _gradient_rgb(16, 24)
    # identity: same dims returns the same pixels for both methods
    assert np.array_equal(resize_image(px, 16, 24, "nearest"), px)
    assert np.array_equal(resize_image(px, 16, 24, "bilinear"), px)
    # nearest 2x downscale = picking the center-right/bottom sample
    dn = resize_image(px, 8, 12, "nearest")
    assert dn.shape == (8, 12, 3)
    assert np.array_equal(dn, px[1::2, 1::2])
    # bilinear 2x downscale of a LINEAR ramp = exact average of the 2x2
    ramp = np.tile(np.arange(0, 64, 2, dtype=np.uint8), (4, 1))[:, :, None]
    db = resize_image(ramp, 2, 16, "bilinear")
    expected = ((ramp[0, ::2].astype(int) + ramp[0, 1::2].astype(int) + 1) // 2)
    assert db.shape == (2, 16, 1)
    assert np.array_equal(db[0, :, 0], expected[:, 0] if expected.ndim > 1 else expected)
    # upscale keeps corner values under edge clamping
    up = resize_image(px, 32, 48, "bilinear")
    assert up.shape == (32, 48, 3)
    assert tuple(up[0, 0]) == tuple(px[0, 0])
    assert tuple(up[-1, -1]) == tuple(px[-1, -1])
    import pytest

    with pytest.raises(ValueError):
        resize_image(px, 4, 4, "bicubic")


def _smooth_rgb(h, w, phase=0.0):
    """Photo-like low-frequency content — pHash's operating regime
    (a sawtooth/noise image has no low-freq energy and is the
    documented degenerate input)."""
    import numpy as np

    y, x = np.mgrid[0:h, 0:w]
    r = (127 + 90 * np.cos(y / 7.0 + phase) * np.sin(x / 5.0)).astype(np.uint8)
    g = (127 + 80 * np.sin((x + y) / 9.0 + phase)).astype(np.uint8)
    b = (127 + 70 * np.cos(x / 11.0 - phase)).astype(np.uint8)
    return np.dstack([r, g, b])


def test_phash_invariance_and_separation():
    import numpy as np
    from dart_xbrl_crawler_spark.operators.multimodal import phash64

    base = _smooth_rgb(64, 64)
    h0 = phash64(base)
    # mild noise: a few bits at most
    rng = np.random.RandomState(7)
    noisy = np.clip(
        base.astype(int) + rng.randint(-6, 7, base.shape), 0, 255
    ).astype(np.uint8)
    h1 = phash64(noisy)
    # resized copy hashes close (scale invariance)
    from dart_xbrl_crawler_spark.operators.multimodal import resize_image

    h2 = phash64(resize_image(base, 128, 96, "bilinear"))
    # structurally different image hashes far
    h3 = phash64(np.ascontiguousarray(_smooth_rgb(64, 64, phase=2.2)[::-1]))

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert ham(h0, h1) <= 10
    assert ham(h0, h2) <= 10
    assert ham(h0, h3) > 16
    # signed-long contract: value fits Spark LongType
    for h in (h0, h1, h2, h3):
        assert -(1 << 63) <= h < (1 << 63)


def test_phash_near_dup_pairs_spark(spark):
    import numpy as np
    from dart_xbrl_crawler_spark.operators.multimodal import (
        decode_jpeg,
        extract_phash,
        phash64,
        phash_near_dup_pairs,
    )
    from tests.test_multimodal import _png_encode

    jpg = _jpeg_encode(np.random.default_rng(17).integers(
        0, 256, size=(16, 16, 3), dtype=np.uint8))
    base = _smooth_rgb(32, 32)
    near = np.clip(base.astype(int) + 2, 0, 255).astype(np.uint8)
    far = np.ascontiguousarray(_smooth_rgb(32, 32, phase=2.2)[::-1])
    rows = [
        ("https://i.ex/a.png", _png_encode(base, [0] * 32)),
        ("https://i.ex/b.png", _png_encode(near, [0] * 32)),
        ("https://i.ex/c.png", _png_encode(far, [0] * 32)),
        ("https://i.ex/broken.png", b"\x89PNG\r\n\x1a\ngarbage"),
        ("https://i.ex/not-image", b"plain text"),
        ("https://i.ex/d.jpg", jpg),
        ("https://i.ex/page.html", b"<html>not an image</html>"),
    ]
    df = spark.createDataFrame(rows, schema="url string, html binary")
    hashed = extract_phash(df)
    got = {r["url"]: r["phash"] for r in hashed.collect()}
    assert got["https://i.ex/broken.png"] is None
    # non-images are filtered JVM-side; a JPEG takes the same path as PNG
    assert "https://i.ex/not-image" not in got and "https://i.ex/page.html" not in got
    assert got["https://i.ex/d.jpg"] == phash64(decode_jpeg(jpg))
    pairs = {
        (r["url_a"], r["url_b"]): r["hamming"]
        for r in phash_near_dup_pairs(hashed, max_hamming=10).collect()
    }
    assert ("https://i.ex/a.png", "https://i.ex/b.png") in pairs
    assert all("c.png" not in a and "c.png" not in b for a, b in pairs)


def test_trap_features_match_python_reference(spark):
    """Randomized cross-check: trap_features (Catalyst array logic) ≡
    an independent python reference over 400 generated urls mixing
    depths, repeats, params, lengths, and edge shapes."""
    import random
    from pyspark.sql import functions as F
    from dart_xbrl_crawler_spark.functions.traps import trap_features

    rng = random.Random(42)
    segs_pool = ["a", "b", "cal", "2026", "x1", "p", "item", "s"]
    urls = []
    for i in range(400):
        host = f"h{rng.randrange(9)}.ex"
        depth = rng.randrange(0, 16)
        segs = [rng.choice(segs_pool) for _ in range(depth)]
        path = "/" + "/".join(segs) if segs else "/"
        q = ""
        if rng.random() < 0.5:
            q = "?" + "&".join(
                f"k{j}={j}" for j in range(rng.randrange(1, 14))
            )
        pad = "z" * rng.randrange(0, 600) if rng.random() < 0.1 else ""
        urls.append(f"https://{host}{path}{pad}{q}")

    def ref(url):
        rest = url.split("://", 1)[1]
        qpos = rest.find("?")
        ph, qs = (rest[:qpos], rest[qpos + 1:]) if qpos >= 0 else (rest, "")
        segs = [s for s in ph.split("/")[1:] if s != ""]
        depth = len(segs)
        rep = max((segs.count(s) for s in segs), default=0)
        n_params = 0 if qs == "" else len(qs.split("&"))
        ln = len(url)
        if depth > 12: reason = "depth"
        elif rep > 3: reason = "segment_repeat"
        elif n_params > 10: reason = "params"
        elif ln > 512: reason = "length"
        else: reason = None
        return (depth, rep, n_params, ln, reason)

    df = spark.createDataFrame([(u,) for u in urls], schema="url string")
    feats = trap_features(F.col("url"))
    got = {
        r["url"]: (r["path_depth"], r["max_segment_repeat"], r["n_params"],
                   r["url_len"], r["trap_reason"])
        for r in df.select("url", *[c.alias(n) for n, c in feats.items()]).collect()
    }
    mismatches = [(u, got[u], ref(u)) for u in urls if got[u] != ref(u)]
    assert not mismatches, mismatches[:5]


def test_encode_png_roundtrip_exact():
    import numpy as np
    from dart_xbrl_crawler_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    for shape in ((5, 7, 1), (6, 4, 3), (3, 3, 4), (8, 8, 2)):
        px = (np.arange(np.prod(shape)).reshape(shape) * 7 % 256).astype(
            np.uint8
        )
        back = decode_png(encode_png(px))
        assert back is not None and np.array_equal(back, px), shape


def test_q75_finds_planted_image_copies(spark):
    import __spark_entry__ as E

    rows = E.queries()["q75_image_neardup"](
        spark, "/root/testdata/sf0.01"
    ).collect()
    copies = {
        (r["url_a"], r["url_b"]): r["hamming"]
        for r in rows
        if r["url_a"].replace(".png", "-copy.png") == r["url_b"]
        or r["url_b"].replace(".png", "-copy.png") == r["url_a"]
    }
    # every planted +2 copy (img ids ≡ 0 mod 4 of 0..39) pairs tightly
    assert len(copies) == 10
    assert all(h <= 4 for h in copies.values()), copies


def test_feed_entries_rss_and_atom(spark):
    from dart_xbrl_crawler_spark.functions.links import extract_feed_entries

    rss = (
        "<rss><channel>"
        "<item><link> https://f.ex/p1 </link>"
        "<pubDate>Mon, 01 Jul 2026 10:00:00 GMT</pubDate></item>"
        "<item><link>https://f.ex/p2</link></item>"
        "</channel></rss>"
    ).encode()
    atom = (
        '<feed xmlns="http://www.w3.org/2005/Atom">'
        '<entry><link rel="alternate" href="https://f.ex/a1"/>'
        "<updated> 2026-07-02T12:00:00Z </updated></entry>"
        "<entry><link href='https://f.ex/a2'/></entry>"
        "</feed>"
    ).encode()
    df = spark.createDataFrame(
        [("https://f.ex/rss.xml", rss), ("https://f.ex/atom.xml", atom),
         ("https://f.ex/bin", b"\x89PNG\r\n\x1a\nxx")],
        schema="url string, html binary",
    )
    rows = {
        (r["src_url"], r["link"]): r["published"]
        for r in extract_feed_entries(df).collect()
    }
    assert rows == {
        ("https://f.ex/rss.xml", "https://f.ex/p1"):
            "Mon, 01 Jul 2026 10:00:00 GMT",
        ("https://f.ex/rss.xml", "https://f.ex/p2"): None,
        ("https://f.ex/atom.xml", "https://f.ex/a1"):
            "2026-07-02T12:00:00Z",
        ("https://f.ex/atom.xml", "https://f.ex/a2"): None,
    }


def test_registered_domain_rules(spark):
    from pyspark.sql import functions as F
    from dart_xbrl_crawler_spark.functions.urls import registered_domain

    cases = {
        "dart.fss.or.kr": "fss.or.kr",
        "www.example.com": "example.com",
        "a.b.news.co.uk": "news.co.uk",
        "example.com": "example.com",
        "localhost": "localhost",
        "cdn7.media.com.au": "media.com.au",
        "deep.sub.tree.example.org": "example.org",
        "co.kr": "co.kr",  # bare suffix: ≤2 labels passes through
    }
    df = spark.createDataFrame([(h,) for h in cases], schema="host string")
    got = {
        r["host"]: r["d"]
        for r in df.select(
            "host", registered_domain(F.col("host")).alias("d")
        ).collect()
    }
    assert got == cases


def test_gopher_quality_cols_reference():
    """Python-computable check of the Gopher word-level rules on known
    strings (run through Spark in the parity test q76)."""
    # covered via q76 oracle parity; here just assert importability and
    # column set stability
    from dart_xbrl_crawler_spark.plans.webtext import gopher_quality_cols

    cols = gopher_quality_cols()
    assert set(cols) == {"n_words", "mean_word_len", "alpha_word_frac",
                         "symbol_frac", "n_stopwords"}


def test_crawl_discovers_sitemap_and_feed_children(spark, tmp_path):
    """A fetched sitemap/feed page contributes its <loc>/<link> entries
    to the frontier with priority inheritance — all three discovery
    channels feed one edge set."""
    import pandas as pd
    from dart_xbrl_crawler_spark.operators.frontier import FrontierStore
    from dart_xbrl_crawler_spark import fixtures

    sm = (
        "<urlset><url><loc>https://d.ex/from-sitemap</loc>"
        "<lastmod>2026-01-01</lastmod></url></urlset>"
    ).encode()
    feed = (
        "<rss><channel><item><link>https://d.ex/from-feed</link></item>"
        "</channel></rss>"
    ).encode()
    html = b'<a href="/from-anchor">a</a>'
    pages = spark.createDataFrame(
        pd.DataFrame(
            {
                "url": ["https://d.ex/sitemap.xml", "https://d.ex/feed.xml",
                        "https://d.ex/page"],
                "html": [sm, feed, html],
                "warc_ts": [pd.Timestamp("2026-01-01")] * 3,
            }
        ),
        schema="url string, html binary, warc_ts timestamp",
    )
    robots = spark.createDataFrame(
        [("d.ex", None, 1)],
        schema="host string, disallow_prefix string, crawl_delay_ms long",
    )
    store = FrontierStore(str(tmp_path / "d"), n_bloom_shards=4)
    store.bootstrap(
        spark.createDataFrame(
            pd.DataFrame(
                {"url": ["https://d.ex/sitemap.xml",
                         "https://d.ex/feed.xml",
                         "https://d.ex/page"],
                 "priority": [5.0, 4.0, 3.0]}
            )
        ),
        fixtures.RUN_TS,
    )
    store.run_crawl(spark, pages, robots, fixtures.RUN_TS, max_rounds=1)
    rows = {
        r["url_canon"]: r["priority"]
        for r in store.table.read(spark)
        .select("url_canon", "priority").collect()
    }
    assert any("from-sitemap" in u for u in rows)
    assert any("from-feed" in u for u in rows)
    assert any("from-anchor" in u for u in rows)
    # priority inheritance: child = parent − decay (1.0 default)
    sm_child = next(v for u, v in rows.items() if "from-sitemap" in u)
    fd_child = next(v for u, v in rows.items() if "from-feed" in u)
    an_child = next(v for u, v in rows.items() if "from-anchor" in u)
    assert (sm_child, fd_child, an_child) == (4.0, 3.0, 2.0)


def test_main_content_kernel_rules():
    from dart_xbrl_crawler_spark.functions.maintext import main_content

    html = (
        "<html><head><script>var x=1;</script><style>.a{}</style></head>"
        '<body><nav><a href="/">Home</a> <a href="/a">About</a> '
        '<a href="/c">Contact</a></nav>'
        "<p>This is the first real paragraph of the article body with "
        "plenty of words to pass the threshold easily.</p>"
        "<p>Short.</p>"
        "<p>The second substantial paragraph continues the prose and "
        'also has a <a href="/r">single reference link</a> inside but '
        "mostly plain words around it.</p>"
        '<footer><a href="/t">Terms</a> <a href="/p">Privacy</a> '
        "&copy; 2026</footer></body></html>"
    )
    t, nb, ng = main_content(html)
    assert "first real paragraph" in t and "second substantial" in t
    assert "Home" not in t and "Privacy" not in t and "Short." not in t
    assert "var x" not in t and ng == 2
    # degenerate inputs never throw
    assert main_content("") == ("", 0, 0)
    assert main_content("�� binary")[2] == 0
    # link-dense long block still drops (a link farm)
    farm = "<p>" + " ".join(
        f'<a href="/{i}">anchor text {i}</a>' for i in range(20)
    ) + "</p>"
    assert main_content(farm)[2] == 0
