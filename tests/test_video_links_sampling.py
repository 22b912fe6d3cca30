"""Round-5 additions, part 2: AVI-vs-WAV media sniffing, SURT keys,
anchor-text extraction, IVF ANN.

The AVI fixture is built by an independent test-side muxer
(spec-derived: the Microsoft AVI RIFF form)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from tests.test_round5_fixes import _jpeg_encode


# --------------------------------------------------------------- AVI
def _chunk(cid: bytes, body: bytes) -> bytes:
    return cid + len(body).to_bytes(4, "little") + body + (
        b"\0" if len(body) & 1 else b""
    )


def _list(ltype: bytes, body: bytes) -> bytes:
    return _chunk(b"LIST", ltype + body)


def _avi_encode(
    frames: list[bytes], width: int, height: int,
    usec_per_frame: int = 40_000, handler: bytes = b"MJPG",
) -> bytes:
    avih = (
        usec_per_frame.to_bytes(4, "little")
        + (0).to_bytes(4, "little")  # dwMaxBytesPerSec
        + (0).to_bytes(4, "little")  # dwPaddingGranularity
        + (0).to_bytes(4, "little")  # dwFlags
        + len(frames).to_bytes(4, "little")  # dwTotalFrames
        + (0).to_bytes(4, "little")  # dwInitialFrames
        + (1).to_bytes(4, "little")  # dwStreams
        + (0).to_bytes(4, "little")  # dwSuggestedBufferSize
        + width.to_bytes(4, "little")
        + height.to_bytes(4, "little")
        + bytes(16)  # dwReserved[4]
    )
    strh = b"vids" + handler + bytes(48)
    strf = (40).to_bytes(4, "little") + width.to_bytes(4, "little") + (
        height
    ).to_bytes(4, "little") + bytes(28)  # BITMAPINFOHEADER
    hdrl = _list(
        b"hdrl",
        _chunk(b"avih", avih)
        + _list(b"strl", _chunk(b"strh", strh) + _chunk(b"strf", strf)),
    )
    movi = _list(b"movi", b"".join(_chunk(b"00dc", f) for f in frames))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def _frame(shift: int) -> np.ndarray:
    px = np.zeros((16, 16, 3), dtype=np.uint8)
    px[:, :, 0] = (np.arange(16)[None, :] * 16 + shift) % 256
    px[:, :, 1] = 128
    px[:, :, 2] = 255 - shift
    return px


def test_sniff_discriminates_avi_from_wav(spark):
    from dart_xbrl_crawler_spark.operators.multimodal import sniff_media

    avi = _avi_encode([_jpeg_encode(_frame(0))], 16, 16)
    wav = b"RIFF" + (100).to_bytes(4, "little") + b"WAVE" + bytes(100)
    df = spark.createDataFrame(
        [Row(url="u1", html=bytearray(avi)), Row(url="u2", html=bytearray(wav))]
    )
    got = {
        r["url"]: r["media_type"]
        for r in sniff_media(df).select("url", "media_type").collect()
    }
    assert got == {"u1": "video/x-msvideo", "u2": "audio/wav"}


# ------------------------------------------------- SURT key edge rules
def test_surt_key_rules(spark):
    from dart_xbrl_crawler_spark.functions.urls import surt_key

    cases = [
        # (url_canon, host, expected)
        ("https://www.Sub.Example.com/a/b?z=1&a=2", "www.sub.example.com",
         "com,example,sub)/a/b?a=2&z=1"),
        ("https://example.com", "example.com", "com,example)/"),
        ("https://www.www.example.com/x", "www.www.example.com",
         "com,example,www)/x"),  # only ONE leading www. label strips
        ("https://h3.ex/p.html?only=1", "h3.ex", "ex,h3)/p.html?only=1"),
    ]
    df = spark.createDataFrame(
        [(u, h) for u, h, _ in cases], "url_canon string, host string"
    )
    got = [
        r[0]
        for r in df.select(
            surt_key(F.col("url_canon"), F.col("host"))
        ).collect()
    ]
    assert got == [e for _, _, e in cases]


def test_extract_anchor_texts_styles_and_drops(spark):
    from dart_xbrl_crawler_spark.functions.links import extract_anchor_texts

    html = (
        '<a href="/abs/1">Double</a>'
        "<a href='rel.html'>Single</a>"
        "<A HREF=bare.html>Bare  case</A>"
        '<a href="#frag">dropped</a>'
        '<a href="mailto:x@y">dropped too</a>'
        '<a href="https://ext.example/z"> ext  text </a>'
    )
    df = spark.createDataFrame(
        [("https://h.ex/dir/page.html", bytearray(html.encode()))],
        "url string, html binary",
    )
    rows = {
        r["link"]: r["anchor"]
        for r in extract_anchor_texts(df).collect()
    }
    assert rows == {
        "https://h.ex/abs/1": "Double",
        "https://h.ex/dir/rel.html": "Single",
        "https://h.ex/dir/bare.html": "Bare  case",
        "https://ext.example/z": "ext  text",
    }


# ----------------------------------------------------------- IVF ANN
SF001 = "/root/testdata/sf0.01"


def _emb_numpy():
    import pyarrow.parquet as pq

    t = pq.read_table(f"{SF001}/embeddings.parquet")
    ids = t.column("vec_id").to_numpy()
    x = np.array(t.column("embedding").to_pylist(), dtype=np.float32)
    return ids, x


def test_ivf_codebook_deterministic_and_improves(spark):
    from dart_xbrl_crawler_spark.operators.ann import train_ivf_codebook

    e = spark.read.parquet(f"{SF001}/embeddings.parquet")
    c1 = train_ivf_codebook(e, k=8, n_iter=4)
    c2 = train_ivf_codebook(e, k=8, n_iter=4)
    assert np.array_equal(c1, c2)  # no RNG anywhere

    ids, x = _emb_numpy()
    order = ids.argsort()
    x = x[order]

    def inertia(cent):
        d = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        return d.min(axis=1).sum()

    init = x[:8]
    assert inertia(c1) < inertia(init)  # Lloyd iterations did work


def test_ivf_assign_matches_numpy(spark):
    from dart_xbrl_crawler_spark.operators.ann import (
        ivf_assign,
        train_ivf_codebook,
    )

    e = spark.read.parquet(f"{SF001}/embeddings.parquet")
    cent = train_ivf_codebook(e, k=8, n_iter=3)
    got = {
        r["vec_id"]: r["ivf_cluster"]
        for r in ivf_assign(e, cent).select("vec_id", "ivf_cluster").collect()
    }
    ids, x = _emb_numpy()
    d = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
    exp = d.argmin(axis=1)
    assert got == {int(i): int(c) for i, c in zip(ids, exp)}


def test_ivf_full_probe_equals_bruteforce(spark):
    from dart_xbrl_crawler_spark.operators.ann import (
        ivf_assign,
        ivf_search,
        train_ivf_codebook,
    )

    e = spark.read.parquet(f"{SF001}/embeddings.parquet")
    ids, x = _emb_numpy()
    q = x[ids.argsort()][0]  # vec 0's embedding as the query
    cent = train_ivf_codebook(e, k=16, n_iter=3)
    indexed = ivf_assign(e.filter(F.col("vec_id") != 0), cent)

    got = ivf_search(indexed, cent, q, k=10, nprobe=16).collect()

    mask = ids != 0
    cos = (x[mask] @ q) / (
        np.linalg.norm(x[mask], axis=1) * np.linalg.norm(q)
    )
    pairs = sorted(
        zip(np.round(cos.astype(np.float64), 6), ids[mask]),
        key=lambda t: (-t[0], t[1]),
    )[:10]
    assert [r["vec_id"] for r in got] == [int(i) for _, i in pairs]
    for r, (c, _) in zip(got, pairs):
        assert r["cosine"] == pytest.approx(float(c), abs=2e-6)


def test_ivf_partial_probe_prunes_and_recalls(spark):
    from dart_xbrl_crawler_spark.operators.ann import (
        ivf_assign,
        ivf_search,
        train_ivf_codebook,
    )

    e = spark.read.parquet(f"{SF001}/embeddings.parquet")
    ids, x = _emb_numpy()
    q = x[ids.argsort()][0]
    cent = train_ivf_codebook(e, k=16, n_iter=3)
    indexed = ivf_assign(e.filter(F.col("vec_id") != 0), cent).persist()
    try:
        full = {r["vec_id"] for r in
                ivf_search(indexed, cent, q, k=10, nprobe=16).collect()}
        part = ivf_search(indexed, cent, q, k=10, nprobe=4)
        got = {r["vec_id"] for r in part.collect()}
        recall = len(got & full) / len(full)
        assert recall >= 0.5, recall

        # the probe filter actually prunes: 4/16 lists scan fewer rows
        d = ((cent - q[None, :]) ** 2).sum(axis=1)
        probes = [int(c) for c in d.argsort(kind="stable")[:4]]
        scanned = indexed.filter(F.col("ivf_cluster").isin(probes)).count()
        assert scanned < indexed.count()
    finally:
        indexed.unpersist()
