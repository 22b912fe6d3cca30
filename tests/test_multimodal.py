"""Magic-byte media typing (``operators.multimodal.sniff_media``),
including AVI-vs-WAV discrimination of RIFF payloads.

The AVI fixture is built by an independent test-side muxer
(spec-derived: the Microsoft AVI RIFF form).  PNG pixel decode
(``operators.multimodal.decode_png``) round-trips a test-side encoder
over every filter type."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Row

from dart_xbrl_crawler_spark.operators import multimodal as M
from tests.test_round5_fixes import _jpeg_encode


def test_multimodal_sniff_and_features(spark):
    rows = pd.DataFrame(
        {
            "url": [f"u{i}" for i in range(5)],
            "html": [
                b"\x89PNG\r\n\x1a\n" + b"\x01" * 60,
                b"\xff\xd8\xff\xe0" + b"\x02" * 60,
                b"RIFF" + b"\x03" * 60,
                b"PK\x03\x04" + b"\x04" * 60,
                b"garbage-no-magic" + b"\x05" * 48,
            ],
        }
    )
    df = spark.createDataFrame(rows, schema="url string, html binary")
    sniffed = {r["url"]: r["media_type"] for r in M.sniff_media(df).collect()}
    assert sniffed["u0"] == "image/png"
    assert sniffed["u1"] == "image/jpeg"
    assert sniffed["u2"] == "audio/wav"
    assert sniffed["u3"] == "application/zip"
    assert sniffed["u4"] is None


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


# ----------------------------------------------- real PNG pixel decode
def _png_encode(px, filters, color_type=2, palette=None):
    """Minimal test-side PNG encoder with a CHOSEN filter per row —
    independent inverse of the engine's unfilter, so round-tripping
    exercises every filter path (0=None 1=Sub 2=Up 3=Average 4=Paeth)."""
    import struct
    import zlib

    import numpy as np

    h, w, c = px.shape if px.ndim == 3 else (*px.shape, 1)
    arr = px.reshape(h, w * c).astype(np.int32)
    stride = w * c
    raw = bytearray()
    prev = np.zeros(stride, dtype=np.int32)
    for y, ftype in zip(range(h), filters):
        row = arr[y]
        enc = np.zeros(stride, dtype=np.int32)
        for i in range(stride):
            a = row[i - c] if i >= c else 0
            b = prev[i]
            cc = prev[i - c] if i >= c else 0
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = a
            elif ftype == 2:
                pred = b
            elif ftype == 3:
                pred = (a + b) >> 1
            else:
                p = a + b - cc
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
            enc[i] = (row[i] - pred) & 0xFF
        raw.append(ftype)
        raw += bytes(enc.astype(np.uint8))
        prev = row

    def chunk(ctype, body):
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
    if palette is not None:
        out += chunk(b"PLTE", bytes(palette))
    out += chunk(b"IDAT", zlib.compress(bytes(raw)))
    out += chunk(b"IEND", b"")
    return out


def test_decode_png_all_filters_roundtrip():
    import numpy as np

    from dart_xbrl_crawler_spark.operators.multimodal import decode_png

    rng = np.random.RandomState(7)
    px = rng.randint(0, 256, size=(5, 6, 3), dtype=np.uint8)
    # one row per filter type, incl. a repeat
    payload = _png_encode(px, filters=[0, 1, 2, 3, 4])
    got = decode_png(payload)
    assert got is not None and got.shape == (5, 6, 3)
    assert np.array_equal(got, px)
    # grayscale (color type 0)
    g = rng.randint(0, 256, size=(4, 4), dtype=np.uint8)
    got_g = decode_png(_png_encode(g.reshape(4, 4, 1), [4, 3, 2, 1], color_type=0))
    assert np.array_equal(got_g[:, :, 0], g)
    # RGBA (color type 6)
    a = rng.randint(0, 256, size=(3, 3, 4), dtype=np.uint8)
    got_a = decode_png(_png_encode(a, [1, 4, 3], color_type=6))
    assert np.array_equal(got_a, a)
    # palette (color type 3): indices 0..3 → RGB triples
    idx = np.array([[0, 1], [2, 3]], dtype=np.uint8).reshape(2, 2, 1)
    pal = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 9, 9, 9])
    got_p = decode_png(_png_encode(idx, [0, 0], color_type=3, palette=pal))
    assert got_p.shape == (2, 2, 3)
    assert list(got_p[0, 0]) == [255, 0, 0] and list(got_p[1, 1]) == [9, 9, 9]
    # out-of-envelope inputs → None, not an exception
    assert decode_png(b"\x89PNG\r\n\x1a\njunk") is None
    assert decode_png(b"not a png") is None
