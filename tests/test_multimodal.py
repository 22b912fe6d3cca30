"""Magic-byte media typing (``operators.multimodal.sniff_media``),
including AVI-vs-WAV discrimination of RIFF payloads.

The AVI fixture is built by an independent test-side muxer
(spec-derived: the Microsoft AVI RIFF form)."""

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
