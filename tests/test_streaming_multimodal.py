"""Magic-byte media typing smoke test."""

from __future__ import annotations

import pandas as pd

from dart_xbrl_crawler_spark.operators import multimodal as M


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

