"""IVF approximate nearest neighbours (``operators.ann``): codebook
training, assignment and search against numpy brute force."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


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
