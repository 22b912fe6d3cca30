"""IVF (inverted-file) approximate nearest neighbour — the
coarse-quantizer scale path for similarity search over an embedding
column, complementing the sign-LSH ANN in plans/catalog_text (q33/
q49) and the brute-force exact baseline (q32).

Reference analog: none (the reference crawler has no vector search);
this is the training-data-pipeline operator set the north star asks
for.  The design is the standard IVF layout (Jégou et al., "Product
Quantization for Nearest Neighbor Search", TPAMI 2011 — the coarse
quantizer half, no PQ compression):

- **Train** a k-centroid codebook on vectors collected to the driver
  (FAISS trains its quantizer the same way — codebook training is
  O(sample·k·iters); the caller passes the sample).  Deterministic
  init (first k sample vectors by vec_id) + fixed Lloyd iterations ⇒
  the same codebook on every run/cluster size — no RNG, no seed
  drift.
- **Assign** every vector to its nearest centroid with an
  Arrow-vectorized pandas UDF: one numpy matmul per batch (the
  centroid matrix rides the closure, k·dim floats).  Map-only — the
  corpus never shuffles to build the index; writing partitioned by
  `ivf_cluster` makes each inverted list a partition-pruned scan.
- **Search**: rank centroids for the query, scan only the `nprobe`
  nearest inverted lists (a partition-pruning filter), exact cosine
  inside, top-k via sort+limit (TakeOrdered — never a global window).

At 100 TB: train cost is constant, assignment is one codegen-adjacent
Arrow pass, and a search touches nprobe/k of the corpus.  With the
index written `partitionBy("ivf_cluster")`, the probe filter becomes
partition pruning — the non-probed lists are never read.

Exactness property pinned by tests: `nprobe = k` degrades to the
exact brute-force result (same ids, same order); partial probe is
measured as recall against it.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def train_ivf_codebook(
    embeddings: DataFrame, k: int = 16, n_iter: int = 5
) -> np.ndarray:
    """Deterministic k-means codebook over ``embeddings`` (vec_id,
    embedding), every row with a vec_id collected to the driver — pass
    a bounded sample (codebook quality saturates at ~10-100k vectors).
    Init = the k vectors with the smallest ids; then ``n_iter`` full
    Lloyd iterations in numpy.  Empty clusters keep their previous
    centroid (standard fix, still deterministic).  Returns (k, dim)
    float32.
    """
    rows = (
        embeddings.filter(F.col("vec_id").isNotNull())
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    if len(rows) < k:
        raise ValueError(f"sample ({len(rows)}) smaller than k ({k})")
    x = np.array([r[1] for r in rows], dtype=np.float32)
    cent = x[:k].copy()
    for _ in range(n_iter):
        # squared-L2 assignment via the expanded dot-product form
        d = (
            (x * x).sum(axis=1, keepdims=True)
            - 2.0 * (x @ cent.T)
            + (cent * cent).sum(axis=1)[None, :]
        )
        assign = d.argmin(axis=1)
        for c in range(k):
            members = x[assign == c]
            if len(members):
                cent[c] = members.mean(axis=0)
    return cent


def ivf_assign(df: DataFrame, centroids: np.ndarray) -> DataFrame:
    """Add ``ivf_cluster`` = argmin centroid (squared L2) per row.

    One numpy matmul per Arrow batch — the (k, dim) centroid matrix
    is a closure constant, so executors each hold one copy.  Map-only:
    no shuffle; write the result ``partitionBy("ivf_cluster")`` to
    materialize the inverted lists as prunable partitions."""
    cent = np.asarray(centroids, dtype=np.float32)
    cent_sq = (cent * cent).sum(axis=1)

    @F.pandas_udf(T.IntegerType())
    def assign(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in batches:
            x = np.array(list(s), dtype=np.float32)
            if x.size == 0:
                yield pd.Series([], dtype="int32")
                continue
            d = -2.0 * (x @ cent.T) + cent_sq[None, :]
            yield pd.Series(d.argmin(axis=1).astype(np.int32))

    return df.withColumn("ivf_cluster", assign(F.col("embedding")))


def ivf_search(
    indexed: DataFrame,
    centroids: np.ndarray,
    query_vec,
    k: int = 10,
    nprobe: int = 2,
) -> DataFrame:
    """Top-k by cosine among the ``nprobe`` nearest inverted lists.

    ``indexed`` must carry ``ivf_cluster`` (from ivf_assign — or read
    back from a partitionBy("ivf_cluster") sink, where the isin filter
    below prunes partitions).  Probe-list ranking happens on the
    driver (k-sized numpy argsort); the scan inside the probed lists
    is the exact JVM-side cosine used by the brute-force baseline
    (F.aggregate/zip_with — no UDF in the hot path), top-k via
    sort+limit so Spark plans a TakeOrdered, never a global window."""
    q = np.asarray(query_vec, dtype=np.float32)
    cent = np.asarray(centroids, dtype=np.float32)
    d = ((cent - q[None, :]) ** 2).sum(axis=1)
    probes = [int(c) for c in d.argsort(kind="stable")[: max(1, nprobe)]]

    qlit = F.array(*[F.lit(float(v)) for v in q])
    dot = F.aggregate(
        F.zip_with(F.col("embedding"), qlit, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    norm = F.sqrt(
        F.aggregate(
            F.transform(F.col("embedding"), lambda v: v * v),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    qnorm = float(np.sqrt((q * q).sum()))
    if qnorm == 0.0:
        raise ValueError("ivf_search: zero query vector has no cosine")
    # zero-norm guard: one all-zero embedding in a probed list would
    # otherwise raise DIVIDE_BY_ZERO under Spark 4's ANSI default and
    # fail the whole search job; null cosine drops it from the top-k
    cos = F.when(norm == 0.0, F.lit(None).cast("double")).otherwise(
        dot / (norm * F.lit(qnorm))
    ).alias("cosine")
    return (
        indexed.filter(F.col("ivf_cluster").isin(probes))
        .select("vec_id", "ivf_cluster", F.round(cos, 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(k)
    )
