"""Host-level corpus intelligence: mirror detection + quality rollup.

Two frontier-policy signals the reference cannot express (its host set
is a single API endpoint, /root/reference/dart_api_manager.py:20-44)
but every web-scale crawl runs:

* **Mirror detection** — hosts serving near-identical document sets
  (www/apex twins, CDN aliases, scraped re-hosts).  Crawling a mirror
  burns politeness budget on bytes the seen-filter will discard; a
  detected mirror pair demotes the smaller host.  Shape: one distinct
  (host, content-signature) projection, one equality self-join on the
  signature, one pair aggregation — O(matching pairs), never a host
  cross-product.  Boilerplate signatures shared by hundreds of hosts
  (empty page, parked-domain template) would quadratically explode the
  pair join, so signatures on more than ``max_hosts_per_sig`` hosts
  are dropped first (the standard frequent-item guard; dropped mass is
  surfaced, not silent).

* **Quality rollup** — per-host aggregate of document-quality signals
  (doc count, mean length, short-doc fraction, language spread).  A
  host whose corpus is mostly sub-200-character fragments gets a
  frontier priority penalty (``priority_penalty`` column, ready to
  join onto FrontierStore.insert batches).  Pure groupBy aggregation:
  exact-integer sums with ONE final division, so the result is
  bit-stable under any partitioning (no float accumulation order).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# a doc shorter than this is a fragment; a host of mostly fragments
# loses this much frontier priority
_SHORT_CHARS = 200
_PENALTY = 2.0


def mirror_host_pairs(
    df: DataFrame,
    host_col: str = "host",
    sig_col: str = "content_sig",
    *,
    min_shared: int = 2,
    max_hosts_per_sig: int = 64,
) -> DataFrame:
    """Host pairs ranked by content overlap.

    Returns (host_a, host_b, n_shared, n_a, n_b, jaccard) with
    host_a < host_b, filtered to ``n_shared >= min_shared``;
    jaccard = shared / (n_a + n_b - shared)
    over DISTINCT signatures, rounded to 4 places (exact-integer
    inputs, one division → deterministic across engines).
    """
    sigs = df.select(
        F.col(host_col).alias("host"), F.col(sig_col).alias("sig")
    ).distinct()
    # frequent-signature guard: a sig on k hosts contributes k(k-1)/2
    # pairs — boilerplate shared by 10^4 hosts would dominate the join
    rare = sigs.join(
        sigs.groupBy("sig")
        .agg(F.count("*").alias("n_hosts"))
        .filter(F.col("n_hosts") <= max_hosts_per_sig)
        .select("sig"),
        "sig",
    )
    sizes = rare.groupBy("host").agg(F.count("*").alias("n_docs"))
    a = rare.select(F.col("host").alias("host_a"), "sig")
    b = rare.select(F.col("host").alias("host_b"), "sig")
    shared = (
        a.join(b, "sig")
        .filter(F.col("host_a") < F.col("host_b"))
        .groupBy("host_a", "host_b")
        .agg(F.count("*").alias("n_shared"))
    )
    out = (
        shared.join(
            sizes.select(F.col("host").alias("host_a"), F.col("n_docs").alias("n_a")),
            "host_a",
        )
        .join(
            sizes.select(F.col("host").alias("host_b"), F.col("n_docs").alias("n_b")),
            "host_b",
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_shared")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared")),
                4,
            ),
        )
        .filter(F.col("n_shared") >= min_shared)
    )
    return out.select(
        "host_a", "host_b",
        F.col("n_shared").cast("long").alias("n_shared"),
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        "jaccard",
    )


def host_quality_rollup(
    df: DataFrame,
    host_col: str = "host",
    lang_col: str | None = "lang",
    *,
    demote_short_frac: float = 0.5,
) -> DataFrame:
    """Per-host quality aggregate feeding frontier priority.

    Returns (host, n_docs, mean_chars, short_frac, n_langs,
    priority_penalty) over ``df.text``: ``priority_penalty`` is
    ``-_PENALTY`` when more than ``demote_short_frac`` of the host's
    docs are shorter than ``_SHORT_CHARS`` characters, else 0.0 — join
    it onto a discovery batch and add to ``priority`` before
    FrontierStore.insert.
    """
    n_chars = F.length(F.col("text"))
    short = F.when(n_chars < _SHORT_CHARS, 1).otherwise(0)
    agg = [
        F.count("*").cast("long").alias("n_docs"),
        F.sum(n_chars).alias("_sum_chars"),
        F.sum(short).alias("_n_short"),
    ]
    if lang_col is not None:
        agg.append(F.count_distinct(F.col(lang_col)).cast("long").alias("n_langs"))
    g = df.groupBy(F.col(host_col).alias("host")).agg(*agg)
    g = (
        g.withColumn(
            "mean_chars", F.round(F.col("_sum_chars") / F.col("n_docs"), 4)
        )
        .withColumn(
            "short_frac", F.round(F.col("_n_short") / F.col("n_docs"), 4)
        )
        .withColumn(
            "priority_penalty",
            F.when(
                F.col("_n_short") / F.col("n_docs") > demote_short_frac,
                F.lit(-_PENALTY),
            ).otherwise(F.lit(0.0)),
        )
        .drop("_sum_chars", "_n_short")
    )
    cols = ["host", "n_docs", "mean_chars", "short_frac"]
    if lang_col is not None:
        cols.append("n_langs")
    cols.append("priority_penalty")
    return g.select(*cols)
