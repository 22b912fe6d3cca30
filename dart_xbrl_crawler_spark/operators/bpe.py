"""Distributed BPE (byte-pair-encoding) vocabulary induction.

The tokenizer-training step of a pretraining data pipeline (Sennrich
et al. 2016).  The scale observation that makes BPE tractable on a
100 TB corpus: the merge loop only ever needs the DISTINCT-WORD
frequency table.  One corpus-wide ``groupBy(word).sum`` reduces the
input to ~10^7 rows for web text regardless of corpus bytes, and every
iteration after that runs on the small table:

  * pair counting is pure Catalyst — ``zip_with(slice, slice)`` builds
    adjacent symbol pairs, explode + groupBy sums word-frequency
    weights with map-side partial aggregation;
  * the argmax pair is ONE driver row per iteration (the same
    bounded-driver-state pattern as the IVF codebook, ann.py);
  * applying the merge rewrites the symbol arrays in an Arrow-batched
    pandas UDF (per-word list surgery is inherently sequential);
    lineage is cut every few merges with localCheckpoint.

Determinism: ties on pair count break lexicographically, so the merge
list is a pure function of the corpus — any run, any partitioning,
any cluster size produces the identical vocabulary (pinned against an
independent single-process reference implementation in tests).

Reference analog: none (the reference has no tokenizer concept);
SURVEY §"token counting" names the BPE-ish regex as the baseline —
this is the real learned-merge version.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["word_freq_table", "train_bpe"]

# a pair seen fewer times than this is not worth a merge
_MIN_PAIR_COUNT = 2


def word_freq_table(docs: DataFrame) -> DataFrame:
    """(word, n) word frequencies of ``docs.text`` — the only
    corpus-size pass."""
    w = F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda x: x != "")
    return (
        docs.select(F.explode(w).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )


def _merge_once(words: DataFrame, a: str, b: str) -> DataFrame:
    """Rewrite symbol arrays replacing each adjacent (a, b) with a+b."""

    @F.pandas_udf("array<string>")
    def merge_udf(col: pd.Series) -> pd.Series:
        ab = a + b
        out = []
        for syms in col:
            lst = list(syms)
            res = []
            i = 0
            n = len(lst)
            while i < n:
                if i + 1 < n and lst[i] == a and lst[i + 1] == b:
                    res.append(ab)
                    i += 2
                else:
                    res.append(lst[i])
                    i += 1
            out.append(res)
        return pd.Series(out)

    return words.withColumn("syms", merge_udf("syms"))


def train_bpe(docs: DataFrame, n_merges: int = 20) -> list[tuple[str, str, int]]:
    """Learn ``n_merges`` merges over ``docs.text``; returns [(left,
    right, count), ...] in merge order.  Stops early when the best pair
    drops below ``_MIN_PAIR_COUNT`` (nothing left worth merging)."""
    freq = word_freq_table(docs)
    # F.split keeps trailing empties under limit=-1 — the (?!^) lookahead
    # matches the end-of-string position, so strip empty symbols or a
    # phantom ('x', '') pair pollutes the counts
    words = freq.select(
        F.filter(
            F.split(F.col("word"), "(?!^)"), lambda x: x != ""
        ).alias("syms"),
        "n",
    ).localCheckpoint()

    merges: list[tuple[str, str, int]] = []
    for it in range(n_merges):
        sz = F.size("syms")
        pairs = words.filter(sz >= 2).select(
            F.explode(
                F.zip_with(
                    F.slice(F.col("syms"), 1, sz - 1),
                    F.slice(F.col("syms"), 2, sz - 1),
                    lambda x, y: F.struct(x.alias("a"), y.alias("b")),
                )
            ).alias("p"),
            "n",
        )
        top = (
            pairs.groupBy("p")
            .agg(F.sum("n").alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("p.a"), F.col("p.b"))
            .limit(1)
            .collect()
        )
        if not top or top[0]["cnt"] < _MIN_PAIR_COUNT:
            break
        a, b, cnt = top[0]["p"]["a"], top[0]["p"]["b"], int(top[0]["cnt"])
        merges.append((a, b, cnt))
        words = _merge_once(words, a, b)
        if (it + 1) % 4 == 0:
            words = words.localCheckpoint()
    return merges
