"""Value-level correctness for the near-dup / ANN family (round-1 gap:
q30/q31/q33 only had 'runs without error' evidence).

Planted-duplicate fixtures with KNOWN ground truth:
  * MinHash-LSH: every planted pair with true word-5-gram Jaccard ≥ 0.8
    must appear in the candidate set with |jaccard_est − true| ≤ 0.15,
    and no candidate pair may have true Jaccard < 0.05 (banded-LSH
    false-positive bound: P ≈ 8·J⁴ at J=0.05 → ~5e-5).
  * SimHash: planted single-token edits must pair up (hamming ≤ 3);
    unrelated docs must not.
  * ANN (multi-probe sign-LSH): top-10 must overlap the exact
    brute-force top-10 with recall ≥ 0.5 on the driver testdata.
  * approx_count_distinct: within 10% of exact.
  * banded_pairs (the one LSH self-join kernel): exactly the all-pairs
    hamming ≤ 3 set on random 16-bit signatures; the rows-only queries
    built on it (q30/q31/q43/q75) pinned by digest; plan-shape guards.
  * connected components over near-dup pairs: planted clusters,
    including a 5-node chain.
"""

from __future__ import annotations

import hashlib
import itertools
import random

import pandas as pd
import pytest

from dart_xbrl_crawler_spark.plans import catalog_text as CT

SF = "/root/testdata/sf0.01"

VOCAB = [f"w{i:03d}" for i in range(500)]


def _doc(rng: random.Random, n: int = 60) -> list[str]:
    return [rng.choice(VOCAB) for _ in range(n)]


def _edit(rng: random.Random, toks: list[str], n_edits: int) -> list[str]:
    out = list(toks)
    for _ in range(n_edits):
        out[rng.randrange(len(out))] = rng.choice(VOCAB)
    return out


def _shingles(toks: list[str], k: int = 5) -> set[str]:
    # EXACTLY the Spark expression's shingle definition (catalog_text
    # _exploded_shingles): 1..max(len-k+1, 1), slice up to k tokens
    n = max(len(toks) - (k - 1), 1)
    return {" ".join(toks[i : i + k]) for i in range(n)}


def _jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a | b else 0.0


@pytest.fixture(scope="module")
def planted(spark):
    rng = random.Random(1234)
    docs: dict[int, list[str]] = {}
    for i in range(30):  # unrelated base docs
        docs[i] = _doc(rng)
    pair_ids = []
    for j in range(8):  # planted near-dups of bases 0..7
        a = j
        b = 100 + j
        docs[b] = _edit(rng, docs[a], n_edits=1 + (j % 3))
        pair_ids.append((a, b))
    pdf = pd.DataFrame(
        {"doc_id": list(docs), "text": [" ".join(t) for t in docs.values()]}
    )
    sdf = spark.createDataFrame(pdf)
    truth = {
        (a, b): _jaccard(_shingles(docs[a]), _shingles(docs[b]))
        for (a, b) in pair_ids
    }
    return sdf, docs, truth


def test_minhash_lsh_recall_and_estimate(spark, planted):
    sdf, docs, truth = planted
    cand = {
        (r["a_id"], r["b_id"]): r["jaccard_est"]
        for r in CT.minhash_lsh_candidates(sdf).collect()
    }
    high = {p: j for p, j in truth.items() if j >= 0.8}
    assert high, "fixture must plant at least one Jaccard>=0.8 pair"
    for (a, b), true_j in high.items():
        key = (a, b) if (a, b) in cand else (b, a)
        assert key in cand, f"planted pair {(a, b)} (J={true_j:.2f}) missed"
        assert abs(cand[key] - true_j) <= 0.15, (
            f"pair {(a, b)}: est {cand[key]} vs true {true_j:.3f}"
        )
    # precision floor: no candidate between unrelated docs
    shings = {i: _shingles(t) for i, t in docs.items()}
    for (a, b) in cand:
        assert _jaccard(shings[a], shings[b]) >= 0.05, (
            f"false candidate {(a, b)}"
        )


def test_simhash_pairs_find_planted_dups(spark, planted):
    sdf, docs, truth = planted
    sigs = CT.simhash_signatures(sdf)
    pairs = {
        (r["a_id"], r["b_id"]): r["hamming"]
        for r in CT.simhash_pairs(sigs).collect()
    }
    # single-token edits (j % 3 == 0 → 1 edit) must be found
    one_edit = [(a, b) for (a, b) in truth if (a % 3) == 0]
    assert one_edit
    found = sum(
        1 for (a, b) in one_edit if (a, b) in pairs or (b, a) in pairs
    )
    assert found >= len(one_edit) - 1, (
        f"simhash found {found}/{len(one_edit)} planted single-edit dups"
    )
    # all reported pairs are genuinely close in signature space
    assert all(h <= 3 for h in pairs.values())


def test_ann_planted_neighbors_recall(spark):
    """Planted genuine near-neighbors (cosine ≥ 0.9): sign-LSH
    multi-probe must recall ≥ 0.8 of the exact top-10."""
    import numpy as np

    rng = np.random.RandomState(77)
    dim = 64
    base = rng.standard_normal((200, dim))
    q = base[0]
    # vec_ids 1000.. are tight perturbations of q → the true top-10
    planted = [q + 0.15 * rng.standard_normal(dim) for _ in range(10)]
    rows = [(0, [float(x) for x in q], 0)] + [
        (i + 1, [float(x) for x in v], 0) for i, v in enumerate(base[1:])
    ] + [(1000 + j, [float(x) for x in v], 1) for j, v in enumerate(planted)]
    pdf = pd.DataFrame(rows, columns=["vec_id", "embedding", "label"])
    e = spark.createDataFrame(pdf, "vec_id long, embedding array<float>, label int")

    def cos(a, b):
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    vecs = {r[0]: np.array(r[1]) for r in rows}
    exact = sorted(
        (v for v in vecs if v != 0), key=lambda v: -cos(vecs[0], vecs[v])
    )[:10]
    got = [r["vec_id"] for r in CT.ann_sign_lsh(e).collect()]
    recall = len(set(exact) & set(got)) / 10
    assert recall >= 0.8, f"planted-neighbor recall {recall}"


def test_ann_multiprobe_on_testdata(spark):
    """The driver corpus has top-10 cosine ≈ 0.3 (≈72° apart — near the
    LSH no-signal regime); the index must still beat its candidate
    fraction (~1/3 at radius 2) against the exact top-10."""
    import __spark_entry__ as E

    exact = [r["vec_id"] for r in E.queries()["q32_cosine_topk"](spark, SF).collect()]
    approx = [r["vec_id"] for r in E.queries()["q33_ann_lsh"](spark, SF).collect()]
    assert len(exact) == 10
    recall = len(set(exact) & set(approx)) / len(exact)
    assert recall >= 0.3, f"ANN recall {recall} vs exact top-10"


def test_simhash_pairs_runs_on_testdata(spark):
    import __spark_entry__ as E

    n = E.queries()["q43_simhash_pairs"](spark, SF).count()
    assert n >= 0  # smoke on real corpus; quality asserted on planted set


def test_approx_cardinality_within_tolerance(spark):
    import __spark_entry__ as E
    from pyspark.sql import functions as F

    got = {
        r["event_type"]: r["approx_users"]
        for r in E.queries()["q40_approx_cardinality"](spark, SF).collect()
    }
    events = spark.read.parquet(f"{SF}/events.parquet")
    exact = {
        r["event_type"]: r["n"]
        for r in events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(got) == set(exact)
    for k, v in exact.items():
        assert abs(got[k] - v) <= max(0.1 * v, 2), (k, got[k], v)


# ---------------------------------------------------------------------
# banded_pairs kernel
# ---------------------------------------------------------------------
def test_banded_pairs_matches_all_pairs_reference(spark):
    """4 bands of 4 bits at max hamming 3: the pigeonhole makes banding
    lossless, so the kernel must return exactly the brute-force set."""
    from pyspark.sql import functions as F

    rng = random.Random(2024)
    sigs = {i: rng.getrandbits(16) for i in range(300)}
    dist = {
        (a, b): bin(sigs[a] ^ sigs[b]).count("1")
        for a, b in itertools.combinations(sorted(sigs), 2)
    }
    want = {p: d for p, d in dist.items() if d <= 3}
    assert want
    df = spark.createDataFrame(list(sigs.items()), schema="id long, sig long")
    keys = [F.shiftright(F.col("sig"), 4 * i).bitwiseAND(F.lit(0xF)) for i in range(4)]
    got = CT.banded_pairs(df, "id", "sig", keys, CT.hamming_distance, max_value=3)
    rows = got.collect()
    assert len(rows) == len(want)  # one row per pair
    assert {(r["a_id"], r["b_id"]): r["hamming"] for r in rows} == want


# md5 over the repr of the sorted rows at sf0.01; these rows-only
# queries have no DuckDB oracle, so the digests pin their output
ROWS_DIGESTS = {
    "q30_minhash_lsh": "bdb85fddc4a8faf778ef90b97e1c238c",
    "q31_simhash": "56127ac01a2d654db05655a48c060ee3",
    "q43_simhash_pairs": "1950134237624742124fc684f82d846b",
    "q75_image_neardup": "4b2718a562c77ec85584e61e51c3221f",
}


@pytest.mark.parametrize("name", sorted(ROWS_DIGESTS))
def test_rows_only_neardup_digest(spark, name):
    import __spark_entry__ as E

    rows = sorted(tuple(r) for r in E.queries()[name](spark, SF).collect())
    digest = hashlib.md5("\n".join(map(repr, rows)).encode()).hexdigest()
    assert digest == ROWS_DIGESTS[name]


def _fmt_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.mark.parametrize("name", ["q30_minhash_lsh", "q47_minhash_md5_lsh"])
def test_minhash_candidates_single_signature_pipeline(spark, name):
    """Shape guard: the banded self-join must read the signature table
    from a checkpoint (Scan ExistingRDD), never re-derive it from the
    shingle explode on both sides — the shingle expression must not
    appear in the final query plan at all."""
    import __spark_entry__ as E

    plan = _fmt_plan(E.queries()[name](spark, SF))
    assert "Scan ExistingRDD" in plan
    assert "array_distinct(transform(sequence(" not in plan.replace(" ", "")


def test_simhash_pairs_filters_before_pair_dedup(spark):
    """Shape guard: the hamming filter and narrow projection must run
    BEFORE the (a_id, b_id) dedup, so the dedup never shuffles raw
    signatures.  Structural check on the optimized logical plan: no
    Deduplicate/Aggregate node may output a_sig/b_sig columns."""
    import __spark_entry__ as E

    df = E.queries()["q43_simhash_pairs"](spark, SF)
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    for line in logical.splitlines():
        s = line.strip().lstrip("+-: ")
        if s.startswith(("Deduplicate", "Aggregate")):
            assert "a_sig" not in s and "b_sig" not in s, s


# ------------------------------- connected components / dedup clusters
def test_connected_components_planted_clusters(spark):
    from dart_xbrl_crawler_spark.operators.components import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (21, 20), (30, 31), (31, 32), (32, 33),
         (33, 34)],  # incl. a 5-node chain (propagation depth > 1)
        "a_id long, b_id long",
    )
    comp = {
        r["node"]: r["component"]
        for r in connected_components(pairs).collect()
    }
    assert comp == {
        1: 1, 2: 1, 3: 1,
        10: 10, 11: 10,
        20: 20, 21: 20,
        30: 30, 31: 30, 32: 30, 33: 30, 34: 30,
    }
