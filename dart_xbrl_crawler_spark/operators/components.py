"""Connected components over near-dup pairs → dedup clusters.

A training-data dedup pipeline doesn't stop at candidate PAIRS: a
near-dup relation is transitive in practice (a~b, b~c ⇒ keep one of
{a,b,c}), so the canonical-document choice needs the connected
component of each doc in the pair graph.  This is the classic
iterative-Spark shape the reference has no analog for:

* min-label propagation: every node repeatedly adopts the smallest
  label among itself and its neighbors; converges in O(diameter)
  rounds (near-dup clusters are shallow — a handful of rounds).
* each round is one shuffle (message groupBy); ``localCheckpoint``
  truncates the lineage per round — without it the plan doubles every
  iteration and the driver dies planning round ~15 (the canonical
  iterative-DataFrame pitfall).
* convergence is an exact count of changed labels; a cap of
  ``_MAX_ITER`` rounds bounds pathological chains.

At 10^10-doc scale each round shuffles |edges| messages — the same
cost class as one LSH band join, and the edge set (near-dup pairs) is
orders of magnitude smaller than the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_MAX_ITER = 20


def connected_components(pairs: DataFrame) -> DataFrame:
    """pairs(a_id, b_id) → (node, component): component = min node id
    reachable through the undirected pair graph."""
    edges = (
        pairs.select(F.col("a_id").alias("u"), F.col("b_id").alias("v"))
        .unionByName(
            pairs.select(F.col("b_id").alias("u"), F.col("a_id").alias("v"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for _ in range(_MAX_ITER):
        msgs = (
            edges.join(labels, edges["u"] == labels["node"])
            .select(F.col("v").alias("node"), "component")
            .groupBy("node")
            .agg(F.min("component").alias("nbr_min"))
        )
        new_labels = (
            labels.join(msgs, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce("nbr_min", F.col("component"))
                ).alias("component"),
                (
                    F.coalesce("nbr_min", F.col("component"))
                    < F.col("component")
                ).alias("_changed"),
            )
            .localCheckpoint(eager=True)  # truncate per-round lineage
        )
        n_changed = new_labels.filter(F.col("_changed")).count()
        labels = new_labels.drop("_changed")
        if n_changed == 0:
            break
    return labels


def pagerank(
    edges: DataFrame,
    n_iter: int = 5,
    damping: float = 0.85,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge set — the classic
    link-authority score a web-scale crawler feeds its frontier
    priority (the reference's flat API frontier has no analog; this
    engine's ``insert(..., priority=...)`` accepts it directly).

    ``edges``: DataFrame with ``src``/``dst`` columns (any orderable
    type); duplicate edges are collapsed.  Returns (node, pr) for every
    node appearing as a source or destination.

    Semantics (deterministic, oracle-portable): uniform init 1/N, then
    ``pr'(v) = (1-d)/N + d * Σ_{(u,v)} pr(u)/out_deg(u)`` for exactly
    ``n_iter`` rounds.  Dangling nodes (no out-edges) contribute
    nothing — their mass leaks, as in the common simplified formulation
    — so the result is expressible as unrolled SQL for the DuckDB
    oracle (q54).

    Scale shape: the degree-annotated edge list is computed once and
    localCheckpoint-ed (read O(n_iter) times); each round is ONE
    shuffle of |edges| contributions (map-side partial sum) plus a
    left join back to the node set — the same cost class per round as
    one LSH band join.  Lineage is truncated per round exactly like
    connected_components above, so the plan stays O(1) deep."""
    e = edges.select("src", "dst").distinct()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("pr", F.lit(0.0))
    deg = e.groupBy("src").agg(F.count("*").alias("out_deg"))
    e_deg = e.join(deg, "src").localCheckpoint(eager=True)
    pr = nodes.withColumn("pr", F.lit(1.0 / n))
    base = (1.0 - damping) / n
    for _ in range(n_iter):
        mass = (
            e_deg.join(pr, e_deg["src"] == pr["node"])
            .select(
                F.col("dst").alias("node"),
                (F.col("pr") / F.col("out_deg")).alias("w"),
            )
            .groupBy("node")
            .agg(F.sum("w").alias("mass"))
        )
        pr = (
            nodes.join(mass, "node", "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.lit(damping) * F.coalesce(F.col("mass"), F.lit(0.0))
                ).alias("pr"),
            )
            .localCheckpoint(eager=True)
        )
    return pr
