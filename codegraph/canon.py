"""Canonicalization: last-write-wins key dedup + connected components.

* ``dedup_by_key`` replicates MERGE-on-unique-key upsert semantics
  (UpsertSymbols.cypher:2-19, Schema.cypher:2-24): one row per (repo, key),
  all properties from the winning row. The reference's winner is
  insertion-ordered (nondeterministic under its parallel producers); the
  replica defines a deterministic order — highest (file_path, start_line)
  wins — so reruns are stable.

* ``connected_components`` (the operator behind the ``kg_cc`` query):
  iterative hash-min label propagation PLUS pointer doubling (each round
  also replaces every label by its label's label — the path-halving step of
  Shiloach-Vishkin-style MapReduce CC), all as DataFrame self-joins with a
  localCheckpoint per iteration to cut lineage. The doubling step is what
  makes long chains converge in O(log n) rounds instead of O(diameter):
  plain hash-min walks a 100k-symbol alias chain 100k times; with doubling
  the root's reach doubles every round. No GraphFrames dependency;
  hash-partitioned on the join key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def dedup_by_key(df: DataFrame, key_cols: list[str],
                 order_cols: list[str]) -> DataFrame:
    w = Window.partitionBy(*key_cols).orderBy(
        *[F.col(c).desc_nulls_last() for c in order_cols])
    return (df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn"))


def dedup_symbols(symbols: DataFrame) -> DataFrame:
    return dedup_by_key(symbols, ["repo", "key"],
                        ["path", "start_line", "kind", "name"])


def connected_components(edges: DataFrame, src: str = "src", dst: str = "dst",
                         max_iter: int = 25) -> DataFrame:
    """(src, dst) undirected edge list -> (node, component) with component =
    min node id (string) of the component. Hash-min propagation:
    each iteration joins labels across edges and keeps the min; stops when no
    label changes. Every iteration localCheckpoints to keep plans flat."""
    sym = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
           .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
           .distinct()
           .localCheckpoint())
    # derive nodes/labels from the checkpointed edge list so iterations never
    # recompute the (possibly expensive) upstream lineage
    nodes = sym.select(F.col("a").alias("node")).distinct()
    labels = nodes.withColumn("comp", F.col("node")).localCheckpoint()

    for _ in range(max_iter):
        # candidate labels: my own + the min label among my neighbors
        nbr = (sym.join(labels.withColumnRenamed("node", "b"), "b")
               .groupBy("a").agg(F.min("comp").alias("nbr_comp"))
               .withColumnRenamed("a", "node"))
        stepped = (
            labels.join(nbr, "node", "left")
            .select("node",
                    F.least(F.col("comp"), F.coalesce(F.col("nbr_comp"), F.col("comp"))).alias("comp"))
        )
        # pointer doubling: comp <- label(comp). Labels are always node ids
        # (mins over node ids), so the lookup hits; each round the distance
        # to the component root halves -> O(log n) total rounds on chains.
        lut = stepped.select(F.col("node").alias("_c"),
                             F.col("comp").alias("_cc"))
        new_labels = (
            stepped.join(lut, stepped["comp"] == lut["_c"], "left")
            .select("node",
                    F.least(F.col("comp"), F.coalesce(F.col("_cc"), F.col("comp"))).alias("comp"))
        ).localCheckpoint()
        changed = (new_labels.alias("n").join(labels.alias("o"), "node")
                   .filter(F.col("n.comp") != F.col("o.comp")).limit(1).count())
        labels = new_labels
        if changed == 0:
            break
    return labels
