"""Synchronous label propagation with deterministic tie-breaking.

Each superstep every vertex adopts the most frequent label among its
neighbors, ties broken toward the smallest label (SURVEY §2.8; exactness
contract is "fixed iteration count, deterministic tie-break" since LP
has no stable fixpoint in general).

Scale notes: the per-vertex mode is computed as a pure two-phase
aggregation — ``groupBy(a, lbl).count`` (map-side combine collapses
mega-hub fan-in) then ``groupBy(a).max(struct(cnt, -lbl))`` — rather
than a window sort, so no single partition ever has to sort a hub's
full neighbor list.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphjet_spark.plans.checkpoints import CheckpointManager, SuperstepState
from graphjet_spark.plans.components import symmetrize


def label_propagation(
    spark: SparkSession,
    edges: DataFrame,
    *,
    iters: int = 5,
    checkpoint: CheckpointManager | None = None,
    partitions: int | None = None,
) -> DataFrame:
    """Returns ``(id, label)`` after exactly ``iters`` synchronous steps.

    Vertices are those incident to at least one non-loop edge (the
    canonical graphs have no isolated vertices).
    """
    if partitions is None:
        partitions = spark.sparkContext.defaultParallelism
    sym = (
        symmetrize(edges)
        .repartition(partitions, "b")
        .sortWithinPartitions("b")
        .persist()
    )

    loop = SuperstepState(spark, checkpoint, "label_propagation", iters)
    labels = loop.resume()
    if labels is None:
        labels = sym.select(F.col("a").alias("id")).distinct().select(
            "id", F.col("id").alias("lbl")
        )
        labels = labels.localCheckpoint(eager=True)

    for it in loop.steps():
        new = (
            sym.join(labels, sym.b == labels.id)
            .groupBy("a", "lbl")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .groupBy("a")
            .agg(
                F.max(F.struct(F.col("cnt"), (-F.col("lbl")).alias("neg_lbl"))).alias(
                    "best"
                )
            )
            .select(F.col("a").alias("id"), (-F.col("best.neg_lbl")).alias("lbl"))
        )
        labels, _ = loop.materialize(it + 1, new)

    sym.unpersist()
    return labels.select("id", F.col("lbl").alias("label"))


def modularity(
    spark: SparkSession,
    edges: DataFrame,
    labels: DataFrame,
    *,
    round_to: int = 6,
) -> DataFrame:
    """One row (communities, modularity) — Newman modularity of a
    vertex partition over the undirected simple graph:
    Q = sum_c [ s_c/S - (d_c/S)^2 ] with S = |sym| = 2m, s_c = directed
    within-community adjacency count, d_c = total degree of c.

    All sufficient statistics are exact integer sums; the fold to
    float64 happens on the per-community rollup (narrow), so the value
    is stable across engines at ROUND 6."""
    sym = symmetrize(edges)
    la = labels.select(F.col("id").alias("a"), F.col("label").alias("ca"))
    lb = labels.select(F.col("id").alias("b"), F.col("label").alias("cb"))
    lab = sym.join(la, "a").join(lb, "b")
    s_tot = lab.count()
    sc = (
        lab.where(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("c"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("s_c"))
    )
    dc = (
        lab.groupBy(F.col("ca").alias("c"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("d_c"))
    )
    per_c = dc.join(sc, "c", "left").select(
        "c",
        (
            F.coalesce("s_c", F.lit(0)).cast("double") / F.lit(float(s_tot))
            - (F.col("d_c").cast("double") / F.lit(float(s_tot)))
            * (F.col("d_c").cast("double") / F.lit(float(s_tot)))
        ).alias("q_c"),
    )
    return per_c.agg(
        F.count(F.lit(1)).cast("bigint").alias("communities"),
        F.round(F.sum("q_c"), round_to).alias("modularity"),
    )
