"""Strongly connected components over a directed DataFrame edge table
— the Broder et al. WWW'00 "bowtie" decomposition statistic of web
link graphs (SCC/IN/OUT), i.e. THE classic Common-Crawl-scale directed
analysis.  GraphJet itself never needs SCC (bipartite engagement has no
directed cycles); this is a beyond-reference link-graph operator.

Algorithm: Trim + forward-min coloring + same-color backward sweep
(the Pregel/FW-BW family: Fleischer/Hendrickson/Pinar IPDPS'00 divide
& conquer, Salihoglu/Widom's Pregel formulation).  Per outer round:

1. **Trim**: peel vertices with zero in- or out-degree within the
   remaining subgraph — each is a singleton SCC.  Web-ish graphs are
   DAG-dominated, so trim alone consumes most of the mass.
2. **Color**: propagate ``color(v) = min(id over v and its remaining
   ancestors)`` to fixpoint (hash-min along edge direction — the same
   superstep shape and hygiene as connected components).
3. **Backward sweep**: the SCC of each color root r = vertices of
   color r that can reach r through same-color vertices; grown as a
   reverse-BFS fixpoint.  color(v) = min reachable-ancestor id, so for
   captured members the label IS the SCC's min vertex id.
4. Remove captured SCCs; repeat.  The minimum remaining vertex is
   always a root, so every round captures at least one SCC.

State per superstep is the narrow ``(id, color)`` relation; all joins
shuffle only state against the once-partitioned remaining edge table;
min-aggregations get map-side combine.  Output ``(id, scc)`` with
``scc`` = min vertex id of the component (matching the CC label
convention, property-tested vs a literal Tarjan mirror).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphjet_spark.plans.checkpoints import CheckpointManager, SuperstepState


def strongly_connected_components(
    spark: SparkSession,
    edges: DataFrame,
    *,
    max_rounds: int = 30,
    partitions: int | None = None,
    checkpoint: CheckpointManager | None = None,
) -> DataFrame:
    """Returns ``(id, scc)``; ``scc`` = min vertex id in the SCC.

    With ``checkpoint``, each outer round commits one encoded state
    table ``(id, scc, final)`` — captured SCCs carry ``final=1``, the
    remaining frontier ``final=0`` — with per-partition lineage rows;
    a resumed run reloads the last committed round and continues (the
    decomposition is deterministic, so the result is identical to an
    uninterrupted run — resume-equality tested)."""
    if partitions is None:
        partitions = spark.sparkContext.defaultParallelism
    e = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .repartition(partitions, "src")
        .localCheckpoint(eager=True)
    )
    remaining = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # vertices appearing only in self-loops are singleton SCCs too
    self_only = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
        .join(remaining, "id", "left_anti")
    )
    done = [self_only.select("id", F.col("id").alias("scc"))]

    loop = SuperstepState(spark, checkpoint, "scc", max_rounds)
    st = loop.resume()
    if st is not None:
        done = [st.where(F.col("final") == 1).select("id", "scc")]
        remaining = (
            st.where(F.col("final") == 0).select("id").localCheckpoint(eager=True)
        )

    def _commit(round_idx: int) -> None:
        # without a manager the round's state stays as the inner loops
        # left it (already localCheckpointed): no extra action per round
        if checkpoint is None:
            return
        acc = done[0]
        for d in done[1:]:
            acc = acc.unionByName(d)
        st = acc.select("id", "scc", F.lit(1).alias("final")).unionByName(
            remaining.select(
                "id", F.col("id").alias("scc"), F.lit(0).alias("final")
            )
        )
        st, _ = loop.materialize(round_idx, st)
        done[:] = [st.where(F.col("final") == 1).select("id", "scc")]

    for _round in loop.steps():
        if remaining.limit(1).count() == 0:
            break
        er = (
            e.join(remaining.withColumnRenamed("id", "src"), "src", "left_semi")
            .join(remaining.withColumnRenamed("id", "dst"), "dst", "left_semi")
            .localCheckpoint(eager=True)
        )

        # --- 1. trim TO FIXPOINT: zero in-/out-degree => singleton ---
        # DAG-dominated web graphs shed most mass here; peeling all
        # layers inside one outer round avoids rebuilding + re-sorting
        # the edge table once per layer (the sort is deferred to the
        # coloring phase below, which is the only SMJ consumer)
        while True:
            # vertices with BOTH an out- and an in-edge, in ONE shuffle
            # (map-side-combined max flags) instead of two distincts +
            # a semi join
            both = (
                er.select(
                    F.col("src").alias("id"),
                    F.lit(1).alias("s"),
                    F.lit(0).alias("d"),
                )
                .union(
                    er.select(
                        F.col("dst").alias("id"),
                        F.lit(0).alias("s"),
                        F.lit(1).alias("d"),
                    )
                )
                .groupBy("id")
                .agg(F.max("s").alias("s"), F.max("d").alias("d"))
                .where((F.col("s") == 1) & (F.col("d") == 1))
                .select("id")
                .localCheckpoint(eager=True)
            )
            trimmed = remaining.join(both, "id", "left_anti")
            if trimmed.limit(1).count() == 0:
                break
            done.append(trimmed.select("id", F.col("id").alias("scc")))
            remaining = both
            er = (
                er.join(
                    both.withColumnRenamed("id", "src"), "src", "left_semi"
                )
                .join(
                    both.withColumnRenamed("id", "dst"), "dst", "left_semi"
                )
                .localCheckpoint(eager=True)
            )
        if remaining.limit(1).count() == 0:
            _commit(_round + 1)
            break

        # src-partitioned + sorted once (CSR layout): the coloring
        # fixpoint's per-iteration SMJ never re-sorts the edge side
        er = (
            er.repartition(partitions, "src")
            .sortWithinPartitions("src")
            .localCheckpoint(eager=True)
        )

        # --- 2. forward-min coloring to fixpoint ---------------------
        # DELTA propagation: min is monotone, so a vertex whose color
        # did not change last iteration has already delivered its
        # contribution — only the changed frontier needs to send.
        # Message volume collapses after the first hops (the edge-side
        # scan stays, but the shuffle/groupBy runs over frontier-edge
        # messages, not all edges every iteration).  prev rides along
        # as a column so the frontier is a predicate over the
        # just-checkpointed relation — no per-iteration self-join.
        colors = remaining.select(
            "id", F.col("id").alias("color")
        ).localCheckpoint(eager=True)
        frontier = colors
        while True:
            incoming = (
                er.join(frontier.withColumnRenamed("id", "src"), "src")
                .groupBy("dst")
                .agg(F.min("color").alias("mn"))
            )
            new_colors = (
                colors.join(incoming, colors.id == incoming.dst, "left")
                .select(
                    "id",
                    F.least(
                        F.col("color"), F.coalesce("mn", F.col("color"))
                    ).alias("color"),
                    F.col("color").alias("prev"),
                )
                .localCheckpoint(eager=True)
            )
            frontier = new_colors.where(
                F.col("color") != F.col("prev")
            ).select("id", "color")
            colors = new_colors.select("id", "color")
            if frontier.limit(1).count() == 0:
                break

        # --- 3. backward sweep within each color ---------------------
        member = colors.where(F.col("color") == F.col("id")).select(
            "id", "color"
        )
        member = member.localCheckpoint(eager=True)
        ce = (
            er.join(colors.withColumnRenamed("id", "src")
                    .withColumnRenamed("color", "csrc"), "src")
            .join(colors.withColumnRenamed("id", "dst")
                  .withColumnRenamed("color", "cdst"), "dst")
            .where(F.col("csrc") == F.col("cdst"))
            .select("src", "dst", F.col("csrc").alias("color"))
            # gather key of the sweep is (dst, color): partition + sort
            # once so each BFS hop re-sorts only the small frontier
            .repartition(partitions, "dst", "color")
            .sortWithinPartitions("dst", "color")
            .localCheckpoint(eager=True)
        )
        # frontier BFS: each hop gathers predecessors of the NEWLY
        # captured vertices only (not the whole member set) — total
        # gather work is each same-color edge once, not once per hop
        frontier = member
        while True:
            grown = (
                ce.join(
                    frontier.withColumnRenamed("id", "dst"),
                    ["dst", "color"],
                    "left_semi",
                )
                .select(F.col("src").alias("id"), "color")
                .distinct()
                .join(member, ["id", "color"], "left_anti")
                .localCheckpoint(eager=True)
            )
            if grown.limit(1).count() == 0:
                break
            member = member.unionByName(grown).localCheckpoint(eager=True)
            frontier = grown

        done.append(member.select("id", F.col("color").alias("scc")))
        remaining = remaining.join(
            member.select("id"), "id", "left_anti"
        ).localCheckpoint(eager=True)
        _commit(_round + 1)

    out = done[0]
    for d in done[1:]:
        out = out.unionByName(d)
    return out
