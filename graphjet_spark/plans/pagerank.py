"""Power-iteration PageRank over a DataFrame edge table.

This is the distributed analogue of GraphJet's deterministic subgraph-
SALSA power iteration (reference: graphjet-core/src/main/java/com/
twitter/graphjet/algorithms/salsa/subgraph/SalsaSubgraphInternalState.java
:171-208 — spread w(u)/deg(u) along each edge, with a reset fraction),
generalized to the full graph with uniform teleport.

Scale design (the part that must survive 100 TB):

- The only per-superstep shuffles are (a) the ``ranks ⋈ links`` join on
  ``src`` and (b) the ``groupBy(dst)`` aggregation.  ``links`` is
  hash-partitioned by ``src`` once and persisted, so the join reuses its
  exchange every iteration; only ``ranks`` (narrow: id + rank) moves.
- The sum aggregation gets map-side partial aggregation from Spark's
  HashAggregate for free — a mega-hub ``dst`` receives at most one
  partial row per map task, not one row per in-edge.  An explicit
  salted two-phase aggregation (``skew_salt``) is additionally available
  and equivalent (tested); AQE skew-join splitting handles hub ``src``
  keys on the join side.
- Dangling mass is one scalar aggregate per superstep (unavoidable),
  folded lazily into the superstep plan; the L∞/L1 deltas and the
  dangling mass are the extra per-partition aggregates this module hands
  to :class:`~graphjet_spark.plans.checkpoints.SuperstepState`, which
  owns state placement, resume and the lineage-metrics row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphjet_spark.plans.checkpoints import CheckpointManager, SuperstepState


def _prepare(
    edges: DataFrame,
    partitions: int,
    assume_simple: bool,
    weight_col: str | None = None,
):
    """Build (links, vertices, dangling, n) — the static per-run tables.

    With ``weight_col``, multi-edges collapse by summing weights and
    ``out_degree`` holds the total out-WEIGHT per source (transitions
    become weight-proportional); ``links`` then carries the per-edge
    weight ``w``."""
    if weight_col is None:
        e = edges.select("src", "dst")
        if not assume_simple:
            e = e.distinct()
    else:
        e = (
            edges.select("src", "dst", F.col(weight_col).alias("w"))
            .groupBy("src", "dst")
            .agg(F.sum("w").alias("w"))
        )
    vertices = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
        .repartition(partitions, "id")
        .persist()
    )
    if weight_col is None:
        out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("out_degree"))
        link_cols = ["src", "dst", "out_degree"]
    else:
        out_deg = e.groupBy("src").agg(F.sum("w").alias("out_degree"))
        link_cols = ["src", "dst", "w", "out_degree"]
    links = (
        e.join(out_deg, "src")
        .select(*link_cols)
        .repartition(partitions, "src")
        # src-sorted within blocks (the CSR layout): the cached relation
        # keeps its outputOrdering, so the per-superstep sort-merge join
        # against ranks never re-sorts the (large) edge side — only the
        # narrow rank state sorts each iteration.
        .sortWithinPartitions("src")
        .persist()
    )
    dangling = (
        vertices.join(out_deg, vertices.id == out_deg.src, "left_anti")
        .select("id")
        .persist()
    )
    n = vertices.count()
    links.count()  # materialize once so every superstep reuses the exchange
    dangling.count()
    return links, vertices, dangling, n


def pagerank(
    spark: SparkSession,
    edges: DataFrame,
    *,
    damping: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 100,
    fixed_iters: int | None = None,
    skew_salt: int | None = None,
    checkpoint: CheckpointManager | None = None,
    partitions: int | None = None,
    assume_simple: bool = False,
    teleport: dict[int, float] | None = None,
    weight_col: str | None = None,
    warm_start: DataFrame | None = None,
) -> DataFrame:
    """Compute PageRank; returns ``(id, pagerank)``.

    ``fixed_iters`` runs exactly that many supersteps (oracle-parity
    mode); otherwise iterate until ``L∞ delta < tol`` or ``max_iter``.
    With ``checkpoint``, every superstep commits state + metrics and an
    interrupted run resumes from the last committed iteration.

    ``teleport``: optional seed->weight dict for **personalized**
    PageRank — the (1-d) restart mass and all dangling mass return to
    the seed distribution instead of uniform (the batch cousin of
    GraphJet's query-biased SALSA reset, reference algorithms/salsa/
    fullgraph/LeftSalsaIteration.java:63-95 — resets return to the
    query node).  Initial state is the teleport distribution.

    ``warm_start``: optional ``(id, rank)`` state from a previous run —
    the delta-ingest pattern (GraphJet's streamed graph, batch form):
    after edges change, re-converging from the old fixpoint takes far
    fewer supersteps than a cold start, because the fixpoint is unique
    (damping < 1) and the perturbation is local.  Vertices unseen in
    the hint get the uniform share; the padded state is renormalized to
    unit mass.
    """
    if partitions is None:
        partitions = spark.sparkContext.defaultParallelism
    links, vertices, dangling, n = _prepare(
        edges, partitions, assume_simple, weight_col
    )
    n_f = float(n)

    tele = None
    if teleport is not None:
        total_w = float(sum(teleport.values()))
        tele_df = spark.createDataFrame(
            [(int(v), w / total_w) for v, w in teleport.items()],
            "id bigint, p double",
        )
        tele = (
            vertices.join(F.broadcast(tele_df), "id", "left")
            .select("id", F.coalesce("p", F.lit(0.0)).alias("p"))
            .repartition(partitions, "id")
            .persist()
        )
        # Teleport keys absent from the vertex set drop out of the join;
        # renormalize over the surviving mass so the distribution still
        # sums to 1 (stale seed ids would otherwise silently deflate
        # every rank).  All-seeds-present leaves values untouched.
        surviving = tele.agg(F.sum("p")).collect()[0][0] or 0.0
        if surviving <= 0.0:
            raise ValueError(
                "personalized pagerank: no teleport seed is a graph vertex"
            )
        if surviving < 1.0 - 1e-12:
            tele = tele.select(
                "id", (F.col("p") / F.lit(surviving)).alias("p")
            ).persist()
        tele.count()

    total_iters = fixed_iters if fixed_iters is not None else max_iter
    loop = SuperstepState(spark, checkpoint, "pagerank", total_iters)
    ranks = loop.resume()
    if ranks is None:
        if warm_start is not None:
            padded = vertices.join(
                warm_start.select("id", F.col("rank").alias("wr")), "id", "left"
            ).select(
                "id", F.coalesce("wr", F.lit(1.0 / n_f)).alias("rank")
            )
            total = padded.agg(F.sum("rank")).collect()[0][0]
            ranks = padded.select(
                "id", (F.col("rank") / F.lit(float(total))).alias("rank")
            )
        elif tele is not None:
            ranks = tele.select("id", F.col("p").alias("rank"))
        else:
            ranks = vertices.select("id", F.lit(1.0 / n_f).alias("rank"))
        ranks = ranks.localCheckpoint(eager=True)

    converge = fixed_iters is None
    delta = F.abs(F.col("rank") - F.col("prev_rank"))
    stats = {
        "delta_linf": (F.max(delta), lambda v: max(v, default=0.0)),
        "delta_l1": (F.sum(delta), sum),
        "dangling_mass": (F.max("dm"), lambda v: max(v, default=0.0)),
    }
    for it in loop.steps():
        # Dangling mass as a lazy single-row aggregate broadcast into the
        # superstep plan — no separate driver action/job per iteration.
        dm_df = (
            ranks.join(dangling, "id", "left_semi")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm"))
        )

        share = (
            F.col("rank") / F.col("out_degree")
            if weight_col is None
            # weighted transitions: rank spreads proportionally to edge
            # weight (same expression order as the oracle SQL)
            else F.col("rank") * F.col("w") / F.col("out_degree")
        )
        contrib_rows = links.join(ranks, links.src == ranks.id).select(
            "dst", share.alias("c"), links.src.alias("csrc"),
        )
        if skew_salt:
            # Explicit two-phase aggregation: partial sums on a salted
            # key, final sum on the true key (north-rule mega-hub
            # handling; GraphJet analogue is the degree-tiered
            # PowerLawDegreeEdgePool, reference bipartite/edgepool/
            # PowerLawDegreeEdgePool.java:37-65).
            contribs = (
                contrib_rows.groupBy(
                    "dst", F.pmod(F.xxhash64("csrc"), F.lit(skew_salt)).alias("salt")
                )
                .agg(F.sum("c").alias("pc"))
                .groupBy("dst")
                .agg(F.sum("pc").alias("contrib"))
            )
        else:
            contribs = contrib_rows.groupBy("dst").agg(F.sum("c").alias("contrib"))

        if tele is not None:
            # personalized: restart + dangling mass follow the seed
            # distribution p(v) instead of 1/N
            base = F.col("p") * (
                F.lit(1.0 - damping) + F.lit(damping) * F.col("dm")
            )
            state = ranks.withColumnRenamed("rank", "prev_rank").join(tele, "id")
        else:
            base = (
                F.lit((1.0 - damping) / n_f)
                + F.lit(damping) * F.col("dm") / F.lit(n_f)
            )
            state = ranks.withColumnRenamed("rank", "prev_rank")
        new_ranks = (
            state.join(contribs, state.id == contribs.dst, "left")
            .crossJoin(F.broadcast(dm_df))
            .select(
                "id",
                (base + F.lit(damping) * F.coalesce("contrib", F.lit(0.0))).alias(
                    "rank"
                ),
                "prev_rank",
                "dm",
            )
        )

        ranks, totals = loop.materialize(
            it + 1, new_ranks, ("id", "rank"), stats, converge
        )
        if converge and totals["delta_linf"] < tol:
            break

    if tele is not None:
        tele.unpersist()
    links.unpersist()
    dangling.unpersist()
    vertices.unpersist()
    return ranks.select("id", F.col("rank").alias("pagerank"))


def ppr_grouped(
    spark: SparkSession,
    edges: DataFrame,
    seeds: list[int],
    *,
    damping: float = 0.85,
    fixed_iters: int = 6,
    k: int = 20,
    partitions: int | None = None,
    assume_simple: bool = False,
    checkpoint: CheckpointManager | None = None,
) -> DataFrame:
    """Batch personalized PageRank for MANY seeds in ONE superstep loop;
    returns the top-``k`` ``(seed, id, ppr)`` rows per seed.  With
    ``checkpoint``, each superstep's sparse (seed, id, rank) state
    commits atomically with per-partition lineage rows and a resumed
    run continues from the last committed iteration (same contract as
    :func:`pagerank`).

    GraphJet answers one user's random-walk recommendation query at a
    time from its in-memory index (reference algorithms/salsa/
    SalsaIterations.java drives per-request iterations); the batch
    analogue a Spark cluster wants is the *grouped* form — every user's
    personalized vector computed together, state keyed ``(seed, id)``.
    Each seed is an independent restart-to-self distribution
    (teleport = delta_seed), so the result rows for one seed equal
    :func:`pagerank` with ``teleport={seed: 1.0}`` (tested).

    Scale design: state is SPARSE — only ``(seed, id)`` pairs with
    nonzero mass exist (the seed's expanding forward-reachable set), so
    state size is sum_s |N_L(s)|, never ``|seeds| x |V|``; the per-
    superstep join re-uses the cached src-partitioned links exchange
    (only the narrow state shuffles); the ``(seed, dst)`` sum gets
    map-side combine so mega-hubs never concentrate rows; per-seed
    dangling mass folds into the same superstep job (no driver action
    in the loop).  Seeds absent from the vertex set are dropped.
    """
    d = damping
    if partitions is None:
        partitions = spark.sparkContext.defaultParallelism
    links, vertices, dangling, _n = _prepare(
        edges, partitions, assume_simple, None
    )
    seed_df = (
        spark.createDataFrame([(int(s),) for s in seeds], "seed bigint")
        .join(vertices, F.col("seed") == vertices.id, "left_semi")
        .persist()
    )
    seed_df.count()

    loop = SuperstepState(spark, checkpoint, "ppr_grouped", fixed_iters)
    state = loop.resume()
    if state is None:
        state = seed_df.select(
            "seed", F.col("seed").alias("id"), F.lit(1.0).alias("rank")
        ).localCheckpoint(eager=True)

    for it in loop.steps():
        contribs = (
            state.join(links, state.id == links.src)
            .groupBy("seed", "dst")
            .agg(F.sum(F.col("rank") / F.col("out_degree")).alias("c"))
        )
        # per-seed dangling mass: a tiny (seed, dm) aggregate folded
        # lazily into the superstep plan
        dm = (
            state.join(dangling, "id", "left_semi")
            .groupBy("seed")
            .agg(F.sum("rank").alias("dm"))
        )
        base = seed_df.join(dm, "seed", "left").select(
            "seed",
            F.col("seed").alias("id"),
            (
                F.lit(1.0 - d)
                + F.lit(d) * F.coalesce("dm", F.lit(0.0))
            ).alias("b"),
        )
        state = (
            contribs.select(
                "seed",
                F.col("dst").alias("id"),
                (F.lit(d) * F.col("c")).alias("cc"),
            )
            .join(base, ["seed", "id"], "full_outer")
            .select(
                "seed",
                "id",
                (
                    F.coalesce("cc", F.lit(0.0))
                    + F.coalesce("b", F.lit(0.0))
                ).alias("rank"),
            )
            .repartition(partitions, "id")
        )
        state, _ = loop.materialize(it + 1, state)

    from pyspark.sql import Window

    # top-k boundary on the ROUNDED score + id tie-break: total order,
    # cross-engine stable (CLAUDE.md oracle rule)
    w = Window.partitionBy("seed").orderBy(F.desc("ppr"), F.asc("id"))
    out = (
        state.select("seed", "id", F.round("rank", 9).alias("ppr"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )
    links.unpersist()
    dangling.unpersist()
    vertices.unpersist()
    seed_df.unpersist()
    return out
