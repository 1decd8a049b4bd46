"""Per-superstep state placement, resume and lineage + convergence metrics.

North-rule requirement: "every superstep checkpoints per-partition lineage
and convergence metrics ... so runs resume mid-iteration".

:class:`SuperstepState` is the one superstep-state core every
checkpointed loop in ``plans/`` runs on (``pagerank``, ``ppr_grouped``,
hash-min and star CC, label propagation, ANF, the SCC outer round): it
alone decides where a run starts, how each superstep's state is
materialized and what its metrics row holds.  A plan supplies only its
step expression and its convergence test.

Production target is an Iceberg table (snapshot commit per superstep);
this sandbox has no Iceberg runtime jar, so the same contract is
implemented over parquet directories with atomic rename commits:

    <base>/<run_id>/state/iter=<N>/      parquet + _SUCCESS   (state)
    <base>/<run_id>/metrics/iter=<N>.json                      (metrics)

A superstep is committed iff its state directory rename completed (rename
is atomic on a POSIX filesystem, mirroring an Iceberg snapshot swap).
Resume = read max committed iteration and continue — the GraphJet
analogue is safe publication of a sealed segment
(reference: graphjet-core/src/main/java/com/twitter/graphjet/bipartite/
edgepool/PowerLawDegreeEdgePool.java:72-99, single-writer memory-barrier
publication; and optimizer/Optimizer.java:88-130, background seal+swap).
"""

from __future__ import annotations

import json
import os
import shutil
import time
from collections.abc import Callable, Iterator

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


class CheckpointManager:
    """Atomic per-iteration state + metrics commits for superstep loops."""

    def __init__(self, base_dir: str, run_id: str):
        self.run_dir = os.path.join(base_dir, run_id)
        self.state_dir = os.path.join(self.run_dir, "state")
        self.metrics_dir = os.path.join(self.run_dir, "metrics")
        os.makedirs(self.state_dir, exist_ok=True)
        os.makedirs(self.metrics_dir, exist_ok=True)

    # -- state ---------------------------------------------------------
    def _iter_path(self, iteration: int) -> str:
        return os.path.join(self.state_dir, f"iter={iteration}")

    def commit_state(self, iteration: int, df: DataFrame, metrics: dict) -> str:
        """Write state parquet + metrics for one superstep, atomically.

        Idempotent: re-committing an iteration (resume replay) overwrites.
        """
        final = self._iter_path(iteration)
        tmp = final + ".tmp"
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        df.write.mode("overwrite").parquet(tmp)
        if os.path.exists(final):
            shutil.rmtree(final)
        os.rename(tmp, final)  # atomic commit point
        self._write_metrics(iteration, metrics)
        return final

    def _write_metrics(self, iteration: int, metrics: dict) -> None:
        row = {"iteration": iteration, "committed_at": time.time(), **metrics}
        tmp = os.path.join(self.metrics_dir, f"iter={iteration}.json.tmp")
        with open(tmp, "w") as f:
            json.dump(row, f)
        os.rename(tmp, os.path.join(self.metrics_dir, f"iter={iteration}.json"))

    def last_committed(self) -> int | None:
        """Max iteration with a fully committed state directory."""
        iters = []
        for name in os.listdir(self.state_dir):
            if name.startswith("iter=") and not name.endswith(".tmp"):
                path = os.path.join(self.state_dir, name)
                if os.path.exists(os.path.join(path, "_SUCCESS")):
                    iters.append(int(name.split("=", 1)[1]))
        return max(iters) if iters else None

    def read_state(self, spark: SparkSession, iteration: int) -> DataFrame:
        return spark.read.parquet(self._iter_path(iteration))

    def read_metrics(self) -> list[dict]:
        rows = []
        for name in sorted(os.listdir(self.metrics_dir)):
            if name.endswith(".json"):
                with open(os.path.join(self.metrics_dir, name)) as f:
                    rows.append(json.load(f))
        return sorted(rows, key=lambda r: r["iteration"])


class SuperstepState:
    """Placement, resume and lineage metrics of one superstep loop.

    Superstep ``it`` (yielded by :meth:`steps`) produces iteration
    ``it + 1``.  With a :class:`CheckpointManager` a run resumes from the
    last committed iteration, clamped to ``budget`` so a manager holding
    more iterations than this call asked for never hands back a later
    state.
    """

    def __init__(
        self,
        spark: SparkSession,
        checkpoint: CheckpointManager | None,
        algo: str,
        budget: int,
    ):
        self.spark = spark
        self.checkpoint = checkpoint
        self.algo = algo
        self.budget = budget
        last = checkpoint.last_committed() if checkpoint is not None else None
        self.start = min(last or 0, budget)
        self._t0 = time.time()

    def resume(self) -> DataFrame | None:
        """The committed state to continue from, or None on a fresh run
        (``start`` 0: an initial state is cheap to rebuild)."""
        return self.committed(self.start) if self.start else None

    def committed(self, iteration: int) -> DataFrame:
        """The state committed for ``iteration`` (resume only)."""
        return self.checkpoint.read_state(self.spark, iteration)

    def steps(self) -> Iterator[int]:
        """Superstep indices ``start .. budget - 1``; each starts the
        clock its metrics row reports as ``elapsed_s``."""
        for it in range(self.start, self.budget):
            self._t0 = time.time()
            yield it

    def materialize(
        self,
        iteration: int,
        df: DataFrame,
        cols: tuple[str, ...] | None = None,
        aggs: dict[str, tuple[Column, Callable[[list], object]]] | None = None,
        converge: bool = False,
    ) -> tuple[DataFrame, dict | None]:
        """Place iteration ``iteration``'s state; return ``(state, totals)``.

        ``df`` is the lazy new state; it may carry helper columns that
        only ``aggs`` read, and the state kept is its ``cols`` (default:
        all).  ``aggs`` maps a metric name to a per-partition aggregate
        column and the fold that combines the partitions' values.

        Exactly one materializing action per superstep, which truncates
        lineage (a naive loop's plan grows exponentially and stalls
        Catalyst by iteration ~20): the per-partition stats ``collect``
        over a lazy ``localCheckpoint`` when a checkpoint or the caller's
        convergence test (``converge``) needs it, else an eager
        ``localCheckpoint`` (one count).  Measured: batching actions
        every 2nd superstep does NOT help — the cost is superstep
        compute, not job scheduling.  With a checkpoint the state is then
        committed with its metrics row and read back from parquet.

        ``totals`` holds ``rows`` plus every folded metric, or is None
        when no stats pass ran.
        """
        aggs = aggs or {}
        need_stats = self.checkpoint is not None or converge
        df = df.localCheckpoint(eager=not need_stats)
        state = df.select(*cols) if cols else df
        if not need_stats:
            return state, None
        parts = [
            r.asDict()
            for r in df.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(
                F.count(F.lit(1)).alias("rows"),
                *[col.alias(name) for name, (col, _) in aggs.items()],
            )
            .collect()
        ]
        totals = {"rows": sum(p["rows"] for p in parts)}
        for name, (_, fold) in aggs.items():
            totals[name] = fold([p[name] for p in parts])
        if self.checkpoint is not None:
            metrics = {
                "algo": self.algo,
                **totals,
                "elapsed_s": time.time() - self._t0,
                "partitions": parts,
            }
            committed = self.checkpoint.commit_state(iteration, state, metrics)
            state = self.spark.read.parquet(committed)
        return state, totals
