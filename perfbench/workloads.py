"""The benchmark's two workloads.

Each workload generates its inputs from the seed, runs in *passes* (one
pass is a fixed unit of work) until the requested seconds are used up,
and checks every output after the timed region.  Every call into an
engine layer goes through ``tracer.span`` so that a traced run can fold
the Spark event log into a per-layer table (see ``tracefold.py``).

Interface used by ``run.py``: ``setup()``, ``run_pass()`` returning
``[(layer, wall_s), ...]`` per operation, ``check()`` returning failure
messages, ``latencies(ops, passes)`` and ``rate(ops, passes)`` for the
end-to-end metrics, ``close()``, and the attributes ``rows_out``,
``output_mb`` and ``requests`` for the per-layer extras.
"""

from __future__ import annotations

import http.client
import json
import os
import statistics
import threading
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from graphjet_spark.operators.secondary import top_second_degree_by_count
from graphjet_spark.operators.socialproof import social_proof
from graphjet_spark.plans.build_edges import build_edges
from graphjet_spark.plans.components import connected_components
from graphjet_spark.plans.context import GraphTables
from graphjet_spark.plans.labelprop import label_propagation
from graphjet_spark.plans.pagerank import pagerank
from graphjet_spark.plans.salsa import salsa
from graphjet_spark.plans.triangles import triangle_count
from graphjet_spark.serve import QueryServer
from graphjet_spark.sources import testdata
from graphjet_spark.sources.committer import commit_staged
from graphjet_spark.sources.pages import TIERS, CorpusSpec, synthesize_pages
from tools import mirror_check

# The gated queries' iteration counts (__spark_entry__.PR_ITERS etc.).
PR_ITERS, CC_ITERS, LP_ITERS = 10, 12, 5


def _dir_mb(path: str) -> float:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    ) / 1e6


class CrawlToRank:
    """pages → link extraction → GraphTables → PageRank, hash-min CC,
    label propagation, triangles → ranks committed through the staged
    sink.  One pass is the whole pipeline.  Each stage's output is fully
    materialized with ``localCheckpoint(eager=True)``, which (unlike a
    noop sink) keeps it for the checks."""

    name = "crawl-to-rank"
    N_PAGES = 5_000

    def __init__(self, spark, tracer, work: str, seed: int):
        self.spark, self.tracer, self.work, self.seed = spark, tracer, work, seed
        self.rows_out, self.output_mb, self.requests = 0, 0.0, []
        self.n_pairs = 0

    def _stage_pages(self, n_pages: int, seed: int, tag: str):
        pages, truth = synthesize_pages(CorpusSpec(n_pages, seed=seed))
        os.makedirs(self.work, exist_ok=True)
        path = os.path.join(self.work, f"pages_{tag}.parquet")
        pages.to_parquet(path)
        return path, truth

    def setup(self) -> None:
        self.pages_path, self.truth = self._stage_pages(
            self.N_PAGES, self.seed, "main"
        )
        # warm-up: the ingest layers once on the "tiny" tier — starts
        # the Arrow Python workers and compiles the scan, hash, distinct
        # and aggregate code that the timed pass reuses
        warm_path, _ = self._stage_pages(TIERS["tiny"], self.seed + 1, "warm")
        with self.tracer.span("plans.build_edges"):
            edges = build_edges(self.spark.read.parquet(warm_path))
            edges = edges.localCheckpoint(eager=True)
        with self.tracer.span("plans.context"):
            GraphTables(edges)

    def run_pass(self) -> list[tuple[str, float]]:
        spark, t = self.spark, self.tracer
        n0 = len(t.spans)
        with t.span("plans.build_edges"):
            pages = spark.read.parquet(self.pages_path)
            edges = build_edges(pages).localCheckpoint(eager=True)
        with t.span("plans.context"):
            tables = GraphTables(edges)
        with t.span("plans.pagerank", PR_ITERS):
            ranks = pagerank(spark, tables.pairs, fixed_iters=PR_ITERS)
            ranks = ranks.localCheckpoint(eager=True)
        with t.span("plans.components", CC_ITERS):
            cc = connected_components(spark, tables.pairs, fixed_iters=CC_ITERS)
            cc = cc.localCheckpoint(eager=True)
        with t.span("plans.labelprop", LP_ITERS):
            lp = label_propagation(spark, tables.pairs, iters=LP_ITERS)
            lp = lp.localCheckpoint(eager=True)
        with t.span("plans.triangles"):
            tri = int(triangle_count(spark, tables.pairs).collect()[0][0])
        ranks_path = os.path.join(self.work, "ranks")
        with t.span("sources.committer"):
            commit_staged(ranks_path, "overwrite", ranks.write.parquet)
        self.out = dict(edges=edges, cc=cc, lp=lp, tri=tri, ranks=ranks_path)
        return [(s.layer, s.end - s.start) for s in t.spans[n0:]]

    def latencies(self, ops, passes) -> list[float]:
        """A batch job's unit of work is the whole pipeline run."""
        return passes

    def rate(self, ops, passes) -> float:
        """PageRank edge-supersteps per second (the BASELINE north
        metric), over the median PageRank wall of the timed passes."""
        pr = statistics.median(s for k, s in ops if k == "plans.pagerank")
        return self.n_pairs * PR_ITERS / pr

    def check(self) -> list[str]:
        """The last pass's outputs: the link multiset against the
        corpus's ``true_links``, then every algorithm against its
        independent numpy mirror (``tools/mirror_check.py``) at that
        tool's bars.  The mirrors run over the distinct pairs taken from
        the verified link rows in numpy, not from ``GraphTables``."""
        fails: list[str] = []
        e = self.out["edges"].select("src", "dst", "src_url", "dst_url").toPandas()
        self.rows_out = len(e)
        cols = ["src_url", "dst_url"]
        got = e[cols].sort_values(cols).reset_index(drop=True)
        want = self.truth[cols].sort_values(cols).reset_index(drop=True)
        if not got.equals(want):
            fails.append("build_edges: link multiset differs from true_links")
        ids = pd.DataFrame(
            {
                "url": np.concatenate([e["src_url"], e["dst_url"]]),
                "id": np.concatenate([e["src"], e["dst"]]),
            }
        ).drop_duplicates()
        if not len(ids) == ids["url"].nunique() == ids["id"].nunique():
            fails.append("build_edges: url -> id is not one-to-one")
        pairs = np.unique(np.stack([e["src"], e["dst"]]), axis=1)
        self.n_pairs = pairs.shape[1]
        uids, srci, dsti = mirror_check._compact(pairs[0], pairs[1])

        pr = self.spark.read.parquet(self.out["ranks"]).toPandas()
        self.output_mb = _dir_mb(self.out["ranks"])
        got, err = mirror_check._scatter(
            uids, pr["id"].to_numpy(), pr["pagerank"].to_numpy(), np.nan
        )
        want = mirror_check.mirror_pagerank(uids, srci, dsti, PR_ITERS)
        if err or np.isnan(got).any():
            fails.append(f"pagerank: vertex sets differ ({err})")
        elif not np.abs(got - want).max() < mirror_check.PR_TOL:
            fails.append(f"pagerank: max|diff|={np.abs(got - want).max():.3e}")

        for name, col, want in (
            ("cc", "component", mirror_check.mirror_cc(uids, srci, dsti)),
            ("lp", "label", mirror_check.mirror_lp(uids, srci, dsti, LP_ITERS)),
        ):
            df = self.out[name].toPandas()
            got, err = mirror_check._scatter(
                uids, df["id"].to_numpy(), df[col].to_numpy(), np.int64(-1)
            )
            if err or not np.array_equal(got, want):
                fails.append(f"{name}: labels differ from the mirror ({err})")
        want_tri = mirror_check.mirror_triangles(uids, srci, dsti)
        if self.out["tri"] != want_tri:
            fails.append(f"triangles: engine {self.out['tri']} != mirror {want_tri}")
        return fails

    def close(self) -> None:
        pass


def _stage_interactions(work: str, seed: int):
    """orders + lineitem parquet at the sf0.1 testdata shape (15k
    customers, 20k parts, 150k orders, ~600k lines), drawn from ``seed``
    the way ``tools/synth_sf.py`` draws them.  Returns the (customer,
    part, edge_type) of every line for the request draws."""
    rng = np.random.default_rng(seed)
    n_cust, n_part, n_ord = 15_000, 20_000, 150_000
    ok = np.arange(n_ord, dtype=np.int64)
    o_cust = rng.integers(0, n_cust, n_ord)
    o_days = rng.integers(0, 2404, n_ord)
    lines = rng.integers(1, 8, n_ord)
    l_ord = np.repeat(ok, lines)
    n_li = len(l_ord)
    l_num = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    l_part = rng.integers(0, n_part, n_li)
    flag = rng.integers(0, 3, n_li)  # N/A/R -> edge_type 0/1/2
    ship_day = np.repeat(o_days, lines) + rng.integers(1, 96, n_li)
    os.makedirs(work, exist_ok=True)
    pq.write_table(
        pa.table({"o_orderkey": ok, "o_custkey": o_cust}),
        os.path.join(work, "orders.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "l_orderkey": l_ord,
                "l_partkey": l_part,
                "l_linenumber": l_num.astype(np.int32),
                "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
                "l_returnflag": np.array(["N", "A", "R"])[flag],
                "l_shipdate": np.datetime64("1995-01-01", "D")
                + ship_day.astype("timedelta64[D]"),
            }
        ),
        os.path.join(work, "lineitem.parquet"),
    )
    return np.repeat(o_cust, lines), l_part, flag


def _top(ids: np.ndarray, k: int) -> np.ndarray:
    """The k highest-degree ids, ties to the smaller id."""
    uniq, deg = np.unique(ids, return_counts=True)
    return uniq[np.lexsort((uniq, -deg))][:k]


def _request(port: int, name: str, limit: int) -> tuple[int, bytes]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=170)
    try:
        conn.request("GET", f"/query/{name}?limit={limit}")
        resp = conn.getresponse()
        return resp.status, resp.read()
    except OSError as exc:
        return 0, str(exc).encode()
    finally:
        conn.close()


class RecMix:
    """Closed loop of 2 HTTP clients against ``serve.QueryServer``
    (``materialize=False``).  One pass is four rotations of the 1:1:1
    mix of second-degree counting, social proof and SALSA, each request a
    pre-drawn registry closure whose query nodes come from the seed
    among the 2,000 highest-degree customers and parts, so no two
    requests are identical and no result cache can hit."""

    name = "rec-mix"
    CLIENTS = 2
    KINDS = ("operators.secondary", "operators.socialproof", "plans.salsa")
    MAX_ROWS = 20

    def __init__(self, spark, tracer, work: str, seed: int):
        self.spark, self.tracer, self.work, self.seed = spark, tracer, work, seed
        self.rng = np.random.default_rng(seed)
        self.rows_out, self.output_mb = 0, 0.0
        self.requests: list[tuple[str, float]] = []  # (job group, latency)
        self.responses: list[dict] = []
        self.registry: dict = {}
        self._groups: dict[str, str] = {}

    def setup(self) -> None:
        spark = self.spark
        cust, part, etype = _stage_interactions(self.work, self.seed)
        self.top_cust = _top(cust, 2000)
        self.top_part = _top(part, 2000)
        # each top customer's proof-eligible (type 0/1) parts, so social
        # proof inputs always have proof
        keep = np.isin(cust, self.top_cust) & (etype < 2)
        self.proofable = (
            pd.DataFrame({"c": cust[keep], "p": part[keep]})
            .groupby("c")["p"]
            .apply(np.unique)
            .to_dict()
        )
        for t in ("orders", "lineitem"):
            spark.read.parquet(
                os.path.join(self.work, f"{t}.parquet")
            ).createOrReplaceTempView(t)
        with self.tracer.span("plans.context"):
            self.inter = spark.sql(testdata.INTERACTIONS_SQL).localCheckpoint(
                eager=True
            )
            # SALSA walks the bipartite part -> customer view
            self.tables = GraphTables(
                self.inter.select(
                    F.col("dst").alias("src"), F.col("src").alias("dst")
                )
            )
        self.server = QueryServer(
            spark, self.work, registry=self.registry, materialize=False
        ).start()
        self.run_pass(rotations=1)  # warm-up, untimed and unchecked
        self.requests.clear()
        self.responses.clear()

    def close(self) -> None:
        self.server.stop()

    def _closure(self, name: str, kind: str):
        """Draw one request's query nodes now; return its registry entry."""
        rng, span = self.rng, self.tracer.span
        users = [int(c) for c in rng.choice(self.top_cust, 3, replace=False)]
        if kind == "operators.secondary":
            seeds = dict.fromkeys(users, 1.0)

            def plan():
                return top_second_degree_by_count(
                    self.inter, seeds, max_results=self.MAX_ROWS
                ).select("id", F.col("weight").alias("score"))

        elif kind == "operators.socialproof":
            seeds = dict(zip(users, (1.0, 2.0, 0.5)))
            cand = np.unique(np.concatenate([self.proofable[c] for c in users]))
            inputs = [int(p) for p in rng.choice(cand, 4, replace=False)]

            def plan():
                return social_proof(
                    self.inter, inputs, seeds, proof_types=[0, 1]
                ).select("id", F.col("weight").alias("score"))

        else:
            q, *s = (int(p) for p in rng.choice(self.top_part, 3, replace=False))

            def plan():
                return salsa(
                    self.tables.pairs,
                    query_node=q,
                    seeds_with_weight=dict.fromkeys(s, 1.0),
                    max_results=self.MAX_ROWS,
                ).select("id", "score")

        def closure(_spark, _sf_dir):
            # runs on the server's handler thread (one per request),
            # which then collects the returned frame under the same group
            with span(kind, keep_group=True) as group:
                self._groups[name] = group
                return plan()

        return closure

    def run_pass(self, rotations: int = 4) -> list[tuple[str, float]]:
        """Serve ``rotations`` rotations of the mix from one queue that
        both clients pull from.  The queue holds the short requests
        first and the SALSA requests last, so each request overlaps the
        same kind of neighbour in every pass: short with short, SALSA
        with SALSA."""
        todo = []
        for kind in self.KINDS[:2] * rotations + self.KINDS[2:] * rotations:
            name = f"r{len(self.registry):05d}"
            self.registry[name] = self._closure(name, kind)
            todo.append((name, kind))
        lock = threading.Lock()
        done: list[dict] = []

        def client():
            while True:
                with lock:
                    if not todo:
                        return
                    name, kind = todo.pop(0)
                t0 = time.perf_counter()
                status, body = _request(self.server.port, name, self.MAX_ROWS)
                r = dict(name=name, kind=kind, status=status, body=body,
                         latency=time.perf_counter() - t0)
                with lock:
                    done.append(r)

        threads = [threading.Thread(target=client) for _ in range(self.CLIENTS)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        self.responses += done
        self.requests += [
            (self._groups.get(r["name"], ""), r["latency"]) for r in done
        ]
        return [(r["kind"], r["latency"]) for r in done]

    def latencies(self, ops, passes) -> list[float]:
        """Client-side latency of every timed request."""
        return [s for _, s in ops]

    def rate(self, ops, passes) -> float:
        """Requests served per second of the timed passes."""
        return len(ops) / sum(passes)

    def check(self) -> list[str]:
        """Every response is HTTP 200 with 1..20 rows in the operator's
        order: scores non-increasing for second-degree counting and
        SALSA; for social proof one row per input node, ids ascending,
        each with positive proof weight (inputs are drawn among the
        seeds' type-0/1 neighbours, so each has proof)."""
        fails: list[str] = []
        for r in self.responses:
            if r["status"] != 200:
                fails.append(f"{r['kind']}: HTTP {r['status']}")
                continue
            rows = json.loads(r["body"])["rows"]
            scores = [row["score"] for row in rows]
            if not 0 < len(rows) <= self.MAX_ROWS:
                fails.append(f"{r['kind']}: {len(rows)} rows")
            elif r["kind"] == "operators.socialproof":
                ids = [row["id"] for row in rows]
                if len(rows) != 4 or ids != sorted(ids) or min(scores) <= 0:
                    fails.append("operators.socialproof: missing proof or order")
            elif any(a < b for a, b in zip(scores, scores[1:])):
                fails.append(f"{r['kind']}: scores increase")
        return fails
