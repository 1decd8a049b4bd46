"""Canonical graph derivations over the driver-provided testdata tables.

The driver's correctness gate runs each engine query on Spark AND an
oracle SQL string on DuckDB over the *same* parquet tables, so every
graph input used by a gated query must be derivable identically in both
engines.  This module owns those derivations, as literal SQL text shared
verbatim by the Spark side (temp views + ``spark.sql``) and the oracle
side (CTE prefix).

Two canonical graphs:

``interactions``  — bipartite typed edge stream ``customer -> part``
    (who bought what), the analogue of GraphJet's user->tweet edges
    (reference: graphjet-core/src/main/java/com/twitter/graphjet/
    bipartite/api/BipartiteGraph.java:38).  Columns
    ``(src, dst, edge_type, ts, weight, seq)`` where ``seq`` is a
    globally unique, deterministic insertion-order key — the analogue of
    GraphJet's chronological segment order (bipartite/
    MultiSegmentIterator.java:17-28) used for "latest K edges" caps.

``graph_edges``   — a directed, simple (deduplicated) web-like graph
    over a single id space, built by namespacing customer / order /
    part / supplier keys into disjoint ranges.  This is the input for
    the north-rule batch algorithms (PageRank, CC, LP, triangles).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)



def duck_memory_limit() -> str:
    """DuckDB ``memory_limit`` for the oracle side of the gate tools
    (check_correctness, probe_oracles, mirror_check): ``$GATE_DUCK_MEM``
    when set, else half of this machine's physical RAM.  DuckDB shares
    the box with the engine's JVM and spills past its limit; uncapped
    (default 80% of RAM) next to a large driver heap it overcommitted
    physical memory and got the gate OOM-killed at sf10."""
    env = os.environ.get("GATE_DUCK_MEM")
    if env:
        return env
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{ram // 2 >> 20}MiB"


# Disjoint id namespaces for the unified directed graph.  100M spacing
# keeps the ranges disjoint through ~sf60 (orderkeys grow ~1.5M per sf;
# at the old 1M spacing the order range collided with the part range
# from sf0.7 up, silently merging ~500k order/part nodes at sf1).
ORDER_OFS = 100_000_000
PART_OFS = 200_000_000
SUPP_OFS = 300_000_000

# Bipartite typed interactions: customer -> part.
# edge_type from l_returnflag (N=0, A=1, R=2) — the typed-edge slot of
# GraphJet's (left, right, edgeType) triples.
INTERACTIONS_SQL = """
SELECT
    CAST(o_custkey AS BIGINT)                 AS src,
    CAST(l_partkey AS BIGINT)                 AS dst,
    CAST(CASE l_returnflag WHEN 'N' THEN 0 WHEN 'A' THEN 1 ELSE 2 END AS INT)
                                              AS edge_type,
    l_shipdate                                AS ts,
    CAST(l_quantity AS DOUBLE)                AS weight,
    CAST(l_orderkey * 100 + l_linenumber AS BIGINT) AS seq
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
"""

# Directed simple graph over one id space (layered, with order->supplier
# shortcut edges so undirected triangles exist).
GRAPH_EDGES_SQL = f"""
SELECT CAST(o_custkey AS BIGINT) AS src,
       CAST(o_orderkey + {ORDER_OFS} AS BIGINT) AS dst
FROM orders
UNION ALL
SELECT DISTINCT CAST(l_orderkey + {ORDER_OFS} AS BIGINT),
       CAST(l_partkey + {PART_OFS} AS BIGINT)
FROM lineitem
UNION ALL
SELECT DISTINCT CAST(l_partkey + {PART_OFS} AS BIGINT),
       CAST(l_suppkey + {SUPP_OFS} AS BIGINT)
FROM lineitem
UNION ALL
SELECT DISTINCT CAST(l_orderkey + {ORDER_OFS} AS BIGINT),
       CAST(l_suppkey + {SUPP_OFS} AS BIGINT)
FROM lineitem
"""


# Part metadata dimension — the node_meta analogue over testdata
# (meta_type 0 = brand bucket, 1 = part-type bucket); dense ranks keep
# meta ids engine-independent (no hash functions shared across engines).
NODE_META_SQL = """
SELECT CAST(p_partkey AS BIGINT) AS id, 0 AS meta_type,
       CAST(DENSE_RANK() OVER (ORDER BY p_brand) AS BIGINT) AS meta_id
FROM part
UNION ALL
SELECT CAST(p_partkey AS BIGINT) AS id, 1 AS meta_type,
       CAST(DENSE_RANK() OVER (ORDER BY p_type) AS BIGINT) AS meta_id
FROM part
"""


def node_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    return spark.sql(NODE_META_SQL)


def oracle_cte() -> str:
    """CTE prefix (``WITH interactions AS (...), graph_edges AS (...)``)
    for DuckDB oracle SQL — byte-identical derivation text to the Spark
    side."""
    return (
        "WITH interactions AS MATERIALIZED (" + INTERACTIONS_SQL + "),\n"
        "graph_edges AS MATERIALIZED (" + GRAPH_EDGES_SQL + ")\n"
    )


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Read every testdata parquet table and register it as a temp view."""
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def interactions(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    return spark.sql(INTERACTIONS_SQL)


def graph_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    return spark.sql(GRAPH_EDGES_SQL)
