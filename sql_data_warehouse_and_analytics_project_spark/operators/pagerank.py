"""Weighted PageRank by power iteration — hash-verified trajectory.

Third member of the hash-verified iterative family (``lr.py`` =
supervised GD, ``kmeans.py`` = clustering): a FIXED round count makes
power iteration relationally expressible, so the DuckDB oracle unrolls
every round into MATERIALIZED chained CTEs and the driver hash-checks
the whole trajectory.

Graph: the customer↔supplier transaction graph — one symmetric weighted
edge per distinct (o_custkey, l_suppkey) trading pair, weight = number
of lineitems between them. Nodes are string-keyed (``c<key>`` /
``s<key>``; byte-wise string order is identical in Spark and DuckDB, so
ordered folds agree). Symmetric edges mean every node in the edge set
has out-edges — no dangling-mass term — and rank mass is conserved up
to float rounding.

Per round: r'(v) = 0.15/N + 0.85 · Σ_{u→v} r(u) · w(u,v)/W_out(u).

Cross-engine float discipline (the lr.py conventions): the incoming-
contribution sum folds in SORTED SRC ORDER (``fold="parity"``, what the
registered query pins); ``fold="scale"`` swaps it for a partial-
aggregating SUM — the production default. Spark keeps ranks a
DataFrame (eagerly localCheckpoint-ed per round so the plan does not
deepen with T) — ranks never touch the driver, so the same loop runs
with a trillion-node rank table; T is a constant.

No reference counterpart — graph-analytics extension (Page et al. 1999,
public).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..materialize import cached, checkpoint, released
from ..registry import query
from ..sources import tpch

_DAMP = 0.85
_T = 6  # power-iteration rounds (fixed → SQL-unrollable)


def trade_edges(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """(src, dst, w) symmetric weighted edges of the customer↔supplier
    trading graph: w = lineitem count of the pair, each pair emitted in
    both directions."""
    pairs = (
        orders.join(lineitem, orders["o_orderkey"] == lineitem["l_orderkey"])
        .groupBy(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("cnode"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("snode"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
    )
    fwd = pairs.select(F.col("cnode").alias("src"), F.col("snode").alias("dst"), "w")
    rev = pairs.select(F.col("snode").alias("src"), F.col("cnode").alias("dst"), "w")
    return fwd.unionByName(rev)


def pagerank(
    edges: DataFrame, iters: int = _T, damp: float = _DAMP, fold: str = "scale"
) -> DataFrame:
    """(node, rank) after ``iters`` weighted power-iteration rounds from
    the uniform start. ``edges`` must be closed under reversal (every
    node has out-edges) — trade_edges guarantees it; a general graph
    would add the standard dangling-mass term."""
    if fold not in ("parity", "scale"):
        raise ValueError(f"fold must be 'parity' or 'scale', got {fold!r}")
    with released():
        outw = edges.groupBy("src").agg(F.sum("w").alias("outw"))
        # normalized transition weight — computed once, reused every round
        trans = cached(
            edges.join(outw, "src").select("src", "dst", (F.col("w") / F.col("outw")).alias("p"))
        )
        nodes = cached(trans.select(F.col("src").alias("node")).distinct())
        n = nodes.count()
        if n == 0:  # empty graph: no node has a rank
            return nodes.select("node", F.lit(None).cast("double").alias("rank"))
        base = (1.0 - damp) / float(n)
        ranks = nodes.select("node", F.lit(1.0 / float(n)).alias("r"))
        for _ in range(iters):
            contribs = trans.join(
                ranks, trans["src"] == ranks["node"]
            ).select("dst", "src", (F.col("r") * F.col("p")).alias("c"))
            if fold == "parity":
                s = F.aggregate(
                    F.transform(
                        F.sort_array(F.collect_list(F.struct("src", "c"))),
                        lambda e: e["c"],
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            else:
                s = F.sum("c")
            # bound the plan depth at O(1) per round
            ranks = checkpoint(
                contribs.groupBy("dst")
                .agg((F.lit(base) + F.lit(damp) * s).alias("r"))
                .select(F.col("dst").alias("node"), "r"),
                "pagerank:round",
            )
    return ranks.select("node", F.round("r", 6).alias("rank")).orderBy("node")


def _pagerank_sql(iters: int = _T, damp: float = _DAMP) -> str:
    parts = [
        f"""WITH pairs AS MATERIALIZED (
  SELECT 'c' || CAST(o.o_custkey AS VARCHAR) AS cnode,
         's' || CAST(l.l_suppkey AS VARCHAR) AS snode,
         CAST(COUNT(*) AS DOUBLE) AS w
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  GROUP BY 1, 2
),
edges AS MATERIALIZED (
  SELECT cnode AS src, snode AS dst, w FROM pairs
  UNION ALL
  SELECT snode AS src, cnode AS dst, w FROM pairs
),
trans AS MATERIALIZED (
  SELECT src, dst, w / SUM(w) OVER (PARTITION BY src) AS p FROM edges
),
n AS (SELECT CAST(COUNT(DISTINCT src) AS DOUBLE) AS n_nodes FROM edges),
r0 AS MATERIALIZED (
  SELECT DISTINCT src AS node, 1.0 / (SELECT n_nodes FROM n) AS r FROM edges
)"""
    ]
    for t in range(iters):
        parts.append(f"""r{t + 1} AS MATERIALIZED (
  SELECT t.dst AS node,
         (1.0 - {damp!r}) / (SELECT n_nodes FROM n)
           + {damp!r} * list_reduce(list(r.r * t.p ORDER BY t.src),
                                    (a, b) -> a + b) AS r
  FROM trans t JOIN r{t} r ON t.src = r.node
  GROUP BY t.dst
)""")
    return (
        ",\n".join(parts)
        + f"\nSELECT node, ROUND(r, 6) AS rank FROM r{iters} ORDER BY node"
    )


_PAGERANK_SQL = _pagerank_sql()


@query("graph_pagerank_trade", oracle=_PAGERANK_SQL, defer=True)
def graph_pagerank_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the customer↔supplier trading graph, 6 rounds —
    every round's src-sorted contribution folds hash-checked through
    the unrolled oracle."""
    orders = tpch.load(spark, sf_dir, "orders")
    lineitem = tpch.load(spark, sf_dir, "lineitem")
    return pagerank(trade_edges(orders, lineitem), fold="parity")
