"""Iterative graph rank (PageRank power iteration) over a derived
entity graph.

Web-scale training corpora are routinely quality-weighted by link
centrality (CommonCrawl publishes harmonic-centrality / PageRank host
ranks, and corpus pipelines filter or sample by them), so a corpus
engine needs the iterative-rank primitive. The reference declares no
graph surface; this is an engine extension (SURVEY.md §2.3 G1),
demonstrated on the graph the fixtures contain: the supplier-customer
trading graph (an edge per distinct supplier→customer trading
relationship from lineitem ⋈ orders), made undirected so every node
has degree ≥ 1 and the walk needs no dangling-mass handling.

Determinism (SURVEY.md §2.4): the rank vector stays bit-identical
cross-engine by quantizing each node's incoming contribution to 12
decimals and accumulating as DECIMAL — the per-iteration sum is then
order-independent, and every other step (1/N, r/outdeg, damping) is
IEEE double arithmetic on identical inputs. The oracle replays the
same five iterations as chained CTEs.

Plan shape at 100 TB: edges and degrees are computed once and
checkpointed (they are reused every iteration — recomputing the
lineitem⋈orders distinct per iteration would scan the fact table 5×).
Each iteration is one edge⋈rank hash join (rank is node-sized —
broadcast when dims allow; here a shuffle join co-partitioned on the
node key) plus one dst-keyed aggregation: the classic Pregel-in-SQL
step. The driver loop is control-plane only — 5 plan builds, no data
to the driver; iter_checkpoint cuts the exponentially-growing lineage
exactly like q67_dedup_clusters' pointer-doubling loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import table
from ..registry import query
from ..session import iter_checkpoint
from ..functions import round_fp

_PR_ITERS = 5
_PR_DAMP = 0.85
_PR_TOPK = 50
# Customer node ids offset above supplier ids. 1e12 keeps the spaces
# disjoint for any realistic TPC-H scale (s_suppkey reaches 1e6 only at
# sf ~100, where a 1e6 base would silently merge nodes in both engines).
_PR_CUST_BASE = 1_000_000_000_000

_Q_PR_ORACLE = f"""
WITH rel AS (
  SELECT DISTINCT l.l_suppkey AS s, o.o_custkey AS c
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
edges AS (
  SELECT s AS src, {_PR_CUST_BASE} + c AS dst FROM rel
  UNION ALL
  SELECT {_PR_CUST_BASE} + c AS src, s AS dst FROM rel
),
deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
n AS (SELECT COUNT(*) AS n_nodes FROM deg),
r0 AS (SELECT src AS node, 1.0 / (SELECT n_nodes FROM n) AS r FROM deg),
{"".join(
    f'''r{k} AS (
  SELECT e.dst AS node,
    {1.0 - _PR_DAMP} / (SELECT n_nodes FROM n) + {_PR_DAMP} * CAST(
      SUM(CAST(round(p.r / d.outdeg, 12) AS DECIMAL(26,14))) AS DOUBLE) AS r
  FROM edges e
  JOIN r{k - 1} p ON e.src = p.node
  JOIN deg d ON e.src = d.src
  GROUP BY e.dst
),
'''
    for k in range(1, _PR_ITERS + 1)
)}ranked AS (
  SELECT r.node, r.r, d.outdeg
  FROM r{_PR_ITERS} r JOIN deg d ON r.node = d.src
)
SELECT * FROM (
  SELECT
    CAST(ROW_NUMBER() OVER (ORDER BY r DESC, node) AS BIGINT) AS rank,
    node,
    CASE WHEN node >= {_PR_CUST_BASE} THEN 'customer' ELSE 'supplier' END
      AS node_type,
    CAST(outdeg AS BIGINT) AS degree,
    round(r, 12) AS pagerank
  FROM ranked
)
WHERE rank <= {_PR_TOPK}
ORDER BY rank
"""


@query("r43_graph_pagerank", oracle=_Q_PR_ORACLE, tags=("G1", "graph"))
def r43_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five power iterations of PageRank (d=0.85) over the undirected
    supplier↔customer trading graph; returns the top-50 nodes by rank.

    See module docstring for the determinism and scale argument. The
    edge list + degree table are checkpointed once; each iteration is
    one co-partitioned hash join and one aggregation.
    """
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    rel = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select("l_suppkey", "o_custkey")
        .distinct()
    )
    edges = iter_checkpoint(
        rel.select(
            F.col("l_suppkey").alias("src"),
            (F.col("o_custkey") + _PR_CUST_BASE).alias("dst"),
        ).unionAll(
            rel.select(
                (F.col("o_custkey") + _PR_CUST_BASE).alias("src"),
                F.col("l_suppkey").alias("dst"),
            )
        )
    )
    deg = iter_checkpoint(
        edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    )
    # ONE scalar to the driver (round 13, r12-VERDICT item 3): n_nodes
    # fed every iteration through a crossJoin(broadcast(1-row agg)) —
    # a broadcast-exchange build per round for one number. Python and
    # the JVM divide the same IEEE binary64 operands identically, so
    # folding the division into a literal is bit-identical to the
    # oracle's (SELECT n_nodes FROM n) scalar subquery. An empty graph
    # has no node to rank: the guard only keeps the literals finite,
    # and every frame below stays empty.
    n_nodes = deg.count() or 1

    ranks = iter_checkpoint(
        deg.select(
            F.col("src").alias("node"), F.lit(1.0 / n_nodes).alias("r")
        )
    )
    # (src, dst, outdeg), reused every iteration — checkpointed once
    # (round 13): the edges⋈deg join used to re-run per round.
    ed = iter_checkpoint(edges.join(deg, "src"))
    for _ in range(_PR_ITERS):
        contrib = ed.join(ranks, ed.src == ranks.node).select(
            "dst",
            # round_fp == DuckDB round(v,12) by construction (scaled
            # magnitude <= 1e12 here) and skips the per-edge BigDecimal.
            round_fp(F.col("r") / F.col("outdeg"), 12)
            .cast("decimal(26,14)")
            .alias("cq"),
        )
        # NOTE (round 13): checkpointing every SECOND round was built
        # and measured — 3.52 s → 4.37 s warm at sf0.1 (the fused
        # two-round job pays the same exchanges in one longer
        # scheduling chain, saving only a cheap materialization) —
        # and reverted; the per-round cut stands.
        ranks = iter_checkpoint(
            contrib.groupBy("dst")
            .agg(F.sum("cq").alias("sq"))
            .select(
                F.col("dst").alias("node"),
                (
                    F.lit((1.0 - _PR_DAMP) / n_nodes)
                    + F.lit(_PR_DAMP) * F.col("sq").cast("double")
                ).alias("r"),
            )
        )

    ranked = ranks.join(deg, ranks.node == deg.src).select("node", "r", "outdeg")
    top = ranked.orderBy(F.col("r").desc(), "node").limit(_PR_TOPK)
    w = Window.orderBy(F.col("r").desc(), "node")
    return (
        top.withColumn("rank", F.row_number().over(w).cast("long"))
        .select(
            "rank",
            "node",
            F.when(F.col("node") >= _PR_CUST_BASE, "customer")
            .otherwise("supplier")
            .alias("node_type"),
            F.col("outdeg").cast("long").alias("degree"),
            # round_fp, not F.round: the contribution path already uses
            # the FP-scaled contract, and r*1e12 can exceed the ~1e9
            # threshold where BigDecimal HALF_UP diverges from the
            # oracle's FP-scaled round (docs/DETERMINISM.md).
            round_fp(F.col("r"), 12).alias("pagerank"),
        )
        .orderBy("rank")
    )
