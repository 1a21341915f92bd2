"""Graph-analytics tier: iterative algorithms beyond connected components.

A web-scale corpus pipeline ranks *sources* (domains, hosts, feeds) by link
authority before per-document quality scoring — the Common-Crawl-style
harmonic/PageRank centrality pass.  The driver tables carry no link data, so
the queries here synthesize a deterministic 3-out-degree multigraph over the
``documents`` table (identically on both engines) and rank it.

The interesting verification problem is FLOAT DRIFT: after five damped
iterations a rank is a sum of thousands of float terms whose addition order
differs between Spark and DuckDB, so a double-valued PageRank can never
hash-match.  The transposition here makes the iteration EXACT INTEGER
arithmetic instead: with uniform out-degree 3 and damping 17/20, scaling
iteration t's ranks by n*60^t turns the update into

    num[t+1][v] = 9 * 60^t  +  17 * SUM(num[t][u] for edges u -> v)

(the /3 out-degree split and the *17/20 damping are absorbed exactly:
0.85/3 * 60 = 17, 0.15/n * n*60^(t+1) = 9*60^t).  Every value stays int64
(total mass is exactly n*60^t <= ~8e15 for n <= 10^7 at t=5), so both
engines agree bit-for-bit and the driver's value hash is a REAL check of an
iterative distributed algorithm.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from moira_spark.harness import load, register

_PR_ITERS = 5
# edge salt j: dst = (src^2*31 + src*48271 + j*9973) mod n.  The QUADRATIC
# term matters: an affine map src*a+b is a bijection whenever gcd(a, n) = 1,
# which makes every in-degree exactly 3 and leaves PageRank exactly uniform
# — a hash check that any mass-preserving no-op would pass.  The quadratic
# collapses residues, so in-degrees range 0..8+ and the ranks genuinely
# spread (verified non-uniform in tests).
_PR_OUT = (1, 2, 3)


def _pagerank_sql() -> str:
    """Unrolled-CTE oracle: 5 exact-integer PageRank iterations.  DuckDB has
    recursive CTEs, but UNION-recursion dedups rows and iteration-counter
    variants obscure the check; five unrolled LEFT JOIN + GROUP BY stages
    are the same plan shape the Spark side runs."""
    edges = " UNION ALL ".join(
        f"SELECT doc_id AS src,"
        f" (doc_id * doc_id * 31 + doc_id * 48271 + {j} * 9973)"
        f" % (SELECT n FROM nn) AS dst"
        f" FROM documents"
        for j in _PR_OUT
    )
    sql = f"""
    WITH nn AS (SELECT COUNT(*) AS n FROM documents),
    nodes AS (SELECT doc_id AS v FROM documents),
    edges AS ({edges}),
    r0 AS (SELECT v, CAST(1 AS BIGINT) AS num FROM nodes)"""
    for t in range(_PR_ITERS):
        sql += f""",
    r{t + 1} AS (
      SELECT nodes.v,
             CAST(9 * {60 ** t} + 17 * COALESCE(SUM(r{t}.num), 0) AS BIGINT)
               AS num
      FROM nodes
      LEFT JOIN edges ON edges.dst = nodes.v
      LEFT JOIN r{t} ON r{t}.v = edges.src
      GROUP BY nodes.v
    )"""
    sql += f"""
    SELECT v AS doc_id, num AS rank_fp FROM r{_PR_ITERS}
    """
    return sql


@register("graph_pagerank", _pagerank_sql())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Damped PageRank (d = 0.85), {iters} iterations, over a deterministic
    3-out-degree multigraph on the documents table — exact int64 arithmetic
    throughout (module docstring derives the 9/17/60 constants), so the
    final ranks hash-match DuckDB's unrolled-CTE evaluation bit-for-bit.

    Scale shape: each iteration is one equi-join (edges.src = ranks.v) and
    one groupBy(dst) SUM — the standard distributed PageRank round.  Both
    frames are corpus-sized, so the join is an UNHINTED shuffle join
    (never broadcast; AQE may choose better when n is small) and the
    aggregate combines map-side.  Lineage is cut with an eager
    localCheckpoint per round, the same discipline as k-means — five
    rounds of join-on-join otherwise compounds the plan.  In-query
    hard-fail: total mass after t rounds must equal n * 60^t EXACTLY
    (conservation under the integer update) — any lost or duplicated edge
    contribution breaks it.
    """
    docs = load(spark, sf_dir, "documents")
    n = docs.count()
    nodes = docs.select(F.col("doc_id").alias("v"))
    edges = (
        docs.select(
            F.col("doc_id").alias("src"),
            F.explode(F.array(*[F.lit(j) for j in _PR_OUT])).alias("j"),
        )
        .select(
            "src",
            (
                (
                    F.col("src") * F.col("src") * 31
                    + F.col("src") * 48271
                    + F.col("j") * 9973
                )
                % n
            ).alias("dst"),
        )
        .localCheckpoint(eager=True)  # reused every round
    )
    ranks = nodes.select("v", F.lit(1).cast("bigint").alias("num"))
    for t in range(_PR_ITERS):
        contrib = (
            edges.join(ranks, edges["src"] == ranks["v"])
            .groupBy("dst")
            .agg(F.sum("num").alias("inflow"))
        )
        ranks = (
            nodes.join(contrib, nodes["v"] == contrib["dst"], "left")
            .select(
                "v",
                (
                    F.lit(9 * 60**t)
                    + 17 * F.coalesce(F.col("inflow"), F.lit(0))
                )
                .cast("bigint")
                .alias("num"),
            )
            .localCheckpoint(eager=True)
        )
    total = ranks.agg(F.sum("num")).collect()[0][0]
    if total != n * 60**_PR_ITERS:
        raise AssertionError(
            f"pagerank mass not conserved: {total} != n*60^t = "
            f"{n * 60 ** _PR_ITERS} — an edge contribution was lost or "
            "double-counted"
        )
    return ranks.select(F.col("v").alias("doc_id"), F.col("num").alias("rank_fp"))


graph_pagerank.__doc__ = graph_pagerank.__doc__.format(iters=_PR_ITERS)
