"""Graph-analytics queries (operators/graph.py) over the part
co-purchase graph: parts are linked when they appear together in at
least 2 orders — a sparse, organically-clustered projection of the
order-lineitem bipartite graph (the same co-occurrence construction
market-basket analysis uses) — and PageRank over the customer->supplier
purchase graph (operators/pagerank.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_poc_spark.io import load_table
from etl_poc_spark.registry import query

_CO_EDGES_SQL = """
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
      HAVING COUNT(DISTINCT a.l_orderkey) >= 2
"""


def _co_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(F.col("l_orderkey"), F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("ok2"), F.col("l_partkey").alias("v"))
    return (
        a.join(b, (a.l_orderkey == b.ok2) & (F.col("u") < F.col("v")))
        .groupBy("u", "v")
        .agg(F.countDistinct("l_orderkey").alias("n"))
        .where(F.col("n") >= 2)
        .select("u", "v")
    )


@query(
    "part_copurchase_triangles",
    oracle=f"""
    WITH e AS ({_CO_EDGES_SQL}),
    deg AS (
      SELECT x, COUNT(*) AS d FROM (
        SELECT u AS x FROM e UNION ALL SELECT v FROM e
      ) GROUP BY x
    ),
    tri AS (
      SELECT COUNT(*) AS t
      FROM e e1 JOIN e e2 ON e1.v = e2.u
                JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_vertices,
           CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges,
           CAST((SELECT t FROM tri) AS BIGINT) AS n_triangles,
           CAST((SELECT SUM(d * (d - 1)) / 2 FROM deg) AS BIGINT) AS n_wedges,
           3 * CAST((SELECT t FROM tri) AS DOUBLE)
             / NULLIF(CAST((SELECT SUM(d * (d - 1)) / 2 FROM deg) AS BIGINT), 0)
             AS global_clustering
    """,
)
def part_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle census + transitivity of the part co-purchase
    graph. The operator degree-orders the edges before the wedge join
    (apex out-degree O(sqrt E) — hub-proof), while the oracle counts the
    same triangles with the naive a<b<c formulation: identical integers
    either way, which is the point of orientation-invariant counting.
    Edge building is one orderkey self-join with a countDistinct
    threshold; everything downstream is vertex-keyed equi-joins."""
    from etl_poc_spark.operators.graph import triangle_stats

    return triangle_stats(_co_edges(spark, sf_dir))


@query(
    "part_clustering_top",
    oracle=f"""
    WITH e AS ({_CO_EDGES_SQL}),
    deg AS (
      SELECT x AS vertex, COUNT(*) AS degree FROM (
        SELECT u AS x FROM e UNION ALL SELECT v FROM e
      ) GROUP BY x
    ),
    tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM e e1 JOIN e e2 ON e1.v = e2.u
                JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    tv AS (
      SELECT vertex, COUNT(*) AS n_triangles FROM (
        SELECT a AS vertex FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
      ) GROUP BY vertex
    )
    SELECT d.vertex, CAST(d.degree AS BIGINT) AS degree,
           CAST(COALESCE(tv.n_triangles, 0) AS BIGINT) AS n_triangles,
           2 * CAST(COALESCE(tv.n_triangles, 0) AS DOUBLE)
             / NULLIF(d.degree * (d.degree - 1), 0) AS clustering
    FROM deg d LEFT JOIN tv USING (vertex)
    ORDER BY clustering DESC NULLS LAST, d.vertex
    LIMIT 20
    """,
)
def part_clustering_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 most clustered parts of the co-purchase graph by local
    clustering coefficient (operators/graph.py::local_clustering —
    triangle corners exploded onto one vertex-keyed aggregate; exact
    integer attribution, single double division; vertex tie-break makes
    the limit deterministic)."""
    from etl_poc_spark.operators.graph import local_clustering

    return (
        local_clustering(_co_edges(spark, sf_dir))
        .orderBy(F.desc_nulls_last("clustering"), F.asc("vertex"))
        .limit(20)
    )


@query(
    "part_copurchase_kcore",
    oracle=f"""
    WITH RECURSIVE e AS MATERIALIZED ({_CO_EDGES_SQL}
    ), peel(r, u, v) AS (
      SELECT 0, u, v FROM e
      UNION ALL
      SELECT r + 1, p.u, p.v FROM peel p
      WHERE r < 25
        AND p.u IN (SELECT x FROM (SELECT u AS x FROM peel
                                   UNION ALL SELECT v FROM peel)
                    GROUP BY x HAVING COUNT(*) >= 3)
        AND p.v IN (SELECT x FROM (SELECT u AS x FROM peel
                                   UNION ALL SELECT v FROM peel)
                    GROUP BY x HAVING COUNT(*) >= 3)
    ), last AS (
      SELECT u, v FROM peel WHERE r = (SELECT MAX(r) FROM peel)
    ), core AS (
      SELECT u, v FROM last
      WHERE u IN (SELECT x FROM (SELECT u AS x FROM last
                                 UNION ALL SELECT v FROM last)
                  GROUP BY x HAVING COUNT(*) >= 3)
        AND v IN (SELECT x FROM (SELECT u AS x FROM last
                                 UNION ALL SELECT v FROM last)
                  GROUP BY x HAVING COUNT(*) >= 3)
    )
    SELECT vertex, CAST(COUNT(*) AS BIGINT) AS core_degree
    FROM (SELECT u AS vertex FROM core UNION ALL SELECT v FROM core)
    GROUP BY vertex
    ORDER BY vertex
    """,
)
def part_copurchase_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 3-core of the part co-purchase graph (operators/graph.py::
    k_core — iterative parallel peeling, eager per-round checkpoint,
    1-long convergence probe per round): the mutually-dense backbone
    left after stripping weakly-attached parts. Output (vertex,
    core_degree), ordered.

    Oracle (pin→oracle conversion, r14 verdict ask #3): the peel is a
    recursive CTE — each round keeps edges whose BOTH endpoints have
    degree >= 3 within the previous round's edge set (DuckDB allows
    aggregating the recursive reference in subqueries). Recursion either
    reaches the fixpoint and re-emits it until the r<25 guard, or dies
    when a round empties; `last` therefore holds the final NON-EMPTY
    round, and one explicit extra peel over it yields the true core even
    when that core is empty (sf0.1's 3-core is). 25 rounds is 2.5x the
    deepest measured convergence (10 rounds at sf0.01; 1 at sf0.1); a
    deeper graph would FAIL the gate loudly, never silently pass."""
    from etl_poc_spark.operators.graph import k_core

    return k_core(_co_edges(spark, sf_dir), k=3)


def _pagerank_oracle_sql(n_iter: int = 5, damping: str = "CAST(0.85 AS DOUBLE)") -> str:
    """Unrolled power-method oracle (the unrolled-Lloyd pattern): one CTE
    pair (contribution sum + dangling mass) per iteration, arithmetic
    mirroring operators/pagerank.py term by term — constants cast to
    DOUBLE so DuckDB's decimal literals don't produce a different binary
    0.15 than Python's `1.0 - 0.85`. The only cross-engine divergence is
    SUM association order (~1e-16 relative), absorbed by the query's
    round(rank, 9) — which is WHY the emitted rank is rounded."""
    parts = [
        """
    WITH e AS MATERIALIZED (
      SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
             's' || CAST(l_suppkey AS VARCHAR) AS dst
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ), verts AS MATERIALIZED (
      SELECT src AS vertex FROM e UNION SELECT dst FROM e
    ), nv AS (
      SELECT COUNT(*) AS n FROM verts
    ), outdeg AS MATERIALIZED (
      SELECT src, COUNT(*) AS deg FROM e GROUP BY src
    ), pr0 AS (
      SELECT vertex, CAST(1 AS DOUBLE) / nv.n AS rank FROM verts CROSS JOIN nv
    )"""
    ]
    for i in range(1, n_iter + 1):
        p = f"pr{i - 1}"
        parts.append(f"""
    , contrib{i} AS (
      SELECT e.dst AS vertex, SUM(p.rank / od.deg) AS s
      FROM {p} p JOIN outdeg od ON od.src = p.vertex
      JOIN e ON e.src = p.vertex
      GROUP BY e.dst
    ), dang{i} AS (
      SELECT COALESCE(SUM(p.rank), CAST(0 AS DOUBLE)) AS m
      FROM {p} p LEFT JOIN outdeg od ON od.src = p.vertex
      WHERE od.src IS NULL
    ), pr{i} AS (
      SELECT v.vertex,
             (CAST(1 AS DOUBLE) - {damping}) / nv.n
             + {damping} * d.m / nv.n
             + {damping} * COALESCE(c.s, CAST(0 AS DOUBLE)) AS rank
      FROM verts v CROSS JOIN nv CROSS JOIN dang{i} d
      LEFT JOIN contrib{i} c ON c.vertex = v.vertex
    )""")
    parts.append(f"""
    SELECT vertex, round(rank, 9) AS rank
    FROM pr{n_iter}
    WHERE vertex LIKE 's%'
    ORDER BY round(rank, 9) DESC, vertex
    LIMIT 20
    """)
    return "".join(parts)


@query("supplier_pagerank", oracle=_pagerank_oracle_sql(5))
def supplier_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the bipartite customer->supplier purchase graph
    (edge = customer bought from supplier, via orders x lineitem):
    supplier centrality weighted by how central their customers are —
    the iterative-algorithm tier (power method, operators/pagerank.py)
    exercised on relational data. Top 20 suppliers by rounded rank."""
    from etl_poc_spark.operators.pagerank import pagerank

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    # parallel edges count once inside pagerank (its adjacency is a set)
    edges = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
    )
    ranks = pagerank(edges, n_iter=5).withColumn("rank", F.round("rank", 9))
    return (
        ranks.where(F.col("vertex").startswith("s"))
        .orderBy(F.desc("rank"), F.asc("vertex"))
        .limit(20)
    )
