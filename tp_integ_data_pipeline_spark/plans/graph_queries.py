"""Link-analysis queries (operators/graph.py): PageRank over a
supplier↔customer graph derived from lineitem ⋈ orders, and triangle
counting over the parts-bought-together graph. No reference-repo counterpart —
SURVEY.md §2.10 extension surface: the rank-side companion to the
connected-components dedup loop (web-graph authority signals feeding
corpus keep/drop decisions).

The oracle expresses the SAME fixed-iteration recurrence as five
chained CTE layers (aggregation inside a recursive CTE term is not
portable SQL) — every iteration of the Spark loop is hash-checked,
not just the fixed point."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tp_integ_data_pipeline_spark.operators.graph import pagerank, triangle_count
from tp_integ_data_pipeline_spark.plans.registry import query
from tp_integ_data_pipeline_spark.sources.fixtures import load_table

_ITERS = 5
_DAMPING = 0.85


def _oracle() -> str:
    head = """
    WITH pairs AS (
        SELECT DISTINCT l_suppkey + 10000000 AS s, o_custkey AS c
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    edges AS (
        SELECT s AS src, c AS dst FROM pairs
        UNION ALL
        SELECT c AS src, s AS dst FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    deg AS (SELECT src AS node, COUNT(*) AS deg FROM edges GROUP BY src),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    p0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS r FROM nodes)"""
    steps = []
    for i in range(1, _ITERS + 1):
        steps.append(f""",
    p{i} AS (
        SELECT n.node,
               {1.0 - _DAMPING} / (SELECT n FROM nn)
               + {_DAMPING} * COALESCE(SUM(p.r / d.deg), 0) AS r
        FROM nodes n
        LEFT JOIN edges e ON e.dst = n.node
        LEFT JOIN p{i - 1} p ON p.node = e.src
        LEFT JOIN deg d ON d.node = e.src
        GROUP BY n.node
    )""")
    return (
        head
        + "".join(steps)
        + f"""
    SELECT node, ROUND(r, 6) AS rank FROM p{_ITERS} ORDER BY node
    """
    )


@query("q141_pagerank", oracle=_oracle())
def q141_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five PageRank iterations on the symmetrized supplier↔customer
    trade graph. Spark loop shape (operators/graph.pagerank): per
    iteration ONE src-keyed equi-join + ONE dst-keyed map-side-combined
    rollup, dangling mass as an audited 1-row scalar broadcast, ranks
    lazily localCheckpoint'd so lineage stays O(1) — the CC-loop
    pattern. Symmetrized edges mean no dangling nodes here (that path
    contributes exactly 0 but is still planned and audited); the
    dangling redistribution itself is pytest-covered on a directed
    graph (tests/test_graph.py)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            (F.col("l_suppkey") + 10000000).alias("s"), F.col("o_custkey").alias("c")
        )
        .distinct()
    )
    edges = pairs.select(F.col("s").alias("src"), F.col("c").alias("dst")).unionByName(
        pairs.select(F.col("c").alias("src"), F.col("s").alias("dst"))
    )
    return (
        pagerank(edges, iters=_ITERS, damping=_DAMPING)
        .select("node", F.round("rank", 6).alias("rank"))
        .orderBy("node")
    )


# --------------------------------------------------------------------------
# q163 — triangle counting on the part co-occurrence graph
# --------------------------------------------------------------------------
@query(
    "q163_triangle_count",
    oracle="""
    WITH e AS (
        SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM e e1 JOIN e e2 ON e1.p2 = e2.p1 JOIN e e3
      ON e3.p1 = e1.p1 AND e3.p2 = e2.p2
    """,
)
def q163_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangles in the parts-bought-together graph. Edge construction
    is ROW-LOCAL (per-order sorted part set exploded into pairs — lines
    per order are bounded, never a fact self-join), and the count runs
    the degree-oriented algorithm (operators/graph.triangle_count):
    every node's out-adjacency is O(sqrt(m)) after orientation, so the
    wedge join survives celebrity parts at 100 TB. The oracle is the
    naive three-way self-join — fine at check scale, the contrast is
    the point."""
    li = load_table(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("ps")
    )
    pair_expr = F.expr(
        "flatten(transform(ps, (x, i) -> "
        "transform(slice(ps, i + 2, size(ps)), y -> struct(x AS src, y AS dst))))"
    )
    edges = (
        per_order.select(F.explode(pair_expr).alias("e"))
        .select("e.src", "e.dst")
        .distinct()
    )
    return triangle_count(edges)
