"""Distributed graph analytics over edge DataFrames: PageRank.

Complements reasoner/fixpoint.py (semi-naive closure) with the classic
iterative rank computation, used in curation for link-graph quality signals
(e.g. harvesting a crawl frontier's authority scores).

Determinism: floating PageRank is NOT reproducible distributed (the
per-node contribution sum order varies with partitioning). Ranks here
are integer micro-units (1.0 == 10^6): contributions use integer floor
division, the damping step is integer arithmetic, and BIGINT sums are
exact in any order — so the result is bit-identical across engines,
partitionings, and reruns, and the oracle is plain unrolled SQL.
(The floored remainders leak a bounded ~deg/10^6 of mass per node per
iteration — the standard price of fixed-point PageRank; raise SCALE if
it matters.)

Scale shape (per iteration): edges join ranks on src (shuffle on src,
or none if edges are pre-partitioned by src and reused each round),
one map-side-combined aggregation on dst, a left join back to the node
set for dangling nodes. localCheckpoint per round truncates the plan so
iteration N doesn't recompile N copies of the lineage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCALE = 1_000_000


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 5,
    damping_pct: int = 85,
) -> DataFrame:
    """Fixed-point PageRank over a directed edge list. Returns
    ``(node, rank_int)`` — rank in micro-units; divide by ``SCALE`` for
    the float rank. ``damping_pct`` is the damping factor in percent
    (integer, to stay in exact arithmetic).

    The node set and the degree-annotated edge list are materialized
    ONCE (localCheckpoint — cluster equivalent: checkpoint/cache); the
    per-iteration plan is then exactly one join + one aggregation + one
    left join, checkpointed per round so lineage stays flat."""
    edges = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    # pre-join degree once; reused every iteration
    ed = edges.join(deg, "src").localCheckpoint(eager=True)
    base = (100 - damping_pct) * SCALE // 100
    ranks = nodes.withColumn("rank_int", F.lit(SCALE).cast("long"))
    for i in range(iterations):
        contrib = ed.join(ranks, ed.src == ranks.node).select(
            F.col("dst"), F.expr("rank_int div deg").alias("c")
        )
        incoming = contrib.groupBy("dst").agg(F.sum("c").alias("inc"))
        ranks = (
            nodes.join(incoming, nodes.node == incoming.dst, "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.expr(
                        f"({damping_pct} * coalesce(inc, 0L)) div 100"
                    )
                ).cast("long").alias("rank_int"),
            )
        )
        if i + 1 < iterations:
            # LAZY (r12, guide §1.2): the mark still truncates lineage
            # once computed, but no blocking job runs per round — the
            # caller's single action computes the whole round chain,
            # persisting each intermediate as it goes (a shuffle boundary
            # computes every partition, so each mark materializes fully).
            # Eager paid iterations-1 dedicated jobs for the same work.
            ranks = ranks.localCheckpoint(eager=False)
    return ranks


def pagerank_duckdb_sql(
    edges_sql: str,
    iterations: int = 5,
    damping_pct: int = 85,
) -> str:
    """DuckDB twin: the iteration unrolled as chained CTEs (aggregation
    inside a recursive CTE's recursive term is not portable SQL).
    ``edges_sql`` must yield columns (src, dst)."""
    base = (100 - damping_pct) * SCALE // 100
    parts = [
        f"WITH edges AS ({edges_sql})",
        "nodes AS (SELECT DISTINCT node FROM "
        "(SELECT src AS node FROM edges UNION SELECT dst FROM edges))",
        "deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src)",
        f"r0 AS (SELECT node, CAST({SCALE} AS BIGINT) AS rank_int FROM nodes)",
    ]
    for i in range(iterations):
        parts.append(
            f"r{i + 1} AS (SELECT n.node, CAST({base} + "
            f"({damping_pct} * COALESCE(inc.s, 0)) // 100 AS BIGINT) AS rank_int "
            f"FROM nodes n LEFT JOIN ("
            f"SELECT e.dst, SUM(r.rank_int // d.deg) AS s "
            f"FROM edges e JOIN r{i} r ON r.node = e.src "
            f"JOIN deg d ON d.src = e.src GROUP BY e.dst"
            f") inc ON inc.dst = n.node)"
        )
    return (
        ",\n".join(parts)
        + f"\nSELECT node, rank_int FROM r{iterations}"
    )


def triangle_count(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """Per-node triangle counts over an undirected simple graph, plus the
    closing-edge join strategy that makes it scale: the classic
    DEGREE-ORDERED wedge enumeration (node-iterator++ / Cohen's
    MapReduce formulation). Returns ``(id, triangles)`` for every node
    with at least one triangle.

    Undirected edges are first canonicalized (dedup + drop self-loops),
    then ORIENTED from lower-(degree, id) to higher-(degree, id): every
    triangle has exactly one wedge rooted at its smallest vertex, so the
    wedge self-join enumerates each triangle once, and the quadratic
    per-node wedge blowup lands on LOW-degree nodes — a power-law hub of
    degree d contributes O(small²), not O(d²). Wedges then semi-join the
    oriented edge set to keep only closed ones; one explode maps each
    triangle to its three corners for the per-node count.

    Shuffles: degree agg (1), orientation join (2), wedge self-join (1),
    closing-edge join (1), corner count (1) — all on node/edge keys, no
    cross product anywhere.
    """
    e = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .dropDuplicates(["a", "b"])
    )
    both = e.select(F.col("a").alias("id")).unionAll(
        e.select(F.col("b").alias("id"))
    )
    deg = both.groupBy("id").agg(F.count("*").alias("deg"))
    # orient by (deg, id): strict total order, no ties
    da = deg.select(F.col("id").alias("a"), F.col("deg").alias("dega"))
    db = deg.select(F.col("id").alias("b"), F.col("deg").alias("degb"))
    oriented = (
        e.join(da, "a")
        .join(db, "b")
        .select(
            F.when(
                (F.col("dega") < F.col("degb"))
                | ((F.col("dega") == F.col("degb")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
            )
            .otherwise(F.struct(F.col("b").alias("u"), F.col("a").alias("v")))
            .alias("uv")
        )
        .select("uv.u", "uv.v")
    )
    w1 = oriented.select(F.col("u").alias("w_root"), F.col("v").alias("w_x"))
    w2 = oriented.select(F.col("u").alias("w_root"), F.col("v").alias("w_y"))
    wedges = w1.join(w2, "w_root").filter(F.col("w_x") < F.col("w_y"))
    # the closing edge between w_x < w_y is exactly a canonical edge (a, b)
    closed = wedges.join(
        e,
        on=[F.col("w_x") == F.col("a"), F.col("w_y") == F.col("b")],
        how="leftsemi",
    )
    corners = closed.select(
        F.explode(F.array("w_root", "w_x", "w_y")).alias("id")
    )
    return corners.groupBy("id").agg(F.count("*").alias("triangles"))


def triangle_count_duckdb_sql(
    edges_expr: str, src_col: str = "src", dst_col: str = "dst"
) -> str:
    """DuckDB twin: canonical i<j<k three-way join, corners exploded."""
    return f"""
WITH e AS (
  SELECT DISTINCT LEAST({src_col}, {dst_col}) AS a,
                  GREATEST({src_col}, {dst_col}) AS b
  FROM {edges_expr} WHERE {src_col} != {dst_col}
), tri AS (
  SELECT e1.a AS i, e1.b AS j, e2.b AS k
  FROM e e1 JOIN e e2 ON e1.b = e2.a JOIN e e3
    ON e3.a = e1.a AND e3.b = e2.b
), corners AS (
  SELECT i AS id FROM tri UNION ALL
  SELECT j FROM tri UNION ALL
  SELECT k FROM tri
)
SELECT id, COUNT(*) AS triangles FROM corners GROUP BY id
"""
