"""Katz centrality (Katz 1953) — the damped path-count centrality that
PageRank historically refined (no out-degree normalization, so prolific
linkers count fully; reference computes only PageRank, Graph.cpp:118-173;
north-rule link-analysis extension).

    x_0(v)     = beta
    x_{h+1}(v) = beta + alpha * Σ_{u→v} w(u,v) * x_h(u)

i.e. the truncated series Σ_{k=0..H} alpha^k · (weighted paths of length
k into v) · beta. alpha must stay below 1/λ_max(A) for the infinite
series to converge; fixed sweeps make the result exactly expressible as
unrolled ANSI SQL (katz_sql — same technique as the PageRank twins).

Scale shape = PageRank's (operators.sweep drives it): build-once
weighted adjacency, each sweep one |V|-row state join + hash agg with
map-side combine; no sink handling and no division at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .graph import GraphTables, build_graph
from .sweep import iterate, node_state

DEFAULT_ALPHA = 0.05


def katz_fixed(
    edges: DataFrame,
    num_iterations: int,
    alpha: float = DEFAULT_ALPHA,
    beta: float = 1.0,
    graph: GraphTables | None = None,
) -> DataFrame:
    """(id, katz) — exactly ``num_iterations`` synchronous Katz sweeps."""
    if num_iterations < 1:
        raise ValueError("katz_fixed needs num_iterations >= 1")
    own_graph = graph is None
    g = graph or build_graph(edges)
    run = iterate(
        g,
        node_state(g, F.lit(float(beta)).alias("x")),
        lambda s: F.col("w") * F.col("x"),
        lambda s: [
            (
                F.lit(float(beta))
                + F.lit(float(alpha)) * F.coalesce("contrib", F.lit(0.0))
            ).alias("x")
        ],
        num_iterations,
    )
    out = run.state.select(
        F.col("id").cast("long").alias("id"), F.round("x", 9).alias("katz")
    )
    if own_graph:
        g.unpersist()
    return out


def katz_sql(
    edges_sql: str,
    num_iterations: int,
    alpha: float = DEFAULT_ALPHA,
    beta: float = 1.0,
) -> str:
    """Unrolled ANSI-SQL twin of katz_fixed (DuckDB-runnable)."""
    if num_iterations < 1:
        raise ValueError("katz_sql needs num_iterations >= 1")
    parts = [
        f"WITH e AS ({edges_sql})",
        "w AS (SELECT src, dst, CAST(count(*) AS DOUBLE) AS w FROM e "
        "GROUP BY src, dst)",
        "nodes AS (SELECT DISTINCT id FROM (SELECT src AS id FROM e "
        "UNION ALL SELECT dst AS id FROM e))",
        f"x0 AS (SELECT id, {float(beta)} AS x FROM nodes)",
    ]
    for k in range(num_iterations):
        parts += [
            f"c{k} AS (SELECT w.dst AS id, sum(w.w * x.x) AS contrib "
            f"FROM w JOIN x{k} x ON w.src = x.id GROUP BY w.dst)",
            f"x{k + 1} AS (SELECT nodes.id, {float(beta)} + {float(alpha)} "
            f"* COALESCE(c{k}.contrib, 0) AS x "
            f"FROM nodes LEFT JOIN c{k} ON nodes.id = c{k}.id)",
        ]
    return ",\n".join(parts) + (
        f"\nSELECT id, round(x, 9) AS katz FROM x{num_iterations}"
    )
