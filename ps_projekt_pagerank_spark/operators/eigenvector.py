"""Eigenvector centrality (Bonacich 1972) — power iteration on the
weighted in-link operator, max-normalized per sweep.

    x_0(v)     = 1
    y_{h+1}(v) = Σ_{u→v} w(u,v) · x_h(u)
    x_{h+1}(v) = y_{h+1}(v) / max_v y_{h+1}(v)

Max normalization (not L2) on purpose: max over a set of doubles is
FP-order-independent, so Spark's parallel agg and DuckDB's sequential
agg land on the same scalar — the same engine-parity argument the HITS
implementation documents (operators/hits.py). PageRank is this plus
teleport + out-degree normalization (reference Graph.cpp:118-173); the
undamped variant is the classic link-analysis baseline the reference
omits.

Scale shape = Katz/PageRank (operators.sweep drives it): the |E|-row
weighted adjacency is built once (GraphTables), each sweep is one |V|-row
state join + hash agg with map-side combine; the max is observed on the
sweep's ONE action (the eager localCheckpoint, which also truncates
lineage) and scales the next sweep's scatter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .graph import GraphTables, build_graph
from .sweep import iterate, node_state


def eigenvector_fixed(
    edges: DataFrame,
    num_iterations: int,
    graph: GraphTables | None = None,
) -> DataFrame:
    """(id LONG, score DOUBLE) — exactly ``num_iterations`` max-normalized
    power sweeps; score rounded 9 dp. Nodes with no in-links decay to 0."""
    if num_iterations < 1:
        raise ValueError("eigenvector_fixed needs num_iterations >= 1")
    own_graph = graph is None
    g = graph or build_graph(edges)

    def x(s):
        # the max-normalized vector. A DAG-shaped operator is nilpotent
        # (all mass dies once paths run out), so max y can hit 0 — the
        # vector stays all-zero from then on.
        m = s["m"]
        return F.col("y") / F.lit(m) if m > 0 else F.lit(0.0)

    # the state holds the raw gather y; its max rides the sweep's
    # checkpoint and the next sweep scatters y / max (y0 = 1, max 1)
    run = iterate(
        g,
        node_state(g, F.lit(1.0).alias("y")),
        lambda s: F.col("w") * x(s),
        lambda s: [F.coalesce("contrib", F.lit(0.0)).alias("y")],
        num_iterations,
        observe=[F.max("y").alias("m")],
    )
    out = run.state.select(
        F.col("id").cast("long").alias("id"),
        F.round(x(run.scalars), 9).alias("score"),
    )
    if own_graph:
        g.unpersist()
    return out


def eigenvector_sql(edges_sql: str, num_iterations: int) -> str:
    """Unrolled DuckDB twin of eigenvector_fixed (katz_sql technique)."""
    if num_iterations < 1:
        raise ValueError("eigenvector_sql needs num_iterations >= 1")
    parts = [
        f"WITH e AS ({edges_sql})",
        "w AS (SELECT src, dst, CAST(count(*) AS DOUBLE) AS w FROM e "
        "GROUP BY src, dst)",
        "nodes AS (SELECT DISTINCT id FROM (SELECT src AS id FROM e "
        "UNION ALL SELECT dst AS id FROM e))",
        "x0 AS (SELECT id, 1.0 AS x FROM nodes)",
    ]
    for k in range(num_iterations):
        parts += [
            f"y{k} AS (SELECT nodes.id, coalesce(g.y, 0.0) AS y FROM nodes "
            f"LEFT JOIN (SELECT w.dst AS id, sum(w.w * x.x) AS y FROM w "
            f"JOIN x{k} x ON w.src = x.id GROUP BY w.dst) g "
            "ON g.id = nodes.id)",
            f"x{k + 1} AS (SELECT id, CASE WHEN "
            f"(SELECT max(y) FROM y{k}) > 0 "
            f"THEN y / (SELECT max(y) FROM y{k}) ELSE 0.0 END AS x "
            f"FROM y{k})",
        ]
    return ",\n".join(parts) + (
        f"\nSELECT id, round(x, 9) AS score FROM x{num_iterations}"
    )
