"""OPIC — On-line Page Importance Computation (Abiteboul/Preda/Cobena,
WWW 2003): the crawl-frontier importance measure that, unlike PageRank,
needs NO damping parameter and is designed to be maintained WHILE
crawling — each page holds "cash" that it distributes to its out-links,
and its accumulated "history" of cash received estimates importance.

This is the synchronous batch variant (every page "crawled" once per
round — the matrix form C_{t+1} = Mᵀ C_t): per round the sink cash is
recycled through a virtual page that pays every node equally (the
paper's own fix for dangling pages), history accumulates the cash seen
so far, and the reported importance is the paper's estimator
(H_T + C_T) / (T + 1), which sums to exactly 1 over the node set
(Σ C_t = 1 is invariant — each round redistributes, never creates).

Spark shape: the PageRank sweep itself (operators.sweep: one scatter
join against the build-once src-partitioned weighted adjacency, one
gather agg, one driver-scalar sink sum per round — the host-side scalar
the reference itself uses, Graph4CL.cpp:166-172), so every scale property
of the rank loop (skew salting upstream in build_graph, |V|-row per-round
shuffle, lineage cuts) carries over. The multigraph semantics also carry
over: a duplicated edge pays twice (weight w in the collapsed adjacency).

Relation to the reference: the reference computes only PageRank
(Graph.cpp:123-170); OPIC is the crawl-scheduling extension the north
rule's Common-Crawl framing calls for — its cash column is exactly what
`host_crawl_budget` wants as a freshness-weighted allocation input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .graph import GraphTables, build_graph
from .sweep import iterate, node_state, sink_mass


def opic(
    edges: DataFrame,
    num_iterations: int,
    graph: GraphTables | None = None,
) -> DataFrame:
    """(id LONG, cash DOUBLE, history DOUBLE, importance DOUBLE) after
    ``num_iterations`` synchronous OPIC rounds from the uniform cash
    vector. ``importance`` = (history + cash) / (iterations + 1); its sum
    over nodes is exactly 1 (up to float associativity)."""
    if num_iterations < 1:
        raise ValueError(f"opic needs num_iterations >= 1, got {num_iterations}")
    own_graph = graph is None
    g = graph or build_graph(edges)
    n = g.num_nodes
    run = iterate(
        g,
        node_state(g, F.lit(1.0 / n).alias("cash"), F.lit(0.0).alias("hist")),
        lambda s: F.col("w") * F.col("cash") / F.col("outdeg"),
        lambda s: [
            # sink cash recycled through the virtual page, paid equally
            (
                F.coalesce(F.col("contrib"), F.lit(0.0)) + F.lit(s["sink"] / n)
            ).alias("cash"),
            (F.col("hist") + F.col("cash")).alias("hist"),
        ],
        num_iterations,
        observe=[sink_mass("cash")],
    )
    out = run.state.select(
        F.col("id").cast("long").alias("id"),
        "cash",
        F.col("hist").alias("history"),
        ((F.col("hist") + F.col("cash")) / F.lit(num_iterations + 1.0)).alias(
            "importance"
        ),
    )
    if own_graph:
        g.unpersist()
    return out


def opic_sql(edges_sql: str, num_iterations: int) -> str:
    """DuckDB twin — the OPIC round unrolled: same uniform init, sink
    recycling via the virtual page, left-join coalesce for no-inlink
    nodes, and history accumulation. Yields (id, cash, history,
    importance) BEFORE rounding (the gate query rounds both sides)."""
    parts = [
        f"WITH e AS ({edges_sql})",
        "nodes AS (SELECT DISTINCT id FROM (SELECT src AS id FROM e "
        "UNION ALL SELECT dst AS id FROM e))",
        "deg AS (SELECT src AS id, count(*) AS outdeg FROM e GROUP BY src)",
        "nn AS (SELECT count(*) AS n FROM nodes)",
        "r0 AS (SELECT id, 1.0 / (SELECT n FROM nn) AS cash, "
        "CAST(0.0 AS DOUBLE) AS hist FROM nodes)",
    ]
    for k in range(num_iterations):
        parts.append(
            f"s{k} AS (SELECT COALESCE(sum(cash), 0) / (SELECT n FROM nn) "
            f"AS vv FROM r{k} WHERE id NOT IN (SELECT id FROM deg))"
        )
        parts.append(
            f"c{k} AS (SELECT e.dst AS id, sum(r.cash / d.outdeg) AS contrib "
            f"FROM e JOIN r{k} r ON e.src = r.id JOIN deg d ON e.src = d.id "
            f"GROUP BY e.dst)"
        )
        parts.append(
            f"r{k + 1} AS (SELECT nodes.id, "
            f"COALESCE(c{k}.contrib, 0) + (SELECT vv FROM s{k}) AS cash, "
            f"r{k}.hist + r{k}.cash AS hist "
            f"FROM nodes LEFT JOIN c{k} ON nodes.id = c{k}.id "
            f"JOIN r{k} ON nodes.id = r{k}.id)"
        )
    t = num_iterations
    return (
        ",\n".join(parts)
        + f"\nSELECT id, cash, hist AS history, "
        f"(hist + cash) / {float(t + 1)!r} AS importance FROM r{t}"
    )
