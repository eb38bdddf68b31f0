"""SALSA (Stochastic Approach for Link-Structure Analysis — Lempel &
Moran, WWW 2000): the degree-normalized sibling of HITS, and the third
member of the classic link-ranking trio (PageRank / HITS / SALSA; SALSA is
the ranker behind Twitter's who-to-follow system). North-rule extension —
the reference computes PageRank only (Graph.cpp:118-173).

Where HITS propagates raw sums (and a few high-degree hubs capture
everything), SALSA propagates the two-step random walk
backward-then-forward on the bipartite hub/authority view:

    hub(i)  ← Σ_{i→j} w(i,j)/indeg_w(j) · auth(j)   then hub  ← hub/max
    auth(j) ← Σ_{i→j} w(i,j)/outdeg_w(i) · hub(i)   then auth ← auth/max

on the weighted multigraph adjacency (duplicate links add weight, like
the PageRank scatter). Max normalization (not L1/L2) for the same reason
as HITS: a max of per-node sums is reproducible across engines regardless
of float summation order, so the DuckDB twin is hash-stable. Exactly
``iterations`` rounds from auth = 1, unrollable as ANSI SQL CTEs.

Scale shape: identical to the PageRank/HITS sweep — the |E|-row weighted
adjacency builds once (src-partitioned, persisted); the per-edge walk
weights w/indeg, w/outdeg attach with two |V|-row degree joins paid once
before the loop; each half-round is HITS's (hits.max_normalized: one
operators.sweep.gather whose max rides its eager checkpoint as an
Observation — one action per half-round, and a loop of its own for the
same reason as HITS).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .graph import GraphTables, build_graph
from .hits import max_normalized


def salsa(
    edges: DataFrame,
    iterations: int = 4,
    graph: GraphTables | None = None,
) -> DataFrame:
    """(id LONG, auth DOUBLE, hub DOUBLE) after ``iterations`` SALSA
    rounds, max-normalized each half-round; nodes with no in-links
    (out-links) hold auth=0 (hub=0)."""
    if iterations < 1:
        raise ValueError(f"salsa needs iterations >= 1, got {iterations}")
    own_graph = graph is None
    g = graph or build_graph(edges)
    nodes = g.nodes.select(F.col("id").cast("long").alias("id"))

    # walk weights, paid once: w/indeg_w on the backward step,
    # w/outdeg_w on the forward step
    indeg = g.adj.groupBy("dst").agg(F.sum("w").alias("ind"))
    outdeg = g.adj.groupBy("src").agg(F.sum("w").alias("outd"))
    wadj = (
        g.adj.join(indeg, "dst")
        .join(outdeg, "src")
        .select(
            "src",
            "dst",
            (F.col("w") / F.col("ind")).alias("w_back"),
            (F.col("w") / F.col("outd")).alias("w_fwd"),
        )
        .localCheckpoint(eager=True)
    )
    # hub half-rounds walk backward: auth flows dst → src
    rwadj = wadj.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"), "w_back"
    )

    auth = nodes.select("id", F.lit(1.0).alias("auth"))
    hub = prev = None
    for _ in range(iterations):
        # one action per half-round (hits.max_normalized)
        raw_h, hub = max_normalized(
            nodes, auth, rwadj, F.col("w_back") * F.col("auth"),
            g.salt_buckets, "hub",
        )
        for f in prev or ():
            f.unpersist()
        raw_a, auth = max_normalized(
            nodes, hub, wadj, F.col("w_fwd") * F.col("hub"),
            g.salt_buckets, "auth",
        )
        prev = (raw_h, raw_a)
    out = auth.join(hub, "id")
    # the final raw_a/raw_h checkpoints back `out`; wadj is already behind
    # their lineage cut, so its cache can be dropped here
    wadj.unpersist()
    if own_graph:
        # out still reads the node table, which unpersist releases
        out = out.localCheckpoint(eager=True)
        g.unpersist()
    return out


def salsa_sql(edges_sql: str, iterations: int = 4) -> str:
    """The exact ANSI-SQL twin of ``salsa`` (DuckDB oracle): same weighted
    walk matrix, same max normalization (incl. the empty/zero-max → 1.0
    fallback), unrolled CTE chain. Final scores rounded to 6 dp."""
    if iterations < 1:
        raise ValueError(f"salsa_sql needs iterations >= 1, got {iterations}")
    # MATERIALIZED everywhere: each round is referenced repeatedly and
    # DuckDB's default inlining would re-expand the chain exponentially
    parts = [
        f"WITH e AS MATERIALIZED ({edges_sql})",
        "w AS MATERIALIZED (SELECT src, dst, CAST(count(*) AS DOUBLE) AS w "
        "FROM e GROUP BY src, dst)",
        "wa AS MATERIALIZED (SELECT w.src, w.dst, "
        "w.w / ind.s AS w_back, w.w / outd.s AS w_fwd FROM w "
        "JOIN (SELECT dst, sum(w) AS s FROM w GROUP BY dst) ind "
        "ON ind.dst = w.dst "
        "JOIN (SELECT src, sum(w) AS s FROM w GROUP BY src) outd "
        "ON outd.src = w.src)",
        "nodes AS MATERIALIZED (SELECT DISTINCT id FROM (SELECT src AS id "
        "FROM e UNION ALL SELECT dst AS id FROM e))",
        "a0 AS MATERIALIZED (SELECT id, 1.0 AS auth FROM nodes)",
    ]
    for k in range(iterations):
        parts += [
            f"hr{k} AS MATERIALIZED (SELECT wa.src AS id, "
            f"sum(wa.w_back * a.auth) AS h FROM wa "
            f"JOIN a{k} a ON wa.dst = a.id GROUP BY wa.src)",
            f"hm{k} AS MATERIALIZED (SELECT max(h) AS m FROM hr{k})",
            f"h{k + 1} AS MATERIALIZED (SELECT n.id, coalesce(hr.h, 0) / "
            f"coalesce(nullif((SELECT m FROM hm{k}), 0), 1.0) AS hub "
            f"FROM nodes n LEFT JOIN hr{k} hr ON hr.id = n.id)",
            f"ar{k} AS MATERIALIZED (SELECT wa.dst AS id, "
            f"sum(wa.w_fwd * h.hub) AS a FROM wa "
            f"JOIN h{k + 1} h ON wa.src = h.id GROUP BY wa.dst)",
            f"am{k} AS MATERIALIZED (SELECT max(a) AS m FROM ar{k})",
            f"a{k + 1} AS MATERIALIZED (SELECT n.id, coalesce(ar.a, 0) / "
            f"coalesce(nullif((SELECT m FROM am{k}), 0), 1.0) AS auth "
            f"FROM nodes n LEFT JOIN ar{k} ar ON ar.id = n.id)",
        ]
    return ",\n".join(parts) + (
        f"\nSELECT a.id, round(a.auth, 6) AS auth, round(h.hub, 6) AS hub "
        f"FROM a{iterations} a JOIN h{iterations} h ON a.id = h.id"
    )
