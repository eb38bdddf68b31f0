"""HITS (hubs & authorities) — link-analysis sibling of PageRank
(north-rule extension; no reference counterpart — the reference computes
PageRank only, Graph.cpp:118-173 — but any link-graph engine user asks for
HITS next; Kleinberg, "Authoritative Sources in a Hyperlinked
Environment", JACM 1999).

Fixed synchronous iterations on the weighted multigraph adjacency
(duplicate links add weight, consistent with the PageRank scatter):

    auth(v) ← Σ_{u→v} w(u,v)·hub(u)      then auth ← auth / max(auth)
    hub(u)  ← Σ_{u→v} w(u,v)·auth(v)     then hub  ← hub  / max(hub)

Normalization is by MAX, not L2: max of per-node sums is reproducible
across engines regardless of float summation order (an L2 norm is a
global sum whose order differs between Spark partitions and any other
engine), which is what makes the DuckDB oracle twin hash-stable. Exactly
``iterations`` rounds, unrollable as ANSI SQL CTEs.

Scale shape: identical to the PageRank sweep — the |E|-row weighted
adjacency is built once, src-partitioned and persisted (build_graph);
each half-round shuffles only the |V|-row score state, gathers through
operators.sweep.gather (two-phase hash agg with map-side combine, salted
on hub graphs), and the max is a scalar piggybacked on the same pass.

The rounds keep a loop of their own rather than the sweep driver's: the
state is two vectors that alternate, each normalized by a scalar of its
OWN gather, not of the state it was gathered from.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from .graph import GraphTables, build_graph, release_checkpoint
from .sweep import gather


def max_normalized(
    nodes: DataFrame,
    state: DataFrame,
    adj: DataFrame,
    contribution: Column,
    salt_buckets: int,
    name: str,
) -> tuple[DataFrame, DataFrame]:
    """One half-round shared by HITS and SALSA: gather ``contribution``
    over ``adj`` and max-normalize it onto ``nodes`` as (id, ``name``);
    nodes the gather misses hold 0. Returns (raw gather, normalized).

    ONE action: the max rides the eager localCheckpoint of the RAW gather
    as an Observation (the observed frame IS the checkpointed one — a
    metric attached to a frame behind the checkpoint's RDD boundary would
    never publish); the normalized frame stays lazy (a cheap |V|-row join
    off the cache) and the checkpoint doubles as the lineage cut. The
    caller releases the raw frame (graph.release_checkpoint) once nothing
    lazy references it."""
    obs = Observation()
    raw = (
        gather(state, adj, contribution, salt_buckets)
        .observe(obs, F.max("contrib").alias("m"))
        .localCheckpoint(eager=True)
    )
    m = float(obs.get["m"] or 1.0)
    return raw, nodes.join(raw, nodes["id"] == raw["dst"], "left").select(
        "id", (F.coalesce("contrib", F.lit(0.0)) / F.lit(m)).alias(name)
    )


def hits(
    edges: DataFrame,
    iterations: int = 4,
    graph: GraphTables | None = None,
) -> DataFrame:
    """(id LONG, auth DOUBLE, hub DOUBLE) after ``iterations`` rounds,
    max-normalized each half-round; nodes with no in-links (out-links)
    hold auth=0 (hub=0)."""
    if iterations < 1:
        raise ValueError(f"hits needs iterations >= 1, got {iterations}")
    own_graph = graph is None
    g = graph or build_graph(edges)
    nodes = g.nodes.select(F.col("id").cast("long").alias("id"))
    # hub half-rounds gather auth backwards along each link (dst → src)
    radj = g.adj.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")

    hub = nodes.select("id", F.lit(1.0).alias("hub"))
    auth = prev = None
    for _ in range(iterations):
        raw_a, auth = max_normalized(
            nodes, hub, g.adj, F.col("w") * F.col("hub"), g.salt_buckets, "auth"
        )
        # spent half-rounds are released one round later, once nothing
        # lazy can still reference them
        for f in prev or ():
            release_checkpoint(f)
        raw_h, hub = max_normalized(
            nodes, auth, radj, F.col("w") * F.col("auth"), g.salt_buckets, "hub"
        )
        prev = (raw_a, raw_h)
    out = auth.join(hub, "id")
    if own_graph:
        # out still reads the node table, which unpersist releases
        out = out.localCheckpoint(eager=True)
        g.unpersist()
    return out


def hits_sql(edges_sql: str, iterations: int = 4) -> str:
    """The exact ANSI-SQL twin of ``hits`` (DuckDB oracle): same weighted
    adjacency, same max normalization (incl. the empty/zero-max → 1.0
    fallback), unrolled CTE chain. Final scores rounded to 6 dp (matching
    the gate query's projection)."""
    if iterations < 1:
        raise ValueError(f"hits_sql needs iterations >= 1, got {iterations}")
    # every CTE is MATERIALIZED: each round references the previous one
    # from several places, and DuckDB's default inlining would otherwise
    # re-expand the chain exponentially across rounds
    parts = [
        f"WITH e AS MATERIALIZED ({edges_sql})",
        "w AS MATERIALIZED (SELECT src, dst, CAST(count(*) AS DOUBLE) AS w "
        "FROM e GROUP BY src, dst)",
        "nodes AS MATERIALIZED (SELECT DISTINCT id FROM (SELECT src AS id "
        "FROM e UNION ALL SELECT dst AS id FROM e))",
        "h0 AS MATERIALIZED (SELECT id, 1.0 AS hub FROM nodes)",
    ]
    for k in range(iterations):
        parts += [
            f"ar{k} AS MATERIALIZED (SELECT w.dst AS id, sum(w.w * h.hub) "
            f"AS a FROM w JOIN h{k} h ON w.src = h.id GROUP BY w.dst)",
            f"am{k} AS MATERIALIZED (SELECT max(a) AS m FROM ar{k})",
            f"a{k + 1} AS MATERIALIZED (SELECT n.id, coalesce(ar.a, 0) / "
            f"coalesce(nullif((SELECT m FROM am{k}), 0), 1.0) AS auth "
            f"FROM nodes n LEFT JOIN ar{k} ar ON ar.id = n.id)",
            f"hr{k} AS MATERIALIZED (SELECT w.src AS id, sum(w.w * a.auth) "
            f"AS h FROM w JOIN a{k + 1} a ON w.dst = a.id GROUP BY w.src)",
            f"hm{k} AS MATERIALIZED (SELECT max(h) AS m FROM hr{k})",
            f"h{k + 1} AS MATERIALIZED (SELECT n.id, coalesce(hr.h, 0) / "
            f"coalesce(nullif((SELECT m FROM hm{k}), 0), 1.0) AS hub "
            f"FROM nodes n LEFT JOIN hr{k} hr ON hr.id = n.id)",
        ]
    return ",\n".join(parts) + (
        f"\nSELECT a.id, round(a.auth, 6) AS auth, round(h.hub, 6) AS hub "
        f"FROM a{iterations} a JOIN h{iterations} h ON a.id = h.id"
    )
