"""P1-P7 — iterative PageRank with the reference's exact semantics
(reference sequential loop: src/Graph.cpp:118-173; formula Naloga4.pdf p.1),
run one of two ways. A graph that fits one task's memory runs the
reference's sequential loop itself, as NumPy over the packed graph inside
one Arrow task (operators.pagerank_task). A larger graph, or a
checkpointed call, runs a driver-side while-loop over DataFrame gather/scatter — the Spark idiom for
the reference's host-driven GPU loop (Graph4CL.cpp:112-206, which likewise
collects a scalar per iteration and re-injects it).

Semantics (validated against the NumPy oracle, which reproduces the
reference binary's 25/29/44 fixture iteration counts):

P1 init      rank = 1/N, all nodes active            (Graph.cpp:124-128)
P2 sink mass sink_sum = ((1-d) + d*Σ_sinks rank)/N from CURRENT committed
             ranks — frozen sinks keep contributing  (Graph.cpp:135-140)
P3 scatter   every edge contributes rank[src]/outdeg[src]; frozen sources
             contribute their frozen rank            (Graph.cpp:149-152)
P4 gather    rank_new = sink_sum + d*Σ contribs; nodes with no in-links
             get plain sink_sum (left join+coalesce) (Graph.cpp:147-154)
P5 freeze    active nodes commit rank_new; |new-old| < δ freezes the node
             out of later recomputes                 (Graph.cpp:160-169)
P6 stop      loop ends on the first sweep that finds no active node; that
             empty sweep IS counted                  (Graph.cpp:130-158)
P7 counter   returned iteration count includes it    (Graph.cpp:133,172)

The distributed sweep itself — scatter join, (salted) gather, commit, one
action per iteration, lineage cut per iteration — is operators.sweep's,
shared with the rest of the rank family; this module states only each
variant's init, contribution and commit expressions.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import DAMPING, NORTH_EPSILON
from . import graph_task, pagerank_task
from .graph import GraphTables, build_graph, release_checkpoint
from .sweep import Sweeps, gather, iterate, node_state, sink_mass


@dataclass
class PageRankResult:
    ranks: DataFrame  # id LONG, rank DOUBLE
    iterations: int
    metrics: list[dict] = field(default_factory=list)


def _rank_share():
    """P3: each edge carries w copies of rank[src]/outdeg[src]."""
    return F.col("w") * F.col("rank") / F.col("outdeg")


def _damped_contrib(damping: float):
    return F.lit(damping) * F.coalesce(F.col("contrib"), F.lit(0.0))


def _new_rank(s, damping: float, n: int):
    """P2 + P4: sink_sum + d·Σ contribs, sink_sum from the current ranks."""
    return F.lit(((1.0 - damping) + damping * s["sink"]) / n) + _damped_contrib(
        damping
    )


def pagerank(
    edges: DataFrame,
    damping: float = DAMPING,
    epsilon: float = NORTH_EPSILON,
    max_iterations: int = 1000,
    checkpointer=None,
    graph: GraphTables | None = None,
    init_ranks: DataFrame | None = None,
) -> PageRankResult:
    """Run frozen-node PageRank to convergence.

    ``init_ranks`` (id, rank) warm-starts the iteration — the incremental
    path after small graph updates: ranks from the previous run are close
    to the new fixed point, so convergence takes a fraction of the cold
    1/N-start sweeps (tested). Nodes absent from ``init_ranks`` (newly
    discovered pages) start at 1/N; all nodes start active.

    The gather salts with the bucket count build_graph derived from the
    in-degree distribution (``graph.salt_buckets``; 1 on uniform graphs).

    Graphs that fit one task's memory budget (``pagerank_task.fits``)
    run every sweep in one task (``pagerank_task``) over the packed
    graph (``graph_task.packed``; a graph built on Spark's workers is
    packed in that same task): one Spark job per call, which leaves a
    one-task graph's node and adjacency rows unmaterialized. Larger
    graphs, and every call with a ``checkpointer``, run the distributed
    sweep (operators.sweep): one job per sweep.

    ``checkpointer`` (sources.checkpoint.IterationCheckpointer) durably
    writes rank vectors + metrics after every sweep and enables resume;
    with or without it, lineage is truncated in-memory every iteration.
    ``metrics`` holds one record per sweep that ran a scatter; the
    counted empty sweep (P6) has none.
    """
    own_graph = graph is None
    g = graph or build_graph(edges)
    try:
        n = g.num_nodes
        if n == 0:
            ranks = g.nodes.sparkSession.createDataFrame([], "id LONG, rank DOUBLE")
            return PageRankResult(ranks=ranks, iterations=0)
        if checkpointer is None and pagerank_task.fits(g):
            ranks, metrics = pagerank_task.pagerank_one_task(
                graph_task.packed(g), g, init_ranks, damping, epsilon,
                max_iterations,
            )
            sweeps = len(metrics)
            n_active = metrics[-1]["n_active"] if metrics else n
        else:
            run = _sweep_loop(
                g, init_ranks, damping, epsilon, max_iterations, checkpointer
            )
            ranks = run.state.select(F.col("id").cast("long").alias("id"), "rank")
            sweeps, n_active, metrics = (
                run.iterations, run.scalars["n_active"], run.metrics
            )
        if not n_active and sweeps < max_iterations:
            sweeps += 1  # final empty sweep counted (Graph.cpp:133,158)
        return PageRankResult(ranks=ranks, iterations=sweeps, metrics=metrics)
    finally:
        if own_graph:
            g.unpersist()


def _sweep_loop(
    g, init_ranks, damping, epsilon, max_iterations, checkpointer
) -> Sweeps:
    """P1-P5 on operators.sweep: one Spark plan and one eager checkpoint
    per sweep, resumable from ``checkpointer``'s latest snapshot."""
    n = g.num_nodes
    nodes, rank0 = g.nodes, F.lit(1.0 / n)
    if init_ranks is not None:
        init = init_ranks.select(
            F.col("id").cast(g.id_type).alias("iid"),
            F.col("rank").alias("init_rank"),
        )
        nodes = g.nodes.join(init, g.nodes["id"] == init["iid"], "left")
        rank0 = F.coalesce("init_rank", rank0)
    state = node_state(
        g, rank0.alias("rank"), F.lit(True).alias("active"), nodes=nodes
    )
    start_iter = 0
    resumed = checkpointer.latest(g.nodes.sparkSession) if checkpointer else None
    if resumed is not None:
        start_iter, ck = resumed
        state = node_state(g, "rank", "active", nodes=ck)

    def commit(s):
        new_rank = _new_rank(s, damping, n)
        return [
            F.when(F.col("active"), new_rank).otherwise(F.col("rank")).alias("rank"),
            (
                F.col("active")
                & (F.abs(new_rank - F.col("rank")) >= F.lit(epsilon))
            ).alias("active"),
        ]

    return iterate(
        g, state, lambda s: _rank_share(), commit, max_iterations,
        observe=[sink_mass("rank")], active=F.col("active"),
        start=start_iter, checkpointer=checkpointer,
    )


def pagerank_personalized_fixed(
    edges: DataFrame,
    seeds: list[int],
    num_iterations: int,
    damping: float = DAMPING,
    graph: GraphTables | None = None,
) -> DataFrame:
    """Personalized PageRank, fixed sweeps (north-rule extension; the
    reference computes only the global variant — personalization changes
    Graph.cpp:124-128's uniform init/teleport into a seed-restricted one,
    everything else is the same sweep).

    Teleport vector tele(v) = 1/|seeds| for seed nodes, else 0; both the
    (1-d) restart mass and the redistributed sink mass flow to the seeds:

        rank0 = tele
        rank'(v) = ((1-d) + d·Σ_sinks rank) · tele(v) + d·Σ contribs(v)

    Exactly ``num_iterations`` synchronous sweeps — unrollable as ANSI SQL
    (the DuckDB twin in __spark_entry__ replays it).
    """
    if not seeds:
        raise ValueError("pagerank_personalized_fixed needs >= 1 seed node")
    own_graph = graph is None
    g = graph or build_graph(edges)
    n_present = g.nodes.where(
        F.col("id").isin([int(x) for x in seeds])
    ).count()
    if n_present == 0:
        raise ValueError(
            f"none of the {len(seeds)} seed ids exist in the graph — "
            "the teleport vector would be all-zero"
        )
    tele = F.when(
        F.col("id").isin([int(x) for x in seeds]),
        F.lit(1.0 / len(seeds)),
    ).otherwise(F.lit(0.0))
    run = iterate(
        g,
        node_state(g, tele.alias("tele"), tele.alias("rank")),
        lambda s: _rank_share(),
        lambda s: [
            "tele",
            (
                F.lit((1.0 - damping) + damping * s["sink"]) * F.col("tele")
                + _damped_contrib(damping)
            ).alias("rank"),
        ],
        num_iterations,
        observe=[sink_mass("rank")],
    )
    out = run.state.select(F.col("id").cast("long").alias("id"), "rank")
    if own_graph:
        g.unpersist()
    return out


def pagerank_fixed(
    edges: DataFrame,
    num_iterations: int,
    damping: float = DAMPING,
    graph: GraphTables | None = None,
) -> DataFrame:
    """Plain power iteration for exactly ``num_iterations`` sweeps, no
    convergence check / freezing — identical to the reference semantics up
    to the first freeze, and exactly expressible as unrolled ANSI SQL
    (the DuckDB oracle in __spark_entry__ uses the same unrolling).
    """
    own_graph = graph is None
    g = graph or build_graph(edges)
    n = g.num_nodes
    run = iterate(
        g,
        node_state(g, F.lit(1.0 / n).alias("rank")),
        lambda s: _rank_share(),
        lambda s: [_new_rank(s, damping, n).alias("rank")],
        num_iterations,
        observe=[sink_mass("rank")],
    )
    out = run.state.select(F.col("id").cast("long").alias("id"), "rank")
    if own_graph:
        g.unpersist()
    return out


def pagerank_personalized_batch(
    edges: DataFrame,
    seeds: list[int],
    num_iterations: int,
    damping: float = DAMPING,
    graph: GraphTables | None = None,
) -> DataFrame:
    """(seed LONG, id LONG, rank DOUBLE) — |seeds| INDEPENDENT single-seed
    personalized PageRank vectors in one frame (tele(v) = 1 for v == seed;
    the related-pages serving primitive: one batch job scores "similar to
    X" for a whole seed list instead of |seeds| separate runs).

    Differences from ``pagerank_personalized_fixed`` (which computes ONE
    vector with teleport spread over the seed SET): state is the sparse
    (seed, id, rank) table — only nodes the walk has reached carry rows,
    so early sweeps cost |seeds|·|ball| not |seeds|·|V| — and the
    per-seed sink mass stays IN-PLAN (a |seeds|-row aggregate joined back,
    no driver collect per sweep; one action per sweep total).

    Scale: the scatter join hits the same build-once src-partitioned
    adjacency as every rank loop; state rows are (seed, id)-keyed so the
    gather agg shuffles |seeds|·|reached| rows. The teleport merge is a
    two-row-per-key unionAll+sum (IEEE addition of two doubles is
    commutative — engine-exact given equal contrib sums).
    """
    if not seeds:
        raise ValueError("pagerank_personalized_batch needs >= 1 seed")
    own_graph = graph is None
    g = graph or build_graph(edges)
    spark = edges.sparkSession if edges is not None else g.nodes.sparkSession
    seed_ids = sorted({int(s) for s in seeds})
    n_present = g.nodes.where(F.col("id").isin(seed_ids)).count()
    if n_present != len(seed_ids):
        raise ValueError(
            f"{len(seed_ids) - n_present} seed id(s) absent from the "
            "graph — their teleport mass would silently leak"
        )
    nodes = g.nodes.select(
        F.col("id").cast("long").alias("id"),
        F.col("outdeg").cast("long").alias("outdeg"),
        "is_sink",
    )
    seeds_df = spark.createDataFrame(
        [(s,) for s in seed_ids], "seed LONG"
    )
    state = seeds_df.select(
        "seed", F.col("seed").alias("id"), F.lit(1.0).alias("rank")
    ).localCheckpoint(eager=True)
    for _ in range(num_iterations):
        with_flags = state.join(nodes, "id")
        seed_sinks = (
            seeds_df.join(
                with_flags.where(F.col("is_sink"))
                .groupBy("seed")
                .agg(F.sum("rank").alias("sm")),
                "seed",
                "left",
            ).select("seed", F.coalesce("sm", F.lit(0.0)).alias("sm"))
        )
        contribs = gather(
            with_flags.where(F.col("outdeg") > 0),
            g.adj,
            _rank_share(),
            g.salt_buckets,
            by=["seed"],
        ).select(
            "seed",
            F.col("dst").cast("long").alias("id"),
            (F.lit(damping) * F.col("contrib")).alias("rank"),
        )
        teleport = seed_sinks.select(
            "seed",
            F.col("seed").alias("id"),
            (
                F.lit(1.0 - damping) + F.lit(damping) * F.col("sm")
            ).alias("rank"),
        )
        nxt = (
            contribs.unionAll(teleport)
            .groupBy("seed", "id")
            .agg(F.sum("rank").alias("rank"))
            .localCheckpoint(eager=True)
        )
        release_checkpoint(state)  # spent: nxt no longer reads it
        state = nxt
    if own_graph:
        g.unpersist()
    return state


def pagerank_personalized_batch_sql(
    edges_sql: str,
    seeds: list[int],
    num_iterations: int,
    damping: float = DAMPING,
) -> str:
    """DuckDB twin — unrolled sweeps over the raw multigraph (each
    duplicate edge contributes rank/outdeg separately == the weighted
    collapse), seed column carried through every CTE. MATERIALIZED to
    stop exponential CTE inlining."""
    d = damping
    seed_rows = ", ".join(f"({int(s)})" for s in sorted({int(s) for s in seeds}))
    parts = [
        f"WITH e AS MATERIALIZED (SELECT src, dst FROM ({edges_sql})), "
        "deg AS MATERIALIZED (SELECT src AS id, count(*) AS outdeg "
        "FROM e GROUP BY src)",
        "nodes AS MATERIALIZED (SELECT DISTINCT id FROM "
        "(SELECT src AS id FROM e UNION ALL SELECT dst AS id FROM e))",
        f"sd AS (SELECT id AS seed FROM (VALUES {seed_rows}) AS t(id))",
        "r0 AS MATERIALIZED (SELECT seed, seed AS id, 1.0 AS rank FROM sd)",
    ]
    for k in range(num_iterations):
        parts += [
            f"sm{k} AS MATERIALIZED (SELECT sd.seed, coalesce(sum(r.rank), 0.0) "
            f"AS sm FROM sd LEFT JOIN (SELECT r.seed, r.rank FROM r{k} r "
            "JOIN nodes n ON r.id = n.id LEFT JOIN deg g ON r.id = g.id "
            "WHERE coalesce(g.outdeg, 0) = 0) r ON sd.seed = r.seed "
            "GROUP BY sd.seed)",
            f"c{k} AS MATERIALIZED (SELECT r.seed, e.dst AS id, "
            f"{d} * sum(r.rank / g.outdeg) AS rank "
            f"FROM r{k} r JOIN deg g ON r.id = g.id "
            "JOIN e ON e.src = r.id GROUP BY r.seed, e.dst)",
            f"r{k + 1} AS MATERIALIZED (SELECT seed, id, sum(rank) AS rank "
            f"FROM (SELECT seed, id, rank FROM c{k} UNION ALL "
            f"SELECT seed, seed AS id, {1.0 - d} + {d} * sm FROM sm{k}) "
            "GROUP BY seed, id)",
        ]
    return (
        ",\n".join(parts)
        + f"\nSELECT seed, id, round(rank, 9) AS rank "
        f"FROM r{num_iterations}"
    )
