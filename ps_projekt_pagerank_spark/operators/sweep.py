"""The rank family's one distributed sweep — scatter, gather, commit
(reference Graph.cpp:118-173) — and the loop that drives it.

``gather`` is the package's only distributed scatter join + gather
aggregation: every rank-family operator (PageRank and its fixed/
personalized variants, Katz, eigenvector, OPIC, HITS, SALSA) sums its
per-edge contributions through it whenever it runs on Spark's workers,
so the hub-skew salt and any later change to the gather land once. The
one exception is frozen-node ``pagerank`` on a graph that fits one task:
it runs the whole loop as NumPy in one task (operators.pagerank_task)
and reaches this module only when checkpointed or over that budget.

``iterate`` drives the operators whose state is one row per node
(``node_state``): each states only its init columns, its per-edge
contribution and its commit (apply) columns. Per sweep the loop runs
exactly ONE Spark action — the eager ``localCheckpoint`` of the committed
state, which also truncates lineage — and reads the operator's per-sweep
scalars (sink mass, max, active count) off that same action as an
Observation: the "device→host scalar per iteration" shape of the
reference GPU loop (Graph4CL.cpp:166-181). The observed frame is the
checkpointed one on purpose — a metrics node behind the checkpoint's RDD
boundary would never publish.

Scale shape: the |E|-row adjacency is laid out ONCE (build_graph: hash-
partitioned by src, or one cached partition unpacked from the one-task
build's packed graph);
each sweep moves only the |V|-row state. A one-partition adjacency runs
the scatter join and the partial gather in one task, and is re-shuffled
every sweep once the state is too large to broadcast. When the
state's size estimate is under the session's 64 MB
``spark.sql.autoBroadcastJoinThreshold`` (session.get_spark), Catalyst
broadcasts the state instead of shuffling it. That broadcast is not free:
the driver builds it in its own heap every sweep, and on an R-MAT
scale-22 graph (943k nodes) under a 2g driver heap the sweep's eager
``localCheckpoint`` fails with ``notEnoughMemoryToBuildAndBroadcastTable``.
The gather is a hash aggregation with map-side partial combine, which
already collapses each partition's contributions to one row per distinct
dst before the shuffle.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Sequence
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from .graph import GraphTables, release_checkpoint


def gather(
    state: DataFrame,
    adj: DataFrame,
    contribution: Column,
    salt_buckets: int,
    by: Sequence[str] = (),
) -> DataFrame:
    """(dst, *by, contrib) — Σ ``contribution`` per dst over the edges of
    ``adj`` (src, dst, …) whose src has a row in ``state`` (keyed by
    ``id``); ``contribution`` reads adj's and the src row's columns.

    ``by`` names state columns that key the state besides ``id`` (the
    per-seed batch keeps one vector per seed); they join the group key.
    The state key is cast to the adjacency's id type so the |E| side
    needs no cast — and keeps its src partitioning.

    ``salt_buckets > 1`` splits each hot dst across that many salt
    sub-keys: partial per (dst, salt), then final per dst — the
    reference's dynamic-schedule analogue for hub skew (Graph.cpp:206).
    The salt is a hash of the contribution row, so it is deterministic.
    """
    src = state.select(
        F.col("id").cast(adj.schema["src"].dataType).alias("src_id"),
        *[c for c in state.columns if c != "id"],
    )
    keys = ["dst", *by]
    contribs = adj.join(src, adj["src"] == src["src_id"]).select(
        *keys, contribution.alias("c")
    )
    if salt_buckets > 1:
        return (
            contribs.withColumn(
                "salt", F.pmod(F.xxhash64(*keys, "c"), F.lit(salt_buckets))
            )
            .groupBy(*keys, "salt")
            .agg(F.sum("c").alias("cs"))
            .groupBy(*keys)
            .agg(F.sum("cs").alias("contrib"))
        )
    return contribs.groupBy(*keys).agg(F.sum("c").alias("contrib"))


def node_state(
    g: GraphTables, *cols, nodes: DataFrame | None = None
) -> DataFrame:
    """(id, outdeg, is_sink, *cols) — one row per node of ``nodes``
    (default ``g.nodes``; any frame carrying those three columns) in the
    adjacency's id layout, so the scatter join keys match without casts.
    ``cols`` are the operator's init columns."""
    nodes = g.nodes if nodes is None else nodes
    return nodes.select(
        F.col("id").cast(g.id_type).alias("id"),
        F.col("outdeg").cast(g.id_type).alias("outdeg"),
        "is_sink",
        *cols,
    )


def sink_mass(col: str) -> Column:
    """Σ ``col`` over the sink nodes, observed as scalar ``sink``."""
    return F.sum(F.when(F.col("is_sink"), F.col(col)).otherwise(0.0)).alias(
        "sink"
    )


def step(
    g: GraphTables, state: DataFrame, contribution: Column, columns: list
) -> DataFrame:
    """One sweep's committed state, unexecuted: gather the contributions
    of the nodes with out-links, left-join them back (``contrib`` is null
    for nodes with no in-links) and project (id, outdeg, is_sink,
    *columns)."""
    gathered = gather(
        state.where(F.col("outdeg") > 0), g.adj, contribution, g.salt_buckets
    )
    return state.join(gathered, state["id"] == gathered["dst"], "left").select(
        "id", "outdeg", "is_sink", *columns
    )


@dataclass
class Sweeps:
    state: DataFrame  # the last committed node_state frame
    iterations: int  # the iteration number of the last sweep run
    scalars: dict  # the aggregates observed over ``state``, by alias
    metrics: list[dict]  # one record per sweep run


def iterate(
    g: GraphTables,
    state: DataFrame,
    contribution: Callable[[dict], Column],
    apply: Callable[[dict], list],
    sweeps: int,
    observe: Sequence[Column] = (),
    active: Column | None = None,
    start: int = 0,
    checkpointer=None,
) -> Sweeps:
    """Run sweeps over ``state`` (a ``node_state`` frame) until iteration
    ``sweeps`` or until no node is active.

    ``contribution(s)`` is the per-edge expression and ``apply(s)`` the
    committed value columns of the next state, both built from ``s``,
    the scalars of the current state: the ``observe`` aggregates plus
    ``n_active``, the number of rows where ``active`` holds (every row
    when ``active`` is None — an operator that never freezes a node).

    The scalars of the starting state cost one aggregation action; every
    sweep after that is one action. Each sweep appends a record
    (iteration, edges, seconds, n_active) and, given a ``checkpointer``
    (sources.checkpoint.IterationCheckpointer), durably writes the state
    with it; ``start`` is the iteration a resumed state was written at.
    """
    n_active = (
        F.count("*") if active is None else F.sum(active.cast("long"))
    ).alias("n_active")
    cols = (n_active, *observe)
    state = state.persist(StorageLevel.MEMORY_AND_DISK)
    s = state.agg(*cols).first().asDict()
    it, metrics = start, []
    while it < sweeps and s["n_active"]:
        t0 = time.perf_counter()
        obs = Observation()
        nxt = (
            step(g, state, contribution(s), apply(s))
            .observe(obs, *cols)
            .localCheckpoint(eager=True)
        )
        if it == start:
            state.unpersist()  # the caller's frame, cached above
        else:
            release_checkpoint(state)  # a checkpoint of this loop's own
        state, s = nxt, obs.get
        it += 1
        metrics.append(
            {
                "iteration": it,
                "edges": g.num_edges,
                "seconds": time.perf_counter() - t0,
                "n_active": int(s["n_active"]),
            }
        )
        if checkpointer is not None:
            checkpointer.write(it, state, metrics[-1])
    return Sweeps(state, it, s, metrics)
