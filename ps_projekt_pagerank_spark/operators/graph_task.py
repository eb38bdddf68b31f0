"""G1-G4 of operators.graph in ONE task, for edge lists that fit one
Python worker's memory.

The reference builds its graph in one sequential pass over the edge file
(Graph.cpp:60-115) and packs it as CSR (Graph4CL.cpp:16-46). The
distributed build (operators.graph.build_graph) pays a Spark plan per
table and per count, a fixed cost that outweighs the row work as long as
the edge list fits one machine. Here the edge rows reach one task
(``coalesce(1).mapInArrow``), which derives the node ids and out-degrees
with operators.pagerank_task's own helpers, collapses duplicate
(src, dst) rows into one weighted row, and emits the node and adjacency
tables as one tagged union. One eager localCheckpoint of that union is
the build's only pass over the edges; the GraphTables counts are
observed on the same action.

The adjacency is ONE partition in (src, dst) order, not hash-partitioned
by src. That costs the sweep loop (operators.sweep) nothing while it
broadcasts the |V|-row rank state, i.e. while the state is under the
session's 64 MB ``autoBroadcastJoinThreshold`` — about 2M nodes. On a
larger graph the scatter join re-shuffles this adjacency every sweep.
"""

from __future__ import annotations

from functools import partial

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from .graph import GraphTables, counted_graph_tables, id_layout
from .pagerank_task import ROW_BYTES, arrow_columns, budget_bytes, node_index

# tag 0: a node (a = id, b = outdeg, c = adjacency rows into it);
# tag 1: an adjacency row (a = src, b = dst, c = w)
_OUT = pa.schema([("tag", pa.int8()), ("a", pa.int64()), ("b", pa.int64()),
                  ("c", pa.int64())])
_OUT_DDL = "tag TINYINT, a LONG, b LONG, c LONG"


def fits(num_edge_rows: int) -> bool:
    """Whether an edge list of ``num_edge_rows`` rows fits the task's
    budget (pagerank_task.budget_bytes), each edge row priced at
    3 * ROW_BYTES. That bounds the graph: m edge rows make at most 2m
    nodes and m adjacency rows, so every graph built here is within
    pagerank_task.fits. It also bounds the build itself: the task's
    Python worker peaks at 150-197 bytes per edge row (VmHWM at task end
    less VmRSS at task start, a fresh worker per task, on an R-MAT graph
    with a hub of 0.46M edge rows and three disjoint copies of it), well
    under that price."""
    return 3 * num_edge_rows * ROW_BYTES <= budget_bytes()


def _rows(tag: int, a: np.ndarray, b: np.ndarray, c: np.ndarray):
    return pa.Table.from_arrays(
        [pa.array(np.full(len(a), tag, np.int8)), pa.array(a), pa.array(b),
         pa.array(c)], schema=_OUT,
    ).to_batches(max_chunksize=1 << 16)


def _task(batches, weighted: bool):
    """mapInArrow body: the whole build over the edge rows. Yields a node
    row per node in id order, then an adjacency row per distinct
    (src, dst) pair in (src, dst) order."""
    names = ("src", "dst", "w") if weighted else ("src", "dst")
    cols = arrow_columns(batches, {None: names})
    m = len(cols["src"])
    if not m:
        return
    w = cols["w"] if weighted else np.ones(m, np.int64)
    ids, src, dst, outdeg = node_index(cols["src"], cols["dst"], w)  # G1, G2
    n = len(ids)
    # G3: one row per (src, dst) pair, its w the exact sum over the pair
    key = src * n + dst
    order = np.argsort(key, kind="stable")
    key = key[order]
    first = np.flatnonzero(np.diff(key, prepend=-1))
    pair_src, pair_dst = np.divmod(key[first], n)
    yield from _rows(0, ids, outdeg, np.bincount(pair_dst, minlength=n))
    yield from _rows(
        1, ids[pair_src], ids[pair_dst], np.add.reduceat(w[order], first)
    )


def build_one_task(edges: DataFrame, weight_col: str | None) -> GraphTables:
    """build_graph's tables, built in one task: nodes (id LONG, outdeg
    LONG, is_sink BOOLEAN) and adjacency (src, dst, w in the id layout)
    both read one checkpoint, which ``GraphTables.unpersist`` releases.
    One Spark job, the eager checkpoint, whose observed aggregates are the
    counts."""
    weighted = weight_col is not None
    rows = edges.select(
        F.col("src").cast("long"), F.col("dst").cast("long"),
        *([F.col(weight_col).cast("long").alias("w")] if weighted else []),
    )
    node, a, b, c = F.col("tag") == 0, F.col("a"), F.col("b"), F.col("c")
    obs = Observation()
    out = (
        rows.coalesce(1)
        .mapInArrow(partial(_task, weighted=weighted), _OUT_DDL)
        .observe(
            obs,
            F.count(F.when(node, 1)).alias("num_nodes"),
            F.count(F.when(node & (b == 0), 1)).alias("num_sinks"),
            F.min(F.when(node, a)).alias("min_id"),
            F.max(F.when(node, a)).alias("max_id"),
            F.count(F.when(node & (c > 0), 1)).alias("n_dst"),
            F.max(F.when(node, c)).alias("max_dst_rows"),
            F.count(F.when(~node, 1)).alias("num_adj_rows"),
            F.sum(F.when(~node, c)).alias("num_edges"),
        )
        .localCheckpoint(eager=True)
    )
    counts = obs.get
    id_t = id_layout(counts.pop("min_id"), counts.pop("max_id"))
    return counted_graph_tables(
        out.where(node).select(
            a.alias("id"), b.alias("outdeg"), (b == 0).alias("is_sink")
        ),
        out.where(~node).select(
            a.cast(id_t).alias("src"), b.cast(id_t).alias("dst"),
            c.cast(id_t).alias("w"),
        ),
        id_t, checkpoint=out, **counts,
    )
