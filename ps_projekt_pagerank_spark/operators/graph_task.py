"""G1-G4 of operators.graph in ONE task, for edge lists that fit one
Python worker's memory.

The reference builds its graph in one sequential pass over the edge file
(Graph.cpp:60-115) and packs it as CSR (Graph4CL.cpp:16-46). The
distributed build (operators.graph.build_graph) pays a Spark plan per
table and per count, a fixed cost that outweighs the row work as long as
the edge list fits one machine. Here the edge rows reach one task
(``coalesce(1).mapInArrow``), which derives the node ids and
out-degrees, collapses duplicate (src, dst) rows into one weighted row,
and emits the graph packed the way operators.pagerank_task reads it: the
node ids, the out-degrees and the collapsed adjacency as node indices
plus ``w``, each cut into slices of at most ``CHUNK`` entries, one
binary row per slice. One eager localCheckpoint of those few rows is
the build's only pass over the edges; the GraphTables counts are
observed on the same action.

The node and adjacency tables are row views of that checkpoint,
unpacked by one more task and persisted the first time something reads
them (the sweep loop, ``save_graph``); the one-task PageRank reads the
packed rows and never materializes them. The adjacency view is ONE
partition in (src, dst) order, not hash-partitioned by src. That costs
the sweep loop (operators.sweep) nothing while it broadcasts the
|V|-row rank state, i.e. while the state is under the session's 64 MB
``autoBroadcastJoinThreshold`` — about 2M nodes. On a larger graph the
scatter join re-shuffles this adjacency every sweep.
"""

from __future__ import annotations

from functools import partial

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from .graph import GraphTables, counted_graph_tables, id_layout
from .pagerank_task import ADJ, NODES, PACKED, ROW_BYTES, arrow_columns, budget_bytes

# Entries per packed slice: 2 MB of int64 a binary value, so one row
# stays small for the JVM however large the graph
CHUNK = 1 << 18

# the packed rows; the first row also carries the GraphTables counts
_COUNTS = ("num_nodes", "num_sinks", "min_id", "max_id", "n_dst",
           "max_dst_rows", "num_adj_rows", "num_edges")
_ARRAYS = [c for cols in PACKED.values() for c in cols]
_OUT = pa.schema([("tag", pa.int8()), *((c, pa.binary()) for c in _ARRAYS),
                  *((k, pa.int64()) for k in _COUNTS)])
_OUT_DDL = ", ".join(
    ["tag TINYINT", *(f"{c} BINARY" for c in _ARRAYS),
     *(f"{k} LONG" for k in _COUNTS)]
)


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


def node_index(src: np.ndarray, dst: np.ndarray, w: np.ndarray):
    """G1 and G2 over edge arrays: the node ids (the sorted distinct
    endpoints), ``src`` and ``dst`` as indices into them, and each node's
    out-degree, the exact integer sum of ``w`` over its out-edges."""
    m = len(src)
    ids, index = np.unique(np.concatenate([src, dst]), return_inverse=True)
    outdeg = np.zeros(len(ids), np.int64)
    np.add.at(outdeg, index[:m], w)
    return ids, index[:m], index[m:], outdeg


def _slices(tag: int, chunk: int, **arrays: np.ndarray) -> list[dict]:
    """Packed rows of ``tag``: ``arrays`` (of one length) cut into slices
    of ``chunk`` entries, a row per slice."""
    n = len(next(iter(arrays.values())))
    return [
        {"tag": tag, **{c: a[lo:lo + chunk].astype("<i8").tobytes()
                        for c, a in arrays.items()}}
        for lo in range(0, n, chunk)
    ]


def _task(batches, weighted: bool, chunk: int):
    """mapInArrow body: the whole build over the edge rows. Yields the
    node slices in id order, then the adjacency slices in (src, dst)
    order, one row per batch."""
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
    in_rows = np.bincount(pair_dst, minlength=n)
    rows = _slices(NODES, chunk, ids=ids, outdeg=outdeg) + _slices(
        ADJ, chunk, src=pair_src, dst=pair_dst,
        w=np.add.reduceat(w[order], first),
    )
    counts = (n, np.count_nonzero(outdeg == 0), ids[0], ids[-1],  # G4
              np.count_nonzero(in_rows), in_rows.max(), len(first), w.sum())
    rows[0].update(zip(_COUNTS, map(int, counts)))
    for row in rows:
        yield pa.RecordBatch.from_pylist([row], schema=_OUT)


def _pack(rows: DataFrame, weighted: bool) -> DataFrame:
    """The build task over edge ``rows`` (src, dst[, w] as LONG)."""
    task = partial(_task, weighted=weighted, chunk=CHUNK)
    return rows.coalesce(1).mapInArrow(task, _OUT_DDL)


def packed(g: GraphTables) -> DataFrame:
    """``g`` as packed rows: the one-task build's checkpoint, or, for a
    graph built on Spark's workers, its adjacency packed by the build
    task (weighted by ``w``), unmaterialized."""
    if g.checkpoint is not None:
        return g.checkpoint
    return _pack(
        g.adj.select(*(F.col(c).cast("long") for c in ("src", "dst", "w"))),
        weighted=True,
    )


def _node_rows(batches):
    """mapInArrow body: the node table of the packed rows."""
    cols = arrow_columns(batches, {NODES: ("ids", "outdeg")})
    yield from pa.Table.from_pydict({
        "id": cols["ids"], "outdeg": cols["outdeg"],
        "is_sink": cols["outdeg"] == 0,
    }).to_batches(max_chunksize=1 << 16)


def _adj_rows(batches):
    """mapInArrow body: the adjacency table of the packed rows, its node
    indices mapped back to ids."""
    cols = arrow_columns(batches, {NODES: ("ids",), ADJ: ("src", "dst", "w")})
    ids = cols["ids"]
    yield from pa.Table.from_pydict({
        "src": ids[cols["src"]], "dst": ids[cols["dst"]], "w": cols["w"],
    }).to_batches(max_chunksize=1 << 16)


def build_one_task(edges: DataFrame, weight_col: str | None) -> GraphTables:
    """build_graph's tables, built in one task and kept packed in one
    checkpoint, which ``GraphTables.unpersist`` releases. The nodes
    (id LONG, outdeg LONG, is_sink BOOLEAN) and the adjacency (src, dst,
    w in the id layout) are persisted row views of it, materialized by
    their first reader. One Spark job, the eager checkpoint, whose
    observed aggregates are the counts."""
    weighted = weight_col is not None
    rows = edges.select(
        F.col("src").cast("long"), F.col("dst").cast("long"),
        *([F.col(weight_col).cast("long").alias("w")] if weighted else []),
    )
    obs = Observation()
    out = (
        _pack(rows, weighted)
        .observe(obs, *(F.max(k).alias(k) for k in _COUNTS))
        .localCheckpoint(eager=True)
    )
    counts = obs.get
    id_t = id_layout(counts.pop("min_id"), counts.pop("max_id"))
    level = StorageLevel.MEMORY_AND_DISK
    nodes = out.mapInArrow(
        _node_rows, "id LONG, outdeg LONG, is_sink BOOLEAN"
    ).persist(level)
    adj = (
        out.mapInArrow(_adj_rows, "src LONG, dst LONG, w LONG")
        .select(*(F.col(c).cast(id_t) for c in ("src", "dst", "w")))
        .persist(level)
    )
    return counted_graph_tables(nodes, adj, id_t, checkpoint=out, **counts)
