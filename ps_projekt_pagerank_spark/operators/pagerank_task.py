"""Frozen-node PageRank (P1-P7 of operators.pagerank) in ONE task, for
graphs whose adjacency fits one Python worker's memory.

The reference ranks a graph with one sequential loop (Graph.cpp:118-173).
The distributed sweep (operators.sweep) pays one Spark plan and one eager
checkpoint per sweep, a fixed cost that outweighs the row work as long as
the graph fits one machine. Here the adjacency rows, and the start ranks
of a warm start, reach one task as a tagged union
(``coalesce(1).mapInArrow``); the task derives the node ids and
out-degrees from the adjacency (the node set is the set of edge
endpoints, G1), runs every sweep over dense NumPy arrays, and one eager
localCheckpoint of its output — the ranks plus one record per sweep — is
the call's only pass over the graph.

This module shares no code with oracle/: the gate compares the two, which
only means something while they are independent implementations.
"""

from __future__ import annotations

import time
from functools import partial

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import mem_total_bytes
from .graph import GraphTables

# Bytes the task's Python worker may add per node plus adjacency row. Its
# peak RSS (VmHWM at task end less VmRSS at task start) was measured on
# R-MAT graphs of 0.7M and 1.9M such rows: 129-147 bytes a row cold,
# 139-158 warm-started, about 120 bytes a row at the margin plus ~35 MB
# fixed; 200 leaves a quarter or more of headroom over those
ROW_BYTES = 200

_IN = {"id": "long", "rank": "double", "src": "long", "dst": "long", "w": "long"}
_INIT, _ADJ = ("id", "rank"), ("src", "dst", "w")
_OUT = pa.schema([("tag", pa.int8()), ("id", pa.int64()), ("rank", pa.float64()),
                  ("iteration", pa.int32()), ("seconds", pa.float64()),
                  ("n_active", pa.int64())])
_OUT_DDL = ("tag TINYINT, id LONG, rank DOUBLE, iteration INT, "
            "seconds DOUBLE, n_active LONG")


def budget_bytes(meminfo: str = "/proc/meminfo") -> int:
    """An eighth of this machine's physical memory: the driver heap takes
    half (session.default_driver_memory), and the task's Python worker
    runs beside it. 128 MB where ``meminfo`` is unreadable."""
    total = mem_total_bytes(meminfo)
    return 128 * 1024**2 if total is None else total // 8


def fits(g: GraphTables) -> bool:
    """Whether the node and adjacency rows of ``g`` fit the task's budget."""
    return (g.num_nodes + g.num_adj_rows) * ROW_BYTES <= budget_bytes()


def frozen_sweeps(
    outdeg: np.ndarray,
    rank: np.ndarray,
    src: np.ndarray,
    dst: np.ndarray,
    w: np.ndarray,
    damping: float,
    epsilon: float,
    max_iterations: int,
) -> tuple[np.ndarray, list[tuple[int, float, int]]]:
    """P2-P5 over dense arrays: ``outdeg`` and ``rank`` (the start ranks)
    per node, ``src``/``dst`` node indices and ``w`` multiplicities per
    adjacency row. Sweeps until ``max_iterations`` or until no node is
    active; returns the ranks and one (iteration, seconds, n_active)
    record per sweep. The counted empty sweep (P6) is the caller's."""
    n = len(rank)
    is_sink = outdeg == 0
    # per-edge operands in the sweep loop's order: w * rank[src] / outdeg[src]
    w = w.astype(np.float64)
    od = outdeg[src].astype(np.float64)
    active = np.ones(n, dtype=bool)
    n_active, it, records = n, 0, []
    while it < max_iterations and n_active:
        t0 = time.perf_counter()
        sink = ((1.0 - damping) + damping * rank[is_sink].sum()) / n
        new = sink + damping * np.bincount(
            dst, weights=w * rank[src] / od, minlength=n
        )
        moved = np.abs(new - rank) >= epsilon
        rank = np.where(active, new, rank)
        active &= moved
        n_active = int(np.count_nonzero(active))
        it += 1
        records.append((it, time.perf_counter() - t0, n_active))
    return rank, records


def arrow_columns(batches, parts: dict) -> dict[str, np.ndarray]:
    """The named columns of Arrow ``batches`` as NumPy arrays, each
    concatenated over all batches. ``parts`` maps a tag to the columns
    read from the rows carrying that tag; tag None reads every row (the
    batches then need no tag column)."""
    got: dict[str, list] = {c: [] for cols in parts.values() for c in cols}
    for b in batches:
        for tag, cols in parts.items():
            rows = b if tag is None else b.filter(pc.equal(b.column("tag"), tag))
            for c in cols:
                got[c].append(rows.column(c).to_numpy(zero_copy_only=False))
    return {c: np.concatenate(v) if v else np.empty(0, np.int64)
            for c, v in got.items()}


def node_index(src: np.ndarray, dst: np.ndarray, w: np.ndarray):
    """G1 and G2 over edge arrays: the node ids (the sorted distinct
    endpoints), ``src`` and ``dst`` as indices into them, and each node's
    out-degree, the exact integer sum of ``w`` over its out-edges."""
    m = len(src)
    ids, index = np.unique(np.concatenate([src, dst]), return_inverse=True)
    outdeg = np.zeros(len(ids), np.int64)
    np.add.at(outdeg, index[:m], w)
    return ids, index[:m], index[m:], outdeg


def _start_ranks(ids: np.ndarray, init_id: np.ndarray, init_rank: np.ndarray):
    """P1, warm: 1/N, overwritten by ``init_rank`` where ``init_id`` is a
    node; start ranks of ids that are not nodes are dropped."""
    n = len(ids)
    rank = np.full(n, 1.0 / n)
    if len(np.unique(init_id)) != len(init_id):
        raise ValueError("duplicate ids in the start ranks")
    pos = np.minimum(np.searchsorted(ids, init_id), n - 1)
    known = ids[pos] == init_id
    rank[pos[known]] = init_rank[known]
    return rank


def _task(batches, num_nodes: int, damping: float, epsilon: float,
          max_iterations: int):
    """mapInArrow body: the whole frozen-node loop over the union's rows.
    Yields a rank row (tag 0) per node, then a record row (tag 1) per
    sweep."""
    cols = arrow_columns(batches, {0: _INIT, 1: _ADJ})
    if not len(cols["src"]):
        raise ValueError("the one-task PageRank received no rows")
    ids, src, dst, outdeg = node_index(cols["src"], cols["dst"], cols["w"])
    if len(ids) != num_nodes:
        raise ValueError(
            f"the adjacency holds {len(ids)} node ids, the graph {num_nodes}"
        )
    rank, records = frozen_sweeps(
        outdeg, _start_ranks(ids, cols["id"], cols["rank"]),
        src, dst, cols["w"], damping, epsilon, max_iterations,
    )
    n, k = len(ids), len(records)
    rec = np.array(records, dtype=np.float64).reshape(k, 3)
    yield from pa.Table.from_arrays([
        pa.array(np.zeros(n, np.int8)), pa.array(ids), pa.array(rank),
        pa.nulls(n, pa.int32()), pa.nulls(n, pa.float64()),
        pa.nulls(n, pa.int64()),
    ], schema=_OUT).to_batches(max_chunksize=1 << 16)
    yield pa.RecordBatch.from_arrays([
        pa.array(np.ones(k, np.int8)), pa.nulls(k, pa.int64()),
        pa.nulls(k, pa.float64()), pa.array(rec[:, 0].astype(np.int32)),
        pa.array(rec[:, 1]), pa.array(rec[:, 2].astype(np.int64)),
    ], schema=_OUT)


def _tagged(df: DataFrame, tag: int) -> DataFrame:
    """``df``'s columns of the union, in its layout; null where absent."""
    return df.select(
        F.lit(tag).cast("byte").alias("tag"),
        *[(F.col(c) if c in df.columns else F.lit(None)).cast(t).alias(c)
          for c, t in _IN.items()],
    )


def pagerank_one_task(
    g: GraphTables,
    init_ranks: DataFrame | None,
    damping: float,
    epsilon: float,
    max_iterations: int,
) -> tuple[DataFrame, list[dict]]:
    """Run the frozen-node loop over ``g.adj`` in one task, from 1/N or
    from ``init_ranks`` (id, rank; nodes it lacks, or whose rank is null,
    start at 1/N). Returns the ranks (id LONG, rank DOUBLE), checkpointed,
    and one record per sweep (iteration, edges, seconds, n_active) — the
    sweep loop's records. Two Spark jobs: the eager checkpoint and the
    read of the records."""
    rows = _tagged(g.adj, 1)
    if init_ranks is not None:
        init = init_ranks.select("id", "rank").where(F.col("rank").isNotNull())
        rows = _tagged(init, 0).unionAll(rows)
    task = partial(_task, num_nodes=g.num_nodes, damping=damping,
                   epsilon=epsilon, max_iterations=max_iterations)
    out = rows.coalesce(1).mapInArrow(task, _OUT_DDL).localCheckpoint(eager=True)
    records = sorted(
        ({"iteration": r["iteration"], "edges": g.num_edges,
          "seconds": r["seconds"], "n_active": r["n_active"]}
         for r in out.where(F.col("tag") == 1).collect()),
        key=lambda m: m["iteration"],
    )
    return out.where(F.col("tag") == 0).select("id", "rank"), records
