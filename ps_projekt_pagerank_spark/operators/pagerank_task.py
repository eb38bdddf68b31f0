"""Frozen-node PageRank (P1-P7 of operators.pagerank) in ONE task, for
graphs whose adjacency fits one Python worker's memory.

The reference packs its graph as CSR once and then ranks it with one
sequential loop over the packed arrays (Graph4CL.cpp:16-46,
Graph.cpp:118-173). The distributed sweep (operators.sweep) pays one
Spark plan and one eager checkpoint per sweep, a fixed cost that
outweighs the row work as long as the graph fits one machine. Here the
graph reaches one task (``coalesce(1).mapInArrow``) as the packed arrays
operators.graph_task builds — node ids, out-degrees and the collapsed
adjacency as node indices plus ``w``, a few binary rows — together with
the start ranks of a warm start, tagged into the same union. The task
runs every sweep over dense NumPy arrays; one eager localCheckpoint of
its output, the ranks, is the call's only Spark job, and the per-sweep
records come back as an Observation on that same action.

This module shares no code with oracle/: the gate compares the two, which
only means something while they are independent implementations.
"""

from __future__ import annotations

import time
from functools import partial

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..session import mem_total_bytes
from .graph import GraphTables

# Bytes the task's Python worker may add per node plus adjacency row. Its
# peak RSS on packed input (VmHWM at task end less VmRSS at task start, a
# fresh Python process fed the task's Arrow input from a file and keeping
# its whole Arrow output) was measured on R-MAT graphs with a hub of
# 0.68M and 1.94M such rows: 137 and 92 bytes a row cold, 141 and 92
# warm-started, about 70 a row at the margin plus ~45 MB fixed; 200
# leaves 40% or more of headroom over those
ROW_BYTES = 200

# A packed graph, as operators.graph_task writes it: each row holds one
# slice of the node arrays (tag NODES: ``ids``, sorted, and ``outdeg``) or
# of the collapsed adjacency's (tag ADJ: ``src`` and ``dst`` as indices
# into the ids, and ``w``), little-endian int64 bytes, slices in order.
# The rank task's input adds one row per start rank (tag INIT: id, rank).
NODES, ADJ, INIT = 0, 1, 2
PACKED = {NODES: ("ids", "outdeg"), ADJ: ("src", "dst", "w")}
# The task's output: a rank row per node, then one row (id null) whose
# ``sweeps`` lists the per-sweep records. A rank row carries nothing else:
# each further column costs the JVM more per call than all the sweeps.
_SWEEP = pa.struct([("iteration", pa.int32()), ("seconds", pa.float64()),
                    ("n_active", pa.int64())])
_OUT = pa.schema([("id", pa.int64()), ("rank", pa.float64()),
                  ("sweeps", pa.list_(_SWEEP))])
_OUT_DDL = ("id LONG, rank DOUBLE, "
            "sweeps ARRAY<STRUCT<iteration: INT, seconds: DOUBLE, n_active: LONG>>")


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


def _values(col: pa.Array) -> np.ndarray:
    """``col`` as NumPy; a BINARY column's packed int64 slices joined."""
    if pa.types.is_binary(col.type):
        return np.frombuffer(b"".join(col.to_pylist()), "<i8")
    return col.to_numpy(zero_copy_only=False)


def arrow_columns(batches, parts: dict) -> dict[str, np.ndarray]:
    """The named columns of Arrow ``batches`` as NumPy arrays, each
    concatenated over all batches in row order. ``parts`` maps a tag to
    the columns read from the rows carrying that tag; tag None reads
    every row (the batches then need no tag column). A column the
    batches lack reads as empty."""
    got: dict[str, list] = {c: [] for cols in parts.values() for c in cols}
    for b in batches:
        for tag, cols in parts.items():
            rows = b if tag is None else b.filter(pc.equal(b.column("tag"), tag))
            for c in cols:
                if c in rows.schema.names:
                    got[c].append(_values(rows.column(c)))
    return {c: np.concatenate(v) if v else np.empty(0, np.int64)
            for c, v in got.items()}


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
    """mapInArrow body: the whole frozen-node loop over the packed graph
    and the start ranks. Yields a rank row per node, then the row of
    per-sweep records."""
    cols = arrow_columns(batches, {**PACKED, INIT: ("id", "rank")})
    ids = cols["ids"]
    if not len(ids):
        raise ValueError("the one-task PageRank received no rows")
    if len(ids) != num_nodes:
        raise ValueError(
            f"the packed adjacency holds {len(ids)} node ids, the graph "
            f"{num_nodes}"
        )
    rank, records = frozen_sweeps(
        cols["outdeg"], _start_ranks(ids, cols["id"], cols["rank"]),
        cols["src"], cols["dst"], cols["w"], damping, epsilon, max_iterations,
    )
    no_sweeps = pa.nulls(len(ids), _OUT.field("sweeps").type)
    yield from pa.Table.from_arrays(
        [pa.array(ids), pa.array(rank), no_sweeps], schema=_OUT
    ).to_batches(max_chunksize=1 << 16)
    sweeps = [dict(zip([f.name for f in _SWEEP], r)) for r in records]
    yield pa.RecordBatch.from_pylist(
        [{"id": None, "rank": None, "sweeps": sweeps}], schema=_OUT
    )


def pagerank_one_task(
    packed: DataFrame,
    g: GraphTables,
    init_ranks: DataFrame | None,
    damping: float,
    epsilon: float,
    max_iterations: int,
) -> tuple[DataFrame, list[dict]]:
    """Run the frozen-node loop over ``packed``, graph ``g`` as packed
    rows (graph_task.packed), in one task, from 1/N or from
    ``init_ranks`` (id, rank; nodes it lacks, or whose rank is null,
    start at 1/N). Returns the ranks (id LONG, rank DOUBLE),
    checkpointed, and one record per sweep (iteration, edges, seconds,
    n_active) — the sweep loop's records. One Spark job, the eager
    checkpoint, on whose action the records are observed."""
    rows = packed
    if init_ranks is not None:
        init = init_ranks.select(
            F.lit(INIT).cast("byte").alias("tag"), F.col("id").cast("long"),
            F.col("rank").cast("double"),
        ).where(F.col("rank").isNotNull())
        rows = rows.unionByName(init, allowMissingColumns=True)
    task = partial(_task, num_nodes=g.num_nodes, damping=damping,
                   epsilon=epsilon, max_iterations=max_iterations)
    obs = Observation()
    # the task's output is checkpointed as it comes: a filter in front of
    # the checkpoint costs more CPU than it saves its readers
    out = (
        rows.coalesce(1).mapInArrow(task, _OUT_DDL)
        .observe(obs, F.first("sweeps", ignorenulls=True).alias("sweeps"))
        .localCheckpoint(eager=True)
    )
    records = [dict(r.asDict(), edges=g.num_edges) for r in obs.get["sweeps"]]
    return out.where(F.col("id").isNotNull()).select("id", "rank"), records
