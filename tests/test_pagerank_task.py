"""The one-task PageRank kernel on hand-built Arrow batches — no JVM."""

import pyarrow as pa
import pytest

from ps_projekt_pagerank_spark import DAMPING, NORTH_EPSILON
from ps_projekt_pagerank_spark.fixtures import MINI_EDGES
from ps_projekt_pagerank_spark.operators import graph_task
from ps_projekt_pagerank_spark.operators.pagerank_task import (
    ADJ,
    INIT,
    NODES,
    _task,
    budget_bytes,
)
from ps_projekt_pagerank_spark.oracle import pagerank as oracle_pagerank

def _union(edge_list, init=(), chunk=4):
    """The input pagerank_one_task feeds its task: the graph as the
    one-task build packs it, ``chunk`` entries a slice, then the start
    ranks of a warm start (``init``, (id, rank) pairs)."""
    edges = pa.RecordBatch.from_pydict(
        {"src": [s for s, _ in edge_list], "dst": [d for _, d in edge_list]},
        schema=pa.schema([("src", pa.int64()), ("dst", pa.int64())]),
    )
    starts = pa.RecordBatch.from_pydict(
        {"tag": [INIT] * len(init), "id": [i for i, _ in init],
         "rank": [r for _, r in init]},
        schema=pa.schema([("tag", pa.int8()), ("id", pa.int64()),
                          ("rank", pa.float64())]),
    )
    return [*graph_task._task(iter([edges]), False, chunk), starts]


def _run(batches, max_iterations=1000, num_nodes=10):
    out = pa.Table.from_batches(list(_task(
        iter(batches), num_nodes, DAMPING, NORTH_EPSILON, max_iterations
    ))).to_pylist()
    ranks = {r["id"]: r["rank"] for r in out if r["id"] is not None}
    (sweeps,) = [r["sweeps"] for r in out if r["id"] is None]
    return ranks, [(s["iteration"], s["n_active"]) for s in sweeps]


def test_task_matches_oracle():
    expected, iterations = oracle_pagerank(MINI_EDGES, delta=NORTH_EPSILON)
    ranks, records = _run(_union(MINI_EDGES))
    # one record per scatter sweep; the counted empty sweep has none
    assert [i for i, _ in records] == list(range(1, iterations))
    assert records[-1][1] == 0
    assert ranks.keys() == expected.keys()
    assert max(abs(ranks[v] - expected[v]) for v in expected) < 1e-12


def test_task_capped_run_keeps_active_nodes():
    ranks, records = _run(_union(MINI_EDGES), max_iterations=1)
    assert [i for i, _ in records] == [1] and records[0][1] > 0
    expected, _ = oracle_pagerank(MINI_EDGES, delta=NORTH_EPSILON, max_iterations=1)
    assert max(abs(ranks[v] - expected[v]) for v in expected) < 1e-12


def test_task_warm_start_partial_and_foreign_ids():
    """Nodes without a start rank start at 1/N; start ranks of ids that
    are not nodes are dropped."""
    init = {0: 0.3, 4: 0.2, 9: 0.1, 10**6: 0.5}
    ranks, records = _run(_union(MINI_EDGES, init.items()), max_iterations=0)
    assert records == []
    assert ranks == {v: init.get(v, 1 / 10) for v in range(10)}


@pytest.mark.parametrize(
    ("batches", "num_nodes", "message"),
    [(_union(MINI_EDGES), 11, "adjacency holds 10 node ids, the graph 11"),
     (_union(MINI_EDGES, [(0, 0.1)] * 2), 10, "duplicate ids in the start ranks"),
     ([], 10, "received no rows")],
)
def test_task_raises_on_inconsistent_input(batches, num_nodes, message):
    with pytest.raises(ValueError, match=message):
        _run(batches, num_nodes=num_nodes)


def test_budget_is_an_eighth_of_memtotal(tmp_path):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text("MemTotal:       16456384 kB\n")
    assert budget_bytes(str(meminfo)) == 16456384 * 1024 // 8
    assert budget_bytes(str(tmp_path / "absent")) == 128 * 1024**2


def test_kernel_shares_no_code_with_the_oracle():
    """The gate compares the kernel with oracle/: it must not import it."""
    import ast
    import inspect

    from ps_projekt_pagerank_spark.operators import pagerank_task

    tree = ast.parse(inspect.getsource(pagerank_task))
    modules = [
        node.module or "" for node in ast.walk(tree)
        if isinstance(node, ast.ImportFrom)
    ] + [
        alias.name for node in ast.walk(tree) if isinstance(node, ast.Import)
        for alias in node.names
    ]
    assert modules and not [m for m in modules if "oracle" in m], modules


def test_packed_graph_round_trips_across_slices():
    """With 4 entries a slice, each packed array spans several binary
    rows; the task reads back the arrays a single slice holds."""
    from ps_projekt_pagerank_spark.operators.pagerank_task import PACKED, arrow_columns

    sliced, whole = _union(MINI_EDGES), _union(MINI_EDGES, chunk=1 << 10)
    tags = [b.column("tag")[0].as_py() for b in sliced[:-1]]
    assert tags.count(NODES) == 3 and tags.count(ADJ) > 2, tags
    a, b = (arrow_columns(iter(u), PACKED) for u in (sliced, whole))
    assert a.keys() == b.keys() == {"ids", "outdeg", "src", "dst", "w"}
    for c in a:
        assert a[c].tolist() == b[c].tolist(), c
    assert a["ids"].tolist() == list(range(10))
