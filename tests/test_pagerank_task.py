"""The one-task PageRank kernel on hand-built Arrow batches — no JVM."""

from collections import Counter

import pyarrow as pa
import pytest

from ps_projekt_pagerank_spark import DAMPING, NORTH_EPSILON
from ps_projekt_pagerank_spark.fixtures import MINI_EDGES
from ps_projekt_pagerank_spark.operators.pagerank_task import _task, budget_bytes
from ps_projekt_pagerank_spark.oracle import pagerank as oracle_pagerank

_IN = pa.schema([("tag", pa.int8()), ("id", pa.int64()), ("rank", pa.float64()),
                 ("src", pa.int64()), ("dst", pa.int64()), ("w", pa.int64())])


def _union(edge_list, init=None):
    """The tagged union pagerank_one_task feeds its task: the start ranks
    of a warm start (``init``, id -> rank), then the collapsed adjacency,
    in two batches."""
    adj = Counter(edge_list)
    init = init or {}
    starts = {"tag": [0] * len(init), "id": list(init), "rank": list(init.values())}
    edges = {"tag": [1] * len(adj), "src": [s for s, _ in adj],
             "dst": [d for _, d in adj], "w": list(adj.values())}
    return [
        pa.RecordBatch.from_pydict(
            {c: cols.get(c, [None] * len(cols["tag"])) for c in _IN.names},
            schema=_IN,
        )
        for cols in (starts, edges)
    ]


def _run(batches, max_iterations=1000, num_nodes=10):
    out = pa.Table.from_batches(list(_task(
        iter(batches), num_nodes, DAMPING, NORTH_EPSILON, max_iterations
    ))).to_pydict()
    ranks = {i: r for t, i, r in zip(out["tag"], out["id"], out["rank"]) if t == 0}
    records = [(i, a) for t, i, a in zip(out["tag"], out["iteration"], out["n_active"])
               if t == 1]
    return ranks, records


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
    ranks, records = _run(_union(MINI_EDGES, init), max_iterations=0)
    assert records == []
    assert ranks == {v: init.get(v, 1 / 10) for v in range(10)}


@pytest.mark.parametrize(
    ("batches", "num_nodes", "message"),
    [(_union(MINI_EDGES), 11, "adjacency holds 10 node ids, the graph 11"),
     (_union(MINI_EDGES, {0: 0.1}) * 2, 10, "duplicate ids in the start ranks"),
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
