"""build_graph on its two paths — one Arrow task and Spark's workers —
gives the same graph."""

from collections import Counter

import pytest

from ps_projekt_pagerank_spark.fixtures import FIXTURE_GRAPHS, MINI_EDGES, tripled_k
from ps_projekt_pagerank_spark.operators import graph_task, pagerank_task
from ps_projekt_pagerank_spark.operators.graph import GraphTables, build_graph
from ps_projekt_pagerank_spark.sources.snap import edges_from_pairs
from tests.test_pagerank_spark import MULTIGRAPH

BUILDS = ["task", "distributed"]
STAR = [(i, 0) for i in range(1, 4001)] + [(i, 1 + i % 997) for i in range(1, 4001)]
CASES = {
    **FIXTURE_GRAPHS,
    "multigraph": MULTIGRAPH,
    "tripled": tripled_k(MINI_EDGES, 2),
    "star": STAR,
    "wide-ids": [(s + 2**33, d + 2**33) for s, d in MINI_EDGES],
    "negative-ids": [(-(2**40) if s == 0 else s, d) for s, d in MINI_EDGES],
    "empty": [],
}
LONG_IDS = {"wide-ids", "negative-ids", "empty"}
WEIGHTED = [(0, 1, 3), (0, 1, 2), (1, 2, 5), (2, 0, 1), (2, 2, 4), (3, 0, 7)]


def _build_on(path, *args, **kw):
    """build_graph(*args, **kw) in one task or on Spark's workers."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(graph_task, "fits", lambda m: path == "task")
        return build_graph(*args, **kw)


def _persisted(spark) -> set[int]:
    """Ids of the persisted RDDs. The JVM's cleaner may drop RDDs of
    earlier, garbage-collected frames meanwhile, so a build has released
    everything it persisted when the ids after it are a subset of those
    before it."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _contents(g: GraphTables):
    """Every field of ``g``, its node table and its adjacency multiset."""
    fields = {
        k: v for k, v in vars(g).items() if k not in ("nodes", "adj", "checkpoint")
    }
    return (
        fields, g.nodes.dtypes, g.adj.dtypes,
        sorted(tuple(r) for r in g.nodes.collect()),
        Counter(tuple(r) for r in g.adj.collect()),
    )


def _assert_same_on_both_paths(spark, make_edges, **kw):
    """Both paths build the same graph, and unpersist releases every RDD
    the build persisted."""
    got = {}
    for path in BUILDS:
        before = _persisted(spark)
        g = _build_on(path, make_edges(), **kw)
        got[path] = _contents(g)
        g.unpersist()
        assert _persisted(spark) <= before, path
    assert got["task"] == got["distributed"]
    return got["task"]


@pytest.mark.parametrize("case", list(CASES))
def test_build_paths_agree(spark, case):
    kw = {"partitions": 8} if case == "star" else {}
    fields, *_ = _assert_same_on_both_paths(
        spark, lambda: edges_from_pairs(spark, CASES[case]), **kw
    )
    if case == "star":  # the hub engages the salted gather
        assert fields["salt_buckets"] > 1 and fields["max_dst_rows"] == 4000
    assert fields["id_type"] == ("long" if case in LONG_IDS else "int")


def test_weighted_build_paths_agree(spark):
    """weight_col (the host-graph build): w and out-degrees sum it."""
    fields, *_, nodes, adj = _assert_same_on_both_paths(
        spark,
        lambda: spark.createDataFrame(WEIGHTED, "src LONG, dst LONG, weight LONG"),
        weight_col="weight",
    )
    assert adj == {(0, 1, 5): 1, (1, 2, 5): 1, (2, 0, 1): 1, (2, 2, 4): 1,
                   (3, 0, 7): 1}
    assert nodes == [(0, 5, False), (1, 5, False), (2, 5, False), (3, 7, False)]
    assert fields["num_edges"] == 22


@pytest.mark.parametrize("path", BUILDS)
def test_null_endpoint_raises_on_both_paths(spark, path):
    edges = spark.createDataFrame([(0, 1), (1, None), (2, 0)], "src LONG, dst LONG")
    with pytest.raises(ValueError, match="1 edge rows have a null endpoint"):
        _build_on(path, edges)


def test_one_task_graph_fits_the_one_task_pagerank(spark):
    """m edge rows make at most 2m nodes and m adjacency rows: the largest
    edge list the build takes in one task, at its worst, still fits
    pagerank_task.fits; so does a graph actually built there."""
    per_row = max(graph_task.EDGE_ROW_BYTES, 3 * pagerank_task.ROW_BYTES)
    m = pagerank_task.budget_bytes() // per_row
    assert graph_task.fits(m) and not graph_task.fits(m + 1)
    worst = GraphTables(
        nodes=None, adj=None, num_nodes=2 * m, num_edges=m, num_sinks=0,
        num_adj_rows=m,
    )
    assert pagerank_task.fits(worst)
    g = _build_on("task", edges_from_pairs(spark, FIXTURE_GRAPHS["small"]))
    assert g.checkpoint is not None and pagerank_task.fits(g)
    g.unpersist()


def _checkpoint_ids(df) -> set[int]:
    """Ids of the checkpointed RDDs that ``df``'s plan reads."""
    leaves = df._jdf.queryExecution().logical().collectLeaves()
    return {
        leaves.apply(i).rdd().id()
        for i in range(leaves.size())
        if leaves.apply(i).nodeName() == "LogicalRDD"
    }


def test_rank_loops_release_their_checkpoints(spark):
    """The sweep loop and the HITS/SALSA half-rounds release each state
    they replace (graph.release_checkpoint): after a call, no new RDD is
    left persisted but those its returned frame reads."""
    from ps_projekt_pagerank_spark.operators.hits import hits
    from ps_projekt_pagerank_spark.operators.pagerank import pagerank_fixed
    from ps_projekt_pagerank_spark.operators.salsa import salsa

    g = build_graph(edges_from_pairs(spark, MINI_EDGES))
    try:
        for op in (pagerank_fixed, hits, salsa):
            before = _persisted(spark)
            out = op(None, 10 if op is pagerank_fixed else 3, graph=g)
            assert _persisted(spark) <= before | _checkpoint_ids(out), op
    finally:
        g.unpersist()
