"""build_graph on its two paths — one Arrow task and Spark's workers —
gives the same graph."""

import uuid
from collections import Counter

import pytest

from ps_projekt_pagerank_spark import NORTH_EPSILON
from ps_projekt_pagerank_spark.fixtures import FIXTURE_GRAPHS, MINI_EDGES, tripled_k
from ps_projekt_pagerank_spark.operators import graph_task, pagerank_task
from ps_projekt_pagerank_spark.operators.graph import GraphTables, build_graph
from ps_projekt_pagerank_spark.operators.pagerank import pagerank
from ps_projekt_pagerank_spark.sources.snap import edges_from_pairs
from tests.test_pagerank_spark import MULTIGRAPH, _assert_matches_oracle

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
    fields, *_ = _assert_same_on_both_paths(
        spark, lambda: edges_from_pairs(spark, CASES[case])
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


@pytest.mark.parametrize("path", [*BUILDS, "pagerank"])
def test_null_weight_raises_on_every_path(spark, path):
    """A null weight fails the row count, on both build paths and in a
    pagerank call that builds its own graph, before any build: node 1's
    only out-edge has no multiplicity, so node 1 has no out-degree."""
    edges = spark.createDataFrame(
        [(0, 1, 2), (1, 2, None), (2, 0, 1)], "src LONG, dst LONG, w LONG"
    )
    with pytest.raises(ValueError, match="1 edge rows have a null weight"):
        if path == "pagerank":
            pagerank(edges, weight_col="w")
        else:
            _build_on(path, edges, weight_col="w")


def test_one_task_graph_fits_the_one_task_pagerank(spark):
    """m edge rows make at most 2m nodes and m adjacency rows: the largest
    edge list the build takes in one task, at its worst, still fits
    pagerank_task.fits; so does a graph actually built there."""
    m = pagerank_task.budget_bytes() // (3 * pagerank_task.ROW_BYTES)
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
    """The sweep loop, the HITS/SALSA half-rounds and the batch PPR rounds
    release each state they replace (graph.release_checkpoint): after a
    call, no new RDD is left persisted but those its returned frame
    reads."""
    from ps_projekt_pagerank_spark.operators.hits import hits
    from ps_projekt_pagerank_spark.operators.pagerank import (
        pagerank_fixed,
        pagerank_personalized_batch,
    )
    from ps_projekt_pagerank_spark.operators.salsa import salsa

    g = build_graph(edges_from_pairs(spark, MINI_EDGES))
    # the graph's own row views, which its first reader materializes and
    # g.unpersist releases
    g.nodes.count(), g.adj.count()
    try:
        for op, args in (
            (pagerank_fixed, (10,)),
            (hits, (3,)),
            (salsa, (3,)),
            (pagerank_personalized_batch, ([0, 3], 10)),
        ):
            before = _persisted(spark)
            out = op(None, *args, graph=g)
            assert _persisted(spark) <= before | _checkpoint_ids(out), op
    finally:
        g.unpersist()


@pytest.mark.parametrize("case", ["wide-ids", "negative-ids", "empty"])
def test_packed_round_trip_across_slices(spark, monkeypatch, case):
    """At 3 entries a slice every packed array spans several binary rows:
    the one-task build still equals the distributed one, row views
    included, and the kernel ranks either graph, packed, as the oracle
    does (a distributed graph is packed in the rank task itself)."""
    monkeypatch.setattr(graph_task, "CHUNK", 3)
    edge_list = CASES[case]
    graphs = {path: _build_on(path, edges_from_pairs(spark, edge_list))
              for path in BUILDS}
    assert _contents(graphs["task"]) == _contents(graphs["distributed"])
    g = graphs["task"]
    tags = [r["tag"] for r in g.checkpoint.select("tag").collect()]
    assert tags == [pagerank_task.NODES] * -(-g.num_nodes // 3) + [
        pagerank_task.ADJ] * -(-g.num_adj_rows // 3)
    for g in graphs.values():
        if edge_list:
            _assert_matches_oracle(spark, edge_list, graph=g)
        else:
            res = pagerank(None, graph=g)
            assert res.iterations == 0 and res.ranks.count() == 0
        g.unpersist()


def _spark_jobs(spark, run):
    """``run()`` and the number of Spark jobs it ran, read from the
    status tracker under a job group of its own."""
    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("path", [*BUILDS, "own"])
def test_one_task_pagerank_is_one_spark_job(spark, path):
    """A pagerank call on a graph that fits the one-task kernel, cold or
    warm-started, runs exactly one Spark job. A call that builds its own
    graph from edge rows that fit the one-task build (``pagerank(edges)``,
    ``incremental_rerank``) runs two: the row count and the rank task,
    which builds the graph itself. Either persists nothing but the
    checkpoint its ranks read: the one-task graph's row views stay
    unmaterialized, and an own graph leaves no GraphTables."""
    from ps_projekt_pagerank_spark.streaming.crawl import (
        apply_edge_delta,
        incremental_rerank,
    )

    edges = edges_from_pairs(spark, FIXTURE_GRAPHS["small"])
    store = "t_one_job_store"
    g = None
    if path == "own":
        apply_edge_delta(spark, store, edges)
        calls = {
            "pagerank(edges)": lambda init: pagerank(
                edges, epsilon=NORTH_EPSILON, init_ranks=init
            ),
            "incremental_rerank": lambda init: incremental_rerank(
                spark, store, prev_ranks=init, epsilon=NORTH_EPSILON
            ),
        }
    else:
        g = _build_on(path, edges)
        assert (g.checkpoint is not None) == (path == "task")
        calls = {"pagerank(graph=g)": lambda init: pagerank(
            None, epsilon=NORTH_EPSILON, graph=g, init_ranks=init,
        )}
    try:
        for name, call in calls.items():
            init = None
            for start in ("cold", "warm"):
                before = _persisted(spark)
                res, jobs = _spark_jobs(spark, lambda: call(init))
                assert jobs == (2 if g is None else 1), (name, start)
                assert res.iterations > 1
                assert len(res.metrics) == res.iterations - 1
                assert _persisted(spark) <= before | _checkpoint_ids(
                    res.ranks
                ), (name, start)
                init = res.ranks
    finally:
        if g is not None:
            g.unpersist()
        spark.sql(f"DROP TABLE IF EXISTS {store}")


def _result(res):
    """A PageRankResult's iterations, its sweep records less their times,
    and its ranks."""
    return (
        res.iterations,
        [{k: v for k, v in m.items() if k != "seconds"} for m in res.metrics],
        sorted(tuple(r) for r in res.ranks.collect()),
    )


@pytest.mark.parametrize("case", ["multigraph", "star"])
def test_weighted_edge_rows_rank_as_their_multigraph(spark, case):
    """The collapsed adjacency, fed back as a weighted edge list, ranks
    bit for bit as the multigraph it came from: same ranks, iterations
    and sweep records (``edges`` counts every duplicate)."""
    edges = edges_from_pairs(spark, CASES[case])
    g = build_graph(edges)
    try:
        want = _result(pagerank(edges))
        assert _result(pagerank(g.adj, weight_col="w")) == want
        assert want[1][0]["edges"] == len(CASES[case])
    finally:
        g.unpersist()


def test_edge_rows_over_the_budget_go_through_build_graph(spark, monkeypatch):
    """Edge rows over the one-task build's budget go through build_graph,
    and a graph over the kernel's budget through the sweep loop: one
    Spark job per sweep, and the oracle's ranks."""
    from ps_projekt_pagerank_spark.operators import pagerank as pagerank_module

    calls = []

    def spy(name):
        real = getattr(pagerank_module, name)

        def wrapped(*args, **kw):
            calls.append(name)
            return real(*args, **kw)

        monkeypatch.setattr(pagerank_module, name, wrapped)

    spy("build_graph")
    spy("_sweep_loop")
    # path="sweep" forces both budgets' fits false
    res, jobs = _spark_jobs(spark, lambda: _assert_matches_oracle(
        spark, FIXTURE_GRAPHS["small"], path="sweep"
    ))
    assert calls == ["build_graph", "_sweep_loop"]
    assert jobs > res.iterations
