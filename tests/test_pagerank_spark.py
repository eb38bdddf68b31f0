"""Golden tests: Spark PageRank vs the NumPy oracle (north-rule bar:
ranks allclose 1e-6 + equal iteration counts at epsilon=1e-6)."""

import dataclasses
import math

import pytest

from ps_projekt_pagerank_spark import NORTH_EPSILON, REFERENCE_DELTA
from ps_projekt_pagerank_spark.fixtures import FIXTURE_GRAPHS, MINI_EDGES, tripled_k
from ps_projekt_pagerank_spark.operators import pagerank as pagerank_module
from ps_projekt_pagerank_spark.operators import graph_task, pagerank_task
from ps_projekt_pagerank_spark.operators.graph import build_graph
from ps_projekt_pagerank_spark.operators.pagerank import pagerank, pagerank_fixed
from ps_projekt_pagerank_spark.oracle import pagerank as oracle_pagerank
from ps_projekt_pagerank_spark.plans.reporting import (
    order_agreement,
    top_bottom_k,
    total_rank,
)
from ps_projekt_pagerank_spark.sources.snap import edges_from_pairs


PATHS = ["kernel", "sweep"]
MULTIGRAPH = [(0, 1), (0, 1), (1, 1), (1, 0), (2, 0), (0, 2)]


def _pagerank_on(path, *args, **kw):
    """pagerank(*args, **kw) on the one-task kernel or the sweep loop. A
    call that builds its own graph ranks its edge rows in the one task
    while they fit the one-task build, so on the sweep loop they fit
    neither (and the graph is built on Spark's workers)."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(pagerank_task, "fits", lambda g: path == "kernel")
        if path == "sweep":
            mp.setattr(graph_task, "fits", lambda m: False)
        return pagerank(*args, **kw)


def _ranks(result):
    return {r["id"]: r["rank"] for r in result.ranks.collect()}


def _assert_matches_oracle(
    spark, edge_list, path="kernel", delta=NORTH_EPSILON, max_iterations=1000,
    **kw,
):
    expected, expected_iters = oracle_pagerank(
        edge_list, delta=delta, max_iterations=max_iterations
    )
    edges = edges_from_pairs(spark, edge_list)
    result = _pagerank_on(
        path, edges, epsilon=delta, max_iterations=max_iterations, **kw
    )
    got = _ranks(result)
    assert result.iterations == expected_iters
    assert set(got) == set(expected)
    for nid, r in expected.items():
        assert math.isclose(got[nid], r, abs_tol=1e-6), (nid, got[nid], r)
    return result


@pytest.mark.parametrize("name", ["sink-test", "mini", "small"])
def test_fixture_golden(spark, name):
    _assert_matches_oracle(spark, FIXTURE_GRAPHS[name])


@pytest.mark.parametrize(
    "case", ["sink-test", "mini", "small", "multigraph", "tripled"]
)
def test_sweep_loop_golden(spark, case):
    """The oracle-golden cases of the one-task tests, on the sweep loop."""
    edge_list = {
        **FIXTURE_GRAPHS, "multigraph": MULTIGRAPH,
        "tripled": tripled_k(MINI_EDGES, 2),
    }[case]
    _assert_matches_oracle(spark, edge_list, path="sweep")


@pytest.mark.parametrize(
    ("name", "iterations"), [("mini", 25), ("small", 29), ("sink-test", 44)]
)
def test_reference_delta_iterations(spark, name, iterations):
    """At the reference's own delta the one-task kernel reproduces the
    reference binary's iteration counts. Only the kernel is held to them:
    at 1e-16 a freeze turns on the last ulp, and the sweep loop's
    distributed sums merge in whatever order the shuffle delivers."""
    res = _assert_matches_oracle(
        spark, FIXTURE_GRAPHS[name], delta=REFERENCE_DELTA
    )
    assert res.iterations == iterations


@pytest.mark.parametrize("cap", [1, 5])
def test_capped_runs_agree(spark, cap):
    """A capped run counts no empty sweep (linkbench's warm-up job caps
    at 1); both paths give the oracle's capped ranks and count."""
    for path in PATHS:
        res = _assert_matches_oracle(
            spark, FIXTURE_GRAPHS["mini"], path=path, max_iterations=cap
        )
        assert res.iterations == cap == len(res.metrics)


def test_warm_start_partial_and_foreign_ids(spark):
    """Graph ids absent from ``init_ranks``, or with a null rank there,
    start at 1/N; ids in ``init_ranks`` absent from the graph, and null
    ids, are ignored. Zero sweeps return the start ranks themselves;
    three sweeps from them agree on both paths."""
    g = build_graph(edges_from_pairs(spark, MINI_EDGES))
    init = {nid: 0.01 * (nid + 1) for nid in range(0, 10, 2)}  # evens only
    init.update({10**6: 0.5, 10**6 + 1: 0.25})  # not in the graph
    # a null start rank: 1/N; a start rank of a null id: no node's
    rows = list(init.items()) + [(1, None), (None, 0.3)]
    init_df = spark.createDataFrame(rows, "id LONG, rank DOUBLE")
    start = {nid: init.get(nid, 1.0 / 10) for nid in range(10)}
    runs = {}
    for path in PATHS:
        zero = _pagerank_on(
            path, None, graph=g, init_ranks=init_df, max_iterations=0
        )
        assert zero.iterations == 0 and zero.metrics == []
        assert _ranks(zero) == start, path
        runs[path] = _pagerank_on(
            path, None, epsilon=NORTH_EPSILON, graph=g, init_ranks=init_df,
            max_iterations=3,
        )
        assert runs[path].iterations == len(runs[path].metrics) == 3, path
    kernel, sweep = _ranks(runs["kernel"]), _ranks(runs["sweep"])
    assert kernel.keys() == sweep.keys() == set(range(10))
    for nid in kernel:
        assert math.isclose(kernel[nid], sweep[nid], abs_tol=1e-12), nid
    g.unpersist()


def test_wide_ids(spark):
    """Ids >= 2^31 keep the adjacency in the wide ``long`` layout."""
    edge_list = [(s + 2**33, d + 2**33) for s, d in MINI_EDGES]
    g = build_graph(edges_from_pairs(spark, edge_list))
    assert g.id_type == "long"
    for path in PATHS:
        _assert_matches_oracle(spark, edge_list, path=path, graph=g)
    g.unpersist()


def test_negative_ids(spark):
    """An id below -2^31 keeps the wide ``long`` layout on both build
    paths; narrowing it would overflow the cast."""
    edge_list = [(-(2**40) if s == 0 else s, d) for s, d in MINI_EDGES]
    for build in ("task", "distributed"):
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(graph_task, "fits", lambda m: build == "task")
            g = build_graph(edges_from_pairs(spark, edge_list))
        assert g.id_type == "long", build
        for path in PATHS:
            _assert_matches_oracle(spark, edge_list, path=path, graph=g)
        g.unpersist()


def test_empty_edge_list_unpersists_own_graph(spark, monkeypatch):
    from pyspark.storagelevel import StorageLevel

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    before = persisted()
    built = []

    def build(edges, weight_col=None):
        built.append(build_graph(edges, weight_col))
        return built[-1]

    monkeypatch.setattr(pagerank_module, "build_graph", build)
    res = pagerank(edges_from_pairs(spark, []))
    assert res.iterations == 0 and res.metrics == []
    assert res.ranks.count() == 0
    (g,) = built
    assert g.nodes.storageLevel == g.adj.storageLevel == StorageLevel.NONE
    # the frames above may only read what the build persisted; the
    # JVM's cleaner may meanwhile drop RDDs of earlier tests
    assert persisted() <= before


def test_salted_two_stage_agg_matches(spark):
    g = build_graph(edges_from_pairs(spark, FIXTURE_GRAPHS["mini"]))
    _assert_matches_oracle(
        spark, FIXTURE_GRAPHS["mini"], path="sweep",
        graph=dataclasses.replace(g, salt_buckets=4),
    )
    g.unpersist()


def test_multigraph_duplicates_and_self_loops(spark):
    # duplicate edge doubles the contribution; self-loop is legal
    _assert_matches_oracle(spark, MULTIGRAPH)


def test_tripled_scale_up(spark):
    edge_list = tripled_k(MINI_EDGES, 2)  # 198 edges
    _assert_matches_oracle(spark, edge_list)


def test_graph_tables_counts(spark):
    g = build_graph(edges_from_pairs(spark, MINI_EDGES))
    assert g.num_nodes == 10
    assert g.num_edges == 22
    assert g.num_sinks == 5  # {1,6,7,8,9}
    sinks = {
        r["id"] for r in g.nodes.where("is_sink").select("id").collect()
    }
    assert sinks == {1, 6, 7, 8, 9}
    g.unpersist()


def test_fixed_iteration_power_method(spark):
    # fixed-k (no freezing) equals the oracle run with freezing disabled by
    # a huge delta... instead compare against the oracle truncated manually
    import numpy as np

    edges = edges_from_pairs(spark, MINI_EDGES)
    got = {r["id"]: r["rank"] for r in pagerank_fixed(edges, 4).collect()}
    # oracle with delta=0 never freezes; run 4 sweeps via max_iterations=4
    expected, _ = oracle_pagerank(MINI_EDGES, delta=0.0, max_iterations=4)
    assert np.allclose(
        [got[k] for k in sorted(got)], [expected[k] for k in sorted(expected)],
        atol=1e-12,
    )


def test_reporting(spark):
    edges = edges_from_pairs(spark, MINI_EDGES)
    res = pagerank(edges, epsilon=NORTH_EPSILON)
    assert math.isclose(total_rank(res.ranks), 1.0, abs_tol=10 * NORTH_EPSILON)
    tb = top_bottom_k(res.ranks, edges, k=3).collect()
    top_ids = [r["id"] for r in tb if r["which"] == "top"]
    assert set(top_ids[:2]) == {0, 5}
    assert order_agreement(res.ranks, res.ranks) == 1.0


def test_top_bottom_k_counts_every_duplicate_link(spark):
    """A weighted (src, dst, w) frame stands for w links per row: over
    build_graph(MULTIGRAPH).adj top_bottom_k gives the in-link counts it
    gives over the raw MULTIGRAPH edges (node 1: two 0 -> 1 links and a
    self-loop)."""
    edges = edges_from_pairs(spark, MULTIGRAPH)
    g = build_graph(edges)
    ranks = pagerank(None, graph=g).ranks
    raw, weighted = (
        sorted(tuple(r) for r in top_bottom_k(ranks, e, k=3).collect())
        for e in (edges, g.adj)
    )
    assert weighted == raw
    assert {r[1] for r in raw if r[0] == 1} == {3}
    g.unpersist()


def test_checkpoint_resume(spark, tmp_path):
    from ps_projekt_pagerank_spark.sources.checkpoint import IterationCheckpointer

    edge_list = FIXTURE_GRAPHS["mini"]
    ck_dir = tmp_path / "ck"
    cp = IterationCheckpointer(str(ck_dir))
    edges = edges_from_pairs(spark, edge_list)

    def snapshots():
        """{iteration: committed?} of every snapshot dir under ranks/."""
        return {
            int(d.name.removeprefix("iter=")): (d / "_COMMITTED").exists()
            for d in (ck_dir / "ranks").iterdir()
        }

    # run only 5 iterations, then resume to convergence from the snapshot
    partial = pagerank(edges, epsilon=NORTH_EPSILON, max_iterations=5,
                       checkpointer=cp)
    assert partial.iterations == 5
    assert cp.latest(spark)[0] == 5
    # retention: only the last three snapshots survive, all committed
    assert snapshots() == {3: True, 4: True, 5: True}
    resumed = pagerank(edges, epsilon=NORTH_EPSILON,
                       checkpointer=IterationCheckpointer(str(ck_dir)))
    expected, expected_iters = oracle_pagerank(edge_list, delta=NORTH_EPSILON)
    assert resumed.iterations == expected_iters
    got = {r["id"]: r["rank"] for r in resumed.ranks.collect()}
    for nid, r in expected.items():
        assert math.isclose(got[nid], r, abs_tol=1e-6)
    last = resumed.metrics[-1]["iteration"]
    assert last > 5
    assert snapshots() == {last - 2: True, last - 1: True, last: True}
    assert cp.latest(spark)[0] == last
    assert len(cp.metrics()) >= expected_iters - 5


def test_snap_reader(spark, tmp_path):
    from ps_projekt_pagerank_spark.sources.snap import read_snap_edges

    p = tmp_path / "g.txt"
    p.write_text(
        "# Directed graph\n# Nodes: 999 Edges: 5105039\n# FromNodeId\tToNodeId\n"
        "0\t1\n0\t1\n1\t2\n2\t0\n"
    )
    edges = read_snap_edges(spark, str(p))
    rows = [(r["src"], r["dst"]) for r in edges.collect()]
    assert sorted(rows) == [(0, 1), (0, 1), (1, 2), (2, 0)]  # dup kept


@pytest.mark.parametrize(
    ("fname", "name"),
    [
        ("mini-web-Google.txt", "mini"),
        ("small-web-Google.txt", "small"),
        ("sink-test-web-Google.txt", "sink-test"),
    ],
)
def test_snap_reader_on_reference_fixtures(spark, fname, name):
    """S1 reader on the reference repo's actual committed fixture files
    (read-only): comment/header handling, tab separation, and that our
    inlined FIXTURE_GRAPHS edge sets are exactly what the files contain."""
    import os

    from ps_projekt_pagerank_spark.sources.snap import read_snap_edges

    path = f"/root/reference/web-Google/{fname}"
    if not os.path.exists(path):
        pytest.skip("reference fixtures not present")
    rows = read_snap_edges(spark, path).collect()
    got = sorted((r["src"], r["dst"]) for r in rows)
    assert got == sorted(FIXTURE_GRAPHS[name])


def _by_key(df):
    """{(seed?, id): other values} — one row per key."""
    keys = [c for c in ("seed", "id") if c in df.columns]
    return {
        tuple(r[k] for k in keys): [r[c] for c in df.columns if c not in keys]
        for r in df.collect()
    }


def test_auto_salt_engages_on_hub_and_matches_unsalted(spark):
    """build_graph must derive salt_buckets > 1 when one dst holds far more
    adjacency rows than the mean AND more than a partition's fair share;
    the salted two-stage gather must reproduce the unsalted results for
    every operator that gathers through operators.sweep. Uniform graphs
    must stay at 1 (salting there only adds a second agg)."""
    from ps_projekt_pagerank_spark.operators.eigenvector import eigenvector_fixed
    from ps_projekt_pagerank_spark.operators.hits import hits
    from ps_projekt_pagerank_spark.operators.katz import katz_fixed
    from ps_projekt_pagerank_spark.operators.opic import opic
    from ps_projekt_pagerank_spark.operators.pagerank import (
        pagerank_personalized_batch,
        pagerank_personalized_fixed,
    )
    from ps_projekt_pagerank_spark.operators.salsa import salsa

    # star: 4000 distinct sources all pointing at node 0, plus a sparse
    # uniform background so the mean in-degree stays tiny
    star = [(i, 0) for i in range(1, 4001)] + [
        (i, 1 + i % 997) for i in range(1, 4001)
    ]
    g = build_graph(edges_from_pairs(spark, star))
    assert g.salt_buckets > 1, (g.salt_buckets, g.max_dst_rows, g.num_adj_rows)
    assert g.max_dst_rows == 4000

    operators = {
        "pagerank": lambda gr: _pagerank_on(
            "sweep", None, epsilon=1e-6, max_iterations=50, graph=gr
        ).ranks,
        "pagerank_fixed": lambda gr: pagerank_fixed(None, 3, graph=gr),
        "pagerank_personalized_fixed": lambda gr: pagerank_personalized_fixed(
            None, [1, 2], 3, graph=gr
        ),
        "pagerank_personalized_batch": lambda gr: pagerank_personalized_batch(
            None, [1, 2], 3, graph=gr
        ),
        "katz_fixed": lambda gr: katz_fixed(None, 3, graph=gr),
        "eigenvector_fixed": lambda gr: eigenvector_fixed(None, 3, graph=gr),
        "opic": lambda gr: opic(None, 3, graph=gr),
        "hits": lambda gr: hits(None, 3, graph=gr),
        "salsa": lambda gr: salsa(None, 3, graph=gr),
    }
    unsalted_g = dataclasses.replace(g, salt_buckets=1)
    for name, run in operators.items():
        a = _by_key(run(g))
        b = _by_key(run(unsalted_g))
        assert a.keys() == b.keys(), name
        for k in a:
            for x, y in zip(a[k], b[k]):
                assert math.isclose(x, y, abs_tol=1e-9), (name, k, x, y)
    g.unpersist()

    g_uniform = build_graph(edges_from_pairs(spark, MINI_EDGES))
    assert g_uniform.salt_buckets == 1
    g_uniform.unpersist()


def test_sweep_records(spark, tmp_path):
    """PageRankResult.metrics holds one record per sweep that ran a
    scatter — cold and warm-started on either path, capped and resumed
    on the checkpointed sweep loop — and none for the counted empty
    sweep; linkbench's edges_per_cpu_s sums their ``edges``."""
    from ps_projekt_pagerank_spark.sources.checkpoint import IterationCheckpointer

    g = build_graph(edges_from_pairs(spark, FIXTURE_GRAPHS["mini"]))
    ck_dir = str(tmp_path / "ck")
    runs = []
    for path in PATHS:
        cold = _pagerank_on(path, None, epsilon=NORTH_EPSILON, graph=g)
        warm = _pagerank_on(
            path, None, epsilon=NORTH_EPSILON, graph=g, init_ranks=cold.ranks
        )
        runs += [(cold, 1, cold.iterations - 1), (warm, 1, warm.iterations - 1)]
    # a checkpointed call takes the sweep loop whatever the budget
    partial = _pagerank_on(
        "kernel", None, epsilon=NORTH_EPSILON, max_iterations=5, graph=g,
        checkpointer=IterationCheckpointer(ck_dir),
    )
    resumed = _pagerank_on(
        "kernel", None, epsilon=NORTH_EPSILON, graph=g,
        checkpointer=IterationCheckpointer(ck_dir),
    )
    # (result, first sweep run, last sweep run)
    runs += [
        (partial, 1, 5),  # capped: no empty sweep
        (resumed, 6, resumed.iterations - 1),
    ]
    for res, first, last in runs:
        assert [m["iteration"] for m in res.metrics] == list(range(first, last + 1))
        for m in res.metrics:
            assert set(m) == {"iteration", "edges", "seconds", "n_active"}, m
            assert m["edges"] == g.num_edges
            assert m["seconds"] > 0
        assert (res.metrics[-1]["n_active"] > 0) == (res is partial)
    g.unpersist()


def test_checkpoint_metrics_once_per_iteration_after_crash(
    spark, tmp_path, monkeypatch
):
    """A crash between the metrics append and the _COMMITTED marker
    leaves a record for a snapshot resume ignores; after the resume the
    log still reads one record per iteration, 1..k."""
    from ps_projekt_pagerank_spark.sources import checkpoint
    from ps_projekt_pagerank_spark.sources.checkpoint import IterationCheckpointer

    ck_dir = str(tmp_path / "ck")
    edges = edges_from_pairs(spark, FIXTURE_GRAPHS["mini"])
    real_open, failed = open, []

    def crash_once(path, *args, **kw):
        if str(path).endswith("iter=3/_COMMITTED") and not failed:
            failed.append(path)
            raise OSError("injected crash before the commit marker")
        return real_open(path, *args, **kw)

    monkeypatch.setattr(checkpoint, "open", crash_once, raising=False)
    with pytest.raises(OSError, match="injected"):
        pagerank(edges, epsilon=NORTH_EPSILON,
                 checkpointer=IterationCheckpointer(ck_dir))
    cp = IterationCheckpointer(ck_dir)
    assert cp.latest(spark)[0] == 2
    assert [m["iteration"] for m in cp.metrics()] == [1, 2]
    resumed = pagerank(
        edges, epsilon=NORTH_EPSILON, max_iterations=5, checkpointer=cp
    )
    k = resumed.iterations
    assert k == 5
    assert [m["iteration"] for m in cp.metrics()] == list(range(1, k + 1))
    with open(f"{ck_dir}/metrics.jsonl") as f:
        assert sum(1 for line in f if line.strip()) == k + 1  # 3 twice
