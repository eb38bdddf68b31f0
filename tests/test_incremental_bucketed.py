"""Warm-start (incremental) PageRank + the graph store."""

import contextlib
import io
from collections import Counter

import pytest

from ps_projekt_pagerank_spark.fixtures import FIXTURE_GRAPHS, tripled_k
from ps_projekt_pagerank_spark.operators import graph_task
from ps_projekt_pagerank_spark.operators.graph import build_graph
from ps_projekt_pagerank_spark.operators.pagerank import pagerank
from ps_projekt_pagerank_spark.sources.bucketed import load_graph, save_graph
from tests.test_graph_task import BUILDS, _checkpoint_ids, _contents, _persisted
from tests.test_pagerank_spark import edges_from_pairs


def test_warm_start_converges_faster(spark):
    """After a small graph update, starting from the previous ranks must
    reach the fixed point in fewer sweeps than a cold 1/N start, and land
    on (approximately) the same ranks — the incremental re-rank path for
    a continuously crawled graph."""
    # tripled small graph (~306 edges): the 2-edge update is then a <1%
    # perturbation — the regime warm-starting serves; on a graph where 2
    # edges are a 6% rewrite the head start is (measurably) worthless
    base = tripled_k(FIXTURE_GRAPHS["small"], 2)
    cold = pagerank(edges_from_pairs(spark, base), epsilon=1e-9)

    updated = list(base) + [(0, 7), (3, 9)]
    e2 = edges_from_pairs(spark, updated)
    cold2 = pagerank(e2, epsilon=1e-9)
    warm = pagerank(e2, epsilon=1e-9, init_ranks=cold.ranks)

    assert warm.iterations < cold2.iterations, (
        warm.iterations, cold2.iterations
    )
    a = {r["id"]: r["rank"] for r in cold2.ranks.collect()}
    b = {r["id"]: r["rank"] for r in warm.ranks.collect()}
    assert a.keys() == b.keys()
    for nid in a:
        # frozen-node freezing is trajectory-dependent (a node can freeze
        # the sweep its delta dips under eps, then never correct — the
        # reference's own premature-freeze semantics), so warm and cold
        # agree to the perturbation scale, not to eps (observed ~2e-4)
        assert abs(a[nid] - b[nid]) < 1e-3, nid


def test_bucketed_store_roundtrip_and_no_exchange(spark):
    """save_graph/load_graph must reproduce the graph on both build paths
    (every GraphTables field, the node table, the adjacency and the
    converged ranks), and a src-keyed aggregation over the loaded
    adjacency must add NO Exchange: the one-task build's adjacency is
    one partition, the distributed build's is hash-partitioned by src.
    (The distributed build's own shuffle shows in its cached plan, below
    the InMemoryRelation; that is the load, not the aggregation.)"""
    edges = edges_from_pairs(spark, FIXTURE_GRAPHS["small"])
    for path in BUILDS:
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(graph_task, "fits", lambda m: path == "task")
            g = build_graph(edges)
            try:
                save_graph(g, "t_bucketed_graph")
                g2 = load_graph(spark, "t_bucketed_graph")
                assert _contents(g2) == _contents(g), path
                plan_df = g2.adj.groupBy("src").count()
                buf = io.StringIO()
                with contextlib.redirect_stdout(buf):
                    plan_df.explain("formatted")
                plan = buf.getvalue()
                tree = plan.split("\n\n")[0]
                assert "Exchange" not in tree.split("InMemoryRelation")[0], (
                    path, plan
                )

                a = {r["id"]: r["rank"] for r in pagerank(None, graph=g).ranks.collect()}
                b = {r["id"]: r["rank"] for r in pagerank(None, graph=g2).ranks.collect()}
                assert a.keys() == b.keys()
                for nid in a:
                    assert abs(a[nid] - b[nid]) < 1e-12, (path, nid)
                g2.unpersist()
            finally:
                spark.sql("DROP TABLE IF EXISTS t_bucketed_graph")
                g.unpersist()


def test_stream_maintained_store_plus_warm_start_equals_batch(spark, tmp_path):
    """The composed incremental-crawl path — edge stream, foreachBatch
    MERGE into the store, load, warm-start re-rank. The stream-maintained
    store loads as exactly the graph a batch build of the same edges gives
    (every GraphTables field, the node table and the adjacency), and the
    re-rank lands on the ranks of that batch graph given the same warm
    start (same input, same trajectory: agreement to 1e-6 proves the store
    maintenance is lossless; warm-vs-cold trajectory drift is covered by
    test_warm_start_converges_faster)."""
    from ps_projekt_pagerank_spark.streaming.crawl import (
        incremental_rerank,
        stream_maintain_graph,
    )

    base = tripled_k(FIXTURE_GRAPHS["small"], 2)
    delta = [(0, 7), (3, 9), (0, 7)]  # duplicate link exercises w merge
    d = str(tmp_path / "edge_stream")
    edges_from_pairs(spark, base).coalesce(1).write.mode("append").parquet(d)
    edges_from_pairs(spark, delta).coalesce(1).write.mode("append").parquet(d)

    prev = pagerank(edges_from_pairs(spark, base), epsilon=1e-9)
    full = edges_from_pairs(spark, list(base) + delta)
    g_batch = build_graph(full)
    warm_batch = pagerank(
        None, graph=g_batch, init_ranks=prev.ranks, epsilon=1e-9
    )

    try:
        stream_maintain_graph(spark, d, "t_crawl_store")
        g_store = load_graph(spark, "t_crawl_store")
        assert _contents(g_store) == _contents(g_batch)
        g_store.unpersist()
        warm_inc = incremental_rerank(
            spark, "t_crawl_store", prev_ranks=prev.ranks, epsilon=1e-9
        )
        assert warm_inc.iterations == warm_batch.iterations
        a = {r["id"]: r["rank"] for r in warm_batch.ranks.collect()}
        b = {r["id"]: r["rank"] for r in warm_inc.ranks.collect()}
        assert a.keys() == b.keys()
        for nid in a:
            assert abs(a[nid] - b[nid]) < 1e-6, nid
    finally:
        spark.sql("DROP TABLE IF EXISTS t_crawl_store")
        spark.sql("DROP TABLE IF EXISTS t_crawl_store_nodes")
        g_batch.unpersist()


def test_incremental_rerank_equals_pagerank_on_the_loaded_graph(spark):
    """incremental_rerank builds the graph in its rank task; it gives the
    ranks, iterations and sweep records of pagerank on the graph
    load_graph rebuilds from the same store, built on either path, cold
    and warm-started."""
    from ps_projekt_pagerank_spark.streaming.crawl import (
        apply_edge_delta,
        incremental_rerank,
    )
    from tests.test_graph_task import _result

    name = "t_rerank_store"
    try:
        apply_edge_delta(spark, name, edges_from_pairs(
            spark, tripled_k(FIXTURE_GRAPHS["small"], 2)
        ))
        prev = incremental_rerank(spark, name, epsilon=1e-9)
        apply_edge_delta(spark, name, edges_from_pairs(
            spark, [(0, 7), (3, 9), (0, 7)]
        ))
        for init in (None, prev.ranks):
            got = _result(incremental_rerank(
                spark, name, prev_ranks=init, epsilon=1e-9
            ))
            for path in BUILDS:
                with pytest.MonkeyPatch.context() as mp:
                    mp.setattr(graph_task, "fits", lambda m: path == "task")
                    g = load_graph(spark, name)
                want = _result(pagerank(
                    None, graph=g, init_ranks=init, epsilon=1e-9
                ))
                g.unpersist()
                assert got == want, (init is None, path)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def _store_rows(spark, name):
    return sorted(tuple(r) for r in spark.read.table(name).collect())


def test_wide_delta_widens_the_store(spark):
    """A delta id outside the int32 range, above or below it, widens an
    ``int`` store to ``bigint``, and the store stays edge-exact."""
    from ps_projekt_pagerank_spark.streaming.crawl import apply_edge_delta

    name = "t_narrow_store"
    base = list(FIXTURE_GRAPHS["mini"])
    try:
        for wide in (2**31, -(2**31) - 1):
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            apply_edge_delta(spark, name, edges_from_pairs(spark, base))
            assert dict(spark.read.table(name).dtypes)["src"] == "int"
            delta = [(0, 1), (wide, 0)]
            apply_edge_delta(spark, name, edges_from_pairs(spark, delta))
            assert dict(spark.read.table(name).dtypes)["src"] == "bigint"
            want = Counter(base + delta)
            assert _store_rows(spark, name) == sorted(
                (s, d, w) for (s, d), w in want.items()
            ), wide
            g = load_graph(spark, name)
            assert g.id_type == "long", wide
            g.unpersist()
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_null_endpoint_delta_fails_before_any_write(spark):
    """A delta edge with a null endpoint fails the merge with the
    builders' ValueError, and the store is left as it was."""
    from ps_projekt_pagerank_spark.streaming.crawl import apply_edge_delta

    name = "t_null_store"
    try:
        apply_edge_delta(spark, name, edges_from_pairs(spark, FIXTURE_GRAPHS["mini"]))
        before = _store_rows(spark, name)
        delta = spark.createDataFrame([(0, None), (1, 0)], "src LONG, dst LONG")
        with pytest.raises(ValueError, match="1 edge rows have a null endpoint"):
            apply_edge_delta(spark, name, delta)
        assert _store_rows(spark, name) == before
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_merges_release_their_checkpoints(spark):
    """A merge's checkpoint is released once the store is written: three
    merges into a store leave no persisted RDD behind."""
    from ps_projekt_pagerank_spark.streaming.crawl import apply_edge_delta

    name = "t_release_store"
    try:
        before = _persisted(spark)
        apply_edge_delta(spark, name, edges_from_pairs(spark, FIXTURE_GRAPHS["mini"]))
        for delta in ([(0, 1)], [(2, 5), (5, 2)], [(9, 0), (0, 9), (9, 0)]):
            apply_edge_delta(spark, name, edges_from_pairs(spark, delta))
        assert _persisted(spark) <= before
        assert spark.read.table(name).agg({"w": "sum"}).first()[0] == (
            len(FIXTURE_GRAPHS["mini"]) + 6
        )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_incremental_components_on_maintained_store(spark, tmp_path):
    """The CC leg of the crawl loop: stream-maintained store + warm-start
    labels equals a cold CC over the full batch edge set."""
    from ps_projekt_pagerank_spark.operators.components import (
        connected_components,
    )
    from ps_projekt_pagerank_spark.streaming.crawl import (
        incremental_components,
        stream_maintain_graph,
    )

    base = tripled_k(FIXTURE_GRAPHS["small"], 1)
    delta = [(1, 200), (200, 201)]  # grows a fresh tail off node 1
    d = str(tmp_path / "cc_edge_stream")
    edges_from_pairs(spark, base).coalesce(1).write.mode("append").parquet(d)
    edges_from_pairs(spark, delta).coalesce(1).write.mode("append").parquet(d)

    prev = connected_components(edges_from_pairs(spark, base))
    cold = {
        r["id"]: r["component"]
        for r in connected_components(
            edges_from_pairs(spark, list(base) + delta)
        ).collect()
    }
    try:
        stream_maintain_graph(spark, d, "t_cc_store")
        warm = {
            r["id"]: r["component"]
            for r in incremental_components(
                spark, "t_cc_store", prev_labels=prev
            ).collect()
        }
        assert warm == cold
    finally:
        spark.sql("DROP TABLE IF EXISTS t_cc_store")
        spark.sql("DROP TABLE IF EXISTS t_cc_store_nodes")


def test_incremental_doc_dedup_registry(spark):
    """apply_doc_delta: cross-batch and within-batch duplicates flagged,
    registry grows by distinct content only."""
    from ps_projekt_pagerank_spark.streaming.crawl import apply_doc_delta

    def apply(batch):
        """apply_doc_delta's rows; the call leaves no RDD persisted but
        those its returned frame reads."""
        before = _persisted(spark)
        out = apply_doc_delta(spark, "t_fp_reg", batch)
        assert _persisted(spark) <= before | _checkpoint_ids(out)
        return {
            r["doc_id"]: (r["is_duplicate"], r["first_seen_doc_id"])
            for r in out.collect()
        }

    try:
        b1 = spark.createDataFrame(
            [(0, "alpha beta"), (1, "gamma"), (2, "alpha beta")],
            "doc_id LONG, text STRING",
        )
        assert apply(b1) == {0: (False, 0), 1: (False, 1), 2: (True, 0)}
        # batch 2: re-crawl of doc 0's content + genuinely new content
        b2 = spark.createDataFrame(
            [(10, "alpha beta"), (11, "delta")],
            "doc_id LONG, text STRING",
        )
        assert apply(b2) == {10: (True, 0), 11: (False, 11)}
        assert spark.read.table("t_fp_reg").count() == 3  # distinct contents
    finally:
        spark.sql("DROP TABLE IF EXISTS t_fp_reg")
