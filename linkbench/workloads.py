"""The three workloads: how each opens its staged inputs, what one job is,
and the correctness gate every job passes through.

Every workload is a closed loop with one client: a batch-analytics
caller that submits the next job only after the previous one returned.
Calls into the package are wrapped in spans named after the module they
enter, so the traced run can attribute time and Spark tasks per layer.
"""

from __future__ import annotations

import math
import os
import warnings
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from ps_projekt_pagerank_spark import NORTH_EPSILON
from ps_projekt_pagerank_spark.operators.graph import build_graph
from ps_projekt_pagerank_spark.operators.pagerank import pagerank
from ps_projekt_pagerank_spark.plans.reporting import top_bottom_k, total_rank
from ps_projekt_pagerank_spark.sources.bucketed import save_graph
from ps_projekt_pagerank_spark.sources.derived import web_edges
from ps_projekt_pagerank_spark.sources.extraction import (
    encode_edges,
    extract_href_edges,
    url_dictionary,
)
from ps_projekt_pagerank_spark.sources.pages import read_pages
from ps_projekt_pagerank_spark.sources.tripler import tripled_k
from ps_projekt_pagerank_spark.streaming.crawl import (
    apply_edge_delta,
    incremental_rerank,
)

import stage

# Warm and cold frozen-node runs agree to the perturbation scale, not to
# epsilon: a vertex that freezes early keeps its warm-start rank. Over 15
# seeds of this workload the last job's ranks differ from a cold run on
# the same store by up to 2e-3 on one vertex and 0.024 summed over all
# (Σrank is about 1), so the check bounds the sum, with room.
WARM_COLD_L1 = 0.05

# A graph workload's one warm-up job only has to run every plan once (JIT,
# Python workers), so its pagerank stops after this many sweeps, and its
# ranks are not gated
WARMUP_SWEEPS = 1


@dataclass
class Job:
    """What one job produced, for the gate and for the metrics."""

    seconds: float = 0.0
    cpu_s: float = 0.0  # see spans.Span
    ranks: pd.DataFrame | None = None  # id, rank
    iterations: int = 0
    pagerank_s: float = 0.0  # the ranking call, sweeps and their set-up
    pagerank_cpu_s: float = 0.0
    sweeps: list[dict] = field(default_factory=list)  # PageRankResult.metrics
    ok: bool = False
    max_abs_err: float = float("nan")
    error: str = ""
    traced: bool = False
    trace_id: int = 0
    steal_share: float = 0.0  # see spans.Span
    attrs: dict = field(default_factory=dict)


def net_sweeps(metrics: list[dict], sp) -> list[dict]:
    """PageRankResult.metrics with each sweep's seconds net of the steal
    share of the span the sweeps ran in."""
    return [dict(m, seconds=m["seconds"] * (1.0 - sp.steal_share)) for m in metrics]


def gate(job: Job, expected: dict) -> None:
    """Iteration count equal to the oracle's, every vertex present, and
    every rank within 1e-6 of the oracle's. Σrank is deliberately not
    checked: under frozen-node semantics it is not 1."""
    got = job.ranks.sort_values("id")
    ids = got["id"].to_numpy(np.int64)
    if len(ids) != len(expected["ids"]) or not np.array_equal(ids, expected["ids"]):
        job.error = f"vertex set differs: {len(ids)} vs {len(expected['ids'])}"
        return
    job.max_abs_err = float(
        np.max(np.abs(got["rank"].to_numpy() - expected["ranks"]), initial=0.0)
    )
    if job.iterations != int(expected["iterations"]):
        job.error = f"iterations {job.iterations} != oracle {int(expected['iterations'])}"
    elif job.max_abs_err > NORTH_EPSILON:
        job.error = f"max |rank - oracle| = {job.max_abs_err:.3g} > {NORTH_EPSILON}"
    else:
        job.ok = True


class GraphJobs:
    """Shared job for web-tripled and rmat-hub:
    build_graph -> pagerank -> top_bottom_k + total_rank."""

    salted = False  # the staged graph is meant to engage the salted gather
    warmup_jobs = 1

    def __init__(self, spark, stage_dir: str, size):
        self.spark = spark
        self.dir = stage_dir
        self.size = size
        self.edges = None
        self.oracle = None

    def prepare(self, tr) -> list[Job]:
        with tr.span("cache_inputs", "session"):
            # a checkpoint, not persist(): jobs then plan against a plain
            # scan, not against the generator's union-of-joins lineage
            self.edges = self.edges.localCheckpoint(eager=True)
        with np.load(os.path.join(self.dir, "oracle.npz")) as z:
            self.oracle = dict(z)
        return []

    def job(self, tr, corrupt: bool = False, warmup: bool = False) -> Job:
        out = Job()
        with tr.span("job", "job") as js:
            with tr.span("build_graph", "graph") as sp:
                g = build_graph(self.edges)
                sp.attrs.update(
                    adj_rows=g.num_adj_rows,
                    edges=g.num_edges,
                    salt_buckets=g.salt_buckets,
                )
                if self.salted and g.salt_buckets < 2:
                    warnings.warn(
                        f"the hub did not engage the salted gather (salt_buckets="
                        f"{g.salt_buckets}): it holds {self.size.hub_share:.0%} of the "
                        "adjacency rows, which must exceed 1/shuffle partitions"
                    )
            with tr.span("pagerank", "pagerank") as ps:
                cap = {"max_iterations": WARMUP_SWEEPS} if warmup else {}
                res = pagerank(self.edges, graph=g, **cap)
            with tr.span("top_bottom_k+total_rank", "reporting"):
                top_bottom_k(res.ranks, self.edges).collect()
                total_rank(res.ranks)
        out.seconds, out.steal_share, out.cpu_s = js.seconds, js.steal_share, js.cpu_s
        out.iterations, out.sweeps = res.iterations, net_sweeps(res.metrics, ps)
        out.pagerank_s, out.pagerank_cpu_s = ps.seconds, ps.cpu_s
        out.ranks = res.ranks.toPandas()
        g.unpersist()
        if warmup:
            return out
        if corrupt:
            out.ranks.loc[0, "rank"] += 1e-3
        gate(out, self.oracle)
        return out

    def finish(self, jobs: list[Job]) -> None:
        pass

    def batches_left(self) -> float:
        return math.inf


class WebTripled(GraphJobs):
    """sources.derived.web_edges over a seeded lineitem, ids relabelled by
    a seeded permutation, then tripled k times by sources.tripler."""

    def open(self) -> None:
        if self.size.lineitem_rows:
            base = web_edges(self.spark, os.path.join(self.dir, "sf"))
        else:
            base = self.spark.read.parquet(os.path.join(self.dir, "base.parquet"))
        perm = np.load(os.path.join(self.dir, "perm.npy"))
        pm = self.spark.createDataFrame(
            pd.DataFrame({"old": np.arange(len(perm)), "new": perm})
        )
        relabel = lambda c: pm.select(  # noqa: E731
            F.col("old").alias(c), F.col("new").alias(f"{c}_new")
        )
        relabelled = (
            base.join(F.broadcast(relabel("src")), "src")
            .join(F.broadcast(relabel("dst")), "dst")
            .select(F.col("src_new").alias("src"), F.col("dst_new").alias("dst"))
        )
        self.edges = tripled_k(relabelled, self.size.k, max_id=len(perm) - 1)


class RmatHub(GraphJobs):
    """NumPy R-MAT (Graph500 quadrants) plus a seeded mega-hub."""

    salted = True

    def open(self) -> None:
        self.edges = self.spark.read.parquet(os.path.join(self.dir, "edges.parquet"))


STORE = "linkbench_crawl_store"


class CrawlDelta:
    """A pages table extracted, encoded, build_graph'd, save_graph'd and
    cold-ranked once in setup; each job merges one re-crawl batch into the
    bucketed store and re-ranks warm from the previous job's ranks."""

    def __init__(self, spark, stage_dir: str, size):
        self.spark = spark
        self.dir = stage_dir
        self.size = size
        self.batch = 0
        with np.load(os.path.join(stage_dir, "truth.npz")) as z:
            self.truth = dict(z)
        self.src, self.dst = self.truth["src0"], self.truth["dst0"]
        self.prev = None  # previous ranks: Spark frame and collected copy
        self.prev_local: dict[int, float] = {}
        self.cold_iterations = 0

    def open(self) -> None:
        self.pages = read_pages(self.spark, os.path.join(self.dir, "pages.parquet"))

    def prepare(self, tr) -> list[Job]:
        with tr.span("cache_inputs", "session"):
            self.url_dict = url_dictionary(self.pages).persist()
            self.url_dict.count()
        with tr.span("extract_href_edges+encode_edges", "extraction"):
            edges0 = encode_edges(extract_href_edges(self.pages), self.url_dict)
        with tr.span("build_graph", "graph") as sp:
            g = build_graph(edges0)
            sp.attrs.update(
                adj_rows=g.num_adj_rows, edges=g.num_edges, salt_buckets=g.salt_buckets
            )
        with tr.span("save_graph", "graph"):
            save_graph(g, STORE)
        g.unpersist()
        cold = Job()
        with tr.span("incremental_rerank(cold)", "crawl") as sp:
            res = incremental_rerank(self.spark, STORE)
        cold.seconds, cold.steal_share, cold.cpu_s = sp.seconds, sp.steal_share, sp.cpu_s
        cold.iterations, cold.sweeps = res.iterations, net_sweeps(res.metrics, sp)
        cold.ranks = res.ranks.toPandas()
        with np.load(os.path.join(self.dir, "oracle.npz")) as z:
            gate(cold, dict(z))
        self.cold_iterations = res.iterations
        self._advance(res.ranks, cold.ranks)
        return [cold]

    @property
    def warmup_jobs(self) -> int:
        # the JIT keeps shaving a job's CPU time over the first few jobs
        return self.size.warmup

    def _advance(self, ranks_df, ranks_local: pd.DataFrame) -> None:
        self.prev = ranks_df
        self.prev_local = dict(
            zip(ranks_local["id"].tolist(), ranks_local["rank"].tolist())
        )

    def job(self, tr, corrupt: bool = False, warmup: bool = False) -> Job:
        b = self.batch
        self.batch += 1
        path = os.path.join(self.dir, "batches", f"{b}.parquet")
        out = Job()
        with tr.span("job", "job") as js:
            with tr.span("extract_href_edges+encode_edges", "extraction") as sp:
                hrefs = extract_href_edges(read_pages(self.spark, path))
                delta = encode_edges(hrefs, self.url_dict)
                if tr.enabled:
                    # traced jobs only: evaluates the extraction on its own,
                    # which apply_edge_delta then repeats inside its plans
                    sp.attrs.update(hrefs=hrefs.count(), kept=delta.count())
            with tr.span("apply_edge_delta", "crawl"):
                apply_edge_delta(self.spark, STORE, delta)
            with tr.span("incremental_rerank", "crawl") as rs:
                res = incremental_rerank(self.spark, STORE, prev_ranks=self.prev)
            with tr.span("top_bottom_k", "reporting"):
                top_bottom_k(res.ranks, self.spark.read.table(STORE)).collect()
        out.seconds, out.steal_share, out.cpu_s = js.seconds, js.steal_share, js.cpu_s
        out.iterations, out.sweeps = res.iterations, net_sweeps(res.metrics, rs)
        out.pagerank_s, out.pagerank_cpu_s = rs.seconds, rs.cpu_s
        out.attrs["warm_cold_ratio"] = res.iterations / self.cold_iterations
        out.ranks = res.ranks.toPandas()
        self.src = np.concatenate([self.src, self.truth[f"src{b + 1}"]])
        self.dst = np.concatenate([self.dst, self.truth[f"dst{b + 1}"]])
        if warmup:  # not gated, but the next job warm-starts from its ranks
            self._advance(res.ranks, out.ranks)
            return out
        expected = stage.warm_oracle(self.src, self.dst, self.prev_local)
        self._advance(res.ranks, out.ranks)
        if corrupt:
            out.ranks.loc[0, "rank"] += 1e-3
        gate(out, expected)
        return out

    def finish(self, jobs: list[Job]) -> None:
        """The merged store holds exactly the staged edge multiset, and the
        last warm ranks agree with a cold oracle run on it to WARM_COLD_L1."""
        store = self.spark.read.table(STORE).toPandas()
        got = pd.Series(store["w"].to_numpy(np.int64), index=[store["src"], store["dst"]])
        want = pd.Series(1, index=[self.src, self.dst]).groupby(level=[0, 1]).sum()
        last = jobs[-1]
        if not last.ok:
            return
        if not got.sort_index().equals(want.sort_index().astype(np.int64)):
            last.error = "merged store differs from the staged edges"
            last.ok = False
            return
        cold = stage.cold_oracle(self.src, self.dst)
        got_r = last.ranks.sort_values("id")["rank"].to_numpy()
        drift = float(np.sum(np.abs(got_r - cold["ranks"])))
        if drift > WARM_COLD_L1:
            last.error = f"warm vs cold ranks differ by {drift:.3g} in sum"
            last.ok = False

    def batches_left(self) -> int:
        return self.size.batches - self.batch


WORKLOADS = {"web-tripled": WebTripled, "rmat-hub": RmatHub, "crawl-delta": CrawlDelta}
