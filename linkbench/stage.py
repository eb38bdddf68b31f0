"""Seeded input generators and the on-disk per-seed cache of staged inputs
and oracle outputs.

Everything here is NumPy/pyarrow only: staging runs before the Spark
session starts, so input generation never lands inside a timed region.
The program under test only ever sees the parquet files written here.
"""

from __future__ import annotations

import math
import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from ps_projekt_pagerank_spark import DAMPING, NORTH_EPSILON
from ps_projekt_pagerank_spark.fixtures import FIXTURE_GRAPHS, node_url, page_html
from ps_projekt_pagerank_spark.oracle.pagerank import pagerank as oracle_pagerank
from ps_projekt_pagerank_spark.oracle.extract import extract_text
from ps_projekt_pagerank_spark.sources.derived import WEB_DST_MOD, WEB_SRC_MOD

CACHE_VERSION = 7


@dataclass(frozen=True)
class WebSize:
    lineitem_rows: int  # 0 = use the `mini` fixture as the base edge list
    k: int  # tripler applications
    iterations: int  # reference sweep count a staged graph must have; 0 = any


@dataclass(frozen=True)
class RmatSize:
    scale: int  # 2**scale vertex ids; 0 = use the `small` fixture
    edges: int
    hub_share: float  # hub's share of all adjacency rows
    iterations: int  # reference sweep count a staged graph must have; 0 = any


@dataclass(frozen=True)
class CrawlSize:
    pages: int
    links_mean: float
    outside_share: float  # hrefs pointing outside the crawled universe
    batch_share: float  # pages re-crawled per job
    batches: int
    warmup: int  # leading batches the warm-up jobs merge, not gated
    cold_iterations: int  # sweep count of the cold rank; 0 = any
    iterations: int  # warm sweep count of every measured batch; 0 = any


# The iteration targets are the most common sweep counts at each size:
# redrawing until a graph converges in exactly that many sweeps keeps a
# job's work the same from seed to seed, so runs on different seeds
# compare like with like.
SIZES = {
    "full": {
        "web-tripled": WebSize(lineitem_rows=4000, k=3, iterations=13),
        "rmat-hub": RmatSize(scale=19, edges=300_000, hub_share=0.35, iterations=9),
        "crawl-delta": CrawlSize(
            pages=4000, links_mean=10.0, outside_share=0.1,
            batch_share=0.02, batches=10, warmup=2, cold_iterations=10, iterations=7,
        ),
    },
    "toy": {
        "web-tripled": WebSize(lineitem_rows=0, k=2, iterations=0),
        "rmat-hub": RmatSize(scale=0, edges=0, hub_share=0.35, iterations=0),
        "crawl-delta": CrawlSize(
            pages=40, links_mean=4.0, outside_share=0.1,
            batch_share=0.1, batches=4, warmup=1, cold_iterations=0, iterations=0,
        ),
    },
}
MAX_DRAWS = 32

ZIPF_S = 0.8  # crawl link-popularity exponent


# --- oracles ---------------------------------------------------------------


def cold_oracle(src: np.ndarray, dst: np.ndarray) -> dict:
    """The repo's sequential oracle at the benchmark's epsilon."""
    ranks, iters = oracle_pagerank(
        list(zip(src.tolist(), dst.tolist())), delta=NORTH_EPSILON
    )
    ids = np.fromiter(sorted(ranks), dtype=np.int64, count=len(ranks))
    return {
        "ids": ids,
        "ranks": np.array([ranks[i] for i in ids.tolist()], dtype=np.float64),
        "iterations": iters,
    }


def warm_oracle(
    src: np.ndarray, dst: np.ndarray, init: dict[int, float]
) -> dict:
    """oracle.pagerank's loop, started from ``init`` instead of 1/N.

    Mirrors ``pagerank(init_ranks=...)``: ids missing from ``init`` start
    at 1/N and every node starts active. With an empty ``init`` it is the
    cold oracle (checked by selfcheck.py)."""
    ids = np.unique(np.concatenate([src, dst]))
    n = len(ids)
    s = np.searchsorted(ids, src)
    d = np.searchsorted(ids, dst)
    outdeg = np.bincount(s, minlength=n).astype(np.float64)
    is_sink = outdeg == 0.0
    rank = np.array([init.get(i, 1.0 / n) for i in ids.tolist()])
    active = np.ones(n, dtype=bool)
    damping = DAMPING
    iterations = 0
    while True:
        iterations += 1
        sink_sum = ((1.0 - damping) + damping * rank[is_sink].sum()) / n
        if not active.any():
            break
        contrib = np.zeros(n, dtype=np.float64)
        np.add.at(contrib, d, rank[s] / outdeg[s])
        new_rank = sink_sum + damping * contrib
        converged = np.abs(new_rank - rank) < NORTH_EPSILON
        rank = np.where(active, new_rank, rank)
        active = active & ~converged
    return {"ids": ids, "ranks": rank, "iterations": iterations}


# --- generators ------------------------------------------------------------


def _write_edges(path: str, src: np.ndarray, dst: np.ndarray) -> None:
    pq.write_table(
        pa.table({"src": src.astype(np.int64), "dst": dst.astype(np.int64)}),
        path,
    )


def _draw(rng: np.random.Generator, iterations: int, graph, oracle=cold_oracle) -> dict:
    """Call ``graph(rng)`` -> (src, dst, extra) until ``oracle`` converges
    in ``iterations`` sweeps (0 takes the first draw). After MAX_DRAWS
    misses, keep the draw that came closest. Returns the oracle output
    with the edges and ``extra`` folded in."""
    best = None
    for _ in range(MAX_DRAWS):
        src, dst, extra = graph(rng)
        g = {"src": src, "dst": dst, **extra, **oracle(src, dst)}
        miss = abs(int(g["iterations"]) - iterations) if iterations else 0
        if best is None or miss < best[0]:
            best = (miss, g)
        if miss == 0:
            break
    return best[1]


def tripled_np(src: np.ndarray, dst: np.ndarray, k: int, max_id: int):
    """sources.tripler.tripled_k, restated in NumPy for the oracle."""
    for _ in range(k):
        src, dst = (
            np.concatenate([src, max_id + dst + 1, max_id + src + 1]),
            np.concatenate([dst, src, max_id + dst]),
        )
        max_id = 2 * max_id + 1
    return src, dst


def stage_web(out: str, size: WebSize, rng: np.random.Generator) -> None:
    """A TPC-H-shaped lineitem (1-7 lines per order, uniform part keys)
    for ``sources.derived.web_edges``, plus the seeded vertex permutation
    applied to its ids before tripling. The package derives the edges
    itself when the input is opened; the oracle derives them here, in
    NumPy, from the same staged tables."""
    if size.lineitem_rows == 0:
        mini = np.array(FIXTURE_GRAPHS["mini"], dtype=np.int64)
        base = lambda rng: (mini[:, 0], mini[:, 1], {})  # noqa: E731
    else:
        def base(rng):
            lines = rng.integers(1, 8, size.lineitem_rows)
            orderkey = np.repeat(np.arange(1, len(lines) + 1), lines)[: size.lineitem_rows]
            partkey = rng.integers(1, 200_000, len(orderkey))
            return (
                orderkey % WEB_SRC_MOD, partkey % WEB_DST_MOD,
                {"l_orderkey": orderkey, "l_partkey": partkey},
            )

    def graph(rng):
        src, dst, extra = base(rng)
        perm = rng.permutation(WEB_DST_MOD).astype(np.int64)
        src, dst = tripled_np(perm[src], perm[dst], size.k, WEB_DST_MOD - 1)
        return src, dst, {"perm": perm, **extra}

    g = _draw(rng, size.iterations, graph)
    np.save(os.path.join(out, "perm.npy"), g["perm"])
    if size.lineitem_rows == 0:
        _write_edges(os.path.join(out, "base.parquet"), mini[:, 0], mini[:, 1])
    else:
        os.makedirs(os.path.join(out, "sf"))
        pq.write_table(
            pa.table({"l_orderkey": g["l_orderkey"], "l_partkey": g["l_partkey"]}),
            os.path.join(out, "sf", "lineitem.parquet"),
        )
    _save_oracle(out, g)


def _save_oracle(out: str, g: dict) -> None:
    np.savez(os.path.join(out, "oracle.npz"), **{k: g[k] for k in ("ids", "ranks", "iterations")})


def rmat(rng: np.random.Generator, scale: int, n: int) -> tuple[np.ndarray, np.ndarray]:
    """R-MAT edges with the Graph500 quadrants a=.57 b=.19 c=.19 d=.05."""
    src = np.zeros(n, dtype=np.int64)
    dst = np.zeros(n, dtype=np.int64)
    for _ in range(scale):
        r = rng.random(n)
        src = src * 2 + (r >= 0.76)
        dst = dst * 2 + (((r >= 0.57) & (r < 0.76)) | (r >= 0.95))
    return src, dst


def stage_rmat(out: str, size: RmatSize, rng: np.random.Generator) -> None:
    """R-MAT plus one mega-hub whose distinct in-links make up
    ``hub_share`` of all adjacency rows. build_graph salts a dst key that
    exceeds a partition's fair share, so any share above 1/partitions
    (1/3 at 3+ cores) engages the salted gather; plain R-MAT at this size
    stays unsalted."""

    def graph(rng):
        if size.scale == 0:
            base = np.array(FIXTURE_GRAPHS["small"], dtype=np.int64)
            src, dst = base[:, 0], base[:, 1]
            universe = int(max(src.max(), dst.max())) + 1
        else:
            src, dst = rmat(rng, size.scale, size.edges)
            universe = 2**size.scale
        rows = len(np.unique(src * universe + dst))
        hub = int(rng.integers(universe))
        h = min(universe - 1, math.ceil(rows * size.hub_share / (1 - size.hub_share)))
        fans = rng.choice(universe - 1, h, replace=False)
        fans = fans + (fans >= hub)  # every id but the hub itself
        src = np.concatenate([src, fans])
        dst = np.concatenate([dst, np.full(h, hub, dtype=np.int64)])
        return src, dst, {}

    g = _draw(rng, size.iterations, graph)
    _write_edges(os.path.join(out, "edges.parquet"), g["src"], g["dst"])
    _save_oracle(out, g)


def _page_urls(n: int) -> list[str]:
    # several pages per host, like a crawl; node_url keeps fixture style
    return [f"{node_url(i // 8)}p{i % 8}" for i in range(n)]


def _links(
    rng: np.random.Generator, size: CrawlSize, n_pages: int, popularity: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """(per-page href counts, flat target page indices); -1 = an href
    outside the crawled universe. Targets are drawn from ``popularity``."""
    counts = 1 + rng.poisson(size.links_mean - 1, n_pages)
    total = int(counts.sum())
    targets = rng.choice(len(popularity), total, p=popularity)
    targets[rng.random(total) < size.outside_share] = -1
    return counts, targets


def _pages_table(urls: list[str], ids: np.ndarray, counts, targets) -> pa.Table:
    html, text, pos = [], [], 0
    for i, c in zip(ids.tolist(), counts.tolist()):
        outs = targets[pos : pos + c].tolist()
        pos += c
        body = page_html(i, [], "crawl").decode()
        links = "".join(
            f'<a href="{urls[t] if t >= 0 else f"https://offsite.example.test/{i}-{k}"}">'
            f"link {k}</a>"
            for k, t in enumerate(outs)
        )
        h = body.replace("</body>", links + "</body>")
        html.append(h.encode())
        text.append(extract_text(h))
    return pa.table(
        {
            "url": [urls[i] for i in ids.tolist()],
            "warc_ts": pa.array(
                np.full(len(ids), np.datetime64("2026-01-01T00:00:00", "us"))
            ),
            "html": pa.array(html, type=pa.binary()),
            "text": text,
            "lang": ["en"] * len(ids),
        }
    )


def stage_crawl(out: str, size: CrawlSize, rng: np.random.Generator) -> None:
    """A pages table plus ``batches`` re-crawl batches: each batch is a
    fresh capture of ``batch_share`` of the pages whose html carries newly
    drawn links. Ground truth: ids are url sort positions, exactly what
    ``url_dictionary`` assigns, and the encoded edge lists are kept.

    Batches are drawn in job order against the oracle's ranks: batch b
    warm-starts from batch b-1's ranks (the cold ones for b=0), so every
    measured batch starts one batch's change away from its ranks. The
    first ``warmup`` batches are the warm-up jobs' and may converge in any
    number of sweeps."""
    urls = _page_urls(size.pages)
    # Zipf-like link popularity over a seeded page order
    popularity = np.empty(size.pages)
    popularity[rng.permutation(size.pages)] = 1.0 / np.arange(1, size.pages + 1) ** ZIPF_S
    popularity /= popularity.sum()
    # url_dictionary numbers distinct urls by sort order, from 0
    id_of = np.empty(size.pages, dtype=np.int64)
    id_of[np.argsort(np.array(urls), kind="stable")] = np.arange(size.pages)

    def capture(page_idx, src0, dst0):
        """A draw of links for ``page_idx``, appended to (src0, dst0)."""

        def graph(rng):
            counts, targets = _links(rng, size, len(page_idx), popularity)
            src = np.repeat(page_idx, counts)
            keep = targets >= 0
            return (
                np.concatenate([src0, id_of[src[keep]]]),
                np.concatenate([dst0, id_of[targets[keep]]]),
                {"counts": counts, "targets": targets, "pages": page_idx},
            )

        return graph

    def write(path, g):
        pq.write_table(_pages_table(urls, g["pages"], g["counts"], g["targets"]), path)

    none = np.zeros(0, dtype=np.int64)
    g = _draw(rng, size.cold_iterations, capture(np.arange(size.pages), none, none))
    write(os.path.join(out, "pages.parquet"), g)
    _save_oracle(out, g)
    truth = {"src0": g["src"], "dst0": g["dst"]}
    ranks = dict(zip(g["ids"].tolist(), g["ranks"].tolist()))
    os.makedirs(os.path.join(out, "batches"))
    n_batch = max(1, round(size.pages * size.batch_share))
    for b in range(size.batches):
        pick = np.sort(rng.choice(size.pages, n_batch, replace=False))
        n_old = len(g["src"])
        measured = b >= size.warmup
        g = _draw(
            rng, size.iterations if measured else 0, capture(pick, g["src"], g["dst"]),
            oracle=lambda s, d: warm_oracle(s, d, ranks),
        )
        write(os.path.join(out, "batches", f"{b}.parquet"), g)
        truth[f"src{b + 1}"], truth[f"dst{b + 1}"] = g["src"][n_old:], g["dst"][n_old:]
        ranks = dict(zip(g["ids"].tolist(), g["ranks"].tolist()))
    np.savez(os.path.join(out, "truth.npz"), **truth)


STAGERS = {"web-tripled": stage_web, "rmat-hub": stage_rmat, "crawl-delta": stage_crawl}


def stage(cache_root: str, workload: str, size: str, seed: int) -> str:
    """Directory of the staged inputs for (workload, size, seed), generated
    on first use. Written to a temporary name and renamed, so an
    interrupted run never leaves a partial entry behind."""
    final = os.path.join(cache_root, f"{workload}-{size}-s{seed}-v{CACHE_VERSION}")
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    # one stream per workload, so adding a workload never shifts another's
    rng = np.random.default_rng([seed, sorted(STAGERS).index(workload)])
    STAGERS[workload](tmp, SIZES[size][workload], rng)
    try:
        os.rename(tmp, final)
    except OSError:  # a concurrent run staged the same entry first
        shutil.rmtree(tmp, ignore_errors=True)
    return final
