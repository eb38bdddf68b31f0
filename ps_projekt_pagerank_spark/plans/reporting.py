"""R1-R4 reporting queries (reference src/main.cpp:143-242).

- R1 total-rank sum (probability-mass invariant, main.cpp:157-160)
- R2/R3 top-k / bottom-k by rank with in-link counts (main.cpp:228-241) —
  TakeOrderedAndProject, no full sort materialized
- R4 positional order-agreement between two rank vectors
  (main.cpp:16-33) — the reference's cross-backend equivalence metric
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def total_rank(ranks: DataFrame) -> float:
    """R1 — Σ ranks (must be ~1.0)."""
    return float(ranks.agg(F.sum("rank").alias("s")).first()["s"])


def top_bottom_k(ranks: DataFrame, edges: DataFrame, k: int = 10) -> DataFrame:
    """R2+R3 — k highest and k lowest ranked nodes with in-link counts.

    Every duplicate link counts (main.cpp:228-241): a weighted
    (src, dst, w) frame — a built adjacency, the crawl store — stands
    for ``w`` links per row, so its in-link count sums ``w``.

    Deterministic: ties broken by id, like a stable re-run of the
    reference's sort (main.cpp:13-14 sorts by rank only; id tiebreak makes
    the distributed result reproducible).
    """
    links = F.sum("w") if "w" in edges.columns else F.count("*")
    indeg = edges.groupBy(F.col("dst").alias("id")).agg(links.alias("inlinks"))
    r = ranks.join(indeg, "id", "left").select(
        "id", F.coalesce("inlinks", F.lit(0)).alias("inlinks"), "rank"
    )
    top = r.orderBy(F.desc("rank"), F.asc("id")).limit(k).withColumn(
        "which", F.lit("top")
    )
    bottom = r.orderBy(F.asc("rank"), F.asc("id")).limit(k).withColumn(
        "which", F.lit("bottom")
    )
    return top.unionAll(bottom)


def order_agreement(ranks_a: DataFrame, ranks_b: DataFrame) -> float:
    """R4 — fraction of positions at which the two rank-descending id
    sequences agree (ties broken by id for determinism). Positions come
    from the distributed numbering in plans.positions — no partitionless
    Window, so the |V|-row rank vectors never funnel through one task."""
    from .positions import global_positions

    a = global_positions(
        ranks_a.select(F.col("id").alias("id_a"), "rank"),
        [F.desc("rank"), F.asc("id_a")],
    ).drop("rank")
    b = global_positions(
        ranks_b.select(F.col("id").alias("id_b"), "rank"),
        [F.desc("rank"), F.asc("id_b")],
    ).drop("rank")
    joined = a.join(b, "pos")
    row = joined.agg(
        F.avg((F.col("id_a") == F.col("id_b")).cast("double")).alias("agree")
    ).first()
    return float(row["agree"] or 0.0)


def degree_distribution(edges: DataFrame) -> DataFrame:
    """(outdeg LONG, n_nodes LONG) — how many nodes have each out-degree,
    including the outdeg=0 sinks (north-rule extension: the first sanity
    report any web-graph pipeline runs — power-law shape check). Two hash
    aggs with map-side combine; output is at most |distinct degrees| rows."""
    deg = (
        edges.select(F.col("src").alias("id"))
        .unionAll(edges.select(F.col("dst").alias("id")))
        .distinct()
        .join(
            edges.groupBy(F.col("src").alias("id")).agg(
                F.count("*").alias("outdeg")
            ),
            "id",
            "left",
        )
        .select(F.coalesce("outdeg", F.lit(0)).alias("outdeg"))
    )
    return deg.groupBy("outdeg").agg(F.count("*").alias("n_nodes"))


def rank_churn(old: DataFrame, new: DataFrame, k: int = 10) -> DataFrame:
    """One-row churn report between two rank vectors (id, rank) — the
    diagnostic an incremental crawl runs after every delta re-rank
    (streaming/crawl.py): did the ordering move, and where.

    Columns: n_common / n_new / n_dropped (id-set churn), spearman_rho
    (rank correlation over the common ids), topk_overlap (|top-k ∩
    top-k| / k), max_abs_delta (worst per-id rank movement, 9 dp).

    Engine-exactness: ranks round to 9 dp first (the repo-wide ordering
    contract); positions are exact integers from the DISTRIBUTED global
    numbering (plans.positions — no partitionless window), ties broken
    by id (deterministic-tie Spearman, not tie-averaged); rho's single
    IEEE expression 1 − 6·Σd² / (n·(n²−1)) runs in double on both
    engines (n² as double — BIGINT n³ would overflow past ~2M rows).

    Scale: two global numberings (range-partitioned), three hash aggs,
    two anti-joins, and TakeOrderedAndProject top-ks — every stage
    parallel, output is one row.
    """
    from ps_projekt_pagerank_spark.plans.positions import global_positions

    o = old.select("id", F.round("rank", 9).alias("rank_old"))
    n = new.select("id", F.round("rank", 9).alias("rank_new"))
    common = o.join(n, "id")
    po = global_positions(
        common.select("id", "rank_old"),
        [F.desc("rank_old"), F.asc("id")],
        pos_col="pos_old",
    ).select("id", "pos_old")
    pn = global_positions(
        common.select("id", "rank_new"),
        [F.desc("rank_new"), F.asc("id")],
        pos_col="pos_new",
    ).select("id", "pos_new")
    d = F.col("pos_old") - F.col("pos_new")
    sp = po.join(pn, "id").agg(
        F.count("*").alias("n_common"),
        F.sum(d * d).alias("sum_d2"),
    )
    topo = o.orderBy(F.desc("rank_old"), F.asc("id")).limit(int(k)).select("id")
    topn = n.orderBy(F.desc("rank_new"), F.asc("id")).limit(int(k)).select("id")
    ov = topo.join(topn, "id").agg(F.count("*").alias("k_common"))
    nw = n.join(o, "id", "left_anti").agg(F.count("*").alias("n_new"))
    dr = o.join(n, "id", "left_anti").agg(F.count("*").alias("n_dropped"))
    dl = common.agg(
        F.round(
            F.max(F.abs(F.col("rank_new") - F.col("rank_old"))), 9
        ).alias("max_abs_delta")
    )
    row = sp.crossJoin(ov).crossJoin(nw).crossJoin(dr).crossJoin(dl)
    nD = F.col("n_common").cast("double")
    rho = F.when(
        F.col("n_common") > 1,
        F.round(
            F.lit(1.0)
            - (F.lit(6.0) * F.col("sum_d2").cast("double"))
            / (nD * (nD * nD - F.lit(1.0))),
            6,
        ),
    )
    return row.select(
        "n_common",
        "n_new",
        "n_dropped",
        rho.alias("spearman_rho"),
        F.round(F.col("k_common").cast("double") / F.lit(float(k)), 6).alias(
            "topk_overlap"
        ),
        "max_abs_delta",
    )
