"""Graph-construction operators (SURVEY.md §2.2, reference "ETL" phase).

An edge list that fits one task's memory is built there as NumPy
(operators.graph_task), the way the reference builds its graph in one
sequential pass (Graph.cpp:60-115); a larger one is built relationally,
shuffle-aware, by the steps below. Both give the same tables:

- G1 node discovery: union of endpoints, distinct — node set = ids that
  appear in edges (reference Graph.cpp:60-91; the header hint is never
  trusted).
- G2 out-degree: hash agg with automatic partial (map-side) combine
  (reference Graph.cpp:95-96 increments per occurrence → count(*)).
- G3 adjacency: the scatter-side edge table, collapsed to one weighted
  row per (src, dst) and kept for every iteration — the Spark analogue of
  the reference's build-once CSR (Graph4CL.cpp:16-46). The distributed
  build repartitions it ONCE by src and persists it, so per-iteration
  shuffles touch only the |V|-row rank state, never the |E|-row edge
  table; the one-task build keeps it packed (the CSR itself) and unpacks
  it as ONE persisted partition in (src, dst) order when rows are read,
  which the sweep loop re-shuffles every sweep once the state is too
  large to broadcast. Under the session's 64 MB
  ``autoBroadcastJoinThreshold`` Catalyst broadcasts the rank state
  instead; the driver builds that broadcast in its heap every sweep, and
  on an R-MAT scale-22 graph (943k nodes) under a 2g heap it fails with
  ``notEnoughMemoryToBuildAndBroadcastTable``.
- G4 sinks: out-degree-0 nodes (reference Graph.cpp:107-115) — kept as a
  boolean on the node table so the per-iteration sink-mass aggregation
  needs no join at all.

``build_graph`` is the one place a GraphTables is made. A saved graph
(sources.bucketed) is only its weighted (src, dst, w) adjacency, and
loading it is ``build_graph(..., weight_col="w")``: no node table or
count is stored that could disagree with the edges.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel


@dataclass
class GraphTables:
    """Build-once, iterate-many graph state (analogue of reference CSR)."""

    nodes: DataFrame  # id LONG, outdeg LONG, is_sink BOOLEAN (persisted)
    adj: DataFrame  # src, dst, w in id_type (persisted; hash-part. src or
    # one partition, a view of ``checkpoint``)
    num_nodes: int
    num_edges: int  # multigraph edge count (sum of w)
    num_sinks: int
    num_adj_rows: int = 0  # distinct (src,dst) pairs actually iterated
    id_type: str = "long"  # narrow int layout when every id fits int32
    salt_buckets: int = 1  # auto-chosen from the in-degree distribution
    max_dst_rows: int = 0  # adjacency rows into the hottest dst
    # the one-task build's checkpoint: the graph packed as
    # operators.pagerank_task reads it; nodes and adj are views of it
    checkpoint: DataFrame | None = None

    def unpersist(self) -> None:
        self.nodes.unpersist()
        self.adj.unpersist()
        if self.checkpoint is not None:
            release_checkpoint(self.checkpoint)


def release_checkpoint(checkpoint: DataFrame) -> None:
    """Drop the RDD behind ``checkpoint``, a ``localCheckpoint`` frame,
    which nothing may read afterwards. ``DataFrame.unpersist`` releases
    nothing here: a checkpoint's RDD is persisted on its own, outside the
    cache manager. Spark logs one WARN line per released checkpoint (its
    lineage is truncated, so it cannot be recomputed)."""
    checkpoint._jdf.queryExecution().logical().rdd().unpersist(False)


INT_IDS = (-(2**31), 2**31 - 1)  # the ids the narrow ``int`` layout holds


def id_layout(min_id: int | None, max_id: int | None) -> str:
    """The adjacency's id type: ``int`` when every id is in ``INT_IDS``,
    ``long`` otherwise and for an empty graph. After dictionary encoding
    ids fit int32 far beyond any single-cluster graph (2^31 vertices),
    and the narrow layout halves the bytes every iteration re-scans;
    external schemas stay LongType (pagerank casts back)."""
    if max_id is None or min_id < INT_IDS[0] or max_id > INT_IDS[1]:
        return "long"
    return "int"


def derive_salt_buckets(
    num_adj_rows: int, max_dst_rows: int, n_dst: int, partitions: int
) -> int:
    """Skew-salt choice from the in-degree distribution: salt when ONE dst
    key exceeds a partition's fair share of gather input AND is a true
    outlier vs the mean (uniform graphs correctly stay unsalted — salting
    there only adds a second agg); bucket count = how many fair shares the
    hottest key spans, capped."""
    mean_dst_rows = num_adj_rows / max(n_dst, 1)
    fair_share = max(num_adj_rows / partitions, 1.0)
    if max_dst_rows > 8 * mean_dst_rows and max_dst_rows > fair_share:
        return min(16, max(2, -(-max_dst_rows // int(fair_share))))
    return 1


def node_ids(edges: DataFrame) -> DataFrame:
    """G1 — distinct node ids appearing in the edge list."""
    return (
        edges.select(F.col("src").alias("id"))
        .unionAll(edges.select(F.col("dst").alias("id")))
        .distinct()
    )


def out_degrees(edges: DataFrame) -> DataFrame:
    """G2 — (id, outdeg) for nodes with at least one out-edge."""
    return edges.groupBy(F.col("src").alias("id")).agg(
        F.count("*").alias("outdeg")
    )


def sink_nodes(edges: DataFrame) -> DataFrame:
    """G4 — nodes that never appear as src (out-degree 0)."""
    return (
        edges.select(F.col("dst").alias("id"))
        .distinct()
        .join(edges.select(F.col("src").alias("id")).distinct(), "id", "left_anti")
    )


def edge_row_count(edges: DataFrame, weight_col: str | None = None) -> int:
    """The number of edge rows, with the rows that have a null endpoint
    and, given ``weight_col``, those with a null weight. Raises
    ValueError when there are any: a node id cannot be null, and a null
    weight would make an edge count for nothing. The counts are observed
    on one pass over ``edges`` into the ``noop`` sink: one Spark job,
    where an aggregation is two (AQE runs its shuffle's map stage as a
    job of its own)."""
    nulls = {"endpoint": F.col("src").isNull() | F.col("dst").isNull()}
    if weight_col is not None:
        nulls["weight"] = F.col(weight_col).isNull()
    obs = Observation()
    edges.observe(
        obs, F.count("*").alias("rows"),
        *(F.count(F.when(c, 1)).alias(what) for what, c in nulls.items()),
    ).write.format("noop").mode("overwrite").save()
    counts = obs.get
    for what in nulls:
        if counts[what]:
            raise ValueError(
                f"{counts[what]} edge rows have a null {what}; a graph's "
                "node ids and edge weights cannot be null"
            )
    return counts["rows"]


def build_graph(edges: DataFrame, weight_col: str | None = None) -> GraphTables:
    """Build the persisted node/adjacency tables for iterative algorithms.

    An edge list whose row count fits one task's memory budget
    (``graph_task.fits``) is built in one task (operators.graph_task):
    two Spark jobs, the row count and one eager checkpoint of the packed
    graph, whose node and adjacency rows (the adjacency one partition)
    are unpacked when first read. A larger one is built here by Spark's
    workers, with the adjacency hash-partitioned by src into the
    session's ``spark.sql.shuffle.partitions``. Either way that count is
    the partition count the salt choice divides the gather input by; at
    cluster scale size it so each partition holds O(100-500MB) of edges.

    ``weight_col`` names an integer edge-weight column for PRE-weighted
    edge tables (e.g. the host-graph collapse, where weight = collapsed
    page-edge count): adjacency weights sum it instead of counting rows,
    and out-degrees become out-weight totals — exactly the multiset
    semantics the unweighted path derives from duplicate rows, without
    re-expanding the multiset. A built adjacency fed back this way
    (sources.bucketed.load_graph) gives the same GraphTables.

    An edge row with a null endpoint, or a null ``weight_col``, raises
    ValueError on both paths (``edge_row_count``).
    """
    from . import graph_task

    m = edge_row_count(edges, weight_col)
    if graph_task.fits(m):
        return graph_task.build_one_task(edges, weight_col)

    p = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    if weight_col is None:
        outdeg = out_degrees(edges)
    else:
        outdeg = edges.groupBy(F.col("src").alias("id")).agg(
            F.sum(F.col(weight_col)).cast("long").alias("outdeg")
        )
    # left join (not anti) so one pass carries outdeg and derives is_sink;
    # ids LONG whatever the edge id type, as the one-task build gives them
    nodes = (
        node_ids(edges)
        .join(outdeg, "id", "left")
        .select(
            F.col("id").cast("long").alias("id"),
            F.coalesce("outdeg", F.lit(0)).alias("outdeg"),
        )
        .withColumn("is_sink", F.col("outdeg") == 0)
        .repartition(p, "id")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    counts = nodes.agg(
        F.count("*").alias("n"),
        F.sum(F.col("is_sink").cast("long")).alias("s"),
        F.min("id").alias("lo"),
        F.max("id").alias("hi"),
    ).first()

    # weighted adjacency: duplicate (src,dst) multigraph edges collapse to
    # one row with a count — each duplicate contributes rank/outdeg
    # separately in the reference (Graph.cpp:94-97), which w * rank/outdeg
    # reproduces (tested to 1e-6; FP association noise is ~1e-16). Web
    # graphs repeat links heavily, so this shrinks every iteration's
    # scatter input once at build time. groupBy(src,dst) after
    # repartition(p, src) needs no second shuffle (src-hash satisfies the
    # (src,dst) clustering) and the result STAYS hash-partitioned by src —
    # the layout every iteration's scatter join reuses.
    # sortWithinPartitions makes each cached partition a CSR-style run of
    # (src, sorted dst) — the in-memory columnar cache then RLE/delta
    # encodes the src column, shrinking the bytes every iteration re-scans
    id_t = id_layout(counts["lo"], counts["hi"])
    w_agg = (
        F.count("*") if weight_col is None else F.sum(F.col("_w"))
    ).cast(id_t).alias("w")
    adj = (
        edges.select(
            F.col("src").cast(id_t).alias("src"),
            F.col("dst").cast(id_t).alias("dst"),
            *([] if weight_col is None else [F.col(weight_col).alias("_w")]),
        )
        .repartition(p, "src")
        .groupBy("src", "dst")
        .agg(w_agg)
        .sortWithinPartitions("src", "dst")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    # edge totals and the in-degree distribution in one pass over the
    # adjacency: per-dst row counts feed the automatic skew-salt choice
    # (the reference's dynamic-schedule analogue, Graph.cpp:206 — there a
    # hub is load-balanced by work-stealing; here by splitting the hot
    # reduce key across salt sub-keys)
    edge_counts = (
        adj.groupBy("dst")
        .agg(F.sum("w").alias("wsum"), F.count("*").alias("rows"))
        .agg(
            F.sum("wsum").alias("num_edges"),
            F.sum("rows").alias("num_adj_rows"),
            F.max("rows").alias("max_dst_rows"),
            F.count("*").alias("n_dst"),
        )
        .first()
    )
    return counted_graph_tables(
        nodes, adj, id_t, num_nodes=counts["n"], num_sinks=counts["s"],
        **edge_counts.asDict(),
    )


def counted_graph_tables(
    nodes: DataFrame,
    adj: DataFrame,
    id_type: str,
    *,
    num_nodes: int | None,
    num_sinks: int | None,
    num_edges: int | None,
    num_adj_rows: int | None,
    max_dst_rows: int | None,
    n_dst: int | None,
    checkpoint: DataFrame | None = None,
) -> GraphTables:
    """GraphTables from the counts of its tables: ``n_dst`` nodes have
    in-links, ``max_dst_rows`` adjacency rows point into the hottest of
    them (None counts are those of an empty graph). The salt choice
    divides the gather input by the session's shuffle partitions."""
    partitions = int(adj.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    num_adj_rows = int(num_adj_rows or 0)
    max_dst_rows = int(max_dst_rows or 0)
    return GraphTables(
        nodes=nodes,
        adj=adj,
        num_nodes=int(num_nodes or 0),
        num_edges=int(num_edges or 0),
        num_sinks=int(num_sinks or 0),
        num_adj_rows=num_adj_rows,
        id_type=id_type,
        salt_buckets=derive_salt_buckets(
            num_adj_rows, max_dst_rows, int(n_dst or 1), partitions
        ),
        max_dst_rows=max_dst_rows,
        checkpoint=checkpoint,
    )


def reciprocity(edges: DataFrame) -> DataFrame:
    """1-row (reciprocal_edges, total_edges, reciprocity) — the fraction of
    distinct non-loop directed edges whose reverse edge also exists (the
    standard directed-web-graph symmetry statistic; ~25% on real web
    crawls, near 0 on citation-style graphs).

    Thin projection over ``structure._reciprocity_counts`` (the single
    implementation of the semi-join — round-4 verdict task 7 reconciled
    the two previously-independent copies); this form keeps the report
    schema (reciprocal_edges, total_edges) and 9-dp rounding.
    """
    from .structure import _reciprocity_counts

    return _reciprocity_counts(edges).select(
        F.col("n_reciprocal").alias("reciprocal_edges"),
        F.col("n_edges").alias("total_edges"),
        F.round(
            F.col("n_reciprocal") / F.col("n_edges").cast("double"), 9
        ).alias("reciprocity"),
    )


_ASSORT_PAIRS = [
    ("out", "in", "so", "di"),  # THE web-graph number (Newman 2002 tab. I)
    ("out", "out", "so", "do"),
    ("in", "in", "si", "di"),
    ("in", "out", "si", "do"),
]


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """(src_deg, dst_deg, assortativity) — Newman (2002) directed degree
    assortativity over edges, all four (src-degree, dst-degree) variants;
    Pearson r of the endpoint-degree pairs, one row per variant.

    Determinism: the five moment sums (n, Σx, Σy, Σxy, Σx², Σy²) are
    EXACT BIGINT aggregates — order-independent, so any engine reproduces
    them bit-for-bit — and the closing Pearson expression is pure IEEE
    double arithmetic (mul/sub/div/sqrt are all correctly rounded), so
    the r values match across engines with no rounding tricks needed.
    Bound: Σ deg·deg must fit int64 (true until ~10^9-degree hubs on
    10^12-edge graphs; switch the moments to DOUBLE past that and accept
    last-ulp nondeterminism).

    Scale: two |E|-row degree aggs, four |V|-row equi-joins (left to
    AQE — |V| can exceed broadcast size on a real crawl, and the two
    src-keyed joins share one shuffle partitioning), one single-row
    global agg; the 4 output rows come from exploding a literal array
    over that row — the |E| pass happens once.
    """
    e = edges.select("src", "dst")
    od = e.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("d"))
    idg = e.groupBy(F.col("dst").alias("id")).agg(F.count("*").alias("d"))

    def _deg(tbl: DataFrame, key: str, alias: str) -> DataFrame:
        return tbl.select(F.col("id").alias(key), F.col("d").alias(alias))

    x = (
        e.join(_deg(od, "src", "so"), "src", "left")
        .join(_deg(idg, "src", "si"), "src", "left")
        .join(_deg(od, "dst", "do"), "dst", "left")
        .join(_deg(idg, "dst", "di"), "dst", "left")
        .select(
            *[
                F.coalesce(F.col(c), F.lit(0)).cast("long").alias(c)
                for c in ("so", "si", "do", "di")
            ]
        )
    )
    aggs = [F.count("*").alias("n")]
    for c in ("so", "si", "do", "di"):
        aggs.append(F.sum(c).alias(f"s_{c}"))
        aggs.append(F.sum(F.col(c) * F.col(c)).alias(f"ss_{c}"))
    for _, _, a, b in _ASSORT_PAIRS:
        aggs.append(F.sum(F.col(a) * F.col(b)).alias(f"sp_{a}_{b}"))
    m = x.agg(*aggs)

    def _r(a: str, b: str) -> F.Column:
        n = F.col("n").cast("double")
        sa, sb = F.col(f"s_{a}").cast("double"), F.col(f"s_{b}").cast("double")
        va = F.col(f"ss_{a}").cast("double") * n - sa * sa
        vb = F.col(f"ss_{b}").cast("double") * n - sb * sb
        cov = F.col(f"sp_{a}_{b}").cast("double") * n - sa * sb
        den = F.sqrt(va) * F.sqrt(vb)
        return F.when(den > 0, cov / den)  # NULL when a side is constant

    rows = F.array(
        *[
            F.struct(
                F.lit(ls).alias("src_deg"),
                F.lit(ld).alias("dst_deg"),
                _r(a, b).alias("assortativity"),
            )
            for ls, ld, a, b in _ASSORT_PAIRS
        ]
    )
    return (
        m.select(F.explode(rows).alias("v"))
        .select("v.src_deg", "v.dst_deg", "v.assortativity")
    )


def degree_assortativity_sql(edges_sql: str) -> str:
    """DuckDB twin of degree_assortativity — identical BIGINT moments,
    identical IEEE closing expression."""
    selects = []
    for ls, ld, a, b in _ASSORT_PAIRS:
        va = f"(CAST(ss_{a} AS DOUBLE) * n - CAST(s_{a} AS DOUBLE) * s_{a})"
        vb = f"(CAST(ss_{b} AS DOUBLE) * n - CAST(s_{b} AS DOUBLE) * s_{b})"
        cov = f"(CAST(sp_{a}_{b} AS DOUBLE) * n - CAST(s_{a} AS DOUBLE) * s_{b})"
        selects.append(
            f"SELECT '{ls}' AS src_deg, '{ld}' AS dst_deg, "
            f"CASE WHEN sqrt({va}) * sqrt({vb}) > 0 "
            f"THEN {cov} / (sqrt({va}) * sqrt({vb})) END AS assortativity "
            f"FROM m"
        )
    moment_cols = ["CAST(count(*) AS DOUBLE) AS n"]
    for c in ("so", "si", "do", "di"):
        moment_cols.append(f"sum(v_{c}) AS s_{c}")
        moment_cols.append(f"sum(v_{c} * v_{c}) AS ss_{c}")
    for _, _, a, b in _ASSORT_PAIRS:
        moment_cols.append(f"sum(v_{a} * v_{b}) AS sp_{a}_{b}")
    return (
        f"WITH e AS (SELECT src, dst FROM ({edges_sql})), "
        "od AS (SELECT src AS id, count(*) AS d FROM e GROUP BY src), "
        "idg AS (SELECT dst AS id, count(*) AS d FROM e GROUP BY dst), "
        "x AS (SELECT CAST(COALESCE(o1.d, 0) AS BIGINT) AS v_so, "
        "CAST(COALESCE(i1.d, 0) AS BIGINT) AS v_si, "
        "CAST(COALESCE(o2.d, 0) AS BIGINT) AS v_do, "
        "CAST(COALESCE(i2.d, 0) AS BIGINT) AS v_di "
        "FROM e LEFT JOIN od o1 ON e.src = o1.id "
        "LEFT JOIN idg i1 ON e.src = i1.id "
        "LEFT JOIN od o2 ON e.dst = o2.id "
        "LEFT JOIN idg i2 ON e.dst = i2.id), "
        "m AS (SELECT " + ", ".join(moment_cols) + " FROM x) "
        + " UNION ALL ".join(selects)
    )


def edge_table_report(edges: DataFrame) -> DataFrame:
    """One row of edge-table health stats — the validation every crawl
    ingest runs before graph build: (n_edges, n_null_endpoints,
    n_self_loops, n_distinct_edges, dup_fraction, n_nodes, n_sinks,
    sink_fraction, min_id, max_id). All counts are exact BIGINTs; the two
    fractions are single IEEE divisions — engine-exact.

    Scale: one pass for the row stats + one distinct + two degree aggs;
    every aggregate is map-side combinable, no joins beyond the |V|-row
    sink check, no windows.
    """
    base = edges.agg(
        F.count("*").alias("n_edges"),
        F.sum(
            (F.col("src").isNull() | F.col("dst").isNull()).cast("long")
        ).alias("n_null_endpoints"),
        F.sum((F.col("src") == F.col("dst")).cast("long")).alias(
            "n_self_loops"
        ),
        F.least(F.min("src"), F.min("dst")).alias("min_id"),
        F.greatest(F.max("src"), F.max("dst")).alias("max_id"),
    )
    dist = edges.select("src", "dst").distinct().agg(
        F.count("*").alias("n_distinct_edges")
    )
    srcs = edges.select(F.col("src").alias("id")).distinct()
    nodes = (
        edges.select(F.col("src").alias("id"))
        .unionAll(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    sinks = nodes.join(srcs, "id", "left_anti")
    counts = nodes.agg(F.count("*").alias("n_nodes")).crossJoin(
        sinks.agg(F.count("*").alias("n_sinks"))
    )
    return (
        base.crossJoin(dist)
        .crossJoin(counts)
        .select(
            "n_edges",
            "n_null_endpoints",
            "n_self_loops",
            "n_distinct_edges",
            F.when(
                F.col("n_edges") > 0,
                F.lit(1.0)
                - F.col("n_distinct_edges").cast("double")
                / F.col("n_edges").cast("double"),
            ).alias("dup_fraction"),
            "n_nodes",
            "n_sinks",
            F.when(
                F.col("n_nodes") > 0,
                F.col("n_sinks").cast("double")
                / F.col("n_nodes").cast("double"),
            ).alias("sink_fraction"),
            "min_id",
            "max_id",
        )
    )


def edge_table_report_sql(edges_sql: str) -> str:
    """DuckDB twin — identical exact counts and IEEE divisions."""
    return (
        f"WITH e AS (SELECT src, dst FROM ({edges_sql})), "
        "base AS (SELECT count(*) AS n_edges, "
        "CAST(sum(CASE WHEN src IS NULL OR dst IS NULL THEN 1 ELSE 0 END) "
        "AS BIGINT) AS n_null_endpoints, "
        "CAST(sum(CASE WHEN src = dst THEN 1 ELSE 0 END) AS BIGINT) "
        "AS n_self_loops, "
        "least(min(src), min(dst)) AS min_id, "
        "greatest(max(src), max(dst)) AS max_id FROM e), "
        "dist AS (SELECT count(*) AS n_distinct_edges FROM "
        "(SELECT DISTINCT src, dst FROM e)), "
        "nodes AS (SELECT DISTINCT id FROM (SELECT src AS id FROM e "
        "UNION ALL SELECT dst AS id FROM e)), "
        "srcs AS (SELECT DISTINCT src AS id FROM e), "
        "counts AS (SELECT (SELECT count(*) FROM nodes) AS n_nodes, "
        "(SELECT count(*) FROM nodes n WHERE NOT EXISTS "
        "(SELECT 1 FROM srcs s WHERE s.id = n.id)) AS n_sinks) "
        "SELECT n_edges, n_null_endpoints, n_self_loops, n_distinct_edges, "
        "CASE WHEN n_edges > 0 THEN 1.0 - CAST(n_distinct_edges AS DOUBLE) "
        "/ CAST(n_edges AS DOUBLE) END AS dup_fraction, "
        "n_nodes, n_sinks, "
        "CASE WHEN n_nodes > 0 THEN CAST(n_sinks AS DOUBLE) / "
        "CAST(n_nodes AS DOUBLE) END AS sink_fraction, "
        "min_id, max_id "
        "FROM base CROSS JOIN dist CROSS JOIN counts"
    )
