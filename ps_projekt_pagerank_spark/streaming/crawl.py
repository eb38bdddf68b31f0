"""Continuous-crawl graph maintenance — the end-to-end incremental story.

Composes the three pieces that exist separately into the product a crawl
pipeline runs (north-rule extension; the reference rebuilds its CSR from
the full edge file every run, Graph.cpp:44-103):

    edge stream --foreachBatch--> merge into the store --> load_graph
                --> pagerank(init_ranks=previous)   (warm re-rank)

The store is sources.bucketed's one plain parquet table of the weighted
adjacency (src, dst, w). ``apply_edge_delta`` is the merge, and the
first batch's merge is no different from the hundredth: the stored rows
(none before the first batch) plus one w = 1 row per micro-batch edge
are summed per (src, dst) — the update of a sum aggregate (CPiX, ICDE
2023) — and the sum replaces the store in one overwrite. Nothing
else is written: node ids, out-degrees and sinks are rebuilt from the
adjacency at load (``load_graph``).

``stream_maintain_graph`` drives it from a Structured Streaming source
via foreachBatch; tests/test_incremental_bucketed.py checks that the
stream-maintained store loads as exactly the graph a batch build of the
same edges gives.

``incremental_rerank`` closes the loop: load the maintained store and
warm-start PageRank from the previous rank vector — convergence in a
fraction of the cold sweeps when the delta is small (bench-measured; see
tests/test_incremental_bucketed.py for the 1e-6 equality contract vs a
cold batch rebuild).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators.graph import id_layout, release_checkpoint
from ..operators.pagerank import PageRankResult, pagerank
from ..sources.bucketed import load_graph


def apply_edge_delta(
    spark: SparkSession, name: str, delta_edges: DataFrame
) -> None:
    """Merge a batch of raw (src, dst) edges into store ``name``, creating
    it when absent.

    One sum over store ∪ batch: the stored rows and the batch's rows with
    ``w = 1`` group by (src, dst) and sum ``w``, so every duplicate link
    counts (Graph.cpp:94-97). The sum is held in an eager localCheckpoint,
    whose action also observes the null-endpoint count and the id range;
    the store is then written once, in ``graph.id_layout``'s width for
    that range: ``int`` while every id fits, ``bigint`` once a batch
    brings a wider id. A batch edge with a null endpoint raises
    ValueError before anything is written.
    """
    cols = ("src", "dst", "w")
    rows = delta_edges.select("src", "dst", F.lit(1).alias("w"))
    if spark.catalog.tableExists(name):
        rows = spark.read.table(name).select(*cols).unionAll(rows)
    null_endpoint = F.col("src").isNull() | F.col("dst").isNull()
    obs = Observation()
    merged = (
        rows.select(*(F.col(c).cast("long") for c in cols))
        .groupBy("src", "dst")
        .agg(F.sum("w").alias("w"))
        .observe(
            obs,
            F.sum(F.when(null_endpoint, F.col("w"))).alias("nulls"),
            F.least(F.min("src"), F.min("dst")).alias("lo"),
            F.greatest(F.max("src"), F.max("dst")).alias("hi"),
        )
        # cut the dependency on the table being overwritten (Spark refuses
        # to overwrite a table still referenced by the write's own plan)
        .localCheckpoint(eager=True)
    )
    seen = obs.get
    if seen["nulls"]:
        release_checkpoint(merged)
        raise ValueError(
            f"{seen['nulls']} edge rows have a null endpoint; a graph's "
            "node ids cannot be null"
        )
    id_t = id_layout(seen["lo"], seen["hi"])
    merged.select(*(F.col(c).cast(id_t) for c in cols)).write.mode(
        "overwrite"
    ).format("parquet").saveAsTable(name)
    release_checkpoint(merged)


def stream_maintain_graph(
    spark: SparkSession, parquet_dir: str, name: str
) -> None:
    """Maintain store ``name`` from a parquet edge-stream dir: each
    micro-batch merges via apply_edge_delta (foreachBatch — the
    upsert-sink shape; a Kafka source swaps in without touching the merge
    logic). Runs all available input, then stops."""
    schema = spark.read.parquet(parquet_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)  # one micro-batch per file
        .parquet(parquet_dir)
    )
    q = (
        stream.writeStream.foreachBatch(
            lambda batch_df, _bid: apply_edge_delta(spark, name, batch_df)
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def incremental_rerank(
    spark: SparkSession,
    name: str,
    prev_ranks: DataFrame | None = None,
    **pagerank_kwargs,
) -> PageRankResult:
    """Load the maintained store (load_graph: one task when it fits) and
    re-rank, warm-starting from ``prev_ranks`` when given."""
    g = load_graph(spark, name)
    try:
        return pagerank(
            None, graph=g, init_ranks=prev_ranks, **pagerank_kwargs
        )
    finally:
        g.unpersist()


def incremental_components(
    spark: SparkSession,
    name: str,
    prev_labels: DataFrame | None = None,
    **cc_kwargs,
) -> DataFrame:
    """The CC leg of the crawl loop: run connected components over the
    maintained store's adjacency (a plain scan — no graph build),
    warm-starting from the previous run's labels when given. Additions-
    only, like the store itself (see connected_components' contract); an
    unchanged region of the graph costs zero productive rounds."""
    from ..operators.components import connected_components

    edges = spark.read.table(name).select("src", "dst")
    return connected_components(
        edges, init_labels=prev_labels, **cc_kwargs
    )


def apply_doc_delta(
    spark: SparkSession, name: str, docs: DataFrame
) -> DataFrame:
    """The corpus-side MERGE of the crawl loop: check a batch of docs
    against the persistent fingerprint registry ``name`` (content-md5 →
    first-seen doc_id), append the genuinely-new fingerprints, and return
    the batch annotated (doc_id, fp, is_duplicate, first_seen_doc_id).
    Re-crawled and mirrored pages are flagged WITHOUT rescanning the
    corpus — the registry holds one row per distinct content ever seen,
    which is how exact dedup stays O(batch) per increment at crawl scale.

    Within-batch duplicates: the smallest doc_id wins registration, the
    rest are flagged against it (same printf-key argmin as the batch
    dedup operators). Scale: one batch fingerprint projection, one
    |batch|-row join against the registry (fp-keyed), one append of the
    new rows. The returned frame is a localCheckpoint, which holds the
    call's only persisted rows (graph.release_checkpoint drops them).
    """
    from ps_projekt_pagerank_spark.functions.text import fingerprint

    fp = docs.select(
        "doc_id", fingerprint(F.col("text")).alias("fp")
    )
    if not spark.catalog.tableExists(name):
        spark.createDataFrame(
            [], "fp STRING, first_seen_doc_id LONG"
        ).write.format("parquet").saveAsTable(name)
    reg = spark.read.table(name)
    joined = fp.join(
        reg.select("fp", "first_seen_doc_id"), "fp", "left"
    ).localCheckpoint(eager=True)
    # within-batch winner per new fingerprint
    new_fp = (
        joined.where(F.col("first_seen_doc_id").isNull())
        .groupBy("fp")
        .agg(F.min("doc_id").alias("first_seen_doc_id"))
        .localCheckpoint(eager=True)
    )
    new_fp.write.mode("append").format("parquet").saveAsTable(name)
    out = (
        joined.select("doc_id", "fp", F.col("first_seen_doc_id").alias("_r"))
        .join(new_fp.select("fp", F.col("first_seen_doc_id").alias("_n")),
              "fp", "left")
        .select(
            "doc_id",
            "fp",
            F.coalesce("_r", "_n").alias("first_seen_doc_id"),
        )
        .select(
            "doc_id",
            "fp",
            "first_seen_doc_id",
            (F.col("doc_id") != F.col("first_seen_doc_id")).alias(
                "is_duplicate"
            ),
        )
        .localCheckpoint(eager=True)
    )
    release_checkpoint(joined)
    release_checkpoint(new_fp)
    return out
