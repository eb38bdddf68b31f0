"""Continuous-crawl graph maintenance — the end-to-end incremental story.

Composes the three pieces that exist separately into the product a crawl
pipeline runs (north-rule extension; the reference rebuilds its CSR from
the full edge file every run, Graph.cpp:44-103):

    edge stream --foreachBatch--> merge into the store --> load_graph
                --> pagerank(init_ranks=previous)   (warm re-rank)

The store is sources.bucketed's one plain parquet table of the weighted
adjacency (src, dst, w). ``apply_edge_delta`` is the merge: the
micro-batch collapses to weighted (src, dst, w) increments,
full-outer-joins the stored adjacency, and the summed table replaces the
store in one overwrite. Nothing else is written: node ids, out-degrees
and sinks are rebuilt from the adjacency at load (``load_graph``).

``stream_maintain_graph`` drives it from a Structured Streaming source
via foreachBatch — the scale-correct replacement for the complete-mode
memory-sink aggregations in streaming.edges (which remain as the
batch-vs-stream equality test scaffolding).

``incremental_rerank`` closes the loop: load the maintained store and
warm-start PageRank from the previous rank vector — convergence in a
fraction of the cold sweeps when the delta is small (bench-measured; see
tests/test_incremental_bucketed.py for the 1e-6 equality contract vs a
cold batch rebuild).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.pagerank import PageRankResult, pagerank
from ..sources.bucketed import load_graph, save_graph


def _table_exists(spark: SparkSession, name: str) -> bool:
    return spark.catalog.tableExists(name)


def apply_edge_delta(
    spark: SparkSession, name: str, delta_edges: DataFrame
) -> None:
    """Merge a batch of raw (src, dst) edges into store ``name``.

    Creates the store when absent (the first micro-batch bootstraps it via
    build_graph + save_graph). Ids must fit the stored id type — the
    dictionary encoding guarantees density, so a delta id outside an
    int32-narrowed store's range means the dictionary itself rolled over
    2^31 and the store should be rebuilt wide: the merge fails before it
    writes anything, instead of silently truncating. The merged adjacency
    replaces the store in one overwrite, the merge's only write.
    """
    from ..operators.graph import INT_IDS, build_graph, release_checkpoint

    if not _table_exists(spark, name):
        g = build_graph(delta_edges)
        save_graph(g, name)
        g.unpersist()
        return

    cur = spark.read.table(name)
    id_t = dict(cur.dtypes)["src"]

    def as_id(c: str):
        """Column ``c`` in the store's id type; an id outside an int32
        store's range fails the merge's first action, before any write."""
        col = F.col(c)
        if id_t != "int":
            return col.cast(id_t).alias(c)
        return (
            F.when(
                ~col.between(*INT_IDS),
                F.raise_error(F.lit(
                    "delta ids exceed the store's int32 layout — rebuild "
                    "the store with long ids before merging this delta"
                )),
            )
            .otherwise(col.cast("int"))
            .alias(c)
        )

    delta = (
        delta_edges.select(as_id("src"), as_id("dst"))
        .groupBy("src", "dst")
        .agg(F.count("*").cast(id_t).alias("wd"))
    )
    merged = (
        cur.join(delta, ["src", "dst"], "full_outer")
        .select(
            "src",
            "dst",
            (
                F.coalesce("w", F.lit(0)) + F.coalesce("wd", F.lit(0))
            ).cast(id_t).alias("w"),
        )
        # cut the dependency on the table being overwritten (Spark refuses
        # to overwrite a table still referenced by the write's own plan)
        .localCheckpoint(eager=True)
    )
    merged.write.mode("overwrite").format("parquet").saveAsTable(name)
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
    new rows.
    """
    from ps_projekt_pagerank_spark.functions.text import fingerprint

    fp = docs.select(
        "doc_id", fingerprint(F.col("text")).alias("fp")
    )
    if not _table_exists(spark, name):
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
    )
    return out
