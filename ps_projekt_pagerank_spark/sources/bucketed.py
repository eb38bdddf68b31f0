"""Bucketed graph store — persist the build-once graph so future sessions
skip the build shuffle entirely (north-rule extension; the reference
re-reads its edge file and rebuilds CSR every run, Graph.cpp:44-103 — on a
cluster that is a full |E| shuffle per job, which bucketing amortizes to
zero across runs).

``save_graph`` writes the weighted adjacency with ``bucketBy(src)`` +
``sortBy(src, dst)`` (Spark's persisted hash-clustered layout — the same
clustering build_graph creates in memory) and the node table alongside.
``load_graph`` reconstructs GraphTables from the catalog: a scatter join
against rank state then needs an Exchange only on the |V|-row state side
— the bucketed |E|-row scan carries its own distribution (verified by a
plan test: no Exchange above the bucketed scan).

The table lands in the session catalog's warehouse (spark-warehouse/
locally; any Hive-compatible metastore on a cluster). Counts and the
salt decision are recomputed from one pass at load (cheap vs the build
shuffle they replace).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..operators.graph import GraphTables, graph_tables


def save_graph(g: GraphTables, name: str, buckets: int | None = None) -> None:
    """Persist adjacency (bucketed by src) + nodes under catalog ``name``."""
    spark = g.adj.sparkSession
    b = buckets or int(spark.conf.get("spark.sql.shuffle.partitions"))
    (
        g.adj.write.mode("overwrite")
        .format("parquet")
        .bucketBy(b, "src")
        .sortBy("src", "dst")
        .saveAsTable(name)
    )
    g.nodes.write.mode("overwrite").format("parquet").saveAsTable(
        name + "_nodes"
    )


def load_graph(spark: SparkSession, name: str) -> GraphTables:
    """Rebuild GraphTables from a saved bucketed graph — no edge shuffle;
    the adjacency scan exposes its bucket distribution to every downstream
    src-keyed join."""
    adj = spark.read.table(name).persist(StorageLevel.MEMORY_AND_DISK)
    nodes = spark.read.table(name + "_nodes").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    counts = nodes.agg(
        F.count("*").alias("n"),
        F.sum(F.col("is_sink").cast("long")).alias("s"),
    ).first()
    return graph_tables(
        nodes,
        adj,
        int(counts["n"]),
        int(counts["s"]),
        dict(adj.dtypes)["src"],
        int(spark.conf.get("spark.sql.shuffle.partitions")),
    )
