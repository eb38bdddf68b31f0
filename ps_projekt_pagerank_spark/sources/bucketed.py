"""The graph store: a built graph saved as one plain parquet table, its
weighted adjacency (src, dst, w), under a catalog name.

The reference keeps one piece of graph state, the edge list, and
rebuilds nodes, degrees and CSR from it on every run (Graph.cpp:44-103,
Graph4CL.cpp:16-46). So does the store: ``load_graph`` hands the stored
adjacency to ``build_graph`` as a pre-weighted edge list, and node ids,
out-degrees, sinks, counts, id layout and salt all come from the one
graph builder. No second table exists that a crash between two writes
could leave disagreeing with the edges. The stored ``w`` is already
collapsed, so the rebuilt GraphTables equals the saved one.

Trade-off: a store within the one-task budget (``graph_task.fits``,
about 3.5M edge rows on a 16 GB host) loads in one task, and the crawl
re-rank (streaming.crawl.incremental_rerank) does not load it at all:
its rank task builds the graph from the stored rows and ranks it in the
same Python process, after one row count. A larger store takes the
distributed build (node distinct, out-degree and ``repartition(p,
src)``), where a stored node table would need only one stats pass. In
exchange the crawl merge (streaming.crawl) writes one table and derives
no nodes.

The module is named for a ``bucketBy(src)`` layout that no plan used
(the merge's (src, dst) sum re-shuffles the store; the one-task load
reads it as one partition). The name, ``save_graph(g, name)`` and the
(src, dst, w) columns stay because the benchmark (linkbench/) imports
the one and reads the others.

The table lands in the session catalog's warehouse (spark-warehouse/
locally; any Hive-compatible metastore on a cluster).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..operators.graph import GraphTables, build_graph


def save_graph(g: GraphTables, name: str) -> None:
    """Persist ``g``'s weighted adjacency (src, dst, w) as catalog table
    ``name``, replacing any table of that name."""
    g.adj.write.mode("overwrite").format("parquet").saveAsTable(name)


def load_graph(spark: SparkSession, name: str) -> GraphTables:
    """GraphTables of saved graph ``name``, rebuilt from its adjacency by
    ``build_graph`` (one task when it fits, Spark's workers otherwise)."""
    return build_graph(spark.read.table(name), weight_col="w")
