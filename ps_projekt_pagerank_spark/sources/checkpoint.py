"""S5 — per-iteration checkpointing with lineage/metrics (north-rule
extension; the reference keeps everything in RAM and recreates GPU buffers
per run, Graph4CL.cpp:124-133).

Two interchangeable backends behind one writer:

- **Iceberg catalog table** (the north-star path): pass ``table=`` and the
  state appends via ``writeTo(table).append()`` with an ``iter`` column;
  resume reads ``max(iter)`` back. Selected only when the session actually
  has an Iceberg catalog wired (``iceberg_catalogs``) — detection is by
  Spark conf (``spark.sql.catalog.<name>`` pointing at the Iceberg
  SparkCatalog), the only signal that the JVM carries the runtime jars.
  The sandbox image ships no Iceberg jars, so here this path is covered by
  a skip-unless-available test and runs on any real deployment that adds
  ``--packages org.apache.iceberg:iceberg-spark-runtime-...``.
- **Plain-parquet snapshot dirs** (always available): Iceberg-shaped
  layout (snapshot dirs + ``_COMMITTED`` markers + append-only metrics
  log) so a later migration is a rename, not a rewrite.

Every iteration records:

- the full rank state (id, outdeg, is_sink, rank, active) — enough to
  resume mid-convergence;
- a metrics row: n_active, edge count, wall seconds, per-partition row
  counts (lineage).

Resume = read the latest complete snapshot (``latest``), restart the loop
at K+1. Used by operators.pagerank via the ``checkpointer`` argument.
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_ICEBERG_IMPLS = ("org.apache.iceberg.spark.SparkCatalog",
                  "org.apache.iceberg.spark.SparkSessionCatalog")


def iceberg_catalogs(spark: SparkSession) -> list[str]:
    """Names of Iceberg catalogs configured on this session (empty when
    the deployment ships no Iceberg runtime)."""
    out = []
    for key, val in spark.sparkContext.getConf().getAll():
        m = re.fullmatch(r"spark\.sql\.catalog\.(\w+)", key)
        if m and val in _ICEBERG_IMPLS:
            out.append(m.group(1))
    return sorted(out)


class IterationCheckpointer:
    """Durable per-iteration rank snapshots.

    ``base_dir`` → parquet snapshot backend; ``table`` (a catalog-qualified
    name like ``ice.db.pr_ranks``) → Iceberg append backend. Exactly one
    must be given.
    """

    def __init__(
        self,
        base_dir: str | None = None,
        keep_last: int = 3,
        table: str | None = None,
    ):
        if (base_dir is None) == (table is None):
            raise ValueError("pass exactly one of base_dir / table")
        self.base_dir = base_dir
        self.table = table
        self.keep_last = keep_last
        if base_dir is not None:
            os.makedirs(os.path.join(base_dir, "ranks"), exist_ok=True)
            self._metrics_path = os.path.join(base_dir, "metrics.jsonl")

    # -- write path ---------------------------------------------------------

    def write(self, iteration: int, state: DataFrame, metrics: dict) -> None:
        # per-partition lineage: rows per shuffle partition of the state
        part_rows = (
            state.groupBy(F.spark_partition_id().alias("pid"))
            .count()
            .collect()
        )
        rec = dict(metrics)
        rec["partition_rows"] = {int(r["pid"]): int(r["count"]) for r in part_rows}

        if self.table is not None:
            self._write_iceberg(iteration, state, rec)
            return
        path = os.path.join(self.base_dir, "ranks", f"iter={iteration}")
        state.write.mode("overwrite").parquet(path)
        # mark complete only after both writes (crash between = ignored dir)
        with open(self._metrics_path, "a") as f:
            f.write(json.dumps(rec) + "\n")
        with open(os.path.join(path, "_COMMITTED"), "w") as f:
            f.write("ok")
        self._gc(iteration)

    def _write_iceberg(self, iteration: int, state: DataFrame, rec: dict) -> None:
        spark = state.sparkSession
        snap = state.withColumn("iter", F.lit(iteration).cast("long"))
        if spark.catalog.tableExists(self.table):
            snap.writeTo(self.table).append()
        else:  # first write: create the table from the state schema
            snap.writeTo(self.table).create()
        mrow = spark.createDataFrame(
            [(int(iteration), json.dumps(rec))], "iter LONG, metrics STRING"
        )
        if spark.catalog.tableExists(self._metrics_table()):
            mrow.writeTo(self._metrics_table()).append()
        else:
            mrow.writeTo(self._metrics_table()).create()

    def _metrics_table(self) -> str:
        return self.table + "_metrics"

    def _gc(self, iteration: int) -> None:
        import shutil

        for it in self._iterations():
            if it <= iteration - self.keep_last:
                shutil.rmtree(
                    os.path.join(self.base_dir, "ranks", f"iter={it}"),
                    ignore_errors=True,
                )

    # -- read/resume path ---------------------------------------------------

    def _iterations(self) -> list[int]:
        root = os.path.join(self.base_dir, "ranks")
        out = []
        for name in os.listdir(root):
            if name.startswith("iter=") and os.path.exists(
                os.path.join(root, name, "_COMMITTED")
            ):
                out.append(int(name.split("=", 1)[1]))
        return sorted(out)

    def latest(self, spark: SparkSession) -> tuple[int, DataFrame] | None:
        if self.table is not None:
            if not spark.catalog.tableExists(self.table):
                return None
            t = spark.read.table(self.table)
            row = t.agg(F.max("iter").alias("m")).first()
            if row["m"] is None:
                return None
            k = int(row["m"])
            return k, t.where(F.col("iter") == k).drop("iter")
        its = self._iterations()
        if not its:
            return None
        k = its[-1]
        df = spark.read.parquet(
            os.path.join(self.base_dir, "ranks", f"iter={k}")
        )
        return k, df

    def metrics(self) -> list[dict]:
        """The metrics records in iteration order. The snapshot backend
        appends a record to its log before the snapshot commits, so a
        crash between the two leaves a record past the latest commit, and
        the resumed run appends that iteration again: records past the
        latest committed iteration are dropped, and of an iteration's
        records the last wins."""
        if self.table is not None:
            spark = SparkSession.getActiveSession()
            if spark is None or not spark.catalog.tableExists(
                self._metrics_table()
            ):
                return []
            return [
                json.loads(r["metrics"])
                for r in spark.read.table(self._metrics_table())
                .orderBy("iter")
                .collect()
            ]
        if not os.path.exists(self._metrics_path):
            return []
        with open(self._metrics_path) as f:
            by_iter = {
                rec["iteration"]: rec
                for rec in map(json.loads, filter(str.strip, f))
            }
        last = max(self._iterations(), default=0)
        return [by_iter[k] for k in sorted(by_iter) if k <= last]
