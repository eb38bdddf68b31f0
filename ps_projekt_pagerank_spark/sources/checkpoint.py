"""S5 — per-iteration checkpointing (north-rule extension; the reference
keeps everything in RAM and recreates GPU buffers per run,
Graph4CL.cpp:124-133).

Snapshot layout under ``base_dir``:

- ``ranks/iter=K/`` — the full rank state after sweep K (id, outdeg,
  is_sink, rank, active) as parquet, enough to resume mid-convergence;
- ``ranks/iter=K/_COMMITTED`` — written last: a snapshot dir without it
  is an interrupted write and is ignored;
- ``metrics.jsonl`` — an append-only log, one JSON record per sweep
  (iteration, edges, seconds, n_active).

Only the last ``KEEP_LAST`` committed snapshots are kept. Resume = read
the latest committed snapshot (``latest``), restart the loop at K+1.
Used by operators.pagerank via the ``checkpointer`` argument.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession

KEEP_LAST = 3


class IterationCheckpointer:
    """Durable per-iteration rank snapshots under ``base_dir``."""

    def __init__(self, base_dir: str):
        self.base_dir = base_dir
        os.makedirs(os.path.join(base_dir, "ranks"), exist_ok=True)
        self._metrics_path = os.path.join(base_dir, "metrics.jsonl")

    # -- write path ---------------------------------------------------------

    def write(self, iteration: int, state: DataFrame, metrics: dict) -> None:
        path = os.path.join(self.base_dir, "ranks", f"iter={iteration}")
        state.write.mode("overwrite").parquet(path)
        # mark complete only after both writes (crash between = ignored dir)
        with open(self._metrics_path, "a") as f:
            f.write(json.dumps(metrics) + "\n")
        with open(os.path.join(path, "_COMMITTED"), "w") as f:
            f.write("ok")
        self._gc(iteration)

    def _gc(self, iteration: int) -> None:
        for it in self._iterations():
            if it <= iteration - KEEP_LAST:
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
        its = self._iterations()
        if not its:
            return None
        k = its[-1]
        df = spark.read.parquet(
            os.path.join(self.base_dir, "ranks", f"iter={k}")
        )
        return k, df

    def metrics(self) -> list[dict]:
        """The metrics records in iteration order. A record is appended
        to the log before its snapshot commits, so a crash between the
        two leaves a record past the latest commit, and the resumed run
        appends that iteration again: records past the latest committed
        iteration are dropped, and of an iteration's records the last
        wins."""
        if not os.path.exists(self._metrics_path):
            return []
        with open(self._metrics_path) as f:
            by_iter = {
                rec["iteration"]: rec
                for rec in map(json.loads, filter(str.strip, f))
            }
        last = max(self._iterations(), default=0)
        return [by_iter[k] for k in sorted(by_iter) if k <= last]
