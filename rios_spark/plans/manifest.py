"""Per-partition lineage + metrics manifest — resumable jobs.

RIOS has NO resume: a killed run restarts from block zero
(rios/applier.py:1004-1052 has no checkpoint — gap noted in
SURVEY.md §2.9). The north rule requires tile-granular resume, so this
module adds it:

- every stage records, per cell: row count, byte count, wall clock,
  and a status, appended to a manifest table;
- a restarted job anti-joins its cell list against the manifest and
  processes ONLY pending cells;
- output is written partitioned by cell with dynamic partition
  overwrite, so re-processing a cell (crash between data write and
  manifest append) is idempotent — the partition is replaced, never
  duplicated. On a real deployment both writes are one Iceberg
  transaction (snapshot commit == RIOS closeOutfiles,
  rios/imagewriter.py:123-193); with plain parquet the manifest-after-
  data ordering gives at-least-once processing with exactly-once
  visibility.
"""

from __future__ import annotations

import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST_SCHEMA = (
    "job_id string, stage string, cell long, n_rows long, n_bytes long,"
    " wall_ms long, status string, run_id string"
)


class Manifest:
    """Lineage/metrics manifest over a parquet directory."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _exists(self) -> bool:
        return os.path.exists(self.path) and any(
            f.endswith(".parquet") for _, _, fs in os.walk(self.path) for f in fs
        )

    def read(self) -> DataFrame:
        if not self._exists():
            return self.spark.createDataFrame([], MANIFEST_SCHEMA)
        return self.spark.read.schema(MANIFEST_SCHEMA).parquet(self.path)

    def completed_cells(self, job_id: str, stage: str) -> DataFrame:
        return (
            self.read()
            .filter(
                (F.col("job_id") == job_id)
                & (F.col("stage") == stage)
                & (F.col("status") == "done")
            )
            .select("cell")
            .distinct()
        )

    def pending_cells(self, all_cells: DataFrame, job_id: str, stage: str) -> DataFrame:
        """all_cells (one column `cell`) minus completed — the resume
        anti-join. Completed set is small (distinct cells) → broadcast."""
        done = self.completed_cells(job_id, stage)
        return all_cells.join(F.broadcast(done), "cell", "left_anti")

    def append(self, entries: DataFrame) -> None:
        entries.write.mode("append").parquet(self.path)

    def run_stage(
        self,
        job_id: str,
        stage: str,
        df: DataFrame,
        out_path: str,
        payload_col: str | None = None,
        cell: str = "cell",
    ) -> dict:
        """Process-and-checkpoint one stage: write the pending subset of
        `df` to `out_path` partitioned by cell (dynamic overwrite →
        idempotent per-cell replace), then append per-cell lineage rows.

        Returns {'cells_total', 'cells_pending', 'rows_written'}.
        `payload_col`: column whose octet_length approximates bytes
        (defaults to 8 bytes/row if None).
        """
        t0 = time.monotonic()
        run_id = uuid.uuid4().hex[:12]
        all_cells = df.select(F.col(cell).alias("cell")).distinct()
        pending = self.pending_cells(all_cells, job_id, stage).cache()
        # released on every exit: nothing pending, a failed write, or done
        try:
            n_total = all_cells.count()
            n_pending = pending.count()
            if n_pending == 0:
                return {"cells_total": n_total, "cells_pending": 0, "rows_written": 0}

            subset = df.join(F.broadcast(pending), df[cell] == pending["cell"], "left_semi")
            self.spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
            subset.write.mode("overwrite").partitionBy(cell).parquet(out_path)

            nbytes = (
                F.sum(F.octet_length(F.col(payload_col))) if payload_col else F.lit(8) * F.count("*")
            )
            wall_ms = int((time.monotonic() - t0) * 1000)
            metrics = (
                subset.groupBy(F.col(cell).alias("cell"))
                .agg(F.count("*").alias("n_rows"), nbytes.cast("long").alias("n_bytes"))
                .select(
                    F.lit(job_id).alias("job_id"),
                    F.lit(stage).alias("stage"),
                    "cell",
                    "n_rows",
                    "n_bytes",
                    F.lit(wall_ms).alias("wall_ms"),
                    F.lit("done").alias("status"),
                    F.lit(run_id).alias("run_id"),
                )
            )
            self.append(metrics)
            rows = subset.count()
            return {"cells_total": n_total, "cells_pending": n_pending, "rows_written": rows}
        finally:
            pending.unpersist()
