"""Per-partition lineage + metrics manifest — resumable jobs.

RIOS has NO resume: a killed run restarts from block zero
(rios/applier.py:1004-1052 has no checkpoint — gap noted in
SURVEY.md §2.9). The north rule requires tile-granular resume, so this
module adds it:

- every stage records, per cell: row count, byte count, wall clock,
  and a status, appended to a manifest table — taken from the stage's
  one per-cell aggregate (single-pass statistics), never a re-scan;
- a restarted job anti-joins its cell list against the manifest and
  processes ONLY pending cells;
- output is written partitioned by cell with dynamic partition
  overwrite (an option of that write, never session conf), so
  re-processing a cell (crash between data write and manifest append)
  is idempotent — the partition is replaced, never duplicated. On a real deployment both writes are one Iceberg
  transaction (snapshot commit == RIOS closeOutfiles,
  rios/imagewriter.py:123-193); with plain parquet the manifest-after-
  data ordering gives at-least-once processing with exactly-once
  visibility.
"""

from __future__ import annotations

import time
import uuid

import pandas as pd
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
        """Whether the manifest directory exists, asked of Hadoop's
        FileSystem (no Spark job), so a URI manifest (file://, hdfs://,
        s3a://) is found like a bare local path. A directory with no
        committed file yet reads as empty under the explicit schema."""
        path = self.spark._jvm.org.apache.hadoop.fs.Path(self.path)
        fs = path.getFileSystem(self.spark._jsparkSession.sessionState().newHadoopConf())
        return fs.exists(path)

    def read(self) -> DataFrame:
        if not self._exists():
            return self.spark.createDataFrame(self.spark.sparkContext.emptyRDD(), MANIFEST_SCHEMA)
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
        """Append lineage rows as one file: the rows are few, and a local
        frame would otherwise be written as one file per default
        partition."""
        entries.coalesce(1).write.mode("append").parquet(self.path)

    def run_stage(
        self,
        job_id: str,
        stage: str,
        df: DataFrame,
        out_path: str,
        payload_col: str | None = None,
        cell: str = "cell",
    ) -> dict:
        """Process-and-checkpoint one stage in two reads of `df`: one
        per-cell aggregate (collected; the lineage rows), then one write
        of the pending rows to `out_path` partitioned by cell (dynamic
        overwrite → idempotent per-cell replace). Null-cell rows are
        never written nor recorded, so they stay out of the cell counts
        and are reported as `null_cell_rows`.

        Returns {'cells_total', 'cells_pending', 'rows_written',
        'null_cell_rows'}.
        `payload_col`: column whose octet_length approximates bytes
        (defaults to 8 bytes/row if None).
        """
        t0 = time.monotonic()
        done = self.completed_cells(job_id, stage)
        nbytes = (
            F.sum(F.octet_length(F.col(payload_col))) if payload_col else F.lit(8) * F.count("*")
        )
        per_cell = (
            df.groupBy(F.col(cell).alias("cell"))
            .agg(F.count("*").alias("n_rows"), nbytes.cast("long").alias("n_bytes"))
            .join(F.broadcast(done.withColumn("done", F.lit(True))), "cell", "left")
            .collect()
        )
        cells = [r for r in per_cell if r["cell"] is not None]
        pending = [r for r in cells if not r["done"]]
        if pending:
            todo = df.filter(F.col(cell).isNotNull()).join(
                F.broadcast(done), df[cell] == done["cell"], "left_anti")
            w = todo.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
            w.partitionBy(cell).parquet(out_path)
            wall_ms, run_id = int((time.monotonic() - t0) * 1000), uuid.uuid4().hex[:12]
            lineage = pd.DataFrame(
                [(job_id, stage, r["cell"], r["n_rows"], r["n_bytes"], wall_ms, "done", run_id)
                 for r in pending],
                dtype=object,  # keeps a null n_bytes None, not NaN
            )
            self.append(self.spark.createDataFrame(lineage, MANIFEST_SCHEMA))
        return {
            "cells_total": len(cells),
            "cells_pending": len(pending),
            "rows_written": sum(r["n_rows"] for r in pending),
            "null_cell_rows": sum(r["n_rows"] for r in per_cell if r["cell"] is None),
        }
