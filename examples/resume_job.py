"""Kill/resume demonstration for the manifest (SURVEY.md §2.9 — the
tile-granular resume RIOS lacks: rios/applier.py:1004-1052 restarts a
killed run from block zero).

The script runs the SAME tile-write stage twice against one manifest:

  phase 1  processes only a prefix of the cells, then exits — a stand-in
           for a job killed mid-run AFTER those cells' partitions and
           manifest rows committed (with plain parquet the
           manifest-after-data ordering makes every recorded cell's
           partition durable; on Iceberg both writes are one snapshot);
  phase 2  "restarts": submits the FULL input. The manifest anti-join
           schedules ONLY the pending cells — the restart's processed
           cell set is exactly (all cells) minus (phase-1 cells), and
           the final output holds every cell exactly once.

Run (local):
  python examples/resume_job.py --out /tmp/resume_demo

Prints one JSON line:
  {"cells_total": N, "cells_phase1": A, "cells_resumed": B,
   "rows_resumed": W, "resume_exact": true, "output_cells": N,
   "output_rows": R}
where resume_exact asserts B == N - A, the resumed set is exactly the
pending set (verified cell-by-cell, not by count) AND the restart
reports W == the rows of those pending cells.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True, help="output directory")
    ap.add_argument("--n-pages", type=int, default=50_000)
    ap.add_argument("--res", type=int, default=4)
    ap.add_argument("--kill-frac", type=float, default=0.5,
                    help="fraction of cells phase 1 completes before 'dying'")
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from rios_spark import datagen
    from rios_spark.grid import cell_col
    from rios_spark.plans import Manifest

    spark = SparkSession.builder.appName("rios_spark_resume_job").getOrCreate()
    pages = datagen.gen_pages_spark(spark, args.n_pages).withColumn(
        "cell", cell_col("lat", "lon", args.res)
    ).select("page_id", "url", "cell")

    out_data = os.path.join(args.out, "tiles")
    manifest = Manifest(spark, os.path.join(args.out, "manifest"))
    job_id, stage = "resume_demo", "tile_write"

    all_cells = sorted(
        r["cell"] for r in pages.select("cell").distinct().collect()
    )
    n_kill = max(1, int(len(all_cells) * args.kill_frac))
    phase1_cells = set(all_cells[:n_kill])

    # ---- phase 1: the killed run — only a prefix of cells committed.
    # Broadcast semi-join, not isin([...]): a long literal OR falls off
    # HotSpot's huge-method JIT cliff (see plans/adaptive.py).
    p1_df = spark.createDataFrame([(int(c),) for c in phase1_cells], "cell long")
    part1 = pages.join(F.broadcast(p1_df), "cell", "left_semi")
    s1 = manifest.run_stage(job_id, stage, part1, out_data, payload_col="url")

    # ---- phase 2: the restart — full input, manifest schedules pending
    pending_before = {
        r["cell"]
        for r in manifest.pending_cells(
            pages.select("cell").distinct(), job_id, stage
        ).collect()
    }
    rows_pending = pages.join(F.broadcast(p1_df), "cell", "left_anti").count()
    s2 = manifest.run_stage(job_id, stage, pages, out_data, payload_col="url")
    done_after = {
        r["cell"] for r in manifest.completed_cells(job_id, stage).collect()
    }
    resumed = done_after - phase1_cells

    out_df = spark.read.parquet(out_data)
    result = {
        "cells_total": len(all_cells),
        "cells_phase1": s1["cells_pending"],
        "cells_resumed": s2["cells_pending"],
        "rows_resumed": s2["rows_written"],
        "resume_exact": (
            resumed == pending_before
            and pending_before == set(all_cells) - phase1_cells
            and s2["cells_pending"] == len(all_cells) - n_kill
            and s2["rows_written"] == rows_pending
        ),
        "output_cells": out_df.select("cell").distinct().count(),
        "output_rows": out_df.count(),
    }
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
