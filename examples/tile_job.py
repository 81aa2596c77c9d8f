"""Example cluster job: the flagship tile-assign + PIP + zonal pipeline
with manifest-checkpointed, resumable output.

Run (cluster):
  tools/make_package.sh
  spark-submit --master yarn --deploy-mode cluster \
      --py-files dist/rios_spark.zip \
      --conf spark.sql.adaptive.enabled=true \
      examples/tile_job.py --pages s3://bucket/pages --out s3://bucket/tiles

Run (local smoke):
  python examples/tile_job.py --n-pages 200000 --out /tmp/tile_job_out

Run with a non-WGS84 source (general-CRS ingest, SURVEY.md F4):
  python examples/tile_job.py --n-pages 200000 --out /tmp/tile_job_out \
      --src-crs EPSG:3857 --x-col x --y-col y
The closed-form family (4326 / 3857 / UTM 326xx-327xx) reprojects with
pure codegen'd expressions; any other EPSG uses the pyproj Arrow-UDF
fallback (clear ImportError when pyproj is absent).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", default=None, help="pages parquet path (default: synthesize)")
    ap.add_argument("--n-pages", type=int, default=200_000)
    ap.add_argument("--out", required=True)
    ap.add_argument("--res", type=int, default=6)
    ap.add_argument("--max-rows-per-cell", type=int, default=500_000)
    ap.add_argument("--job-id", default="tile_job")
    ap.add_argument(
        "--src-crs", default=None,
        help="source CRS of --x-col/--y-col (e.g. EPSG:3857); default: "
        "input already carries WGS84 lat/lon",
    )
    ap.add_argument("--x-col", default="x")
    ap.add_argument("--y-col", default="y")
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from rios_spark import datagen, sources, spatial
    from rios_spark.grid import cell_col, mercator_cols, reproject_to_lonlat
    from rios_spark.plans import Manifest, adaptive_split

    spark = SparkSession.builder.appName("rios_spark_tile_job").getOrCreate()

    if args.pages:
        pages = sources.table(spark, args.pages)
    else:
        pages = datagen.gen_pages_spark(spark, args.n_pages)
        if args.src_crs:
            # local smoke for the CRS path: re-key the synthetic pages
            # in the requested CRS (forward-project, drop lat/lon) so
            # the ingest below has real non-WGS84 coordinates to chew on
            if args.src_crs.upper() not in ("EPSG:3857", "3857"):
                raise SystemExit(
                    "--src-crs smoke synthesis supports EPSG:3857; point "
                    "--pages at real data for other CRSs"
                )
            mx, my = mercator_cols("lat", "lon")
            pages = (
                pages.withColumn(args.x_col, mx)
                .withColumn(args.y_col, my)
                .drop("lat", "lon")
            )

    if args.src_crs:
        # general-CRS ingest (SURVEY.md F4): closed-form family = pure
        # codegen'd exprs; other CRSs = pyproj Arrow-UDF fallback
        pages = reproject_to_lonlat(pages, args.x_col, args.y_col, args.src_crs)

    tiled = pages.withColumn("cell", cell_col("lat", "lon", args.res))
    # hot-tile skew handling before the expensive shuffle/write
    tiled = adaptive_split(tiled, args.res, args.max_rows_per_cell)

    # zonal aggregates against the polygon dims (broadcast)
    polys = datagen.gen_polygons()
    zonal = spatial.zonal_stats(tiled, polys, args.res, "page_id")
    zonal.write.mode("overwrite").parquet(os.path.join(args.out, "zonal"))

    # manifest-checkpointed tiled write: killing this job and re-running
    # it resumes at cell granularity
    man = Manifest(spark, os.path.join(args.out, "manifest"))
    stats = man.run_stage(
        args.job_id, "tile_write",
        tiled.select("cell", "page_id", "url", "lang"),
        os.path.join(args.out, "tiles"), payload_col="url",
    )
    print(json.dumps({"job": args.job_id, **stats}))
    spark.stop()


if __name__ == "__main__":
    main()
