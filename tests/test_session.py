"""Session factory: Python workers of a local master import rios_spark
from any working directory; the default driver heap fits the host."""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = f"""
import sys
sys.path.insert(0, {ROOT!r})
from rios_spark.session import get_spark

def kern(batches):
    import rios_spark.spatial
    for pdf in batches:
        yield pdf.assign(ok=rios_spark.spatial.EARTH_RADIUS_KM > 0)

spark = get_spark("worker_path", master="local[1]", shuffle_partitions=1)
rows = spark.range(3).mapInPandas(kern, "id long, ok boolean").collect()
assert [r.ok for r in rows] == [True, True, True], rows
spark.stop()
print("WORKERS_OK")
"""


def test_local_workers_import_package_outside_checkout(tmp_path):
    """The driver imports the package through sys.path only, from a cwd
    outside the checkout and with no PYTHONPATH: the mapInPandas kernel
    that imports rios_spark on the worker must still run."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", SCRIPT], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert "WORKERS_OK" in proc.stdout, proc.stderr[-3000:]


def test_driver_memory_default_fits_host(monkeypatch):
    """$SPARK_DRIVER_MEM wins; unset, the heap is min(24g, RAM / 2)."""
    from rios_spark.session import _driver_memory

    monkeypatch.setenv("SPARK_DRIVER_MEM", "3g")
    assert _driver_memory() == "3g"
    monkeypatch.delenv("SPARK_DRIVER_MEM")
    with open("/proc/meminfo") as f:
        total_mb = int(f.readline().split()[1]) // 1024
    mb = int(_driver_memory().rstrip("m"))
    assert abs(mb - min(24 * 1024, total_mb // 2)) <= 1


def test_tile_op_chain_compiles_once(spark, tmp_path):
    """The pages_scale op chain (zonal stats, kNN, applier + tiled write,
    adaptive split, manifest stage, tiled read + table info) run twice
    on the same small Zipf pages: the second pass finds every generated
    class in the session's codegen cache and compiles none."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from rios_spark import applier, datagen, sources, spatial
    from rios_spark.grid import cell_col
    from rios_spark.plans import Manifest, adaptive_split

    res = 6
    pages_path, queries_path = str(tmp_path / "pages"), str(tmp_path / "queries")
    datagen.gen_pages_spark(spark, 4000, seed=11).select(
        "page_id", "url", "lang", "lat", "lon").write.parquet(pages_path)
    spark.read.parquet(pages_path).filter(F.col("page_id") % 80 == 0).select(
        F.col("page_id").alias("qid"), "lat", "lon").write.parquet(queries_path)
    polygons = datagen.gen_polygons()

    def cells(path):
        return spark.read.parquet(path).withColumn("cell", cell_col("lat", "lon", res))

    def kernel(info, tile: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({
            "page_id": tile["page_id"].to_numpy(),
            "n_nbhd": np.full(len(tile), len(tile), np.int64),
            "__is_margin": tile["__is_margin"].to_numpy(),
        })

    def chain(i):
        noop = {"format": "noop", "mode": "overwrite"}
        pages = cells(pages_path)
        spatial.zonal_stats(pages, polygons, res, "page_id").write.save(**noop)
        pages.groupBy("cell").agg(F.count("*").alias("n")).agg(F.sum("n")).first()
        spatial.knn_join(cells(queries_path), pages, 5, res, d_id="page_id",
                         q_id="qid").write.save(**noop)
        tiles = applier.apply(kernel, {"p": pages.select("cell", "page_id")},
                              "cell long, page_id long, n_nbhd long", margin=1, res=res)
        tiles_path = str(tmp_path / f"tiles_{i}")
        sources.write_tiled(tiles, tiles_path, res)
        adaptive_split(pages, res, 500).groupBy("cell").agg(F.count("*").alias("n")).collect()
        Manifest(spark, str(tmp_path / f"manifest_{i}")).run_stage(
            f"job{i}", "tile_write", pages.select("cell", "page_id", "url"),
            str(tmp_path / f"stage_{i}"), payload_col="url")
        some = [r.cell for r in pages.select("cell").distinct().orderBy("cell").take(4)]
        sources.table_info(sources.read_tiled(spark, tiles_path, res, cells=some))

    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    chain(0)
    before = compiles.getCount()
    chain(1)
    assert compiles.getCount() - before == 0
