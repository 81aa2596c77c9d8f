"""rios_spark — a brand-new PySpark-native spatial-join + tiling engine.

Re-expresses the semantics of the RIOS block-parallel applier model
(reference: ubarsc/rios @ /root/reference — fixed-size raster blocks with
overlap margins, per-block numpy kernels, ReaderInfo block metadata,
single-writer stitch, single-pass statistics) as hierarchical tile
partitions over Spark DataFrames of Common-Crawl-style web pages.

Architecture is Spark-first: DataFrame/SQL + Catalyst/AQE everywhere;
Arrow-vectorized pandas UDFs only where per-tile numpy kernels are the
point (the applier); zero row-at-a-time Python.

Modules
-------
session   SparkSession factory (Arrow on, AQE on)
grid      hierarchical tile index (H3/S2-style): cell ids, parents,
          k-rings, polyfill — pure integer math, JVM-side expressions
datagen   deterministic synthetic pages/polygons fixtures (seed=42)
applier   the RIOS `applier.apply` analogue: co-partitioned multi-input
          tile join + TileInfo + applyInPandas kernels
margin    k-ring overlap-margin join (RIOS setOverlap analogue)
stats     single-pass statistics + RIOS-exact histogram binning,
          median/mode from histogram, pyramid rollups
spatial   point-in-polygon join, zonal aggregation, kNN join
textops   deterministic html→text extraction, language id, quality
          scoring, token counts, fingerprints
dedup     exact / minhash-LSH / simhash / n-gram-jaccard / embedding
          near-duplicate detection (LSH scale path + tiled exact mode)
ann       cosine top-k: exact brute, IVF, auto-dispatch, and a
          persisted partition-pruned IVF index (build once / search many)
streaming watermarked windowed aggs, stateful dedup (TTL-evicted) and
          gap sessionization (event-time state)
rat       category tables: chunk apply, color ramps, external RAT store
cmdline   rios_spark_calcstats / rios_spark_printstats console scripts
plans     adaptive split, the resume manifest, and
          sizing: the one home of every input-size decision (footer
          counts, fan-out width, broadcast and pair gates, GEMM budget)
"""

__version__ = "0.3.0"

from rios_spark.session import get_spark  # noqa: F401
