"""Tiled table sources/sinks — the engine's storage layer.

RIOS analogues re-expressed (SURVEY.md §2.1):
- openOutfile/writeBlock/closeOutfiles (rios/imagewriter.py:37-193) →
  ``write_tiled``: one atomic Spark write, partitioned by a coarse
  parent cell (partition pruning) and sorted within partitions by the
  fine cell (row-group locality). Each row written exactly once — the
  seamless-stitch invariant.
- readBlockOneFile/partition pruning (rios/imagereader.py:65-121,
  rios/applier.py:1308-1326) → ``read_tiled`` with an optional cell-set
  filter that prunes partitions at plan time.
- ImageInfo metadata scan (rios/fileinfo.py:35-108) → ``table_info``.

Table handles: ``table`` resolves a read-mostly table once per session.
``spark.read.parquet`` lists the files and infers the schema from the
footers on every call; ``table`` returns the DataFrame it resolved
before for the same session and path while the path's file listing
(names, sizes, mtimes) is unchanged, the way a catalog pins a snapshot.
A rewritten table changes its listing and is read again. A path that
cannot be stat'ed locally (a URI, a glob) is read fresh every time.
Paths that a job writes and then reads back (manifests, stats stores,
fresh tile outputs) use ``spark.read`` directly: their listing changes
on every call.

Deployment note: on a production cluster this module targets Iceberg
(`df.writeTo(t).partitionedBy(bucket(N, cell))`, snapshot commit ==
RIOS's close); this container has no Iceberg jars, so the same layout
is realized as hive-partitioned parquet. The API is format-agnostic.
"""

from __future__ import annotations

import os
import stat
import threading
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rios_spark.grid import RES_MUL, parent_col


# resolved tables kept per session; bounded FIFO (oldest evicted first)
_TABLE_MEMO_MAX = 64
# guards the memo's evict-and-insert (streaming callbacks run on their own
# threads); the read itself runs outside it
_TABLE_MEMO_LOCK = threading.Lock()


def listing_sig(path: str) -> tuple | None:
    """The file listing of a local table, as (relative name, size,
    mtime_ns) per file, sorted; a single-file table is its one file.
    None (never cache) for a path that cannot be stat'ed as a local file
    or directory, which includes every URI (file://, s3a://, hdfs://)."""

    def fail(err):
        raise err

    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return (("", st.st_size, st.st_mtime_ns),)
        sig = []
        for root, dirs, files in os.walk(path, onerror=fail):
            dirs.sort()
            for f in sorted(files):
                full = os.path.join(root, f)
                fst = os.stat(full)
                sig.append((os.path.relpath(full, path), fst.st_size, fst.st_mtime_ns))
        return tuple(sig)
    except OSError:
        return None


def table(spark: SparkSession, path: str) -> DataFrame:
    """`spark.read.parquet(path)`, resolved once per session while the
    path's file listing is unchanged (see the module docstring). The memo
    lives on the session object, so it dies with the session and a new
    session starts empty. Two calls may return the same DataFrame; Spark
    deduplicates the relation when a plan joins it with itself, and a
    `df[col]` reference it cannot place on one side of such a join
    raises (spark.sql.analyzer.failAmbiguousSelfJoin) rather than
    answering wrongly: name the sides with `df.alias`."""
    sig = listing_sig(path)
    if sig is None:
        return spark.read.parquet(path)
    memo = spark.__dict__.setdefault("_rios_tables", {})
    hit = memo.get(path)
    if hit is not None and hit[0] == sig:
        return hit[1]
    df = spark.read.parquet(path)
    with _TABLE_MEMO_LOCK:
        memo.pop(path, None)
        while len(memo) >= _TABLE_MEMO_MAX:
            memo.pop(next(iter(memo)))
        memo[path] = (sig, df)
    return df


def write_tiled(
    df: DataFrame,
    path: str,
    res: int,
    partition_res: int | None = None,
    cell: str = "cell",
    mode: str = "overwrite",
    before_close=None,
    creation_options: dict | None = None,
) -> None:
    """Write partitioned by pcell (parent at partition_res, default
    res-3 → 1/64 of the cell count as directories) and sorted within
    files by the fine cell: queries filtering on cell prune partitions
    via pcell min/max and skip row groups via the sort.

    before_close: optional fn(df) -> df called on the final frame right
    before the write — the callBeforeClose analogue
    (rios/applier.py:845-858, invoked rios/imagewriter.py:179-182;
    contract test rios/riostests/testbeforeclose.py). In Iceberg terms
    this runs before the snapshot commit.

    creation_options: per-write writer options — the creation-option
    hygiene surface (S13; rios/imagewriter.py driver/creationoptions,
    rios/applier.py setCreationOptions): e.g. {"compression": "zstd",
    "parquet.block.size": ...}. Scoped to THIS write only, never
    leaked into session conf (the round-1 partial did session conf
    only)."""
    if partition_res is None:
        partition_res = max(0, res - 3)
    if before_close is not None:
        out = before_close(df)
        if out is None:
            out = df
        df = out
    out = df.withColumn("pcell", parent_col(cell, res, partition_res))
    w = out.repartition("pcell").sortWithinPartitions(cell).write.mode(mode)
    if creation_options:
        w = w.options(**{str(k): str(v) for k, v in creation_options.items()})
    w.partitionBy("pcell").parquet(path)


def read_tiled(
    spark: SparkSession,
    path: str,
    res: int,
    cells: list[int] | None = None,
    partition_res: int | None = None,
) -> DataFrame:
    """Read a tiled table; with `cells`, inject both the pcell partition
    filter (directory pruning) and the cell filter (row-group skip)."""
    if partition_res is None:
        partition_res = max(0, res - 3)
    df = spark.read.parquet(path)
    if cells:
        import numpy as np

        from rios_spark.grid import np_parent

        pcells = sorted(set(np_parent(np.asarray(cells, np.int64), partition_res).tolist()))
        df = df.filter(F.col("pcell").isin(pcells)).filter(F.col("cell").isin(list(cells)))
    return df.drop("pcell")


@dataclass
class TableInfo:
    """ImageInfo analogue: what a consumer needs to align with a tiled
    table (the tile-scheme check ≡ alignedWith, rios/pixelgrid.py:104)."""

    n_rows: int
    n_cells: int
    resolutions: list[int]
    columns: list[str]


def table_info(df: DataFrame, cell: str = "cell") -> TableInfo:
    agg = df.agg(
        F.count("*").alias("n"),
        F.countDistinct(cell).alias("c"),
        F.collect_set(F.shiftright(F.col(cell), 58)).alias("r"),
    ).collect()[0]
    return TableInfo(
        n_rows=agg["n"],
        n_cells=agg["c"],
        resolutions=sorted(int(x) for x in agg["r"]),
        columns=df.columns,
    )


def vector_info(polygons) -> "object":
    """Vector metadata scan (S7) — the VectorFileInfo analogue
    (rios/fileinfo.py vector side): per-polygon vertex count, bbox, and
    shoelace area (planar, signed→abs), plus layer-level bbox. Polygons
    are the broadcast-small side by design (pandas in, pandas out)."""
    import numpy as np
    import pandas as pd

    rows = []
    for _, p in polygons.iterrows():
        xs = np.asarray(p["xs"], np.float64)
        ys = np.asarray(p["ys"], np.float64)
        area = 0.5 * abs(
            float(np.dot(xs, np.roll(ys, -1)) - np.dot(ys, np.roll(xs, -1)))
        )
        rows.append(
            {
                "polygon_id": int(p["polygon_id"]),
                "n_vertices": int(len(xs)),
                "lon_min": float(xs.min()), "lat_min": float(ys.min()),
                "lon_max": float(xs.max()), "lat_max": float(ys.max()),
                "area_deg2": area,
            }
        )
    return pd.DataFrame(rows)
