"""The applier — rios_spark's analogue of ``rios.applier.apply``.

Reference semantics being re-expressed (NOT ported):
- ``apply(userFunction, infiles, outfiles, otherArgs, controls)``
  (rios/applier.py:861-955): N pixel-aligned raster inputs are read
  block-by-block, the user's numpy kernel runs per block, and a single
  writer stitches output blocks seamlessly.
- Working-grid footprints INTERSECTION / UNION / BOUNDS_FROM_REFERENCE
  (rios/pixelgrid.py:415-444, rios/applier.py:1226-1283).
- Overlap margins (rios/applier.py:253-268) — see margin.py.
- ReaderInfo per-block metadata (rios/readerinfo.py:31-399).

Spark-first design:
- Inputs are DataFrames sharing a ``cell`` column (the tile key) and a
  set of ``align_keys`` (the intra-tile pixel/row identity — RIOS's
  pixel alignment made explicit). The applier FULL-OUTER-joins all
  inputs on (cell, *align_keys): within shared cells, a row missing
  from one input surfaces as NULL — exactly RIOS's null-padded margin
  fill (rios/imagereader.py:102-115) with real SQL NULLs instead of
  sentinels. Catalyst plans the join (sort-merge or broadcast); with
  every input pre-bucketed/partitioned by cell it is co-located.
- The footprint mode then filters at the CELL level using the tiny
  distinct-cell sets (broadcast semi-join): INTERSECTION keeps cells
  present in every input (empty → error, matching
  rios/pixelgrid.py:158-160), UNION keeps all, REFERENCE keeps the
  reference input's cells. A single input is its own footprint in
  every mode and skips this pass (empty in → empty out).
- The kernel runs via ``groupBy(owner).applyInPandas`` — one Arrow
  batch per tile, vectorized numpy inside, zero per-row Python.
- TileInfo (ReaderInfo analogue) is rebuilt per tile from the owner
  cell id alone — pure arithmetic, no driver round-trip.

At 100 TB: the only shuffle is the groupBy on the cell key (and the
join, which shares that key and therefore the same exchange). Skewed
cells are handled upstream by adaptive resolution splitting
(plans.adaptive_split) and AQE.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce
from typing import Any, Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from rios_spark import margin as margin_mod
from rios_spark.grid import RES_MUL, Y_MUL, np_cell_bounds

INTERSECTION = "INTERSECTION"
UNION = "UNION"
BOUNDS_FROM_REFERENCE = "BOUNDS_FROM_REFERENCE"


@dataclass
class TileInfo:
    """Per-tile metadata handed to kernels — the ReaderInfo analogue.

    Fields mirror rios/readerinfo.py: the working-grid identity
    (res ≡ pixel grid), the tile's grid position (x, y ≡ block col/row),
    its world bounds, and the margin size. Unlike ReaderInfo there is no
    isFirstBlock/isLastBlock — Spark tasks are unordered by design; use
    aggregations for cross-tile state (SURVEY.md §2.9).
    """

    cell: int
    res: int
    x: int
    y: int
    lon_min: float
    lat_min: float
    lon_max: float
    lat_max: float
    margin: int
    other_args: dict[str, Any] | None = None

    @classmethod
    def from_cell(cls, cell: int, margin: int = 0, other_args: dict | None = None) -> "TileInfo":
        res = cell // RES_MUL
        rem = cell - res * RES_MUL
        y = rem >> 29
        x = rem & (Y_MUL - 1)
        lon_min, lat_min, lon_max, lat_max = np_cell_bounds(np.asarray([cell]))
        return cls(
            cell=int(cell), res=int(res), x=int(x), y=int(y),
            lon_min=float(lon_min[0]), lat_min=float(lat_min[0]),
            lon_max=float(lon_max[0]), lat_max=float(lat_max[0]),
            margin=margin, other_args=other_args,
        )


Kernel = Callable[[TileInfo, pd.DataFrame], pd.DataFrame]


def _footprint_cells(
    inputs: dict[str, DataFrame], footprint: str, reference: str | None
) -> DataFrame | None:
    """Distinct-cell set implementing the working-grid footprint.

    Returns None when no filtering is needed: for UNION (the row-level
    full-outer join already realizes the union footprint) and for a
    single input, whose own cell set every mode equals.
    """
    if footprint not in (INTERSECTION, UNION, BOUNDS_FROM_REFERENCE):
        raise ValueError(f"unknown footprint {footprint!r}")
    if reference is None:
        reference = next(iter(inputs))
    if footprint == BOUNDS_FROM_REFERENCE and reference not in inputs:
        raise ValueError(f"reference {reference!r} names no input")
    if footprint == UNION or len(inputs) == 1:
        return None
    if footprint == BOUNDS_FROM_REFERENCE:
        return inputs[reference].select("cell").distinct()
    sets = [df.select("cell").distinct() for df in inputs.values()]
    return reduce(lambda a, b: a.join(b, "cell", "inner"), sets)


def _bbox_surrounds(a: tuple, b: tuple) -> bool:
    """True if bbox a completely surrounds bbox b — the corner check of
    rios/pixelgrid.py:328-345 (inclusive bounds)."""
    ax0, ay0, ax1, ay1 = a
    bx0, by0, bx1, by1 = b
    return (
        ax0 <= bx0 <= ax1 and ax0 <= bx1 <= ax1
        and ay0 <= by0 <= ay1 and ay0 <= by1 <= ay1
    )


def remove_surrounding(bboxes: dict[str, tuple]) -> list[str]:
    """Footprint planning (SURVEY.md J10): drop any input whose bbox
    completely surrounds ALL the others — it can never constrain an
    INTERSECTION, so intersecting its (large) cell set is wasted work.
    Iterates until stable, always keeping at least one input — the
    removeSurrounding analogue (rios/pixelgrid.py:447-491, oracle
    rios/riostests/testfootprint.py:146-206).

    NOTE the dense-footprint assumption carried over from rasters: an
    input is treated as covering its whole bbox. For sparse tables use
    this only when the surrounding input is known dense (e.g. a global
    base layer); cell-set INTERSECTION without pruning is always exact.

    bboxes: name -> (lon_min, lat_min, lon_max, lat_max). Returns the
    names to KEEP, in input order.
    """
    names = list(bboxes)
    keep = {n: True for n in names}
    changed = True
    while changed and sum(keep.values()) > 1:
        changed = False
        for i in names:
            if not keep[i] or sum(keep.values()) <= 1:
                continue
            others = [j for j in names if j != i and keep[j]]
            if all(_bbox_surrounds(bboxes[i], bboxes[j]) for j in others):
                keep[i] = False
                changed = True
    return [n for n in names if keep[n]]


def apply_input_nulls(
    df: DataFrame, nulls: dict[str, Any], keys: list[str]
) -> DataFrame:
    """Sentinel→NULL conversion at the input boundary — the
    setInputNoDataValue analogue (rios/applier.py:421-451;
    sentinel-null model rios/imagereader.py:102-115). nulls maps
    column name → sentinel value; matching values become real NULLs
    before the kernel ever sees them."""
    cols = []
    for c in df.columns:
        if c in nulls and c not in keys:
            cols.append(
                F.when(F.col(c) == F.lit(nulls[c]), F.lit(None)).otherwise(F.col(c)).alias(c)
            )
        else:
            cols.append(F.col(c))
    return df.select(*cols)


def build_working_set(
    inputs: dict[str, DataFrame],
    align_keys: list[str],
    footprint: str = INTERSECTION,
    reference: str | None = None,
    select_layers: dict[str, list[str]] | None = None,
    input_nulls: dict[str, dict[str, Any]] | None = None,
) -> DataFrame:
    """Join N aligned inputs into the working DataFrame.

    Analogue of makeWorkingGrid + readBlockAllFiles
    (rios/applier.py:1226-1283, rios/imagereader.py:50-62): non-key
    columns are prefixed ``{name}__`` when there are multiple inputs
    (≡ BlockAssociations symbolic names).
    """
    keys = ["cell", *align_keys]
    many = len(inputs) > 1
    renamed = []
    for name, df in inputs.items():
        if select_layers and name in select_layers:
            # layer (column) selection — selectInputImageLayers analogue
            # (rios/applier.py:730-743); Catalyst prunes the scan to
            # exactly these columns
            df = df.select(*keys, *select_layers[name])
        if input_nulls and name in input_nulls:
            df = apply_input_nulls(df, input_nulls[name], keys)
        cols = [F.col(k) for k in keys] + [
            F.col(c).alias(f"{name}__{c}" if many else c)
            for c in df.columns
            if c not in keys
        ]
        renamed.append(df.select(*cols))
    joined = reduce(lambda a, b: a.join(b, keys, "full_outer"), renamed)

    cells = _footprint_cells(inputs, footprint, reference)
    if cells is not None:
        if footprint == INTERSECTION and cells.limit(1).count() == 0:
            # parity with rios/pixelgrid.py:158-160 ("don't intersect")
            raise ValueError("Footprint INTERSECTION is empty: input tile sets do not intersect")
        joined = joined.join(F.broadcast(cells), "cell", "left_semi")
    return joined


def apply(
    kernel: Kernel,
    inputs: dict[str, DataFrame],
    out_schema: StructType | str,
    align_keys: list[str] | None = None,
    footprint: str = INTERSECTION,
    reference: str | None = None,
    margin: int = 0,
    res: int | None = None,
    other_args: dict[str, Any] | None = None,
    trim: bool = True,
    select_layers: dict[str, list[str]] | None = None,
    input_nulls: dict[str, dict[str, Any]] | None = None,
) -> DataFrame:
    """Run a per-tile vectorized kernel over N aligned inputs.

    kernel(info: TileInfo, tile: pandas.DataFrame) -> pandas.DataFrame.
    The tile frame contains (cell, *align_keys, {name}__{col}...) plus
    ``__is_margin`` when margin > 0. Output rows:
      - if ``cell`` is in out_schema and the kernel doesn't set it, the
        owner cell is attached automatically;
      - if the kernel keeps ``__is_margin`` (or margin == 0 and
        trim=True), halo rows are trimmed before return — the
        write-without-margin invariant (rios/imagewriter.py:45-47).

    other_args: read-only parameters, serialized into the task closure
    (the safe replacement for RIOS's mutable otherArgs side-channel,
    rios/structures.py:531-544).
    """
    align_keys = align_keys or []
    working = build_working_set(
        inputs, align_keys, footprint, reference,
        select_layers=select_layers, input_nulls=input_nulls,
    )

    if margin > 0:
        if res is None:
            raise ValueError("res is required when margin > 0")
        working = margin_mod.with_margin(working, res, margin, cell="cell")
    else:
        working = working.withColumn(margin_mod.OWNER, F.col("cell")).withColumn(
            margin_mod.IS_MARGIN, F.lit(False)
        )

    schema = out_schema
    out_field_names = (
        [f.name for f in schema.fields]
        if isinstance(schema, StructType)
        else [p.strip().split()[0] for p in str(schema).split(",")]
    )

    def run_tile(pdf: pd.DataFrame) -> pd.DataFrame:
        owner = int(pdf[margin_mod.OWNER].iloc[0])
        info = TileInfo.from_cell(owner, margin=margin, other_args=other_args)
        tile = pdf.rename(columns={margin_mod.IS_MARGIN: "__is_margin"}).drop(
            columns=[margin_mod.OWNER]
        )
        out = kernel(info, tile)
        if "__is_margin" in out.columns:
            if trim:
                out = out[~out["__is_margin"].astype(bool)]
            out = out.drop(columns=["__is_margin"])
        if "cell" in out_field_names and "cell" not in out.columns:
            out = out.assign(cell=np.int64(owner))
        return out[out_field_names]

    return working.groupBy(margin_mod.OWNER).applyInPandas(run_tile, schema=schema)
