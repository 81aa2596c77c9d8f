"""RAT (raster-attribute-table) analogues — category-table operators.

RIOS processes RATs as chunked columnar tables with a user function per
chunk (reference: rios/ratapplier.py:66-205, chunk size 100k rows at
:370; column IO rios/rat.py:55-269; color tables rios/rat.py:443-529,
rios/colortable.py:43-80). Relationally a RAT is just a DataFrame keyed
by category id, so:

- ``rat_apply``   — mapInPandas over the table; Arrow batching IS the
  row-chunking (bounded by arrow.maxRecordsPerBatch, the analogue of
  blockLen), trivially parallel where RIOS is single-threaded by design
  (rios/ratapplier.py:37-42)
- ``add_color_table`` — rainbow/gray/random color ramps as plain
  columns (RIOS writes them into the RAT the same way)
- column stats: stats.weighted_stats covers ColumnStats
  (rios/fileinfo.py:381-503)
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rios_spark import sources


def rat_apply(
    df: DataFrame, fn: Callable[[pd.DataFrame], pd.DataFrame], out_schema: str
) -> DataFrame:
    """Chunk-wise user function over a category table — the
    ``ratapplier.apply`` analogue. fn sees a bounded pandas chunk and
    returns any number of rows (covers RCM_EQUALS_INPUT and, via
    unions, RCM_INCREMENT — rios/ratapplier.py:57-63)."""

    def kern(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield fn(pdf)

    return df.mapInPandas(kern, out_schema)


def add_color_table(df: DataFrame, value_col: str, ramp: str = "rainbow") -> DataFrame:
    """Attach red/green/blue/alpha columns keyed by category value —
    the genRainbowColors/genGreyScaleColors analogue (rios/rat.py:443-529).
    Colors are pure expressions of the value (deterministic)."""
    v = F.col(value_col).cast("double")
    mx = df.agg(F.max(v)).collect()[0][0] or 1.0
    t = v / F.lit(float(mx))
    if ramp == "rainbow":
        red = (F.lit(255.0) * (F.lit(1.0) - t)).cast("int")
        green = (F.lit(255.0) * (F.lit(1.0) - (t - F.lit(0.5)) * (t - F.lit(0.5)) * 4)).cast("int")
        blue = (F.lit(255.0) * t).cast("int")
    elif ramp == "gray":
        red = green = blue = (F.lit(255.0) * t).cast("int")
    elif ramp == "random":
        red = F.pmod(F.xxhash64(v, F.lit(1)), F.lit(256)).cast("int")
        green = F.pmod(F.xxhash64(v, F.lit(2)), F.lit(256)).cast("int")
        blue = F.pmod(F.xxhash64(v, F.lit(3)), F.lit(256)).cast("int")
    else:
        raise ValueError(f"unknown ramp {ramp!r}")
    clamp = lambda c: F.greatest(F.lit(0), F.least(c, F.lit(255)))  # noqa: E731
    return df.select(
        "*",
        clamp(red).alias("red"),
        clamp(green).alias("green"),
        clamp(blue).alias("blue"),
        F.lit(255).alias("alpha"),
    )


# --- ColorBrewer ramps (F7/F8) ------------------------------------------------
# Control points are PUBLIC data from colorbrewer.org (Cynthia A.
# Brewer, Geography, Pennsylvania State University; Apache-2.0-licensed
# palette values) — the same palettes the reference exposes
# (rios/colortable.py:43-287). A representative set; addRamp() extends.

BREWER_RAMPS: dict[str, dict[str, str]] = {
    "Blues": {
        "red": "247 222 198 158 107 66 33 8 8",
        "green": "251 235 219 202 174 146 113 81 48",
        "blue": "255 247 239 225 214 198 181 156 107",
    },
    "Greens": {
        "red": "247 229 199 161 116 65 35 0 0",
        "green": "252 245 233 217 196 171 139 109 68",
        "blue": "245 224 192 155 118 93 69 44 27",
    },
    "Greys": {
        "red": "255 240 217 189 150 115 82 37 0",
        "green": "255 240 217 189 150 115 82 37 0",
        "blue": "255 240 217 189 150 115 82 37 0",
    },
    "Oranges": {
        "red": "255 254 253 253 253 241 217 166 127",
        "green": "245 230 208 174 141 105 72 54 39",
        "blue": "235 206 162 107 60 19 1 3 4",
    },
    "Reds": {
        "red": "255 254 252 252 251 239 203 165 103",
        "green": "245 224 187 146 106 59 24 15 0",
        "blue": "240 210 161 114 74 44 29 21 13",
    },
    "OrRd": {
        "red": "255 254 253 253 252 239 215 179 127",
        "green": "247 232 212 187 141 101 48 0 0",
        "blue": "236 200 158 132 89 72 31 0 0",
    },
    "RdYlBu": {
        "red": "165 215 244 253 254 255 224 171 116 69 49",
        "green": "0 48 109 174 224 255 243 217 173 117 54",
        "blue": "38 39 67 97 144 191 248 233 209 180 149",
    },
    "Spectral": {
        "red": "158 213 244 253 254 255 230 171 102 50 94",
        "green": "1 62 109 174 224 255 245 221 194 136 79",
        "blue": "66 79 67 97 139 191 152 164 165 189 162",
    },
    "Set1": {
        "red": "228 55 77 152 255 255 166 247 153",
        "green": "26 126 175 78 127 255 86 129 153",
        "blue": "28 184 74 163 0 51 40 191 153",
    },
}


def add_ramp(name: str, red: str, green: str, blue: str) -> None:
    """Register a user ramp (space-separated 0-255 control points) —
    the colortable.addRamp analogue (rios/colortable.py:289-309)."""
    for s in (red, green, blue):
        if any(not (0 <= int(v) <= 255) for v in s.split()):
            raise ValueError("color control points must be 0-255")
    BREWER_RAMPS[name] = {"red": red, "green": green, "blue": blue}


def brewer_table(
    name: str, num_entries: int, ignore_val: int | None = None
) -> pd.DataFrame:
    """Interpolate a ramp over num_entries category rows — the genTable
    analogue (rios/colortable.py:320-392): control points spread evenly
    over [0, num_entries], numpy.interp between them, uint8 conversion.
    ignore_val row gets alpha 0 (transparent nodata). Columns:
    entry, red, green, blue, alpha."""
    if name not in BREWER_RAMPS:
        raise ValueError(f"color ramp {name!r} not found; see BREWER_RAMPS/add_ramp")
    out = {"entry": np.arange(num_entries, dtype=np.int64)}
    xinterp = np.linspace(0, num_entries, num_entries)
    for code in ("red", "green", "blue"):
        yobs = np.array([float(v) for v in BREWER_RAMPS[name][code].split()])
        xobs = np.linspace(0, num_entries, len(yobs))
        out[code] = np.interp(xinterp, xobs, yobs).astype(np.uint8).astype(np.int32)
    alpha = np.full(num_entries, 255, np.int32)
    if ignore_val is not None and 0 <= ignore_val < num_entries:
        alpha[ignore_val] = 0
    out["alpha"] = alpha
    return pd.DataFrame(out)


def add_brewer_colors(
    df: DataFrame, value_col: str, ramp: str, ignore_val: int | None = None
) -> DataFrame:
    """Attach a ColorBrewer ramp to an integer category column: generate
    the interpolated table driver-side (categories are small by
    definition) and broadcast-join it on the category value."""
    mx = df.agg(F.max(F.col(value_col).cast("long"))).first()[0]
    table = brewer_table(ramp, int(mx) + 1, ignore_val=ignore_val)
    tdf = df.sparkSession.createDataFrame(
        table.rename(columns={"entry": value_col})
    )
    return df.join(F.broadcast(tdf), value_col, "left")


# --- external RAT table source/sink (S15) -------------------------------------


def write_rat(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Persist a RAT as its own table — the RatZarrHandle analogue
    (rios/ratapplier.py:283-311 stores RATs in a separate Zarr store on
    S3/local instead of inside the image; I/O at ratapplier.py:582-584,
    671-673). Here the external store is simply a parquet table (an
    Iceberg table at deployment): same decoupling of category metadata
    from pixel data, with the engine's normal readers."""
    df.coalesce(1).sortWithinPartitions(df.columns[0]).write.mode(mode).parquet(path)


def read_rat(spark, path: str) -> DataFrame:
    """Read an external RAT table back (the RatZarrHandle read side).
    Category tables are small by definition — callers broadcast-join
    them onto pixel/cell frames."""
    return sources.table(spark, path)


# --- row-count modes (E1) -----------------------------------------------------

RCM_EQUALS_INPUT = "equals_input"
RCM_FIXED = "fixed"
RCM_INCREMENT = "increment"


def rat_apply_rcm(
    df: DataFrame,
    fn: Callable[[pd.DataFrame], pd.DataFrame],
    out_schema: str,
    mode: str = RCM_EQUALS_INPUT,
    fixed_rows: int | None = None,
    increment: DataFrame | None = None,
) -> DataFrame:
    """rat_apply with the reference's explicit row-count modes
    (rios/ratapplier.py:57-63) as a first-class API:

      RCM_EQUALS_INPUT — output rows mirror input chunks (plain
        rat_apply; fn must return len(chunk) rows)
      RCM_FIXED        — the output category table has exactly
        fixed_rows rows: fn output is truncated/padded-with-null-keyed
        rows is NOT done silently; instead the result is globally
        limited to fixed_rows after a deterministic sort on the first
        output column
      RCM_INCREMENT    — append `increment` rows (a DataFrame with the
        output schema) to fn's output — new categories grown onto the
        table, the relational form of RCM_INCREMENT
    """
    out = rat_apply(df, fn, out_schema)
    if mode == RCM_EQUALS_INPUT:
        return out
    if mode == RCM_FIXED:
        if fixed_rows is None:
            raise ValueError("RCM_FIXED requires fixed_rows")
        first = out.columns[0]
        return out.orderBy(first).limit(fixed_rows)
    if mode == RCM_INCREMENT:
        if increment is None:
            raise ValueError("RCM_INCREMENT requires an increment DataFrame")
        return out.unionByName(increment)
    raise ValueError(f"unknown row-count mode {mode!r}")


def normalize_colors_01(df: DataFrame) -> DataFrame:
    """0-255 → 0-1 color normalization (rios/rat.py:86-89)."""
    return df.select(
        *[
            (F.col(c) / F.lit(255.0)).alias(c) if c in ("red", "green", "blue", "alpha") else F.col(c)
            for c in df.columns
        ]
    )
