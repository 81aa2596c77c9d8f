"""Hierarchical tile index (H3/S2-style) — the engine's working grid.

This replaces RIOS's ``PixelGridDefn`` + ``makeWorkingGrid`` +
``makeBlockList`` (reference: rios/pixelgrid.py:34-97,
rios/applier.py:1226-1326): where RIOS partitions a raster into
fixed 256x256 pixel blocks, we partition the globe into a hierarchical
equal-angle quadtree of cells and use the cell id as the Spark
partition / shuffle / join key.

Design notes (Spark-first):

- A cell id is ONE BIGINT: ``res * 2^58 + y * 2^29 + x`` with the grid
  at resolution ``r`` being ``2^r x 2^r`` over lon [-180,180] x
  lat [-90,90] (y counted from the north edge, like raster rows).
  Resolution 0..28. Children of a cell are the 4 cells at res+1 inside
  it (exact quadtree: parent = x>>1, y>>1), k-rings are the square
  neighbourhoods (x wraps around the antimeridian, y clamps at poles).
- Cell assignment is PURE INTEGER/FP ARITHMETIC — expressible as
  built-in Spark SQL expressions (JVM-side, whole-stage codegen, no
  Python) AND as identical ANSI SQL for the DuckDB correctness oracle.
  All three implementations below (numpy / Spark Column / SQL text)
  perform the exact same IEEE-754 operations in the same order, so
  tile assignments are bit-identical across engines.
- The numpy implementations are used inside Arrow-vectorized kernels
  (k-ring enumeration, polyfill) where per-tile set logic is needed.

Why not real H3: the container has no h3 wheel, and the engine only
needs the four properties the applier model relies on — stable integer
cell ids, an exact parent/child hierarchy (pyramids, adaptive split),
k-ring neighbourhoods (overlap margins), and polygon covers (PIP
prefilter). An equal-angle quadtree provides all four with exact
integer math; swapping in H3/S2 later only changes this module.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

MAX_RES = 28
RES_MUL = 1 << 58
Y_MUL = 1 << 29

# ---------------------------------------------------------------------------
# numpy reference implementation (vectorized; used inside pandas UDFs)
# ---------------------------------------------------------------------------


def np_cell(lat: np.ndarray, lon: np.ndarray, res: int) -> np.ndarray:
    """Vectorized cell assignment. lat/lon float64 arrays -> int64 cells."""
    n = float(1 << res)  # exact power of two -> multiplication is exact
    x = np.floor((np.asarray(lon, np.float64) + 180.0) / 360.0 * n)
    y = np.floor((90.0 - np.asarray(lat, np.float64)) / 180.0 * n)
    x = np.clip(x, 0, n - 1).astype(np.int64)
    y = np.clip(y, 0, n - 1).astype(np.int64)
    return res * RES_MUL + y * Y_MUL + x


def np_decode(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """cell -> (res, y, x)."""
    cell = np.asarray(cell, np.int64)
    res = cell // RES_MUL
    rem = cell - res * RES_MUL
    y = rem // Y_MUL
    x = rem - y * Y_MUL
    return res, y, x


def np_parent(cell: np.ndarray, parent_res: int) -> np.ndarray:
    res, y, x = np_decode(cell)
    shift = res - parent_res
    if np.any(shift < 0):
        raise ValueError("parent_res must be <= cell res")
    return parent_res * RES_MUL + (y >> shift) * Y_MUL + (x >> shift)


def np_kring(cell: int, k: int) -> np.ndarray:
    """All cells within Chebyshev distance k of `cell` (incl. itself).

    x wraps across the antimeridian; rows beyond the poles are dropped.
    This is the analogue of RIOS's margin-expanded read window
    (rios/imagereader.py:94-96).
    """
    res, y, x = np_decode(np.asarray([cell]))
    res, y, x = int(res[0]), int(y[0]), int(x[0])
    n = 1 << res
    dys, dxs = np.meshgrid(np.arange(-k, k + 1), np.arange(-k, k + 1), indexing="ij")
    ys = y + dys.ravel()
    xs = (x + dxs.ravel()) % n
    ok = (ys >= 0) & (ys < n)
    return (res * RES_MUL + ys[ok] * Y_MUL + xs[ok]).astype(np.int64)


def np_cell_bounds(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """cell -> (lon_min, lat_min, lon_max, lat_max), outer edges."""
    res, y, x = np_decode(cell)
    n = np.power(2.0, res.astype(np.float64))
    lon_min = x / n * 360.0 - 180.0
    lon_max = (x + 1) / n * 360.0 - 180.0
    lat_max = 90.0 - y / n * 180.0
    lat_min = 90.0 - (y + 1) / n * 180.0
    return lon_min, lat_min, lon_max, lat_max


def np_cell_center(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """cell -> (lat, lon) centre (analogue of h3_to_geo)."""
    lon_min, lat_min, lon_max, lat_max = np_cell_bounds(cell)
    return (lat_min + lat_max) / 2.0, (lon_min + lon_max) / 2.0


def np_polyfill_bbox(
    lon_min: float, lat_min: float, lon_max: float, lat_max: float, res: int
) -> np.ndarray:
    """All cells at `res` intersecting the bbox (the coarse polyfill).

    Used as the PIP-join prefilter cover (SURVEY.md J6). Callers refine
    with an exact geometry predicate per cell if needed.
    """
    n = 1 << res
    fn = float(n)
    x0 = int(np.clip(np.floor((lon_min + 180.0) / 360.0 * fn), 0, n - 1))
    x1 = int(np.clip(np.floor((lon_max + 180.0) / 360.0 * fn), 0, n - 1))
    y0 = int(np.clip(np.floor((90.0 - lat_max) / 180.0 * fn), 0, n - 1))
    y1 = int(np.clip(np.floor((90.0 - lat_min) / 180.0 * fn), 0, n - 1))
    ys, xs = np.meshgrid(np.arange(y0, y1 + 1), np.arange(x0, x1 + 1), indexing="ij")
    return (res * RES_MUL + ys.ravel() * Y_MUL + xs.ravel()).astype(np.int64)


# ---------------------------------------------------------------------------
# Spark Column implementation (JVM-side, codegen'd — the hot path)
# ---------------------------------------------------------------------------


def cell_col(lat: Column | str, lon: Column | str, res: int) -> Column:
    """Spark Column computing the cell id. Pure built-in expressions:
    stays inside WholeStageCodegen, no Python, no shuffle."""
    lat = F.col(lat) if isinstance(lat, str) else lat
    lon = F.col(lon) if isinstance(lon, str) else lon
    n = float(1 << res)
    x = F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(n))
    y = F.floor((F.lit(90.0) - lat) / F.lit(180.0) * F.lit(n))
    x = F.greatest(F.lit(0).cast("long"), F.least(x, F.lit(int(n) - 1).cast("long")))
    y = F.greatest(F.lit(0).cast("long"), F.least(y, F.lit(int(n) - 1).cast("long")))
    return (F.lit(res * RES_MUL).cast("long") + y * F.lit(Y_MUL).cast("long") + x).alias("cell")


def parent_col(cell: Column | str, res: int, parent_res: int) -> Column:
    """Parent cell at `parent_res` of a cell known to be at `res`.
    Exact quadtree rollup (the pyramid operator's key, SURVEY.md A8)."""
    cell = F.col(cell) if isinstance(cell, str) else cell
    shift = res - parent_res
    rem = cell - F.lit(res * RES_MUL).cast("long")
    y = F.shiftright(rem, 29)
    x = rem.bitwiseAND(F.lit(Y_MUL - 1).cast("long"))
    return (
        F.lit(parent_res * RES_MUL).cast("long")
        + F.shiftright(y, shift) * F.lit(Y_MUL).cast("long")
        + F.shiftright(x, shift)
    )


def cell_x_col(cell: Column | str) -> Column:
    cell = F.col(cell) if isinstance(cell, str) else cell
    return cell.bitwiseAND(F.lit(Y_MUL - 1).cast("long"))


def cell_y_col(cell: Column | str) -> Column:
    cell = F.col(cell) if isinstance(cell, str) else cell
    return F.shiftright(cell % F.lit(RES_MUL).cast("long"), 29)


def kring_cells_col(cell: Column | str, res: int, k: int) -> Column:
    """Array column of the k-ring of `cell` (cell at known `res`): the
    cells the margin join explodes each row to — the Spark
    re-expression of RIOS's margin-padded block read
    (rios/imagereader.py:94-121). kring_cells_var_col at a literal
    radius, one O(1)-size expression whatever k is."""
    return kring_cells_var_col(cell, res, F.lit(k))


def kring_cells_var_col(cell: Column | str, res: int, radius: Column) -> Column:
    """The k-ring with a PER-ROW radius column: array of all cells
    within Chebyshev distance `radius` of `cell`. Built with
    sequence/transform higher-order expressions (JVM-side); x wraps,
    y rows beyond the poles drop. The caller must keep radius
    <= ((1<<res)-1)//2 so the x wrap cannot produce duplicates."""
    cell = F.col(cell) if isinstance(cell, str) else cell
    n = 1 << res
    rem = cell - F.lit(res * RES_MUL).cast("long")
    y = F.shiftright(rem, 29)
    x = rem - y * F.lit(Y_MUL).cast("long")
    rng = F.sequence(-radius.cast("long"), radius.cast("long"))

    def mk(dy, dx):
        ny = y + dy
        nx = (x + dx + F.lit(n).cast("long")) % F.lit(n).cast("long")
        c = F.lit(res * RES_MUL).cast("long") + ny * F.lit(Y_MUL).cast("long") + nx
        return F.when((ny >= 0) & (ny < n), c)

    arr = F.flatten(F.transform(rng, lambda dy: F.transform(rng, lambda dx: mk(dy, dx))))
    return F.array_compact(arr)


def cell_coord_cols(cell: Column | str, res: int) -> dict[str, Column]:
    """Per-tile world-coordinate columns — the getBlockCoordArrays
    analogue (rios/readerinfo.py:234-258): centre + outer bounds of the
    cell, pure expressions (no shuffle, codegen'd)."""
    cell = F.col(cell) if isinstance(cell, str) else cell
    n = float(1 << res)
    rem = cell - F.lit(res * RES_MUL).cast("long")
    y = F.shiftright(rem, 29).cast("double")
    x = rem.bitwiseAND(F.lit(Y_MUL - 1).cast("long")).cast("double")
    lon_min = x / F.lit(n) * F.lit(360.0) - F.lit(180.0)
    lon_max = (x + 1) / F.lit(n) * F.lit(360.0) - F.lit(180.0)
    lat_max = F.lit(90.0) - y / F.lit(n) * F.lit(180.0)
    lat_min = F.lit(90.0) - (y + 1) / F.lit(n) * F.lit(180.0)
    return {
        "cell_lon_min": lon_min,
        "cell_lat_min": lat_min,
        "cell_lon_max": lon_max,
        "cell_lat_max": lat_max,
        "cell_lat": (lat_min + lat_max) / 2,
        "cell_lon": (lon_min + lon_max) / 2,
    }


# ---------------------------------------------------------------------------
# SQL text emitters (shared between Spark SQL and the DuckDB oracle)
# ---------------------------------------------------------------------------


WEB_MERCATOR_R = 6378137.0


def mercator_cols(lat: Column | str, lon: Column | str) -> tuple[Column, Column]:
    """WGS84 → Web-Mercator (EPSG:3857) as pure expressions — the
    engine's reprojection operator (closes SURVEY.md F3/F4: RIOS warps
    via GDAL, rios/imagereader.py:326-332; here projection is a
    closed-form codegen'd transform, exercised by the testreproj-style
    roundtrip test). x = R·λ, y = R·ln(tan(π/4 + φ/2))."""
    lat = F.col(lat) if isinstance(lat, str) else lat
    lon = F.col(lon) if isinstance(lon, str) else lon
    x = F.lit(WEB_MERCATOR_R) * F.radians(lon)
    y = F.lit(WEB_MERCATOR_R) * F.log(
        F.tan(F.lit(np.pi / 4.0) + F.radians(lat) / F.lit(2.0))
    )
    return x, y


def inverse_mercator_cols(x: Column | str, y: Column | str) -> tuple[Column, Column]:
    """EPSG:3857 → WGS84: φ = 2·atan(exp(y/R)) − π/2, λ = x/R (degrees)."""
    x = F.col(x) if isinstance(x, str) else x
    y = F.col(y) if isinstance(y, str) else y
    lon = F.degrees(x / F.lit(WEB_MERCATOR_R))
    lat = F.degrees(
        F.lit(2.0) * F.atan(F.exp(y / F.lit(WEB_MERCATOR_R))) - F.lit(np.pi / 2.0)
    )
    return lat, lon


# --- transverse Mercator / UTM (general reprojection, F3/F4) -----------------
# Krüger/Karney flattening series (public formulas, e.g. Karney 2011
# "Transverse Mercator with an accuracy of a few nanometers"): enough
# terms for sub-micrometre accuracy on WGS84. This closes the
# mixed-CRS-ingest gap: a source keyed in any UTM zone (EPSG:326xx/
# 327xx) reprojects to lat/lon with pure codegen'd expressions — no
# GDAL warp (rios/imagereader.py:326-332) needed for the supported
# closed-form CRS family (4326, 3857, UTM).

_WGS84_A = 6378137.0
_WGS84_F = 1.0 / 298.257223563
_TM_K0 = 0.9996
_TM_E0 = 500000.0
_TM_N0_SOUTH = 10000000.0

_n = _WGS84_F / (2.0 - _WGS84_F)
_TM_A = _WGS84_A / (1.0 + _n) * (1.0 + _n**2 / 4.0 + _n**4 / 64.0 + _n**6 / 256.0)
_ALPHA = (
    _n / 2.0 - 2.0 * _n**2 / 3.0 + 5.0 * _n**3 / 16.0 + 41.0 * _n**4 / 180.0,
    13.0 * _n**2 / 48.0 - 3.0 * _n**3 / 5.0 + 557.0 * _n**4 / 1440.0,
    61.0 * _n**3 / 240.0 - 103.0 * _n**4 / 140.0,
    49561.0 * _n**4 / 161280.0,
)
_BETA = (
    _n / 2.0 - 2.0 * _n**2 / 3.0 + 37.0 * _n**3 / 96.0 - _n**4 / 360.0,
    _n**2 / 48.0 + _n**3 / 15.0 - 437.0 * _n**4 / 1440.0,
    17.0 * _n**3 / 480.0 - 37.0 * _n**4 / 840.0,
    4397.0 * _n**4 / 161280.0,
)
_DELTA = (
    2.0 * _n - 2.0 * _n**2 / 3.0 - 2.0 * _n**3 + 116.0 * _n**4 / 45.0,
    7.0 * _n**2 / 3.0 - 8.0 * _n**3 / 5.0 - 227.0 * _n**4 / 45.0,
    56.0 * _n**3 / 15.0 - 136.0 * _n**4 / 35.0,
    4279.0 * _n**4 / 630.0,
)
_TM_ES = 2.0 * np.sqrt(_n) / (1.0 + _n)


def utm_zone_lon0(zone: int) -> float:
    """Central meridian (degrees) of a UTM zone 1-60."""
    return float(zone * 6 - 183)


def lonlat_to_tm_cols(
    lat: Column | str, lon: Column | str, lon0_deg,
    k0: float = _TM_K0, false_e: float = _TM_E0, false_n: float = 0.0,
) -> tuple[Column, Column]:
    """WGS84 lat/lon → transverse-Mercator easting/northing as pure
    Spark expressions (Krüger series forward). For UTM:
    lon0 = utm_zone_lon0(zone), false_n = 10000000 for the south
    hemisphere (EPSG:327xx). lon0_deg may be a per-row Column (e.g. a
    zone column derived from the longitude)."""
    lat = F.col(lat) if isinstance(lat, str) else lat
    lon = F.col(lon) if isinstance(lon, str) else lon
    lon0 = lon0_deg if isinstance(lon0_deg, Column) else F.lit(float(lon0_deg))
    phi = F.radians(lat)
    lam = F.radians(lon - lon0)
    s = F.sin(phi)
    t = F.sinh(
        F.atanh(s) - F.lit(_TM_ES) * F.atanh(F.lit(_TM_ES) * s)
    )
    xi_p = F.atan2(t, F.cos(lam))
    eta_p = F.asinh(F.sin(lam) / F.sqrt(t * t + F.cos(lam) * F.cos(lam)))
    xi, eta = xi_p, eta_p
    for j, a in enumerate(_ALPHA, start=1):
        xi = xi + F.lit(a) * F.sin(F.lit(2.0 * j) * xi_p) * F.cosh(F.lit(2.0 * j) * eta_p)
        eta = eta + F.lit(a) * F.cos(F.lit(2.0 * j) * xi_p) * F.sinh(F.lit(2.0 * j) * eta_p)
    e = F.lit(false_e) + F.lit(k0 * _TM_A) * eta
    n_ = F.lit(false_n) + F.lit(k0 * _TM_A) * xi
    return e, n_


def tm_to_lonlat_cols(
    easting: Column | str, northing: Column | str, lon0_deg: float,
    k0: float = _TM_K0, false_e: float = _TM_E0, false_n: float = 0.0,
) -> tuple[Column, Column]:
    """Transverse-Mercator easting/northing → WGS84 (lat, lon) degrees —
    the inverse Krüger series, pure Spark expressions. This is the
    ingest direction: normalize any UTM-keyed source to lat/lon, then
    cell-index as usual (grid-match J5 follows for free)."""
    e = F.col(easting) if isinstance(easting, str) else easting
    n_ = F.col(northing) if isinstance(northing, str) else northing
    xi = (n_ - F.lit(false_n)) / F.lit(k0 * _TM_A)
    eta = (e - F.lit(false_e)) / F.lit(k0 * _TM_A)
    xi_p, eta_p = xi, eta
    for j, b in enumerate(_BETA, start=1):
        xi_p = xi_p - F.lit(b) * F.sin(F.lit(2.0 * j) * xi) * F.cosh(F.lit(2.0 * j) * eta)
        eta_p = eta_p - F.lit(b) * F.cos(F.lit(2.0 * j) * xi) * F.sinh(F.lit(2.0 * j) * eta)
    chi = F.asin(F.sin(xi_p) / F.cosh(eta_p))
    phi = chi
    for j, d in enumerate(_DELTA, start=1):
        phi = phi + F.lit(d) * F.sin(F.lit(2.0 * j) * chi)
    lam = F.atan2(F.sinh(eta_p), F.cos(xi_p))
    return F.degrees(phi), F.degrees(lam) + F.lit(lon0_deg)


def utm_to_lonlat_cols(
    easting: Column | str, northing: Column | str, zone: int, south: bool = False
) -> tuple[Column, Column]:
    """EPSG:326xx/327xx → WGS84 (lat, lon)."""
    return tm_to_lonlat_cols(
        easting, northing, utm_zone_lon0(zone),
        false_n=_TM_N0_SOUTH if south else 0.0,
    )


def lonlat_to_utm_cols(
    lat: Column | str, lon: Column | str, zone: int, south: bool = False
) -> tuple[Column, Column]:
    """WGS84 → EPSG:326xx/327xx (easting, northing)."""
    return lonlat_to_tm_cols(
        lat, lon, utm_zone_lon0(zone),
        false_n=_TM_N0_SOUTH if south else 0.0,
    )


def closed_form_to_lonlat_cols(
    x: Column | str, y: Column | str, epsg: int
) -> tuple[Column, Column] | None:
    """(lat, lon) expressions for a CRS in the closed-form family
    (4326, 3857, UTM 326xx/327xx) — or None if the CRS needs the
    pyproj fallback. Pure codegen'd expressions, zero Python."""
    x = F.col(x) if isinstance(x, str) else x
    y = F.col(y) if isinstance(y, str) else y
    if epsg == 4326:
        return y, x  # x=lon, y=lat by axis convention
    if epsg == 3857:
        return inverse_mercator_cols(x, y)
    if 32601 <= epsg <= 32660:
        return utm_to_lonlat_cols(x, y, epsg - 32600, south=False)
    if 32701 <= epsg <= 32760:
        return utm_to_lonlat_cols(x, y, epsg - 32700, south=True)
    return None


def _parse_epsg(crs: int | str) -> int | None:
    if isinstance(crs, int):
        return crs
    s = str(crs).strip().upper()
    if s.startswith("EPSG:"):
        s = s[5:]
    return int(s) if s.isdigit() else None


def reproject_to_lonlat(
    df, x_col: str, y_col: str, src_crs: int | str,
    lat_name: str = "lat", lon_name: str = "lon",
):
    """Normalize a source keyed in ANY CRS to WGS84 lat/lon — the
    arbitrary-CRS ingest operator (SURVEY.md F4; reference behavior:
    rios/imagereader.py:326-332 warps any GDAL-known CRS;
    rios/riostests/testreproj.py). Two tiers:

    - closed-form family (EPSG 4326 / 3857 / UTM 326xx-327xx): pure
      codegen'd column expressions (zero Python, zero shuffle) —
      Krüger-series accuracy is sub-micrometre, parity-tested against
      pyproj where available;
    - anything else: a vectorized Arrow-batched pandas UDF backed by
      pyproj (one Transformer per worker per CRS, cached). Raises a
      clear ImportError when pyproj is absent — the closed-form family
      never needs it.
    """
    epsg = _parse_epsg(src_crs)
    if epsg is not None:
        closed = closed_form_to_lonlat_cols(x_col, y_col, epsg)
        if closed is not None:
            lat, lon = closed
            return df.withColumn(lat_name, lat).withColumn(lon_name, lon)
    try:
        import pyproj  # noqa: F401
    except ImportError as exc:
        raise ImportError(
            f"CRS {src_crs!r} is outside the closed-form family "
            "(EPSG 4326/3857/UTM); install pyproj for the general "
            "reprojection fallback"
        ) from exc
    crs_str = f"EPSG:{epsg}" if epsg is not None else str(src_crs)

    @F.pandas_udf("struct<lat: double, lon: double>")
    def _tx(xs: pd.Series, ys: pd.Series) -> pd.DataFrame:
        import pyproj

        tr = _PYPROJ_CACHE.get(crs_str)
        if tr is None:
            tr = pyproj.Transformer.from_crs(crs_str, "EPSG:4326", always_xy=True)
            _PYPROJ_CACHE[crs_str] = tr
        lon, lat = tr.transform(
            xs.to_numpy(np.float64), ys.to_numpy(np.float64)
        )
        return pd.DataFrame({"lat": lat, "lon": lon})

    out = df.withColumn("__ll", _tx(F.col(x_col), F.col(y_col)))
    return (
        out.withColumn(lat_name, F.col("__ll.lat"))
        .withColumn(lon_name, F.col("__ll.lon"))
        .drop("__ll")
    )


# per-worker Transformer cache for the pyproj fallback (Transformer
# construction is ~ms; batches are ~10k rows — amortize it)
_PYPROJ_CACHE: dict = {}


def cell_sql(lat_expr: str, lon_expr: str, res: int) -> str:
    """ANSI SQL computing the cell id — identical text runs on Spark and
    DuckDB and produces identical BIGINTs (same IEEE ops, same order)."""
    n = float(1 << res)
    nmax = (1 << res) - 1
    x = f"greatest(0, least(cast(floor((({lon_expr}) + 180.0) / 360.0 * {n!r}) as bigint), {nmax}))"
    y = f"greatest(0, least(cast(floor((90.0 - ({lat_expr})) / 180.0 * {n!r}) as bigint), {nmax}))"
    return f"({res * RES_MUL} + {y} * {Y_MUL} + {x})"


def geocode_sql(key_expr: str) -> tuple[str, str]:
    """Deterministic (lat, lon) derived from an integer key — the same
    arithmetic in Spark SQL and DuckDB. Used to give the driver's
    TPC-H-ish tables a geography so spatial operators get real SQL
    oracles. Knuth multiplicative hashes; all intermediates < 2^63.

    The float literals MUST be e-notation: `4294967296.0` parses as a
    DECIMAL literal in BOTH Spark SQL and DuckDB, and each engine's
    decimal division rounds differently (Spark caps quotient scale at
    precision 38 with HALF_UP; DuckDB keeps the quotient exact here),
    shifting lat/lon by ~1e-10 degrees between engines — which was the
    root of the r3 knn/utm hash regressions (dist noise ~4e-3 in 1e-5
    km grid units, larger than any reasonable floor epsilon). With
    `4294967296e0` every engine does pure IEEE double arithmetic, and
    because h < 2^32 and h*360 < 2^41 fit a double mantissa while the
    divisor is a power of two, the result is EXACT — Spark SQL text,
    the Column form below, DuckDB, and numpy all produce bit-identical
    doubles (pinned by test_geocode_parity)."""
    h1 = f"(({key_expr}) * 2654435761) % 4294967296"
    h2 = f"((({key_expr}) + 1442695040888963407 % 1000000007) * 2246822519) % 4294967296"
    lon = f"(({h1}) / 4294967296e0 * 360e0 - 180e0)"
    lat = f"(({h2}) / 4294967296e0 * 170e0 - 85e0)"
    return lat, lon


def geocode_cols(key: Column | str) -> tuple[Column, Column]:
    """Column form of geocode_sql (same arithmetic, JVM-side)."""
    key = F.col(key) if isinstance(key, str) else key
    key = key.cast("long")
    h1 = (key * F.lit(2654435761).cast("long")) % F.lit(4294967296).cast("long")
    h2 = (
        (key + F.lit(1442695040888963407 % 1000000007).cast("long"))
        * F.lit(2246822519).cast("long")
    ) % F.lit(4294967296).cast("long")
    lon = h1 / F.lit(4294967296.0) * F.lit(360.0) - F.lit(180.0)
    lat = h2 / F.lit(4294967296.0) * F.lit(170.0) - F.lit(85.0)
    return lat, lon
