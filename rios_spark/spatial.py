"""Spatial joins — point-in-polygon, zonal aggregates, kNN.

Reference semantics being re-expressed (NOT ported):
- Vector input burn (rios/imagereader.py:198-276, rios/applier.py:663-728):
  RIOS rasterizes polygons and pixel-joins the mask. We skip the
  rasterization detour entirely: a coarse tile-cover prefilter
  (broadcast) + an exact vectorized point-in-polygon kernel — the PIP
  join (SURVEY.md J6, the engine's flagship join).
- Zonal statistics (rios/riostests/testvector.py:99-152): PIP join →
  groupBy(polygon_id) agg; Catalyst's partial aggregation bounds a hot
  polygon's reducer input (the north-rule skew requirement).
- Disjoint polygon → empty join → no stats row (testvector.py:76-83).
- Nearest-neighbour resample join (rios/applier.py:655-661,
  rios/riostests/testresample.py:86-117) generalized to kNN (J7/J8):
  k-ring candidate generation + exact ranking + top-k, certified by an
  exact spherical completeness guard; unproven queries escalate once
  with a per-query adaptive ring, and any remainder resolves in a
  distributed residual scan with the (small) query set broadcast — the
  data side is never collected.

Geometry is pure vectorized numpy (no GEOS in this container):
- even-odd ray casting; edge semantics are half-open and deterministic
  (for an axis-aligned rectangle: lon in [xmin, xmax), lat in
  [ymin, ymax)) so the DuckDB oracle can reproduce them with plain
  range predicates;
- haversine on the WGS84 mean sphere.

Scale design: polygons are the SMALL side (thousands) and are broadcast
once, like RIOS memoizes one rasterization per vector file per process
(rios/structures.py:1074-1096). Points never leave the executors; the
prefilter is a broadcast hash join on the cell key; the exact test is
Arrow-batched numpy. The only shuffle in zonal stats is the partial
aggregation's: at most one row per polygon per map task.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from rios_spark.grid import np_cell, np_polyfill_bbox
from rios_spark.plans import sizing

EARTH_RADIUS_KM = 6371.0088


# ---------------------------------------------------------------------------
# vectorized geometry kernels
# ---------------------------------------------------------------------------


def ray_cast(px: np.ndarray, py: np.ndarray, xs: np.ndarray, ys: np.ndarray) -> np.ndarray:
    """Even-odd point-in-polygon for one ring over many points.

    Half-open edge semantics: for an axis-aligned rectangle a point is
    inside iff lon in [xmin, xmax) and lat in [ymin, ymax) — left/bottom
    edges in, right/top edges out. Deterministic, and reproducible in
    the SQL oracle as plain range predicates.
    Vectorized over points; loops only over the ring's vertices.
    """
    px = np.asarray(px, np.float64)
    py = np.asarray(py, np.float64)
    inside = np.zeros(px.shape, bool)
    n = len(xs)
    j = n - 1
    for i in range(n):
        xi, yi = xs[i], ys[i]
        xj, yj = xs[j], ys[j]
        crosses = (yi > py) != (yj > py)
        if np.any(crosses):
            xint = (xj - xi) * (py - yi) / (yj - yi) + xi
            inside ^= crosses & (px < xint)
        j = i
    return inside


def haversine_km(
    lat1: np.ndarray, lon1: np.ndarray, lat2: np.ndarray, lon2: np.ndarray
) -> np.ndarray:
    la1, lo1, la2, lo2 = (np.radians(np.asarray(a, np.float64)) for a in (lat1, lon1, lat2, lon2))
    dlat = la2 - la1
    dlon = lo2 - lo1
    h = np.sin(dlat / 2.0) ** 2 + np.cos(la1) * np.cos(la2) * np.sin(dlon / 2.0) ** 2
    return 2.0 * EARTH_RADIUS_KM * np.arcsin(np.sqrt(h))


# ---------------------------------------------------------------------------
# polygon cover (the polyfill prefilter)
# ---------------------------------------------------------------------------


def polygon_cover(polygons: pd.DataFrame, res: int) -> pd.DataFrame:
    """(polygon_id, cell) cover at `res` — bbox polyfill per polygon.

    The coarse prefilter of the PIP join: a broadcast-joinable map from
    tile to candidate polygons (SURVEY.md J6). polygons needs columns
    polygon_id, xs (lon ring), ys (lat ring).
    """
    rows = []
    for _, p in polygons.iterrows():
        xs = np.asarray(p["xs"], np.float64)
        ys = np.asarray(p["ys"], np.float64)
        cells = np_polyfill_bbox(xs.min(), ys.min(), xs.max(), ys.max(), res)
        rows.append(pd.DataFrame({"polygon_id": int(p["polygon_id"]), "cell": cells}))
    if not rows:
        return pd.DataFrame({"polygon_id": pd.Series(dtype=np.int64), "cell": pd.Series(dtype=np.int64)})
    return pd.concat(rows, ignore_index=True)


def _is_axis_rect(xs: np.ndarray, ys: np.ndarray) -> bool:
    return (
        len(xs) == 4
        and len(set(xs.tolist())) == 2
        and len(set(ys.tolist())) == 2
    )


def pip_join(
    points: DataFrame,
    polygons: pd.DataFrame,
    res: int,
    lat: str = "lat",
    lon: str = "lon",
    cell: str = "cell",
) -> DataFrame:
    """Inner join: each point row x each polygon containing it.

    Plan shape: points ⋈(broadcast, on cell) cover → exact ray-cast.
    One broadcast, zero shuffles of the big side. A point in m polygons
    yields m rows; points in no polygon are dropped (anti-join
    semantics preserved for the disjoint case, J9).

    The exact test runs where it is cheaper, by total vertex count
    (sizing.PIP_EXPR_MAX_VERTICES): up to the gate the ray cast is one
    Spark SQL expression — the whole join is JVM-side, codegen'd, zero
    Python; past it the vectorized numpy kernel runs Arrow-batched.
    Both give the same rows (test_pip_join_same_rows_on_both_kernels).
    """
    spark = points.sparkSession
    cover = polygon_cover(polygons, res)
    cover_df = F.broadcast(spark.createDataFrame(cover, schema="polygon_id long, cell long"))
    cand = points.join(cover_df, on=cell, how="inner")

    total_vertices = int(sum(len(p["xs"]) for _, p in polygons.iterrows()))
    if total_vertices <= sizing.PIP_EXPR_MAX_VERTICES:
        # ONE pass of the big side, keyed by polygon id (round-1 folded
        # per-group scans into this). The predicate is generic across
        # polygons, so it stays one SMALL method regardless of polygon
        # count — no HotSpot huge-method cliff (the round-1 design
        # compiled per-polygon predicates and had to re-scan the points
        # once per JIT-sized group):
        #   - axis rects (the common case): a codegen'd range check on
        #     bbox columns delivered by the broadcast geometry join
        #   - general rings: the even-odd ray cast as a higher-order
        #     aggregate over the polygon's edge array (JVM-side; each
        #     lambda is a handful of ops, horizontal edges pre-dropped
        #     — exactly ray_cast()'s arithmetic and edge semantics)
        px, py = F.col(lon), F.col(lat)
        geo_rows = []
        for _, p in polygons.iterrows():
            xs = np.asarray(p["xs"], np.float64)
            ys = np.asarray(p["ys"], np.float64)
            if _is_axis_rect(xs, ys):
                geo_rows.append(
                    (int(p["polygon_id"]), True,
                     float(xs.min()), float(ys.min()), float(xs.max()), float(ys.max()),
                     [])
                )
            else:
                n = len(xs)
                edges = [
                    (float(xs[i]), float(ys[i]), float(xs[i - 1]), float(ys[i - 1]))
                    for i in range(n)
                    if ys[i - 1] != ys[i]  # horizontal edges never cross
                ]
                geo_rows.append(
                    (int(p["polygon_id"]), False, 0.0, 0.0, 0.0, 0.0, edges)
                )
        # a pandas frame takes the Arrow path and plans as a local
        # relation; a list of rows would go through a Python RDD, one
        # Python-worker task per default partition on every call
        helper = ["__is_rect", "__x0", "__y0", "__x1", "__y1", "__edges"]
        geo_df = F.broadcast(
            spark.createDataFrame(
                pd.DataFrame(geo_rows, columns=["polygon_id", *helper]),
                "polygon_id long, __is_rect boolean, __x0 double, __y0 double,"
                " __x1 double, __y1 double,"
                " __edges array<struct<xi:double,yi:double,xj:double,yj:double>>",
            )
        )
        cand2 = cand.join(geo_df, "polygon_id")

        def cross(acc, ed):
            crosses = (ed["yi"] > py) != (ed["yj"] > py)
            xint = (ed["xj"] - ed["xi"]) * (py - ed["yi"]) / (ed["yj"] - ed["yi"]) + ed["xi"]
            return acc + F.when(crosses & (px < xint), F.lit(1)).otherwise(F.lit(0))

        inside = F.when(
            F.col("__is_rect"),
            (px >= F.col("__x0")) & (px < F.col("__x1"))
            & (py >= F.col("__y0")) & (py < F.col("__y1")),
        ).otherwise(F.aggregate(F.col("__edges"), F.lit(0), cross) % 2 == 1)
        return cand2.filter(inside).drop(*helper)

    rings = {
        int(p["polygon_id"]): (
            np.asarray(p["xs"], np.float64),
            np.asarray(p["ys"], np.float64),
        )
        for _, p in polygons.iterrows()
    }
    bc = spark.sparkContext.broadcast(rings)
    # the expression path's column order: the join key leads
    cand = cand.select("polygon_id", *[c for c in cand.columns if c != "polygon_id"])
    out_schema = cand.schema

    def exact(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rings_v = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            keep = np.zeros(len(pdf), bool)
            px = pdf[lon].to_numpy(np.float64)
            py = pdf[lat].to_numpy(np.float64)
            pids = pdf["polygon_id"].to_numpy()
            for pid in np.unique(pids):
                m = pids == pid
                xs, ys = rings_v[int(pid)]
                keep[m] = ray_cast(px[m], py[m], xs, ys)
            yield pdf[keep]

    return cand.mapInPandas(exact, schema=out_schema)


# ---------------------------------------------------------------------------
# zonal aggregation
# ---------------------------------------------------------------------------


def zonal_stats(
    points: DataFrame,
    polygons: pd.DataFrame,
    res: int,
    value_col: str,
    lat: str = "lat",
    lon: str = "lon",
    cell: str = "cell",
) -> DataFrame:
    """Per-polygon count/sum/mean/min/max of `value_col` over contained
    points — the zonal-statistics composite (SURVEY.md A14).

    One groupBy(polygon_id): Catalyst's map-side partial aggregate sends
    at most one row per polygon per map task, so a hot polygon's reducer
    input is bounded by the map-task count, however skewed the cells.
    A NaN value counts as no value, as in `stats.basic_stats`; a polygon
    whose contained points hold no valid value gets `count 0` and null
    stats. Polygons with zero contained points produce no row
    (testvector disjoint contract).
    """
    joined = pip_join(points, polygons, res, lat=lat, lon=lon, cell=cell)
    v = F.col(value_col)
    if dict(points.dtypes)[value_col] in ("float", "double"):
        v = F.when(~F.isnan(v), v)
    v = v.cast("double")
    return (
        joined.groupBy("polygon_id")
        .agg(
            F.count(v).alias("count"),
            F.sum(v).alias("sum"),
            F.min(v).alias("minval"),
            F.max(v).alias("maxval"),
        )
        .withColumn("mean", F.col("sum") / F.col("count"))
    )


# ---------------------------------------------------------------------------
# kNN join
# ---------------------------------------------------------------------------


# Cap for the auto-sized first ring: with_margin duplicates the data
# side (2r+1)^2-fold, so completeness must never be bought with a huge
# pass-0 ring on sparse data (r=16 is already a 1089x explode); the
# adaptive escalation + residual scan resolve the sparse tail exactly
# (round-2 ADVICE).
KNN_AUTO_RING_MAX = 16

# Cap for the density-adaptive INTERNAL re-tile (ring="auto"): the
# candidate join's volume is ~ n_queries * (2r+1)^2 * density(res), so
# at a fixed caller res it grows LINEARLY with data density — at 100
# points/cell a ring-1 pass already joins ~900 candidates per query
# (the sf10 cliff: 1.5M queries x ~880 candidates = 1.3e9 rows into
# one window sort). Re-tiling internally to the finest res whose 3x3
# box still expects >= `need` candidates keeps candidates/query ~need
# at ANY density; the guard/escalation machinery is resolution-
# agnostic, so exactness is untouched. res 14 = 2.7e8 cells keeps the
# cell ids well inside the 29-bit x/y encoding while covering data
# sides up to ~1e9 rows before density per cell climbs again.
KNN_RETILE_RES_MAX = 14


def _quantize_np(dist: np.ndarray, quantize: float) -> np.ndarray:
    """Epsilon-floor a distance array onto the 1/quantize grid — the
    same arithmetic as _quantize_col / the SQL oracles, so every engine
    lands on the identical grid point even when the raw values differ
    by ulps (the fcb9933 lesson: a true value ON a grid line floors to
    either side without the epsilon)."""
    return np.floor(dist * quantize + 1e-3) / quantize


def _quantize_col(dist, quantize: float):
    """Column twin of _quantize_np: floor(d*q + 1e-3)/q. The 1e-3 is in
    SCALED units (1e-8 km at q=1e5) — far above cross-engine ulp noise,
    far below one grid step."""
    return F.floor(dist * F.lit(quantize) + F.lit(1e-3)) / F.lit(quantize)


# GEMM candidate path (guide §1.2 "the distributed algorithm" applied
# per task): selecting top-k by great-circle distance is equivalent to
# selecting by unit-sphere chord (dot product), because haversine
# distance = 2R*asin(sqrt((1-dot)/2)) is strictly decreasing in dot.
# A BLAS dgemm over 3-D unit vectors replaces per-pair transcendental
# haversine evaluation (~20x fewer flops and vectorized), then the
# EXACT haversine_km formula runs only on the k+pad selected
# candidates so emitted distances are bit-identical to the full scan.
# Exactness is certified per row: every excluded point's dot is <= the
# pad-th candidate's, so its distance is >= that bound; if the bound
# (minus a generous fp margin) does not strictly clear the row's k-th
# distance, the row falls back to the full per-pair haversine scan.
_GEMM_CAND_PAD = 16
# fp margin (km) between dot-derived and direct haversine distances:
# the 3-D dot of unit vectors carries ~1e-14 absolute error, which maps
# to < 1e-3 km of distance error for any pair farther apart than ~1 m;
# closer-than-that boundary cases simply fail the strict guard and
# rerun exactly.
_GEMM_EPS_KM = 1e-3
# below this pair count the xyz conversion + candidate gather overhead
# exceeds the transcendental savings
_GEMM_MIN_PAIRS = 1 << 18


def _unit_xyz(lat_deg: np.ndarray, lon_deg: np.ndarray) -> np.ndarray:
    la, lo = np.radians(lat_deg), np.radians(lon_deg)
    cl = np.cos(la)
    return np.stack([cl * np.cos(lo), cl * np.sin(lo), np.sin(la)], axis=1)


def _topk_rows_scan(qla, qlo, dla, dlo, did, kk, use_haversine, quantize):
    """Full per-pair scan for one chunk of query rows: compute every
    distance, argpartition to kk, lexsort (dist, id). Rows where a
    distance-tie group spans the kk boundary (argpartition splits ties
    arbitrarily, which could pick the wrong IDS) are re-ranked with a
    full (dist, id) lexsort, so the result is always the strict
    lexicographic top-k the SQL oracles pin."""
    a, o = qla[:, None], qlo[:, None]
    nd = len(did)
    if use_haversine:
        dist = haversine_km(a, o, dla[None, :], dlo[None, :])
    else:
        dist = np.sqrt((a - dla[None, :]) ** 2 + (o - dlo[None, :]) ** 2)
    if quantize is not None:
        dist = _quantize_np(dist, quantize)
    idx = np.argpartition(dist, kk - 1, axis=1)[:, :kk] if kk < nd else (
        np.broadcast_to(np.arange(nd), (len(qla), nd)).copy()
    )
    rows = np.arange(len(qla))[:, None]
    dsel = dist[rows, idx]
    ord2 = np.lexsort((did[idx], dsel), axis=1)
    out_ids = did[idx[rows, ord2]]
    out_dist = dsel[rows, ord2]
    if kk < nd:
        # boundary-tie repair: more than kk points at <= the kk-th
        # distance means the partition cut through a tie group
        tied = np.flatnonzero(
            (dist <= out_dist[:, kk - 1, None]).sum(axis=1) > kk
        )
        if tied.size:
            full_ord = np.lexsort(
                (np.broadcast_to(did, (tied.size, nd)), dist[tied]), axis=1
            )[:, :kk]
            out_ids[tied] = did[full_ord]
            out_dist[tied] = dist[tied[:, None], full_ord]
    return out_ids, out_dist


def _block_topk(
    qla: np.ndarray,
    qlo: np.ndarray,
    dla: np.ndarray,
    dlo: np.ndarray,
    did: np.ndarray,
    k: int,
    use_haversine: bool = True,
    quantize: float | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Exact top-k of each query against the full data arrays, chunking
    the query rows so rows x n_data never exceeds sizing.GEMM_BUDGET.
    Returns (ids, dists) of shape (n_queries, kk), kk = min(k, n_data),
    sorted per row with deterministic (distance, data id) tie-break.
    With `quantize`, distances are epsilon-floored onto the 1/quantize
    grid BEFORE selection/ranking, so near-ties within fp noise of each
    other collapse to the same grid point and the (distance, id) order
    is reproducible across engines.

    For the haversine metric at scale the per-pair transcendental scan
    is replaced by the GEMM candidate path (see _GEMM_CAND_PAD above):
    identical results — emitted distances come from the same
    haversine_km formula, and any row whose exactness the dot-product
    bound cannot certify reruns through the full scan."""
    nq, nd = len(qla), len(did)
    kk = min(k, nd)
    out_ids = np.empty((nq, kk), np.int64)
    out_dist = np.empty((nq, kk), np.float64)
    step = max(1, sizing.GEMM_BUDGET // max(nd, 1))
    m = min(nd, kk + _GEMM_CAND_PAD)
    use_gemm = (
        use_haversine and m < nd and nq * nd >= _GEMM_MIN_PAIRS
    )
    if use_gemm:
        dxyz = _unit_xyz(dla, dlo)
        qxyz = _unit_xyz(qla, qlo)
    for s in range(0, nq, step):
        e = min(s + step, nq)
        if not use_gemm:
            out_ids[s:e], out_dist[s:e] = _topk_rows_scan(
                qla[s:e], qlo[s:e], dla, dlo, did, kk, use_haversine, quantize
            )
            continue
        dots = qxyz[s:e] @ dxyz.T
        nr = e - s
        # Per-row candidate threshold ESTIMATED from a strided column
        # subsample: an exact per-row m-th-largest (np.partition over
        # the full chunk) measured ~10 ms/Melem — the dominant cost —
        # while partitioning a ~256-column subsample is ~free. Any
        # threshold keeps the result exact: the guard below certifies
        # each row against the ACTUAL threshold used, rows left with
        # < kk candidates rerun through the full scan, and aiming at
        # overall rank ~4m keeps expected candidates small while
        # making the exclusion bound LOOSER (t lower -> d(t) larger),
        # so the guard passes more easily than with the exact m-th.
        stride = max(1, nd // 256)
        sub = dots[:, ::stride]
        t_rank = min(sub.shape[1] - 1, max(1, (4 * m) // stride))
        t = np.partition(sub, sub.shape[1] - 1 - t_rank, axis=1)[
            :, sub.shape[1] - 1 - t_rank
        ]
        r, c = np.nonzero(dots >= t[:, None])  # row-major: r ascending
        # rows the estimated threshold left short of kk candidates
        # rerun through the full scan (rare — subsample variance only)
        counts = np.bincount(r, minlength=nr)
        ok = counts >= kk
        if not ok.all():
            sel = ok[r]
            r, c = r[sel], c[sel]
        dsel = haversine_km(qla[s + r], qlo[s + r], dla[c], dlo[c])
        # exclusion bound: every non-candidate has dot STRICTLY below t
        d_bound = (
            2.0 * EARTH_RADIUS_KM
            * np.arcsin(np.sqrt((1.0 - np.clip(t, -1.0, 1.0)) / 2.0))
            - _GEMM_EPS_KM
        )
        if quantize is not None:
            dsel = _quantize_np(dsel, quantize)
            d_bound = _quantize_np(np.maximum(d_bound, 0.0), quantize)
        # segmented (dist, id) top-k over the ragged candidate lists
        order = np.lexsort((did[c], dsel, r))
        r_s = r[order]
        if ok.all():
            seg_start = np.searchsorted(r_s, np.arange(nr))
            take = (np.arange(len(r_s)) - seg_start[r_s]) < kk
            out_ids[s:e] = did[c[order][take]].reshape(nr, kk)
            out_dist[s:e] = dsel[order][take].reshape(nr, kk)
        else:
            rmap = np.cumsum(ok) - 1  # chunk row -> compact ok index
            r_comp = rmap[r_s]
            seg_start = np.searchsorted(r_comp, np.arange(int(ok.sum())))
            take = (np.arange(len(r_comp)) - seg_start[r_comp]) < kk
            rows_ok = np.flatnonzero(ok)
            out_ids[s + rows_ok] = did[c[order][take]].reshape(len(rows_ok), kk)
            out_dist[s + rows_ok] = dsel[order][take].reshape(len(rows_ok), kk)
        # rows whose k-th distance the bound does not STRICTLY clear
        # (possible cross-boundary tie), plus short rows, rerun exactly
        bad = np.flatnonzero(~ok | ~(d_bound > out_dist[s:e, kk - 1]))
        if bad.size:
            out_ids[s + bad], out_dist[s + bad] = _topk_rows_scan(
                qla[s + bad], qlo[s + bad], dla, dlo, did, kk,
                use_haversine, quantize,
            )
    return out_ids, out_dist


def knn_bruteforce(
    queries: DataFrame,
    data: DataFrame,
    k: int,
    q_lat: str = "lat",
    q_lon: str = "lon",
    d_lat: str = "lat",
    d_lon: str = "lon",
    d_id: str = "id",
    metric: str = "haversine",
    quantize: float | None = None,
) -> DataFrame:
    """Exact kNN with the data side collected once and broadcast (the
    small-data kernel — analogous to RIOS broadcasting one
    rasterization per process); knn_join takes it when the data side is
    the smaller one. Ties broken on (distance, data id) —
    deterministic. The per-task distance matrix is chunked to
    sizing.GEMM_BUDGET elements, so memory stays bounded regardless of
    Arrow batch size x data size. It maps over `queries` row by row, so
    repeated query rows each get their own k neighbours and a
    streaming query side works too.

    Output: all query columns + neighbor_id, dist_km, rank (int).
    """
    spark = queries.sparkSession
    pdf = data.select(d_id, d_lat, d_lon).toPandas()
    dlat = pdf[d_lat].to_numpy(np.float64)
    dlon = pdf[d_lon].to_numpy(np.float64)
    dids = pdf[d_id].to_numpy(np.int64)
    order = np.argsort(dids, kind="stable")
    bc = spark.sparkContext.broadcast((dlat[order], dlon[order], dids[order]))

    fields = queries.schema.fields + [
        T.StructField("neighbor_id", T.LongType()),
        T.StructField("dist_km", T.DoubleType()),
        T.StructField("rank", T.IntegerType()),
    ]
    out_schema = T.StructType(fields)
    use_haversine = metric == "haversine"

    def kern(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        dla, dlo, did = bc.value
        kk = min(k, len(did))
        for pdf in batches:
            if len(pdf) == 0:
                continue
            qla = pdf[q_lat].to_numpy(np.float64)
            qlo = pdf[q_lon].to_numpy(np.float64)
            ids, dsel = _block_topk(
                qla, qlo, dla, dlo, did, k, use_haversine, quantize=quantize
            )
            rep = pdf.loc[pdf.index.repeat(kk)].reset_index(drop=True)
            rep["neighbor_id"] = ids.ravel()
            rep["dist_km"] = dsel.ravel()
            rep["rank"] = np.tile(np.arange(1, kk + 1, dtype=np.int32), len(pdf))
            yield rep

    return queries.mapInPandas(kern, schema=out_schema)


def _ring_guard_km(res: int, ring, q_lat: str, q_lon: str, cell: str = "cell"):
    """Guaranteed-coverage radius (km) of the `ring`-ring tile box
    around each query's cell: the minimum great-circle distance from
    the query point to any point OUTSIDE the box. Any data point closer
    than this is guaranteed to be in the candidate set.

    Exact spherical edge distances (not a km-per-degree approximation):
    - a parallel at delta-phi away is R*delta-phi; a box edge past a
      pole bounds nothing (no cells beyond the pole) -> +inf term;
    - the minimum distance to a half-meridian delta-lam away is the
      cross-track bound R*asin(cos(phi)*sin(delta-lam)) for
      delta-lam <= 90 deg, and the over-the-pole distance
      R*(90 - |phi|) beyond (the meridian's nearest point is then past
      the pole). Pole-correct by construction: near a pole the lon
      terms shrink to the true over-the-pole distance instead of a
      bogus min-cos scale (a ring box past the pole once yielded
      |cos(>90 deg)| CLIMBING again and falsely certified queries
      whose true nearest sat across the pole — caught by the polar
      stress test)."""
    n = float(1 << res)
    cell_h_deg = 180.0 / n
    rem = F.col(cell) - F.lit(res * (1 << 58)).cast("long")
    y = F.shiftright(rem, 29)
    x = rem.bitwiseAND(F.lit((1 << 29) - 1).cast("long"))
    box_lat_n = F.lit(90.0) - (y - ring) * F.lit(cell_h_deg)
    box_lat_s = F.lit(90.0) - (y + 1 + ring) * F.lit(cell_h_deg)
    box_lon_w = (x - ring) * F.lit(360.0 / n) - F.lit(180.0)
    box_lon_e = (x + 1 + ring) * F.lit(360.0 / n) - F.lit(180.0)

    big = F.lit(1e12)
    rad_km = F.lit(EARTH_RADIUS_KM * np.pi / 180.0)  # km per degree of arc
    phi = F.col(q_lat)
    cos_phi = F.cos(F.radians(phi))
    over_pole = (F.lit(90.0) - F.abs(phi)) * rad_km

    d_n = F.when(box_lat_n >= 90.0, big).otherwise((box_lat_n - phi) * rad_km)
    d_s = F.when(box_lat_s <= -90.0, big).otherwise((phi - box_lat_s) * rad_km)

    def lon_term(dlam_deg):
        cross = F.lit(EARTH_RADIUS_KM) * F.asin(cos_phi * F.sin(F.radians(dlam_deg)))
        return F.when(dlam_deg >= 90.0, over_pole).otherwise(cross)

    return F.greatest(
        F.least(
            d_n, d_s,
            lon_term(F.col(q_lon) - box_lon_w),
            lon_term(box_lon_e - F.col(q_lon)),
        ),
        F.lit(0.0),
    )


def _rank_and_prove(
    cand: DataFrame, part_cols: list[str], k: int, res: int, ring,
    q_lat: str, q_lon: str, quantize: float | None = None,
    cell: str = "cell",
) -> DataFrame:
    """Window top-k + the completeness guard, all inside ONE window
    partitioning (one shuffle): a query's top-k is proven exact iff it
    found k candidates and its k-th distance is within the ring's
    guaranteed coverage radius. Adds rank, __nfound, __kth, __proved.
    No per-query agg DataFrame, no broadcast of the proven set (which
    is almost ALL queries — broadcasting it was a round-1 scale bug).
    `ring` may be an int or a per-row Column (adaptive escalation).
    With `quantize`, ranking, dist_km, __kth AND the guard compare all
    run in the epsilon-floored metric: near-ties collapse to the same
    grid point so the (distance, id) order is engine-reproducible, and
    the proof stays sound because quantization is monotone — any point
    outside the ring has raw dist >= guard, hence quantized dist >=
    quantized(guard), so __kth_q < quantized(guard) still certifies
    that NO outside point (even an equal-raw-distance tie) can enter
    the quantized-metric top-k. The escalation-radius inversion keeps
    using __kth; its at-least-one-cell slack (km-scale) dwarfs the one
    grid step (1/quantize) the quantized kth can sit below raw, and the
    re-checked guard keeps the round exact regardless."""
    dist = _haversine_col(F.col(q_lat), F.col(q_lon), F.col("__dlat"), F.col("__dlon"))
    if quantize:
        dist = _quantize_col(dist, quantize)
    cand = cand.withColumn("dist_km", dist)
    keys = [F.col(c) for c in part_cols]
    w = Window.partitionBy(*keys).orderBy(
        F.col("dist_km").asc_nulls_last(), F.col("neighbor_id")
    )
    wp = Window.partitionBy(*keys)
    ranked = cand.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
    guard = _ring_guard_km(res, ring, q_lat, q_lon, cell=cell)
    if quantize:
        guard = _quantize_col(guard, quantize)
    return (
        ranked.withColumn("__nfound", F.count("dist_km").over(wp))
        .withColumn("__kth", F.max("dist_km").over(wp))
        .withColumn(
            "__proved", (F.col("__nfound") >= k) & (F.col("__kth") < guard)
        )
    )


# Max residue queries broadcast per residual-scan pass. The residue is
# normally the guard's leftovers (tiny), but adversarial inputs (every
# query polar/sparse with < k provable candidates, or k > data rows)
# can make it the WHOLE query side — the driver-memory bound must be a
# code invariant, not a distribution assumption (round-2 VERDICT #4).
# Each chunk costs one full data scan, so the fallback degrades
# gracefully: N_residue/chunk scans, constant driver memory.
KNN_RESIDUAL_CHUNK = 1_000_000


def _no_neighbours(queries: DataFrame) -> DataFrame:
    """The kNN output schema of `queries`, with no rows."""
    return queries.limit(0).withColumns(
        {
            "neighbor_id": F.lit(None).cast("long"),
            "dist_km": F.lit(None).cast("double"),
            "rank": F.lit(None).cast("int"),
        }
    )


def _knn_residual_scan(
    bad_q: DataFrame,
    data: DataFrame,
    k: int,
    part_cols: list[str],
    q_lat: str,
    q_lon: str,
    d_lat: str,
    d_lon: str,
    d_id: str,
    quantize: float | None = None,
    n_residue_hint: int | None = None,
    counters: dict | None = None,
) -> DataFrame:
    """Exact distributed brute force for a SMALL query set against an
    arbitrarily large data side: the residue queries are collected and
    broadcast in chunks of at most KNN_RESIDUAL_CHUNK rows (driver
    memory bounded by a constant), the data is scanned ONCE PER CHUNK
    with a per-partition running top-k, and the tiny per-partition partials
    (n_queries x k x n_partitions rows) merge in a final window.
    Replaces the round-1 `data.toPandas()` full collect of the
    by-construction-too-big-to-broadcast side (VERDICT #5); the chunk
    cap enforces the round-2 VERDICT #4 bound. `part_cols` key a query
    row; when they are every column of `bad_q`, the collected rows
    themselves become the output's query side (no join back), so
    repeated rows each keep their own driver-assigned key.
    `counters["residual_scan"]`, when given, records how many query
    rows the scan answered."""
    chunk = KNN_RESIDUAL_CHUNK
    key_cols = list(dict.fromkeys([*part_cols, q_lat, q_lon]))
    parts: list[DataFrame] = []
    # fast path (r6): when the caller can BOUND the residue below the
    # chunk cap (the tiled phases' pass-0 residue count bounds their
    # scan), one plain collect() fetches it in a single job —
    # toLocalIterator pays sequential per-partition round-trips that
    # were a visible share of the sf0.01 wall, where the whole phase is
    # fixed job latency, and limit(chunk+1) was measured WORSE
    # (CollectLimit scans partitions in escalating sequential stages).
    # The driver-memory bound is the hint, same constant class as the
    # iterator path's chunk + one partition.
    if n_residue_hint is not None and n_residue_hint <= chunk:
        rows = bad_q.select(*key_cols).collect()
        if counters is not None:
            counters["residual_scan"] = len(rows)
        if not rows:
            return _no_neighbours(bad_q)
        return _residual_scan_chunk(
            bad_q, data, k, part_cols, key_cols, rows,
            q_lat, q_lon, d_lat, d_lon, d_id, quantize=quantize,
        )
    buf: list = []
    n_rows = 0
    # toLocalIterator streams one partition at a time to the driver —
    # the driver never holds more than (chunk + one partition) rows
    for row in bad_q.select(*key_cols).toLocalIterator(prefetchPartitions=True):
        buf.append(row)
        n_rows += 1
        if len(buf) >= chunk:
            parts.append(
                _residual_scan_chunk(
                    bad_q, data, k, part_cols, key_cols, buf,
                    q_lat, q_lon, d_lat, d_lon, d_id, quantize=quantize,
                )
            )
            buf = []
    if buf:
        parts.append(
            _residual_scan_chunk(
                bad_q, data, k, part_cols, key_cols, buf,
                q_lat, q_lon, d_lat, d_lon, d_id, quantize=quantize,
            )
        )
    if counters is not None:
        counters["residual_scan"] = n_rows
    if not parts:
        return _no_neighbours(bad_q)
    return _union_all(parts)


def _residual_scan_chunk(
    bad_q: DataFrame,
    data: DataFrame,
    k: int,
    part_cols: list[str],
    key_cols: list[str],
    rows: list,
    q_lat: str,
    q_lon: str,
    d_lat: str,
    d_lon: str,
    d_id: str,
    quantize: float | None = None,
) -> DataFrame:
    spark = bad_q.sparkSession
    qpdf = pd.DataFrame([r.asDict() for r in rows], columns=key_cols)
    nq = len(qpdf)
    qla = qpdf[q_lat].to_numpy(np.float64)
    qlo = qpdf[q_lon].to_numpy(np.float64)
    bc = spark.sparkContext.broadcast((qla, qlo))

    def kern(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qla_v, qlo_v = bc.value
        nq_v = len(qla_v)
        best_d = np.full((nq_v, k), np.inf, np.float64)
        best_i = np.full((nq_v, k), np.iinfo(np.int64).max, np.int64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids, dists = _block_topk(
                qla_v, qlo_v,
                pdf[d_lat].to_numpy(np.float64),
                pdf[d_lon].to_numpy(np.float64),
                pdf[d_id].to_numpy(np.int64),
                k,
                quantize=quantize,
            )
            cat_d = np.concatenate([best_d, dists], axis=1)
            cat_i = np.concatenate([best_i, ids], axis=1)
            order = np.lexsort((cat_i, cat_d), axis=1)[:, :k]
            rows = np.arange(nq_v)[:, None]
            best_d = cat_d[rows, order]
            best_i = cat_i[rows, order]
        got = np.isfinite(best_d)
        qi = np.broadcast_to(np.arange(nq_v)[:, None], best_d.shape)[got]
        yield pd.DataFrame(
            {"__qi": qi, "neighbor_id": best_i[got], "dist_km": best_d[got]}
        )

    partials = data.select(d_id, d_lat, d_lon).mapInPandas(
        kern, "__qi long, neighbor_id long, dist_km double"
    )
    w = Window.partitionBy("__qi").orderBy(F.col("dist_km"), F.col("neighbor_id"))
    top = partials.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)

    key_schema = T.StructType(
        [bad_q.schema[c] for c in part_cols] + [T.StructField("__qi", T.LongType())]
    )
    key_df = spark.createDataFrame(
        qpdf[part_cols].assign(__qi=np.arange(nq, dtype=np.int64)), schema=key_schema
    )
    if set(part_cols) >= set(bad_q.columns):
        # the collected keys ARE the query rows: no join back to bad_q,
        # and duplicate rows keep their own __qi
        return key_df.join(F.broadcast(top), "__qi").drop("__qi")
    return (
        bad_q.join(F.broadcast(key_df), part_cols)
        .join(F.broadcast(top), "__qi")
        .drop("__qi")
    )


def knn_join(
    queries: DataFrame,
    data: DataFrame,
    k: int,
    res: int,
    ring: int | str = "auto",
    q_lat: str = "lat",
    q_lon: str = "lon",
    d_lat: str = "lat",
    d_lon: str = "lon",
    d_id: str = "id",
    q_id: str | None = None,
    counters: dict | None = None,
    quantize: float | None = None,
) -> DataFrame:
    """Exact kNN join (SURVEY.md J7/J8): the k nearest data rows of
    every query row, ranked on (distance, data id). The one neighbour
    search of the engine; resample_join is this plus a weighting tail.

    Both sides need only their lat/lon columns (and `d_id` on the data
    side); the tiled phases derive their own working cells. Output: all
    query columns + neighbor_id, dist_km, rank (int). Every query row,
    a repeated one included, gets its own k neighbours (fewer when the
    data side has fewer than k rows).

    Dispatch is sizing.knn_branch, the one kNN plan rule, which
    replicates the smaller side (CAMEL hash table, EDBT'26):
    - "brute": the data side is collected and broadcast to the Arrow
      kernel (knn_bruteforce) — when k >= N (every answer is all the
      data, so no ring proves anything), when Q > N and Q x N fits
      sizing.KNN_BRUTE_PAIR_BUDGET, and for a streaming query side;
    - "scan": Q <= N and Q x N fits sizing.KNN_SCAN_PAIR_BUDGET — the
      queries are broadcast and the data streams once through the
      exact per-task top-k (_knn_residual_scan over the whole query
      frame; exact by construction, so no guard, checkpoint or
      escalation);
    - "tiled": every other input and every explicit `ring` — the
      distributed k-ring candidate join and completeness guard, at most
      one escalation round, then the exact residual scan (_knn_tiled).
      Its intermediates are local checkpoints owned by the returned
      DataFrame and freed with it; one lost to an executor failure
      fails the reading job rather than being recomputed.
    An unknown query count is settled by one bounded count, never
    assumed small. `counters` records branch, q_rows, n_data and pairs
    (q_rows is cap + 1 when the bounded count stopped early: "more than
    the largest Q a non-tiled branch takes"), plus the tiled phases'
    counts: unproven_pass0, unproven_escalation_0 (an upper bound: the
    keys the round escalated) and residual_scan (the query rows the
    scan answered).

    `res` is the tiled phases' base resolution (ring="auto" may re-tile
    finer, never coarser); `q_id` keys their ranking window (a
    synthetic unique key without it); `quantize` ranks and emits
    distances on the epsilon-floored 1/quantize grid on every branch.
    k < 1 raises ValueError.
    """
    if k < 1:
        raise ValueError(f"knn_join needs k >= 1, got {k}")
    n_data = sizing.fast_count(data)
    branch, q_rows = sizing.knn_branch(queries, n_data, k, ring)
    if counters is not None:
        counters.update(
            branch=branch, q_rows=q_rows, n_data=n_data,
            pairs=None if q_rows is None else q_rows * n_data,
        )
    if branch == "brute":
        # a small-SF query table often scans as ONE partition — spread
        # the Arrow kernel across the cluster (no-op at scale); the
        # gate's row count sizes the fan-out so tiny frames don't pay a
        # full-width shuffle
        return knn_bruteforce(
            sizing.ensure_parallelism(queries, rows_hint=q_rows), data, k,
            q_lat=q_lat, q_lon=q_lon, d_lat=d_lat, d_lon=d_lon, d_id=d_id,
            quantize=quantize,
        )
    if branch == "scan":
        # the queries are collected whole, so every row, duplicates
        # included, gets its own driver-assigned key
        qcols = queries.columns
        return _knn_residual_scan(
            queries, data, k, qcols, q_lat, q_lon, d_lat, d_lon, d_id,
            quantize=quantize, n_residue_hint=q_rows,
        ).select(*qcols, "neighbor_id", "dist_km", "rank")
    return _knn_tiled(
        queries, data, k, res, ring, n_data, q_lat=q_lat, q_lon=q_lon,
        d_lat=d_lat, d_lon=d_lon, d_id=d_id, q_id=q_id,
        counters=counters, quantize=quantize,
    )


# The name the distributed kNN was first published under; the same
# operator, kept for callers that still use it.
knn_tiled = knn_join


def _knn_tiled(
    queries: DataFrame,
    data: DataFrame,
    k: int,
    res: int,
    ring: int | str,
    n_data: int,
    q_lat: str,
    q_lon: str,
    d_lat: str,
    d_lon: str,
    d_id: str,
    q_id: str | None,
    counters: dict | None,
    quantize: float | None,
) -> DataFrame:
    """The tiled phases of knn_join, exact for a LARGE data side
    (SURVEY.md J8).

    Phase 1 — candidates: data rows are exploded to their `ring`-ring
    owner cells (margin join machinery) and equi-joined to query cells:
    each query sees every data point within `ring` tiles. Rank by
    haversine, keep top-k (window row_number, ties on (dist, id)).

    Phase 2 — completeness guard (makes it EXACT, not approximate): a
    query's top-k is provably correct iff it found k candidates AND its
    k-th distance is within the guaranteed coverage radius of the ring.
    The guard is evaluated as window aggregates inside the SAME shuffle
    as the ranking — no extra agg job, no broadcast of the proven set.

    Then straight-line phases, a fixed plan like RIOS's one read, one
    kernel run and one write per block (one stats job decides them):

    Phase 3 — ONE escalation round: an unproven query with >= k found
    candidates knows its k-th distance, hence EXACTLY how wide a ring
    certifies it — one variable-radius pass (per-row k-ring explode on
    the QUERY side: the residue is the small side, so the (2r+1)^2
    duplication lands on it, not on the data). The radius is one cell
    past the inverted k-th distance in latitude and in longitude, and
    the k-th distance inside that ring can only shrink, so the guard
    certifies every such query unless its radius hit the wrap-safe cap.
    A query escalates only when its ring is cheaper than a data scan
    (the ring-utility bound); there is no second round.

    Phase 4 — the exact residual scan: the pass-0 residue that could
    not escalate (< k found, radius cap, ring dearer than a scan) plus
    whatever the round left unproven finishes in distributed data
    scans with the residue queries broadcast in bounded chunks
    (_knn_residual_scan, <= KNN_RESIDUAL_CHUNK rows on the driver per
    pass); a second round's candidate join would cost that data pass
    too. The data side is NEVER collected.

    ring="auto" sizes the first ring from the data density so the
    first pass can actually PROVE most top-k sets: a ring-1 pass
    against sparse data (e.g. 1 point per cell, k=3) proves nothing
    and its join+window cost is pure waste before escalation. The
    guard keeps any ring choice exact — this is performance only.
    In the same mode the phases also re-tile to a finer resolution
    when the data is dense at `res` (see KNN_RETILE_RES_MAX): candidate
    volume is ~(2r+1)^2 * density per query, so without the re-tile it
    grows linearly with density (at ~100 points/cell a ring-1 pass is
    already ~900 candidates/query). An explicit ring keeps `res`.

    The working cells are derived from lat/lon at that resolution in a
    private column, so any `cell` column the caller carries passes
    through to the output untouched. Without `q_id`, a synthetic
    unique key stands in, so repeated query rows each get their own k
    neighbours. Streaming frames never reach here (sizing.knn_branch):
    the phases checkpoint frames and run actions.

    Lifetime: the synthetic-id frame, the pass-0 and round top-k frames
    and the bad-key frame are local checkpoints (localCheckpoint(eager=
    False)), not cache entries. Their blocks belong to the returned
    DataFrame's lineage: no session state holds them, an exception
    between phases strands nothing, and Spark's ContextCleaner frees
    them once the caller drops the result and the JVM collects it. A
    result read again later gives the rows of its first read, the
    synthetic ids included. The trade: a local checkpoint is not
    recomputed after executor loss, so a job reading a lost block
    fails instead of renumbering the queries.
    """
    import math

    from rios_spark.grid import cell_col, kring_cells_var_col
    from rios_spark.margin import OWNER, with_margin

    qcols = queries.columns
    out_cols = [*qcols, "neighbor_id", "dist_km", "rank"]
    res_i = res  # internal working resolution (>= res; see below)
    if ring == "auto":
        # target enough expected candidates that the k-th distance sits
        # well inside the guaranteed coverage radius — but cap at a
        # small constant: with_margin duplicates the DATA side
        # (2r+1)^2-fold, so a sparse dataset must NOT buy completeness
        # with a huge first ring (need*n^2 exploded rows); escalation
        # and the residual scan handle the tail instead (ADVICE r2)
        need = max(9.0, 4.0 * k)
        # density-adaptive internal re-tile (see KNN_RETILE_RES_MAX):
        # never coarser than the caller's res (bench-scale plans are
        # unchanged), finer only while a 1-ring box still expects
        # `need` candidates, so the join volume stays ~need per query
        # instead of scaling with density
        while (
            res_i < KNN_RETILE_RES_MAX
            and 9.0 * n_data / float(4 ** (res_i + 1)) >= need
        ):
            res_i += 1
        density = n_data / float((1 << res_i) ** 2)
        width = math.sqrt(need / max(density, 1e-12))
        ring = max(1, min(int((width - 1) / 2) + 1, KNN_AUTO_RING_MAX))

    # the ranking window and every later join are keyed on ONE unique
    # query id. Without a caller id, a synthetic one: keying on the
    # query columns would merge duplicate query rows into one window
    # partition and fill their top-k with repeated neighbours. It is
    # checkpointed so the escalation and residual joins see the ids
    # pass 0 ranked (a recomputed monotonically_increasing_id need not
    # repeat over a shuffled input).
    base_queries = queries
    if q_id is None:
        q_id = "__q_id"
        queries = queries.withColumn(
            q_id, F.monotonically_increasing_id()
        ).localCheckpoint(eager=False)
    part_cols = [q_id]
    # the working cells at res_i, in a private column so a caller's
    # `cell` values pass through to the output untouched
    cell_i = "__cell_i"
    queries_i = queries.withColumn(cell_i, cell_col(q_lat, q_lon, res_i))
    data = data.withColumn(cell_i, cell_col(d_lat, d_lon, res_i))
    # a single-file query table scans as 1-2 partitions, which makes the
    # candidate join AND the ranking window's partial top-k run on 1-2
    # cores (the profiled 14 s cold phase at sf1.0 was one task sorting
    # the whole ~13M-row candidate set); round-robin fan-out first makes
    # candidate production and the per-partition group-limit full-width.
    # No-op whenever the scan is already wide (production shape).
    queries_i = sizing.fan_out(queries_i, base_queries)
    d_exp = with_margin(data, res_i, ring, cell=cell_i).select(
        F.col(OWNER).alias(cell_i),
        F.col(d_id).alias("neighbor_id"),
        F.col(d_lat).alias("__dlat"),
        F.col(d_lon).alias("__dlon"),
    )
    cand = queries_i.join(d_exp, cell_i, "left")
    # checkpoint the top-k frame (queries x k rows — tiny next to the
    # candidate join producing it): the completeness check below and the
    # final output would otherwise EACH re-execute the join+window
    # (actions do not share shuffle stages across jobs)
    ranked = _rank_and_prove(
        cand, part_cols, k, res_i, ring, q_lat, q_lon, quantize=quantize,
        cell=cell_i,
    ).localCheckpoint(eager=False)
    outs = [ranked.filter(F.col("__proved")).select(*out_cols)]
    # per-query escalation plan: an unproven query with >= k candidates
    # KNOWS its k-th distance, hence exactly how wide a ring certifies
    # it; queries with < k candidates seen have no bound and go straight
    # to the residual scan
    bad_keys = (
        ranked.filter(~F.col("__proved"))
        .groupBy(*part_cols)
        .agg(
            F.max("__nfound").alias("__nf"),
            F.max("__kth").alias("__kd"),
        )
        .localCheckpoint(eager=False)
    )

    n = 1 << res_i
    max_radius = max(1, (n - 1) // 2)  # wider would wrap-duplicate in x
    # residue with no usable distance bound (< k candidates seen), or
    # whose pass-0 ring is already the radius cap, goes straight to the
    # scan.
    # RING-UTILITY bound (r6 — the sf0.01 inverse-scaling fix): when
    # data is sparse relative to the k-th distance, the ring radius a
    # query NEEDS makes the (2r+1)^2 k-ring explosion cost at least a
    # full data scan — two escalation rounds then a scan anyway was
    # measured 4.5x SLOWER at sf0.01 than sf0.1 (9.3 vs 1.9 s; 133 of
    # 157 unproven queries re-probed twice for nothing). The
    # latitude-derived radius (kth_deg / cell_lat_deg) is a LOWER bound
    # on the real per-query radius (the longitude term only widens it),
    # so `(2*lb+1)^2 >= n_data` proves the scan is cheaper before
    # paying for the ring — and it is computable from bad_keys columns
    # alone, keeping the escalate-or-scan split a pure filter.
    _lb_radius = F.greatest(
        F.ceil(
            (F.col("__kd") / F.lit(EARTH_RADIUS_KM * np.pi / 180.0))
            / F.lit(180.0 / n)
        )
        + 1,
        F.lit(2 * ring),
    )
    esc_pred = (
        (F.col("__nf") >= k)
        & F.col("__kd").isNotNull()
        & F.lit(ring < max_radius)
        & ((2 * _lb_radius + 1) * (2 * _lb_radius + 1) < F.lit(int(n_data)))
    )

    # one agg = one job for BOTH control decisions (is the residue
    # empty? is any of it escalatable?) — the phase counters (the RIOS
    # Timers/metrics analogue) come from the same row free
    stats = bad_keys.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(esc_pred.cast("int")), F.lit(0)).alias("ne"),
    ).first()
    n_bad, n_esc = int(stats["n"]), int(stats["ne"])
    if counters is not None:
        counters["ring0"] = ring
        counters["res_internal"] = res_i
        counters["unproven_pass0"] = n_bad
    if n_bad == 0:
        return _union_all(outs)

    # the residue that cannot escalate goes to the scan as it stands
    residual_keys = bad_keys.filter(~esc_pred).select(*part_cols)
    if n_esc:
        # ONE escalation round. An escalatable query KNOWS its k-th
        # distance, so the ring that certifies it is computed, not
        # searched for: a per-row k-ring explode on the QUERY side (the
        # residue is the small side, so the (2r+1)^2 duplication lands
        # on it, not on the data).
        esc = queries_i.join(F.broadcast(bad_keys.filter(esc_pred)), part_cols, "inner")
        # kth distance -> ring radius in cells, inverting the guard's
        # exact spherical edge distances in closed form. Because the
        # query point sits INSIDE its own cell, a ring of R cells
        # guarantees an edge margin of at least R*cell_deg in each
        # direction, so:
        #   lat: R_lat = ceil(kth_deg / cell_lat_deg)
        #   lon: need asin(cos(phi)*sin(dlam)) * R_E >= kth
        #        -> sin(dlam) >= sin(kth/R_E)/cos(phi); if that exceeds
        #        1, no dlam < 90 deg works — take dlam = 90 deg, whose
        #        guard term is the over-the-pole distance (proven or
        #        not, the guard re-checks; unproven goes to the scan)
        # One cell past each bound puts the ring strictly beyond the
        # k-th distance pass 0 measured, and the k-th distance inside
        # the wider ring can only shrink, so the guard certifies every
        # query whose radius is not clamped to max_radius; what it
        # leaves (fp edges, clamped radii) the exact scan answers.
        cell_lat_deg = 180.0 / n
        cell_lon_deg = 360.0 / n
        kth_deg = F.col("__kd") / F.lit(EARTH_RADIUS_KM * np.pi / 180.0)
        r_lat = F.ceil(kth_deg / F.lit(cell_lat_deg))
        sin_arg = F.sin(F.col("__kd") / F.lit(EARTH_RADIUS_KM)) / F.cos(
            F.radians(F.col(q_lat))
        )
        dlam_deg = F.when(sin_arg >= 1.0, F.lit(90.0)).otherwise(
            F.degrees(F.asin(sin_arg))
        )
        r_lon = F.ceil(dlam_deg / F.lit(cell_lon_deg))
        # never narrower than twice the pass-0 ring, which already failed
        radius = F.least(
            F.greatest(r_lat + 1, r_lon + 1, F.lit(2 * ring)),
            F.lit(max_radius),
        ).cast("int")
        probe = esc.withColumn("__radius", radius).withColumn(
            "__probe",
            F.explode(kring_cells_var_col(F.col(cell_i), res_i, F.col("__radius"))),
        )
        d_plain = data.select(
            F.col(cell_i).alias("__probe"),
            F.col(d_id).alias("neighbor_id"),
            F.col(d_lat).alias("__dlat"),
            F.col(d_lon).alias("__dlon"),
        )
        cand_r = probe.join(d_plain, "__probe", "left").drop("__probe")
        ranked_r = _rank_and_prove(
            cand_r, part_cols, k, res_i, F.col("__radius"), q_lat, q_lon,
            quantize=quantize, cell=cell_i,
        ).localCheckpoint(eager=False)
        outs.append(ranked_r.filter(F.col("__proved")).select(*out_cols))
        residual_keys = residual_keys.unionByName(
            ranked_r.filter(~F.col("__proved")).select(*part_cols)
        )
        if counters is not None:
            # no stats job here: an upper bound, only escalated keys
            # can remain unproven
            counters["unproven_escalation_0"] = n_esc
    # the exact residual scan: the pass-0 residue bounds its keys, and
    # its collect finds how many are left (possibly none) in the same
    # job that fetches them
    bad_q = queries.join(F.broadcast(residual_keys.distinct()), part_cols, "left_semi")
    outs.append(
        _knn_residual_scan(
            bad_q, data, k, part_cols, q_lat, q_lon, d_lat, d_lon, d_id,
            quantize=quantize, n_residue_hint=n_bad, counters=counters,
        ).select(*out_cols)
    )
    return _union_all(outs)


def _union_all(dfs: list[DataFrame]) -> DataFrame:
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


# resample neighbourhood sizes, mirroring the GDAL kernel supports the
# reference exposes (rios/applier.py:655-661): near 1x1, bilinear 2x2,
# cubic/cubicspline 4x4, lanczos 6x6
RESAMPLE_K = {"near": 1, "bilinear": 4, "cubic": 16, "cubicspline": 16, "lanczos": 36}

# The `res` resample_join hands to knn_join. Scattered points carry no
# grid of their own, so this is only the floor of the tiled phases'
# density-adaptive re-tile, which picks the working resolution from
# the data density; coarse, so sparse data never starts too fine.
RESAMPLE_RES = 3


def resample_join(
    queries: DataFrame,
    data: DataFrame,
    value_col: str,
    method: str = "bilinear",
    q_lat: str = "lat",
    q_lon: str = "lon",
    d_id: str = "id",
    power: float = 1.0,
) -> DataFrame:
    """Resample join — the setResampleMethod modes
    (rios/applier.py:655-661: near, bilinear, cubic, cubicspline,
    lanczos) re-expressed for scattered points: the grid-convolution
    kernel becomes a distance-kernel-weighted average over the k nearest
    data points (k = the kernel's support size: 1/4/16/16/36).

      near         k=1  (the testresample contract: exact array shift)
      bilinear     k=4  inverse-distance weights (1/d^power)
      cubic        k=16 tricube kernel (1-(d/D)^3)^3  — the classic
                   local-regression kernel; D = the query's 16th-NN
                   distance, so the kernel support adapts to density
      cubicspline  k=16 biweight kernel (1-(d/D)^2)^2 (smoother falloff)
      lanczos      k=36 3-lobe windowed sinc on t = 3*d/D

    `data` is a DataFrame with `d_id`, lat, lon and `value_col`. The
    neighbour search is knn_join at RESAMPLE_RES, so its one dispatch
    rule picks brute, scan or tiled, all exact; the value column joins
    back through sizing.broadcast_gated, and one weighted groupBy per
    call finishes. An exact-distance-0 match always returns that
    point's value (all kernels peak at 0).

    Output: all query columns + `resampled`, ONE row per DISTINCT query
    row: copies of a query row have the same neighbours, so they
    resample to the same value and the groupBy folds them into one row
    (70 rows with 10 repeats in, 60 out).
    """
    if method not in RESAMPLE_K:
        raise ValueError(f"unknown resample method {method!r}")
    k = RESAMPLE_K[method]
    kn = knn_join(queries, data, k, RESAMPLE_RES, q_lat=q_lat, q_lon=q_lon, d_id=d_id)
    vals = data.select(F.col(d_id).alias("neighbor_id"), F.col(value_col).alias("__v"))
    j = kn.join(sizing.broadcast_gated(vals, data), "neighbor_id")
    qcols = queries.columns
    d = F.col("dist_km")
    if method == "near":
        w = F.lit(1.0)
    elif method == "bilinear":
        w = F.lit(1.0) / F.pow(d, F.lit(power))
    else:
        # adaptive support: D = the query's k-th neighbour distance,
        # padded so the farthest neighbour keeps a nonzero weight
        wspec = Window.partitionBy(*qcols)
        D = F.max(d).over(wspec) * F.lit(1.0 + 1e-9)
        t = d / D
        if method == "cubic":
            w = F.pow(F.lit(1.0) - F.pow(t, F.lit(3.0)), F.lit(3.0))
        elif method == "cubicspline":
            w = F.pow(F.lit(1.0) - F.pow(t, F.lit(2.0)), F.lit(2.0))
        else:  # lanczos, 3 lobes
            x = t * F.lit(3.0)
            pix = F.lit(float(np.pi)) * x
            sinc = F.when(x == 0, F.lit(1.0)).otherwise(F.sin(pix) / pix)
            sinc3 = F.when(x == 0, F.lit(1.0)).otherwise(
                F.sin(pix / 3.0) / (pix / 3.0)
            )
            w = sinc * sinc3
        j = j.withColumn("__w", w)
        w = F.col("__w")
    w = F.when(d == 0, F.lit(1e18)).otherwise(w)
    return (
        j.groupBy(*qcols)
        .agg((F.sum(w * F.col("__v")) / F.sum(w)).alias("resampled"))
    )


def _haversine_col(lat1, lon1, lat2, lon2):
    """Haversine as built-in Spark expressions (JVM-side, codegen)."""
    rl1, rl2 = F.radians(lat1), F.radians(lat2)
    dlat = F.radians(lat2 - lat1)
    dlon = F.radians(lon2 - lon1)
    h = F.pow(F.sin(dlat / 2), 2) + F.cos(rl1) * F.cos(rl2) * F.pow(F.sin(dlon / 2), 2)
    return F.lit(2.0 * EARTH_RADIUS_KM) * F.asin(F.sqrt(h))
