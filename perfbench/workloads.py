"""The benchmark workloads. Each one makes its inputs from the seed
(`materialise`), runs each op kind once untimed (`warm`), yields rounds
of ops for the closed loop (`rounds`) and checks the outputs
(`verify`).

Every call into the program is wrapped in a span named after the
module function it calls, so the traced run can split op time by
layer; the program itself is not instrumented.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pandas as pd
import pyarrow.dataset as pads
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from perfbench import fixtures
from perfbench.measure import Op, SpanClock

# query_mix: bench.py HEADLINE queries covering the driver-planning,
# broadcast, point-in-polygon, Arrow-kernel, codegen and window paths at
# sf0.1; perfbench/README.md lists the HEADLINE queries left out and why
MIX_QUERIES = [
    "tile_counts_docs",
    "margin_ring_counts",
    "zonal_pentagon_docs",
    "stats_per_tile_orders",
    "tpch_q1",
    "revenue_by_nation",
    "events_hourly",
    "asof_login_events",
    "doc_text_metrics",
    "exact_dedup_docs",
]
PAGES_N = 150_000  # pages read by the zonal and kNN ops
PAGES_RES = 6  # zonal / tile-count resolution (BASELINE.json pipeline)
KNN_RES, KNN_K, KNN_Q = 7, 10, 100  # knn_tiled resolution, k, queries per op
KNN_SAMPLES = 16  # query samples; each round asks a new one, so no op reuses a cache
KNN_CHECK_Q = 20  # queries whose kNN is checked by brute force
TILE_N = 20_000  # pages of the tile-job ops (each writes all of them)
TILE_RES = 6
READ_CELLS = 8  # cells read back by sources.read_tiled


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _files_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")
    )


class Workload:
    name = ""
    gated_rounds = 1  # timed rounds that cpu_s_per_mrow is taken over

    def __init__(self, spark, seed: int):
        self.spark = spark
        self.seed = seed

    def materialise(self, data_dir: str) -> None:
        raise NotImplementedError

    def ops(self) -> list[Op]:
        """One op of each kind, in canonical order."""
        raise NotImplementedError

    def rounds(self, i: int) -> list[Op]:
        """The ops of round i of the timed loop."""
        raise NotImplementedError

    def warm(self) -> None:
        """Run each op kind once."""
        for op in self.ops():
            if not op.fn(SpanClock()):
                raise RuntimeError(f"{self.name}: warm-up op {op.kind} failed its check")

    def verify(self) -> list[str]:
        """Problems found in the timed ops' outputs (empty = correct)."""
        return []


# --- query_mix ---------------------------------------------------------------


class QueryMix(Workload):
    """Interleaved rounds of registry queries into the noop sink; the seed
    fixes the tables and the query order within each round."""

    name = "query_mix"
    gated_rounds = 3

    def materialise(self, data_dir: str) -> None:
        self.table_rows = fixtures.write_star_tables(data_dir, self.seed)
        self.sf_dir = data_dir

    def warm(self) -> None:
        """Run each query once, noting its input rows (the rows of every
        table its plan reads) and keeping its result for verify(), since
        the timed runs go to the noop sink, which keeps nothing to check.
        Then one more pass into the noop sink: the JVM's JIT still works
        hard through the second pass of a fresh session."""
        from rios_spark.queries import QUERIES

        self.query_rows, self.results = {}, {}
        for q in MIX_QUERIES:
            df = QUERIES[q](self.spark, self.sf_dir)
            tables = {os.path.basename(f).split(".")[0] for f in df.inputFiles()}
            if not tables:
                raise RuntimeError(f"query {q} reads no table")
            self.query_rows[q] = sum(self.table_rows[t] for t in tables)
            self.results[q] = df.toPandas()
        super().warm()

    def _op(self, q: str) -> Op:
        from rios_spark.queries import QUERIES

        def fn(clock: SpanClock) -> bool:
            with clock.span(f"queries.{q}"):
                df = QUERIES[q](self.spark, self.sf_dir)
            with clock.span("exec"):
                _noop(df)
            return True

        return Op(q, self.query_rows[q], fn)

    def ops(self) -> list[Op]:
        return [self._op(q) for q in MIX_QUERIES]

    def rounds(self, i: int) -> list[Op]:
        order = list(MIX_QUERIES)
        random.Random(self.seed * 1_000_003 + i).shuffle(order)
        return [self._op(q) for q in order]

    def verify(self) -> list[str]:
        """Each query's warm-pass result against its DuckDB oracle."""
        import duckdb

        from rios_spark.queries import ORACLES

        problems = []
        con = duckdb.connect()
        try:
            for t in self.table_rows:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                            f"'{self.sf_dir}/{t}.parquet')")
            for q in MIX_QUERIES:
                want = con.execute(ORACLES[q]).df()
                problems += [f"{q}: {p}" for p in compare_frames(self.results[q], want)]
        finally:
            con.close()
        return problems


def compare_frames(got: pd.DataFrame, want: pd.DataFrame, atol: float = 0.0) -> list[str]:
    """Order-insensitive equality; floats within 1e-9 relative (plus
    `atol`), since the two sides sum in different orders."""
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns {sorted(got.columns)} != {sorted(want.columns)}"]
    if len(got) != len(want):
        return [f"{len(got)} rows != {len(want)}"]
    cols = sorted(got.columns)

    def norm(df):
        df = df[cols].copy()
        for c in cols:
            if str(df[c].dtype).startswith("datetime"):
                df[c] = df[c].astype("datetime64[us]")
        return df.sort_values(cols, ignore_index=True)

    g, w = norm(got), norm(want)
    problems = []
    for c in cols:
        gv, wv = g[c].to_numpy(), w[c].to_numpy()
        if gv.dtype.kind == "f" or wv.dtype.kind == "f":
            bad = ~np.isclose(gv.astype(float), wv.astype(float), rtol=1e-9, atol=atol,
                               equal_nan=True)
        else:
            bad = (pd.Series(gv).astype(str) != pd.Series(wv).astype(str)).to_numpy()
        if bad.any():
            i = int(np.argmax(bad))
            problems.append(f"col {c}: {int(bad.sum())} diffs, e.g. {gv[i]!r} != {wv[i]!r}")
    return problems



# --- pages_scale -------------------------------------------------------------------


def neighbourhood_kernel(info, tile: pd.DataFrame) -> pd.DataFrame:
    """Per-tile numpy kernel: for each page, the page count and mean
    latitude of its tile plus the 1-ring margin. Margin rows keep
    `__is_margin`, so the applier trims them before the write."""
    lat = tile["lat"].to_numpy()
    return pd.DataFrame({
        "page_id": tile["page_id"].to_numpy(),
        "n_nbhd": np.full(len(tile), len(tile), np.int64),
        "lat_mean": np.full(len(tile), lat.mean() if len(lat) else 0.0),
        "__is_margin": tile["__is_margin"].to_numpy(),
    })


class PagesScale(Workload):
    """Zipf-skewed seeded pages. Each round runs the BASELINE.json
    tile-assign + zonal pipeline and a tiled kNN on hot tiles over
    PAGES_N pages, then the examples/tile_job.py stages over TILE_N
    pages: an applier pass written with sources.write_tiled, the
    adaptive split of the hottest tile, a manifest-checkpointed stage,
    and a sources.read_tiled + table_info read-back. Every write goes
    to a fresh directory under a fresh job id, so resume never skips
    work."""

    name = "pages_scale"

    def materialise(self, data_dir: str) -> None:
        from rios_spark import datagen
        from rios_spark.grid import np_cell

        self.pages_path = os.path.join(data_dir, "pages.parquet")
        self.queries_paths = [os.path.join(data_dir, f"queries_{j}.parquet")
                              for j in range(KNN_SAMPLES)]
        self.tile_path = os.path.join(data_dir, "tile_pages.parquet")
        datagen.gen_pages_spark(self.spark, PAGES_N, seed=self.seed).select(
            "page_id", "lat", "lon").write.mode("overwrite").parquet(self.pages_path)
        datagen.gen_pages_spark(self.spark, TILE_N, seed=self.seed).select(
            "page_id", "url", "lang", "lat", "lon").write.mode("overwrite").parquet(self.tile_path)
        rng = np.random.default_rng(self.seed)
        # the kNN queries: seeded pages, so they land on the hot tiles
        pages = pq.read_table(self.pages_path)
        for path in self.queries_paths:
            pick = np.sort(rng.choice(pages.num_rows, KNN_Q, replace=False))
            pq.write_table(pages.take(pick).rename_columns(["qid", "lat", "lon"]), path)
        self.last_sample = 0
        tiles = pq.read_table(self.tile_path, columns=["lat", "lon"])
        cells = np_cell(tiles["lat"].to_numpy(), tiles["lon"].to_numpy(), TILE_RES)
        uniq, counts = np.unique(cells, return_counts=True)
        # adaptive_split re-keys exactly the hottest tile, whatever the seed
        self.split_rows = int(counts.max()) - 1
        self.hot_cell = int(uniq[counts.argmax()])
        pick = rng.choice(len(uniq), min(READ_CELLS, len(uniq)), replace=False)
        self.read_cells = [int(c) for c in uniq[pick]]
        self.read_rows = int(counts[pick].sum())
        self.polygons = datagen.gen_polygons()
        self.out_dir = os.path.join(data_dir, "out")
        self.seq = 0
        self.last_tiles = None
        self.written: list[str] = []  # outputs holding each tile page once

    def _cells(self, path: str, res: int):
        from rios_spark.grid import cell_col

        return self.spark.read.parquet(path).withColumn("cell", cell_col("lat", "lon", res))

    def _fresh(self, stage: str) -> str:
        self.seq += 1
        return os.path.join(self.out_dir, f"{self.seq:05d}_{stage}")

    def _zonal(self, clock: SpanClock) -> bool:
        from rios_spark import spatial
        from rios_spark.grid import cell_col

        with clock.span("grid.cell_col"):
            pages = self.spark.read.parquet(self.pages_path)
            tiled = pages.withColumn("cell", cell_col("lat", "lon", PAGES_RES))
        with clock.span("spatial.zonal_stats"):
            zonal = spatial.zonal_stats(tiled, self.polygons, PAGES_RES, "page_id")
        with clock.span("exec"):
            _noop(zonal)
            n = tiled.groupBy("cell").agg(F.count("*").alias("n")).agg(F.sum("n")).first()[0]
        return n == PAGES_N

    def _knn(self, sample: int, clock: SpanClock) -> bool:
        from rios_spark import spatial

        self.last_sample = sample
        with clock.span("grid.cell_col"):
            queries = self._cells(self.queries_paths[sample], KNN_RES)
            data = self._cells(self.pages_path, KNN_RES)
        counters: dict = {}
        with clock.span("spatial.knn_tiled"):
            out = spatial.knn_tiled(queries, data, KNN_K, KNN_RES, d_id="page_id",
                                    q_id="qid", counters=counters)
        with clock.span("exec"):
            _noop(out)
        clock.counts.update({
            "spatial.knn_tiled.escalation_rounds":
                sum(1 for k in counters if k.startswith("unproven_escalation_")),
            "spatial.knn_tiled.unproven_pass0": counters.get("unproven_pass0", 0),
            "spatial.knn_tiled.residual_rows": counters.get("residual_scan", 0),
            "spatial.knn_tiled.qk": KNN_Q * KNN_K,
        })
        return True

    def _apply(self, clock: SpanClock) -> bool:
        from rios_spark import applier, sources

        with clock.span("applier.apply"):
            out = applier.apply(
                neighbourhood_kernel,
                {"p": self._cells(self.tile_path, TILE_RES).select("cell", "page_id", "lat")},
                "cell long, page_id long, n_nbhd long, lat_mean double",
                margin=1, res=TILE_RES,
            )
        path = self._fresh("tiles")
        with clock.span("sources.write_tiled"):
            sources.write_tiled(out, path, TILE_RES)
        self.written.append(path)
        self.last_tiles = path
        return True

    def _split(self, clock: SpanClock) -> bool:
        from rios_spark.plans import adaptive_split

        with clock.span("plans.adaptive_split"):
            split = adaptive_split(self._cells(self.tile_path, TILE_RES), TILE_RES,
                                   self.split_rows)
        with clock.span("exec"):
            counts = split.groupBy("cell").agg(F.count("*").alias("n")).collect()
        return (sum(r["n"] for r in counts) == TILE_N
                and all(r["cell"] != self.hot_cell for r in counts))

    def _manifest(self, clock: SpanClock) -> bool:
        from rios_spark.plans import Manifest

        path = self._fresh("stage")
        tiled = self._cells(self.tile_path, TILE_RES).select("cell", "page_id", "url", "lang")
        with clock.span("plans.Manifest.run_stage"):
            stats = Manifest(self.spark, path + "_manifest").run_stage(
                f"job{self.seq}", "tile_write", tiled, path, payload_col="url")
        self.written.append(path)
        return stats["rows_written"] == TILE_N

    def _read(self, clock: SpanClock) -> bool:
        from rios_spark import sources

        with clock.span("sources.read_tiled"):
            df = sources.read_tiled(self.spark, self.last_tiles, TILE_RES, cells=self.read_cells)
        with clock.span("sources.table_info"):
            info = sources.table_info(df)
        return info.n_rows == self.read_rows and info.n_cells == len(self.read_cells)

    def ops(self, sample: int = 0) -> list[Op]:
        return [
            Op("zonal", PAGES_N, self._zonal),
            Op("knn_tiled", PAGES_N + KNN_Q, lambda clock: self._knn(sample, clock)),
            Op("apply_write", TILE_N, self._apply),
            Op("adaptive_split", TILE_N, self._split),
            Op("manifest_stage", TILE_N, self._manifest),
            Op("read_info", self.read_rows, self._read),
        ]

    def verify(self) -> list[str]:
        return self._verify_knn() + self._verify_written()

    def rounds(self, i: int) -> list[Op]:
        return self.ops(sample=(i + 1) % KNN_SAMPLES)  # the warm pass asked sample 0

    def _verify_knn(self) -> list[str]:
        """The last timed kNN call, re-run, against a brute-force scan of
        all pages for KNN_CHECK_Q of its queries: the same k distances per
        query, to 1 mm (the tiled kernel's distance arithmetic differs
        in the last bits)."""
        from rios_spark import spatial

        path = self.queries_paths[self.last_sample]
        queries = self._cells(path, KNN_RES)
        data = self._cells(self.pages_path, KNN_RES)
        q = pq.read_table(path).to_pandas().iloc[:KNN_CHECK_Q]
        got = spatial.knn_tiled(queries, data, KNN_K, KNN_RES, d_id="page_id", q_id="qid")
        got = got.filter(F.col("qid").isin(q["qid"].tolist())).select(
            "qid", "rank", "dist_km").toPandas()
        d = pq.read_table(self.pages_path).to_pandas()
        want = []
        for qid, lat, lon in q[["qid", "lat", "lon"]].itertuples(index=False):
            dist = spatial.haversine_km(lat, lon, d["lat"].to_numpy(), d["lon"].to_numpy())
            top = np.lexsort((d["page_id"].to_numpy(), dist))[:KNN_K]
            want += [(qid, r + 1, dist[i]) for r, i in enumerate(top)]
        want = pd.DataFrame(want, columns=["qid", "rank", "dist_km"])
        got["rank"] = got["rank"].astype("int64")
        return [f"knn_tiled vs brute force: {p}" for p in compare_frames(got, want, atol=1e-6)]

    def _verify_written(self) -> list[str]:
        problems = []
        for path in self.written:
            ids = pads.dataset(path, format="parquet", partitioning="hive").to_table(
                columns=["page_id"])["page_id"].to_numpy()
            distinct = len(np.unique(ids))
            if len(ids) != TILE_N or distinct != TILE_N:
                problems.append(f"{path}: {len(ids)} rows, {distinct} distinct page ids; "
                                f"want each of {TILE_N} exactly once")
        return problems

    def bytes_per_row(self) -> float:
        tiles = [p for p in self.written if p.endswith("_tiles")]
        return sum(_files_bytes(p) for p in tiles) / max(1, len(tiles) * TILE_N)


WORKLOADS = {w.name: w for w in (QueryMix, PagesScale)}
