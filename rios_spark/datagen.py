"""Deterministic synthetic fixtures (seed=42 convention, TESTDATA.md).

Three fixture families (FIXTURES.md):

- ``gen_pages``    — the north-rule input table: Common-Crawl-style web
  pages (url, warc_ts, html, text, lang) + derived geocodes (lat, lon).
  Host popularity is Zipf-skewed so a few hosts dominate → hot tiles,
  exercising the partial aggregation + adaptive-split paths. The html is
  a deterministic template embedding the text; ``extract_text`` must
  return the text byte-for-byte (the driver `input_hint` invariant).
- ``gen_polygons`` — PIP/zonal fixtures: small squares, one polygon
  covering many tiles, a convex pentagon, one polygon disjoint from all
  pages (anti-join case). Mirrors genVectorSquare
  (reference: rios/riostests/riostestutils.py:168-200).
- ``gen_ramp``     — the RIOS universal test raster, relational form:
  value = uint8((row+col)*100/(nRows-1+nCols-1)), one row per pixel,
  tiled into engine cells (reference: riostestutils.py:103-129).

Everything uses numpy's PCG64 generator, which is reproducible across
platforms and versions by specification.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

from rios_spark.grid import RES_MUL, Y_MUL, np_cell

SEED = 42
LANGS = ["en", "de", "fr", "es", "it"]
# tiny per-language vocabularies; shared "international" tokens too.
_VOCAB = {
    "en": "the of and to in for with data page web site news search home about".split(),
    "de": "der die das und von mit für seite daten netz suche start über neu".split(),
    "fr": "le la les et de pour avec page données site recherche accueil sur".split(),
    "es": "el la los y de para con página datos sitio búsqueda inicio sobre".split(),
    "it": "il la gli e di per con pagina dati sito ricerca inizio circa nuovo".split(),
}
_COMMON = "alpha beta gamma delta 2024 index html http table row".split()

# lat band for pages; the disjoint polygon lives strictly above it.
PAGE_LAT_MAX = 70.0
PAGE_LAT_MIN = -60.0


def zipf_hosts(rng: np.random.Generator, n: int, n_hosts: int, a: float = 1.1) -> np.ndarray:
    """Zipf-skewed host index per page (rank-1 host gets ~ its share)."""
    ranks = np.arange(1, n_hosts + 1, dtype=np.float64)
    p = ranks ** (-a)
    p /= p.sum()
    return rng.choice(n_hosts, size=n, p=p)


def gen_pages(n: int, seed: int = SEED, n_hosts: int | None = None) -> pd.DataFrame:
    """Deterministic pages table.

    Columns: url:str, warc_ts:datetime64[us], html:bytes, text:str,
    lang:str, lat:float64, lon:float64, page_id:int64.
    """
    rng = np.random.default_rng(seed)
    if n_hosts is None:
        n_hosts = max(8, n // 200)

    host_idx = zipf_hosts(rng, n, n_hosts)
    # per-host fixed attributes
    host_lang = rng.choice(len(LANGS), size=n_hosts)
    host_lat = rng.uniform(PAGE_LAT_MIN + 3.0, PAGE_LAT_MAX - 3.0, size=n_hosts)
    host_lon = rng.uniform(-177.0, 177.0, size=n_hosts)

    lang_i = host_lang[host_idx]
    # geocode: host centroid + gaussian jitter (pages of one host cluster
    # spatially -> hot tiles under Zipf host skew)
    lat = np.clip(host_lat[host_idx] + rng.normal(0, 1.5, n), PAGE_LAT_MIN, PAGE_LAT_MAX)
    lon = host_lon[host_idx] + rng.normal(0, 1.5, n)
    lon = (lon + 180.0) % 360.0 - 180.0

    ts_base = np.datetime64("2024-01-01T00:00:00", "us")
    warc_ts = ts_base + rng.integers(0, 365 * 24 * 3600, n) * np.timedelta64(1_000_000, "us")

    n_para = rng.integers(1, 4, n)
    para_len = rng.integers(8, 40, n)

    urls, texts, htmls = [], [], []
    for i in range(n):
        li = int(lang_i[i])
        vocab = _VOCAB[LANGS[li]] + _COMMON
        toks_per_para = int(para_len[i])
        paras = []
        for _ in range(int(n_para[i])):
            tok_ids = rng.integers(0, len(vocab), toks_per_para)
            paras.append(" ".join(vocab[t] for t in tok_ids))
        text = "\n\n".join(paras)
        url = f"https://host{host_idx[i]:05d}.example/p/{i}"
        title = f"host{host_idx[i]:05d} page {i}"
        body = "".join(f"<p>{p}</p>" for p in paras)
        html = (
            f'<html><head><meta charset="utf-8"><title>{title}</title></head>'
            f'<body><h1>{title}</h1>{body}<div class="footer">crawl 2024</div>'
            f"</body></html>"
        ).encode("utf-8")
        urls.append(url)
        texts.append(text)
        htmls.append(html)

    return pd.DataFrame(
        {
            "page_id": np.arange(n, dtype=np.int64),
            "url": urls,
            "warc_ts": warc_ts,
            "html": htmls,
            "text": texts,
            "lang": [LANGS[i] for i in lang_i],
            "lat": lat,
            "lon": lon,
        }
    )


def gen_pages_spark(spark, n: int, n_hosts: int | None = None, seed: int = SEED):
    """Bulk pages generator, entirely in Spark built-in expressions
    (JVM-side, distributed) — for bench-scale tables (millions of
    rows) where the pandas generator's Python loop is too slow.

    Same schema and invariants as gen_pages: Zipf-ish host skew (via a
    cubed-uniform rank transform), per-host centroid + jitter
    geocodes, deterministic text from a vocab, html embedding the text
    so extract_text(html) == text byte-for-byte. Deterministic in
    (n, n_hosts, seed) — pure expressions of the row id, no RNG state.
    """
    from pyspark.sql import functions as F

    if n_hosts is None:
        n_hosts = max(8, n // 2000)
    vocab = _VOCAB["en"] + _COMMON
    varr = F.array(*[F.lit(w) for w in vocab])

    def h(col, salt):
        # deterministic 32-bit hash chain (same shape as geocode_cols)
        return ((col + F.lit(salt)) * F.lit(2654435761)) % F.lit(4294967296)

    df = spark.range(n).withColumnRenamed("id", "page_id")
    u = h(F.col("page_id"), seed) / F.lit(4294967296.0)
    host = F.floor(F.lit(float(n_hosts)) * F.pow(u, F.lit(3.0))).cast("long")
    df = df.withColumn("host", host)
    hlat = h(F.col("host"), seed + 1) / F.lit(4294967296.0) * F.lit(124.0) - F.lit(57.0)
    hlon = h(F.col("host"), seed + 2) / F.lit(4294967296.0) * F.lit(354.0) - F.lit(177.0)
    jlat = (h(F.col("page_id"), seed + 3) / F.lit(4294967296.0) - F.lit(0.5)) * F.lit(3.0)
    jlon = (h(F.col("page_id"), seed + 4) / F.lit(4294967296.0) - F.lit(0.5)) * F.lit(3.0)
    ntok = (h(F.col("page_id"), seed + 5) % F.lit(24) + F.lit(8)).cast("int")
    toks = F.transform(
        F.sequence(F.lit(1), ntok),
        lambda i: F.element_at(varr, (h(F.col("page_id") * 31 + i.cast("long"), seed + 6) % F.lit(len(vocab))).cast("int") + F.lit(1)),
    )
    text = F.concat_ws(" ", toks)
    title = F.concat(F.lit("host"), F.lpad(F.col("host").cast("string"), 5, "0"),
                     F.lit(" page "), F.col("page_id").cast("string"))
    html = F.encode(
        F.concat(
            F.lit('<html><head><meta charset="utf-8"><title>'), title,
            F.lit("</title></head><body><h1>"), title, F.lit("</h1><p>"),
            text, F.lit('</p><div class="footer">crawl 2024</div></body></html>'),
        ),
        "utf-8",
    )
    ts = (F.lit("2024-01-01 00:00:00").cast("timestamp")
          + F.make_interval(secs=(h(F.col("page_id"), seed + 7) % F.lit(31536000)).cast("double")))
    return df.select(
        "page_id",
        F.concat(F.lit("https://host"), F.lpad(F.col("host").cast("string"), 5, "0"),
                 F.lit(".example/p/"), F.col("page_id").cast("string")).alias("url"),
        ts.alias("warc_ts"),
        html.alias("html"),
        text.alias("text"),
        F.element_at(F.array(*[F.lit(x) for x in LANGS]), (F.col("host") % F.lit(len(LANGS))).cast("int") + F.lit(1)).alias("lang"),
        (hlat + jlat).alias("lat"),
        (hlon + jlon).alias("lon"),
    )


def gen_embeddings_spark(spark, n: int, dim: int = 64, n_clusters: int = 32, seed: int = SEED):
    """Bulk embedding table (vec_id, embedding: array<float>, label) —
    clustered unit vectors, generated distributed via mapInPandas
    (deterministic per vec_id, independent of partitioning)."""
    import pandas as pd
    from pyspark.sql import functions as F  # noqa: F401

    rng = np.random.default_rng(seed)
    centroids = rng.normal(size=(n_clusters, dim))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)

    def kern(it):
        for pdf in it:
            ids = pdf["id"].to_numpy()
            out_emb = []
            labels = np.empty(len(ids), np.int32)
            for i, vid in enumerate(ids):
                r = np.random.default_rng(seed * 1_000_003 + int(vid))
                lab = int(r.integers(0, n_clusters))
                v = centroids[lab] + r.normal(0, 0.35, dim)
                v /= np.linalg.norm(v)
                labels[i] = lab
                out_emb.append(v.astype(np.float32).tolist())
            yield pd.DataFrame({"vec_id": ids, "embedding": out_emb, "label": labels})

    return spark.range(n).mapInPandas(
        kern, "vec_id long, embedding array<float>, label int"
    )


_P_RE = re.compile(rb"<p>(.*?)</p>", re.DOTALL)


def extract_text(html: bytes) -> str:
    """Deterministic html→text: the driver `input_hint` invariant
    (byte-identical per url). Pure function of the html bytes; used
    inside an Arrow-batched pandas UDF (textops.extract_text_udf)."""
    paras = _P_RE.findall(html)
    return b"\n\n".join(paras).decode("utf-8")


def gen_polygons(seed: int = SEED) -> pd.DataFrame:
    """PIP fixtures. Columns: polygon_id:int, name:str, kind:str,
    xs:list[float] (lon ring), ys:list[float] (lat ring), closed rings
    stored open (first vertex not repeated)."""
    rng = np.random.default_rng(seed + 1)
    polys = []
    pid = 0
    # 12 small squares scattered inside the page band
    for _ in range(12):
        cx = rng.uniform(-160, 160)
        cy = rng.uniform(PAGE_LAT_MIN + 5, PAGE_LAT_MAX - 5)
        w = rng.uniform(2.0, 8.0)
        h = rng.uniform(2.0, 8.0)
        polys.append(
            (pid, f"square_{pid}", "square",
             [cx - w, cx + w, cx + w, cx - w], [cy - h, cy - h, cy + h, cy + h])
        )
        pid += 1
    # one big polygon covering many tiles
    polys.append((pid, "big_band", "big", [-150.0, 150.0, 150.0, -150.0], [-30.0, -30.0, 30.0, 30.0]))
    pid += 1
    # a convex pentagon
    ang = np.linspace(0, 2 * np.pi, 6)[:-1] + 0.3
    polys.append((pid, "pentagon", "convex", list(40 + 25 * np.cos(ang)), list(10 + 20 * np.sin(ang))))
    pid += 1
    # disjoint: strictly above the page latitude band (anti-join case,
    # reference: rios/riostests/testvector.py:76-83)
    polys.append((pid, "disjoint_arctic", "disjoint", [-60.0, 60.0, 60.0, -60.0], [80.0, 80.0, 88.0, 88.0]))
    pid += 1
    return pd.DataFrame(polys, columns=["polygon_id", "name", "kind", "xs", "ys"])


def gen_ramp(
    nrows: int = 500,
    ncols: int = 500,
    tile: int = 25,
    res: int = 10,
    reverse: bool = False,
    null_val: int | None = None,
    row0: int = 0,
    col0: int = 0,
) -> pd.DataFrame:
    """RIOS ramp raster in relational form (riostestutils.py:103-129).

    One row per pixel: cell (engine cell id at `res`, tiles of
    `tile` x `tile` pixels), row, col (global), value (uint8 ramp).
    row0/col0 shift the image on the global pixel grid (footprint
    tests, reference: rios/riostests/testfootprint.py:39-88).
    `reverse` flips left-right; `null_val` pokes a null square like
    teststats does (value replaced, returned as NULL).
    """
    rows, cols = np.meshgrid(np.arange(nrows), np.arange(ncols), indexing="ij")
    rows = rows.ravel() + row0
    cols = cols.ravel() + col0
    ramp = ((rows - row0) + (cols - col0)) * 100.0 / (nrows - 1 + ncols - 1)
    if reverse:
        ramp = ((rows - row0) + (ncols - 1 - (cols - col0))) * 100.0 / (nrows - 1 + ncols - 1)
    value = ramp.astype(np.uint8).astype(np.int32)
    ty = rows // tile
    tx = cols // tile
    cell = res * RES_MUL + ty.astype(np.int64) * Y_MUL + tx.astype(np.int64)
    df = pd.DataFrame(
        {"cell": cell, "row": rows.astype(np.int32), "col": cols.astype(np.int32),
         "value": value}
    )
    if null_val is not None:
        df.loc[df["value"] == null_val, "value"] = None
        df["value"] = df["value"].astype("Int32")
    return df
