"""Deduplication operators for web-scale training-data pipelines.

Five families, each scale-designed (candidate generation is always a
bucket equi-join — never an all-pairs cross join — so the shuffle is
on bucket keys and hot buckets split under AQE):

- exact        : md5 content hash groupBy — one shuffle
- minhash LSH  : word-shingle minhash signatures (Arrow-batched numpy)
                 → banded bucket join → signature-similarity verify
- simhash      : 64-bit simhash, banded hamming candidates + verify
- n-gram jaccard: exact jaccard verification over minhash candidates
- embedding    : cosine near-dup via random-hyperplane LSH buckets

Determinism: all hash functions are md5-derived or fixed-seed
multiplicative — re-runs and different partitionings give identical
results (the engine's answer-invariance-under-concurrency contract,
mirroring rios/riostests/testavgthreads.py).
"""

from __future__ import annotations

import hashlib
import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rios_spark.plans import sizing

MERSENNE61 = (1 << 61) - 1


# --- exact -------------------------------------------------------------------

def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep the lowest-id row per exact content hash. One shuffle
    (partial+final min agg), then a semi join back — no row movement of
    the payload until the keep-set is known."""
    h = F.md5(F.col(text_col)).alias("__h")
    keep = (
        df.select(h, F.col(id_col))
        .groupBy("__h")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(keep, id_col, "left_semi")


def exact_dup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(content_hash, n_docs, keep_id) for groups with >1 member."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("keep_id"))
        .filter(F.col("n_docs") > 1)
    )


# --- minhash -----------------------------------------------------------------

def _hash_params(num_hashes: int, seed: int = 42) -> tuple[np.ndarray, np.ndarray]:
    # a < 2^31 and shingle bases reduced to 30 bits keep a*base+b < 2^62:
    # the whole minhash update is overflow-free int64 numpy (fast path)
    rng = np.random.default_rng(seed)
    a = rng.integers(1, 1 << 31, num_hashes, dtype=np.int64)
    b = rng.integers(0, 1 << 31, num_hashes, dtype=np.int64)
    return a, b


def _shingle_base_hashes(text: str, w: int) -> np.ndarray:
    toks = text.split()
    if len(toks) < w:
        shingles = [" ".join(toks)] if toks else [""]
    else:
        shingles = [" ".join(toks[i : i + w]) for i in range(len(toks) - w + 1)]
    out = np.empty(len(shingles), np.int64)
    for i, s in enumerate(shingles):
        out[i] = int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)
    return out


def minhash_signatures(
    df: DataFrame, text_col: str, id_col: str, num_hashes: int = 64, shingle_w: int = 3
) -> DataFrame:
    """(id, sig: array<long>) — per-doc minhash signature.

    Arrow-batched numpy: for each doc, base = md5-60bit per shingle;
    sig_i = min over shingles of (a_i * base + b_i) mod 2^61-1.
    Zero shuffle — a pure map stage.
    """
    a, b = _hash_params(num_hashes)

    def kern(it):
        for pdf in it:
            sigs = []
            for t in pdf[text_col]:
                base = _shingle_base_hashes(t or "", shingle_w) & ((1 << 30) - 1)
                m = (a[:, None] * base[None, :] + b[:, None]) % MERSENNE61
                sigs.append(m.min(axis=1))
            yield pd.DataFrame(
                {id_col: pdf[id_col], "sig": [s.tolist() for s in sigs]}
            )

    schema = T.StructType(
        [df.schema[id_col], T.StructField("sig", T.ArrayType(T.LongType()))]
    )
    return df.select(id_col, text_col).mapInPandas(kern, schema)


def minhash_lsh_pairs(
    sigs: DataFrame,
    id_col: str,
    bands: int = 16,
    threshold: float = 0.7,
) -> DataFrame:
    """Candidate pairs via banded LSH + signature-jaccard verify.

    Band hash = xxhash64 of the band's slice; bucket join on
    (band, band_hash); pairs deduped (id1 < id2); estimated jaccard =
    fraction of agreeing signature positions; keep >= threshold.
    """
    num_hashes = len(sigs.select("sig").first()["sig"])
    rows_per_band = num_hashes // bands
    band_cols = []
    for bi in range(bands):
        sl = F.slice("sig", bi * rows_per_band + 1, rows_per_band)
        band_cols.append(F.struct(F.lit(bi).alias("band"), F.xxhash64(sl).alias("bh")))
    exploded = sigs.select(
        F.col(id_col), "sig", F.explode(F.array(*band_cols)).alias("b")
    ).select(id_col, "sig", "b.band", "b.bh")

    left = exploded.select(
        F.col(id_col).alias("id1"), F.col("sig").alias("sig1"), "band", "bh"
    )
    right = exploded.select(
        F.col(id_col).alias("id2"), F.col("sig").alias("sig2"), "band", "bh"
    )
    cand = (
        left.join(right, ["band", "bh"])
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2", "sig1", "sig2")
        .dropDuplicates(["id1", "id2"])
    )
    agree = F.size(F.filter(F.zip_with("sig1", "sig2", lambda x, y: x == y), lambda v: v))
    est = agree.cast("double") / F.lit(float(num_hashes))
    return (
        cand.withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= threshold)
        .select("id1", "id2", "est_jaccard")
    )


# --- exact n-gram jaccard verify ---------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str,
    id_col: str,
    w: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """Exact w-shingle jaccard for candidate pairs (id1, id2).

    The verify stage of the dedup pipeline: join texts to both sides
    (the candidate set is small relative to the corpus), compute exact
    set jaccard in an Arrow batch.
    """
    t1 = df.select(F.col(id_col).alias("id1"), F.col(text_col).alias("t1"))
    t2 = df.select(F.col(id_col).alias("id2"), F.col(text_col).alias("t2"))
    joined = candidates.select("id1", "id2").join(t1, "id1").join(t2, "id2")

    def kern(it):
        for pdf in it:
            jac = np.empty(len(pdf), np.float64)
            for i, (a, b) in enumerate(zip(pdf["t1"], pdf["t2"])):
                sa = set(map(tuple, _ngrams((a or "").split(), w)))
                sb = set(map(tuple, _ngrams((b or "").split(), w)))
                u = len(sa | sb)
                jac[i] = (len(sa & sb) / u) if u else 1.0
            out = pdf[["id1", "id2"]].copy()
            out["jaccard"] = jac
            yield out

    schema = "id1 long, id2 long, jaccard double"
    return joined.mapInPandas(kern, schema).filter(F.col("jaccard") >= threshold)


def _ngrams(toks: list, w: int):
    if len(toks) < w:
        return [tuple(toks)] if toks else []
    return [tuple(toks[i : i + w]) for i in range(len(toks) - w + 1)]


# --- simhash -----------------------------------------------------------------

# tokenizer shared (by value) with the DuckDB simhash oracle: RE2's \s
# is the ASCII class [\t\n\f\r ] only, while Python str.split() breaks
# on UNICODE whitespace (NBSP, ideographic space, ...) — a document
# containing U+00A0 would simhash differently in the two engines
# (ADVICE r4). Both sides now split on the same ASCII class, so parity
# holds on any corpus, not just ASCII-whitespace ones.
_SIMHASH_WS = re.compile("[\t\n\f\r ]+")


def simhash_col_udf():
    """64-bit simhash as an Arrow-batched UDF: per token, md5-derived
    64-bit hash votes +1/-1 per bit; sign of the vote sum is the bit.
    Tokens are runs of non-whitespace under RE2's ASCII \\s class (see
    _SIMHASH_WS) — identical to the O_SIMHASH_DOCS oracle's
    string_split_regex(text, '\\s+')."""

    @F.pandas_udf(T.LongType())
    def simhash(text: pd.Series) -> pd.Series:
        # batch-vectorized: hash each UNIQUE token once per Arrow batch
        # (documents share most vocabulary), then accumulate ±1 bit
        # votes with matrix sums — identical output to the naive
        # per-token loop, ~vocabulary/occurrences times fewer md5 calls
        token_lists = [
            [tok for tok in _SIMHASH_WS.split(t or "") if tok] for t in text
        ]
        vocab: dict[str, int] = {}
        for toks in token_lists:
            for tok in toks:
                if tok not in vocab:
                    vocab[tok] = len(vocab)
        shifts = np.arange(64, dtype=np.uint64)
        H = np.empty((max(len(vocab), 1), 64), np.int64)
        for tok, i in vocab.items():
            h = np.uint64(int(hashlib.md5(tok.encode("utf-8")).hexdigest()[:16], 16))
            H[i] = ((h >> shifts) & np.uint64(1)).astype(np.int64)
        H = 2 * H - 1
        out = np.zeros(len(text), np.int64)
        for r, toks in enumerate(token_lists):
            if not toks:
                continue
            rows = np.fromiter((vocab[t] for t in toks), np.int64, len(toks))
            votes = H[rows].sum(axis=0)
            sh = ((votes > 0).astype(np.uint64) << shifts).sum()
            out[r] = np.uint64(sh).astype(np.int64)
        return pd.Series(out)

    return simhash


def simhash_pairs(
    df: DataFrame, id_col: str, simhash_col: str = "simhash", max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs by simhash: 4 bands of 16 bits generate
    candidates (any pair within hamming<=3 of 64 bits shares at least
    one exact 16-bit band by pigeonhole... for <=3 flipped bits over 4
    bands), verified by exact popcount hamming distance (bit_count —
    JVM-side)."""
    bands = [
        F.shiftright(F.col(simhash_col), 16 * i).bitwiseAND(F.lit(0xFFFF).cast("long"))
        for i in range(4)
    ]
    exploded = df.select(
        F.col(id_col),
        F.col(simhash_col),
        F.explode(
            F.array(*[F.struct(F.lit(i).alias("band"), b.alias("bh")) for i, b in enumerate(bands)])
        ).alias("b"),
    ).select(id_col, simhash_col, "b.band", "b.bh")
    left = exploded.select(F.col(id_col).alias("id1"), F.col(simhash_col).alias("s1"), "band", "bh")
    right = exploded.select(F.col(id_col).alias("id2"), F.col(simhash_col).alias("s2"), "band", "bh")
    ham = F.bit_count(F.col("s1").bitwiseXOR(F.col("s2")))
    return (
        left.join(right, ["band", "bh"])
        .filter(F.col("id1") < F.col("id2"))
        .dropDuplicates(["id1", "id2"])
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("id1", "id2", "hamming")
    )


# --- rolling-hash fingerprint near-dup ---------------------------------------


def fingerprint_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    sample_mod: int = 64,
    min_shared: int = 2,
    max_df: int = 50,
) -> DataFrame:
    """Near-dup candidate pairs from shared rolling-hash fingerprints
    (textops.doc_fingerprints): docs sharing >= min_shared sampled
    k-gram fingerprints. The copy-detection scheme of Manber's sif —
    position-independent, so plagiarized/mirrored passages match at
    any offset, complementary to minhash (whole-doc similarity) and
    simhash (bit-vote distance).

    Scale shape: candidates come from grouping on the fingerprint —
    never all-pairs over documents. A fingerprint shared by f docs
    emits f^2 pairs, so non-discriminative fingerprints (boilerplate
    shingles appearing in > max_df docs) are dropped first: the same
    stop-shingle guard every production copy-detector applies, and the
    hot-bucket bound that keeps the pair generation linear-ish at
    corpus scale.

    ONE scan of the fingerprint set (r5): the previous self-join
    recomputed the whole O(len log k) fingerprint expression for BOTH
    join branches (Spark does not share common subplans across a
    self-join) plus a window pass for the df guard — measured ~2x the
    necessary work at sf0.1. Now a single groupBy collects each
    fingerprint's sorted doc list, the df guard is a size() filter on
    that list (no window), and the id1 < id2 pairs are generated
    INSIDE the array with an indexed transform before exploding.
    Shuffles: one on fp + one on (id1, id2) — the minimum.

    Output: (id1, id2, n_shared), id1 < id2."""
    from rios_spark.textops import doc_fingerprints

    fps = doc_fingerprints(df, text_col, id_col, k, sample_mod)
    return _pairs_from_fps(fps, id_col, min_shared, max_df)


def _pairs_from_fps(
    fps: DataFrame, id_col: str, min_shared: int, max_df: int
) -> DataFrame:
    """Shared pair generation over any (id, fp) fingerprint frame —
    see fingerprint_near_dup_pairs for the plan-shape rationale."""
    grouped = (
        fps.groupBy("fp")
        .agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= max_df))
    )
    pairs = grouped.select(
        F.explode(
            F.expr(
                "flatten(transform(ids, (x, i) ->"
                " transform(slice(ids, i + 2, size(ids) - i - 1),"
                "           y -> named_struct('id1', x, 'id2', y))))"
            )
        ).alias("p")
    ).select("p.id1", "p.id2")
    return (
        pairs.groupBy("id1", "id2")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def winnow_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    w: int = 16,
    min_shared: int = 2,
    max_df: int = 50,
) -> DataFrame:
    """Near-dup pairs from WINNOWED fingerprints — the guaranteed-
    detection variant of fingerprint_near_dup_pairs: 0-mod-p sampling
    can miss a shared passage by sampling luck, but winnowing selects
    at least one fingerprint from EVERY w-window, so any shared
    substring of >= w + k - 1 chars is guaranteed to produce a shared
    fingerprint (min_shared=1 preserves that guarantee end-to-end;
    min_shared=2 trades it for precision). Density ~2/(w+1) of
    positions vs 1/p — more candidate volume for the same corpus, the
    price of the guarantee. Same one-scan group-and-pair plan; the
    stop-shingle max_df guard applies identically."""
    from rios_spark.textops import doc_fingerprints_winnow

    fps = doc_fingerprints_winnow(df, text_col, id_col, k=k, w=w)
    return _pairs_from_fps(fps, id_col, min_shared, max_df)


def fingerprint_near_dup_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    sample_mod: int = 64,
    min_shared: int = 2,
    max_df: int = 50,
) -> str:
    """DuckDB oracle for fingerprint_near_dup_pairs."""
    from rios_spark.textops import doc_fingerprints_sql

    fp_sql = doc_fingerprints_sql(table, text_col, id_col, k, sample_mod)
    return f"""
WITH fps AS ({fp_sql}),
rare AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= {max_df}),
kept AS (SELECT f.* FROM fps f JOIN rare USING (fp))
SELECT a.{id_col} AS id1, b.{id_col} AS id2, count(*) AS n_shared
FROM kept a JOIN kept b USING (fp)
WHERE a.{id_col} < b.{id_col}
GROUP BY 1, 2
HAVING count(*) >= {min_shared}
"""


def winnow_near_dup_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    w: int = 16,
    min_shared: int = 2,
    max_df: int = 50,
) -> str:
    """DuckDB oracle for winnow_near_dup_pairs — the winnowed
    fingerprint CTE feeding the identical pair SQL."""
    from rios_spark.textops import doc_fingerprints_winnow_sql

    fp_sql = doc_fingerprints_winnow_sql(table, text_col, id_col, k, w)
    return f"""
WITH fps AS ({fp_sql}),
rare AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= {max_df}),
kept AS (SELECT f.* FROM fps f JOIN rare USING (fp))
SELECT a.{id_col} AS id1, b.{id_col} AS id2, count(*) AS n_shared
FROM kept a JOIN kept b USING (fp)
WHERE a.{id_col} < b.{id_col}
GROUP BY 1, 2
HAVING count(*) >= {min_shared}
"""


# --- embedding cosine --------------------------------------------------------

_PAIR_SCHEMA = "id1 long, id2 long, cosine double"


def _empty_pairs() -> pd.DataFrame:
    return pd.DataFrame({"id1": [], "id2": [], "cosine": []}).astype(
        {"id1": np.int64, "id2": np.int64, "cosine": np.float64}
    )


def _norm_mat(pdf: pd.DataFrame, col: str = "emb") -> np.ndarray:
    mat = np.stack(pdf[col].map(np.asarray).to_list()).astype(np.float64)
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return mat / norms


def _hyperplane_keys(mat: np.ndarray, hv: np.ndarray) -> np.ndarray:
    signs = (mat @ hv) > 0
    return (signs.astype(np.int64) << np.arange(signs.shape[1])).sum(axis=1)


def pairs_f32_slack(dim: int) -> float:
    """f32 candidate-pass slack of the exact all-pairs kernel (r7): the
    N^2 GEMM runs in float32 (2x the FLOP rate, half the matrix
    bandwidth of dgemm) and shortlists pairs with sim32 >= threshold -
    slack; the shortlist is then re-verified with an exact float64
    per-pair dot, which alone decides membership AND supplies the
    emitted cosine. Unit-norm f64 -> f32 cast error is <= 2^-24 per
    element and a dim-term f32 accumulated dot adds <= ~dim * 2^-23,
    so 2 * (dim + 2) * 2^-23 bounds |sim32 - sim64| with a 2x margin.
    The floor of 1e-3 (a ~100x margin at 64 dims) holds up to ~4k
    dims; past it the slack grows with dim, so the shortlist can never
    drop a true pair. A too-big slack only costs a few extra exact
    verifications, never correctness."""
    return max(1e-3, 2.0 * (dim + 2) * 2.0**-23)


def _pairs_above(
    ida: np.ndarray,
    A: np.ndarray,
    threshold: float,
    idb: np.ndarray | None = None,
    B: np.ndarray | None = None,
) -> pd.DataFrame:
    """Every pair with cosine >= threshold, as (id1 < id2, cosine):
    between the rows of A and those of B, or, without B, within A (each
    unordered pair once). Rows are unit vectors. The similarity matrix
    is built in row chunks of at most sizing.GEMM_BUDGET elements (the
    upper triangle only, within A) as an f32 shortlist
    (pairs_f32_slack); an exact f64 per-pair dot then decides membership
    and gives the emitted cosine. So memory stays bounded however many
    rows one bucket or block holds."""
    within = B is None
    if within:
        idb, B = ida, A
    A32 = A.astype(np.float32)
    B32 = A32 if within else B.astype(np.float32)
    thr32 = threshold - pairs_f32_slack(A.shape[1])
    outs = []
    s = 0
    while s < len(A):
        c0 = s if within else 0  # within A, columns s: hold the upper triangle
        e = min(len(A), s + max(1, sizing.GEMM_BUDGET // max(1, len(B) - c0)))
        ii, jj = np.nonzero(A32[s:e] @ B32[c0:].T >= thr32)
        ii, jj = ii + s, jj + c0
        if within:
            keep = ii < jj
            ii, jj = ii[keep], jj[keep]
        sim = np.einsum("ij,ij->i", A[ii], B[jj])
        keep = sim >= threshold
        ii, jj, sim = ii[keep], jj[keep], sim[keep]
        outs.append(
            pd.DataFrame(
                {
                    "id1": np.minimum(ida[ii], idb[jj]),
                    "id2": np.maximum(ida[ii], idb[jj]),
                    "cosine": sim,
                }
            )
        )
        s = e
    return pd.concat(outs, ignore_index=True) if outs else _empty_pairs()


def embedding_all_pairs_exact(
    df: DataFrame,
    emb_col: str,
    id_col: str,
    threshold: float,
    block_rows: int = 20_000,
) -> DataFrame:
    """EXACT cosine near-duplicate pairs at any input size: the O(N^2)
    verification is tiled over block PAIRS instead of sparsified.

    Rows hash into ceil(N/block_rows) blocks; every unordered block
    pair (i <= j) is one applyInPandas task holding <= 2*block_rows
    rows, whose similarity matrix is GEMM-chunked to sizing.GEMM_BUDGET
    elements and evaluated as an f32 candidate pass + exact f64
    per-pair verification (pairs_f32_slack — membership and the
    emitted cosine both come from the f64 recompute). Each unordered id pair is computed in EXACTLY one task,
    so no dedup pass is needed and the result is the full pair set —
    the guarantee `embedding_near_dup(planes=0)` advertises, which the
    hot-bucket sparsification cannot honor above max_bucket_rows
    (round-2 ADVICE). Cost is the honest quadratic: rows shuffle
    nblocks times and tasks number nblocks*(nblocks+1)/2 — callers
    wanting subquadratic behavior use the LSH mode (planes > 0)."""
    import math

    n = sizing.fast_count(df)
    # parallelism-aware tiling (guide §2): block_rows only CAPS the
    # block size — at 20k rows a single block would run the entire N^2
    # GEMM in ONE applyInPandas task while every other core idles.
    # Split until block-pair tasks (~t(t+1)/2) cover the cores, but
    # never below ~1.5k rows/block so each task's GEMM stays amortized;
    # tiny inputs keep one block.
    par = df.sparkSession.sparkContext.defaultParallelism
    t_cover = math.ceil((math.sqrt(8.0 * par + 1) - 1) / 2)
    nblocks = max(
        1,
        math.ceil(n / max(block_rows, 1)),
        min(t_cover, math.ceil(n / 1536)),
    )
    rows = df.select(
        F.col(id_col).alias("id"), F.col(emb_col).alias("emb")
    ).withColumn("__b", F.pmod(F.xxhash64(F.col("id")), F.lit(nblocks)).cast("int"))
    other = F.explode(F.sequence(F.lit(0), F.lit(nblocks - 1))).alias("__o")
    tasked = rows.select("id", "emb", "__b", other).withColumn(
        "__task",
        (F.least("__b", "__o") * nblocks + F.greatest("__b", "__o")).cast("long"),
    )

    def pairs_task(key, pdf: pd.DataFrame) -> pd.DataFrame:
        task = int(key[0])
        lo, hi = task // nblocks, task % nblocks
        if len(pdf) < 2:
            return _empty_pairs()
        ids = pdf["id"].to_numpy(np.int64)
        mat = _norm_mat(pdf)
        if lo == hi:
            return _pairs_above(ids, mat, threshold)
        a_m = pdf["__b"].to_numpy() == lo
        return _pairs_above(ids[a_m], mat[a_m], threshold, ids[~a_m], mat[~a_m])

    return tasked.groupBy("__task").applyInPandas(pairs_task, _PAIR_SCHEMA)


def embedding_near_dup(
    df: DataFrame,
    emb_col: str,
    id_col: str,
    threshold: float = 0.95,
    planes: int = 12,
    seed: int = 42,
    max_bucket_rows: int = 100_000,
    sub_planes: int = 8,
) -> DataFrame:
    """Cosine near-duplicate pairs via random-hyperplane LSH.

    Bucket = sign pattern of `planes` random projections (one int key);
    within-bucket exact cosine via numpy in an Arrow batch. Recall is
    per-bucket (standard LSH trade-off); raise `planes` for precision,
    add rotations for recall. Exact verification means NO false
    positives ever.

    Hot buckets (> max_bucket_rows — a dense cluster landing millions of
    rows in one O(b^2) task was the round-1 scale hazard) are handled in
    two stages:
    1. re-bucket with `sub_planes` EXTRA hyperplanes — separates buckets
       that were hot by hash coincidence (diverse vectors);
    2. sub-buckets still hot are true near-identical clusters, where
       extra planes cannot split (identical projections) and the full
       pair set is itself O(b^2) rows. Those switch to a STAR
       SPARSIFICATION: rows hash-shard to tasks of <= max_bucket_rows,
       each shard emits (representative=min id, member) pairs (a
       matrix-VECTOR product, linear), and the per-shard representatives
       pair up exactly within the sub-bucket. Connected components —
       what dedup keep-one policies consume — are preserved whenever the
       cluster is transitively linked at `threshold`, which is exactly
       the near-identical case that triggers this path.

    planes=0 is EXACT mode: it bypasses LSH and hot-bucket
    sparsification entirely and tiles the all-pairs verification over
    block pairs (embedding_all_pairs_exact) — the full pair set at any
    input size, at honest quadratic cost (round-2 ADVICE: the old
    single-bucket path silently went approximate past max_bucket_rows).
    """
    if planes == 0:
        return embedding_all_pairs_exact(
            df, emb_col, id_col, threshold,
            block_rows=min(max_bucket_rows, 20_000),
        )
    first = df.select(emb_col).first()
    dim = len(first[emb_col])
    rng = np.random.default_rng(seed)
    h = rng.normal(size=(dim, planes))
    h2 = rng.normal(size=(dim, sub_planes))
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast((h, h2))

    def bucketize(it):
        hv, _ = bc.value
        for pdf in it:
            key = _hyperplane_keys(_norm_mat(pdf, emb_col), hv)
            yield pd.DataFrame({"id": pdf[id_col], "bucket": key, "emb": pdf[emb_col]})

    bucketed = df.select(id_col, emb_col).mapInPandas(
        bucketize, "id long, bucket long, emb array<float>"
    )

    def pairs_in_bucket(key, pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return _empty_pairs()
        return _pairs_above(pdf["id"].to_numpy(np.int64), _norm_mat(pdf), threshold)

    counts = bucketed.groupBy("bucket").count()
    hot = counts.filter(F.col("count") > max_bucket_rows).select("bucket")
    if hot.limit(1).count() == 0:
        return (
            bucketed.groupBy("bucket")
            .applyInPandas(pairs_in_bucket, _PAIR_SCHEMA)
            .dropDuplicates(["id1", "id2"])
        )

    cold_pairs = (
        bucketed.join(F.broadcast(hot), "bucket", "left_anti")
        .groupBy("bucket")
        .applyInPandas(pairs_in_bucket, _PAIR_SCHEMA)
    )

    # stage 1: extra hyperplanes on the hot rows only
    def sub_bucketize(it):
        _, hv2 = bc.value
        for pdf in it:
            if len(pdf) == 0:
                continue
            sub = _hyperplane_keys(_norm_mat(pdf), hv2)
            out = pdf[["id", "bucket", "emb"]].copy()
            out["bucket"] = out["bucket"].to_numpy(np.int64) * (1 << sub_planes) + sub
            yield out

    hot_rows = bucketed.join(F.broadcast(hot), "bucket", "left_semi")
    sub = hot_rows.mapInPandas(sub_bucketize, "id long, bucket long, emb array<float>")
    counts2 = sub.groupBy("bucket").count()
    hot2 = counts2.filter(F.col("count") > max_bucket_rows)
    sub_cold_pairs = (
        sub.join(F.broadcast(hot2.select("bucket")), "bucket", "left_anti")
        .groupBy("bucket")
        .applyInPandas(pairs_in_bucket, _PAIR_SCHEMA)
    )
    if hot2.limit(1).count() == 0:
        return (
            cold_pairs.unionByName(sub_cold_pairs).dropDuplicates(["id1", "id2"])
        )

    # stage 2: star sparsification of true near-identical clusters
    nshards = F.ceil(F.col("count") / F.lit(max_bucket_rows)).cast("int")
    hot2_rows = (
        sub.join(F.broadcast(hot2.withColumn("__ns", nshards).drop("count")), "bucket")
        .withColumn("__shard", F.pmod(F.xxhash64("id"), F.col("__ns")).cast("int"))
        .drop("__ns")
    )

    def star_in_shard(key, pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return _empty_pairs()
        ids = pdf["id"].to_numpy(np.int64)
        mat = _norm_mat(pdf)
        r = int(np.argmin(ids))
        sim = mat @ mat[r]
        keep = (sim >= threshold) & (ids != ids[r])
        return pd.DataFrame(
            {
                "id1": np.minimum(ids[keep], ids[r]),
                "id2": np.maximum(ids[keep], ids[r]),
                "cosine": sim[keep],
            }
        )

    star_pairs = hot2_rows.groupBy("bucket", "__shard").applyInPandas(
        star_in_shard, _PAIR_SCHEMA
    )
    reps = hot2_rows.groupBy("bucket", "__shard").agg(F.min("id").alias("id"))
    rep_rows = hot2_rows.join(F.broadcast(reps), ["bucket", "__shard", "id"], "inner")
    rep_pairs = rep_rows.groupBy("bucket").applyInPandas(pairs_in_bucket, _PAIR_SCHEMA)

    return (
        cold_pairs.unionByName(sub_cold_pairs)
        .unionByName(star_pairs)
        .unionByName(rep_pairs)
        .dropDuplicates(["id1", "id2"])
    )
