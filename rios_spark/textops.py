"""Text analysis operators over the pages/documents tables.

These are the web-text counterparts of RIOS's per-block kernels: pure
functions of one row's text, evaluated vectorized. Wherever the
computation is expressible with built-in Spark SQL functions we stay
JVM-side (whole-stage codegen, and a DuckDB-translatable oracle);
only html parsing and language scoring use Arrow-batched pandas UDFs.

Operators (SURVEY.md §2.8 D2 + the training-data additions):
- extract_text_udf — deterministic html→text (byte-identical per url,
  the driver input_hint invariant; see datagen.extract_text)
- token_count_col / bpe_token_count_col — whitespace and BPE-ish
  regex token counts (built-in expressions)
- quality_score_col — length/punctuation/uppercase/digit ratios
  composite (built-in expressions)
- fingerprint_col — 60-bit md5-based document fingerprint; identical
  arithmetic exists in DuckDB for the oracle
- lang_id_udf — stopword-overlap n-gram heuristic language id
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from rios_spark.datagen import _VOCAB, extract_text
from rios_spark.plans import sizing


# --- html → text ------------------------------------------------------------

@F.pandas_udf(StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    """Arrow-batched html→text. extractor(html) == text byte-for-byte
    for every url (verified in tests and by the sha2 invariant query)."""
    return html.map(lambda b: extract_text(bytes(b)))


# --- token counting (built-in expressions, JVM-side) ------------------------

def token_count_col(text: Column | str) -> Column:
    """Whitespace token count. DuckDB oracle:
    len(regexp_split_to_array(trim(text), '\\s+'))."""
    t = F.col(text) if isinstance(text, str) else text
    return F.when(F.length(F.trim(t)) == 0, F.lit(0)).otherwise(
        F.size(F.split(F.trim(t), r"\s+"))
    )


def bpe_token_count_col(text: Column | str) -> Column:
    """BPE-ish token count: word pieces + standalone digits/punct.
    Counts matches of a GPT-2-style pre-tokenizer regex (simplified to
    what Spark and DuckDB both support): runs of letters, runs of
    digits, single non-space symbols."""
    t = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(t, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"))


# --- quality scoring ---------------------------------------------------------

def quality_score_col(text: Column | str) -> Column:
    """Heuristic quality in [0,1]: favors mid-length docs with low
    punctuation/digit density. Deterministic closed form so the oracle
    can reproduce it:
      len_score  = least(1, n_chars / 500)
      punct_frac = punct_chars / n_chars
      digit_frac = digit_chars / n_chars
      score      = round(len_score * (1 - punct_frac) * (1 - digit_frac), 6)
    """
    t = F.col(text) if isinstance(text, str) else text
    n = F.length(t).cast("double")
    punct = F.regexp_count(t, F.lit(r"[^\w\s]")).cast("double")
    digit = F.regexp_count(t, F.lit(r"[0-9]")).cast("double")
    len_score = F.least(F.lit(1.0), n / F.lit(500.0))
    score = len_score * (F.lit(1.0) - punct / n) * (F.lit(1.0) - digit / n)
    return F.when(n > 0, F.round(score, 6)).otherwise(F.lit(0.0))


# --- fingerprinting ----------------------------------------------------------

def fingerprint_col(text: Column | str) -> Column:
    """60-bit content fingerprint: first 15 hex chars of md5.
    Spark: conv(substr(md5(text),1,15),16,10) cast bigint;
    DuckDB oracle: ('0x' || substr(md5(text),1,15))::BIGINT."""
    t = F.col(text) if isinstance(text, str) else text
    return F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")


def fingerprint_sql_duckdb(text_expr: str) -> str:
    return f"(('0x' || substr(md5({text_expr}), 1, 15))::BIGINT)"


# --- rolling-hash document fingerprints (Manber-style 0-mod-p sampling) -------

# polynomial rolling-hash parameters: base 131 over char codes, modulus
# 2^31-1 folded at every step so every intermediate fits int64 exactly
# the same way in Spark, DuckDB and numpy (acc < 2^31, acc*131 + 127 <
# 2^39). A Mersenne-61 modulus (dedup.MERSENNE61) would overflow int64
# under the per-step multiply.
FP_K = 8
FP_BASE = 131
FP_MOD = 2147483647
FP_SAMPLE_MOD = 64


def kgram_hash_sql(text_expr: str, pos_expr: str, k: int = FP_K) -> str:
    """Shared SQL text hashing the k-gram at 1-based position `pos_expr`
    of `text_expr` — Horner's polynomial over character codes with the
    modulus folded at each step. The IDENTICAL string runs on Spark and
    DuckDB (ascii() returns the first character's code point in both),
    so the oracle needs no re-derivation."""
    # BIGINT from the first term: ascii() is INT in Spark, and the
    # Horner multiply overflows int32 (ANSI mode raises)
    h = f"(cast(ascii(substr({text_expr}, ({pos_expr}), 1)) as bigint) % {FP_MOD})"
    for j in range(1, k):
        h = (
            f"(({h} * {FP_BASE}"
            f" + ascii(substr({text_expr}, ({pos_expr}) + {j}, 1))) % {FP_MOD})"
        )
    return h


def _fps_batch_numpy(
    texts: list, k: int, w: int | None, sample_mod: int | None
) -> tuple["np.ndarray", "np.ndarray"]:
    """BATCH-CONCATENATED fingerprint kernel shared by
    doc_fingerprints (w=None, 0-mod-p sampling) and
    doc_fingerprints_winnow (sample_mod=None, window minima). The whole
    Arrow batch's texts are joined into ONE code-point array so every
    step is a handful of numpy vector ops over the batch — a per-doc
    Python loop would pay ~15 numpy-call overheads per document (the r5
    lang_id lesson: vectorization only wins when the loop disappears).
    Cross-document garbage positions are never selected: per-doc valid
    k-gram starts are [s, s+L-k] and winnow window starts
    [s, s+L-k-w+1], both fully inside the doc's own span. Arithmetic is
    the same Horner mod (FP_BASE, FP_MOD) as the DuckDB oracle
    (kgram_hash_sql), so the two are value-identical (utf-32 code
    points == DuckDB ord()). Returns
    (row_index, fp) with fps distinct per doc."""
    import numpy as np

    n_docs = len(texts)
    lens = np.fromiter(
        (len(t) if isinstance(t, str) else 0 for t in texts), np.int64, n_docs
    )
    min_len = k + ((w - 1) if w else 0)
    keep = np.flatnonzero(lens >= min_len)
    if keep.size == 0:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    lens_k = lens[keep]
    big = "".join(texts[i] for i in keep)
    codes = np.frombuffer(big.encode("utf-32-le"), np.uint32).astype(np.int64)
    n_h = len(codes) - k + 1
    h = codes[:n_h].copy()
    for j in range(1, k):
        h *= FP_BASE
        h += codes[j : j + n_h]
        h %= FP_MOD
    starts = np.concatenate(([0], np.cumsum(lens_k)))[:-1]
    if w:
        # sliding-window minima via a doubling ladder: lev[i] =
        # min(h[i .. i+span-1]), two overlapping spans merge to any
        # target w in O(len log w)
        lev, span = h, 1
        while span < w:
            d = min(span, w - span)
            m = len(lev) - d
            lev = np.minimum(lev[:m], lev[d : d + m])
            span += d
        n_sel = lens_k - k - w + 2
        vals = lev
    else:
        n_sel = lens_k - k + 1
        vals = h
    doc_idx = np.repeat(np.arange(keep.size), n_sel)
    # ragged per-doc ranges without a Python loop: global position =
    # doc char start + local rank within the doc
    sel_starts = np.concatenate(([0], np.cumsum(n_sel)))[:-1]
    loc = np.arange(doc_idx.size) - np.repeat(sel_starts, n_sel)
    pos = starts[doc_idx] + loc
    fps = vals[pos]
    if sample_mod:
        m2 = fps % sample_mod == 0
        doc_idx, fps = doc_idx[m2], fps[m2]
    # per-doc distinct: pack (doc, fp) into one int64 (fp < FP_MOD =
    # 2^31 - 1, so 31 bits hold it) and unique once for the batch
    uk = np.unique((doc_idx << 31) | fps)
    return keep[(uk >> 31)], uk & np.int64((1 << 31) - 1)


# The concatenated kernel holds ~45 bytes per input CHARACTER at peak
# (utf-32 buffer + int64 codes/hashes/ladder/positions). Arrow batching
# caps RECORDS (spark.sql.execution.arrow.maxRecordsPerBatch, default
# 10k), not bytes, so 10k long documents could blow the Python worker —
# sub-batch by cumulative character count so peak stays ~360 MB per
# worker regardless of document length (code-review r6).
_FPS_BATCH_CHAR_CAP = 8_000_000


def _char_bounded_slices(lens, cap):
    """Split row indices [0..n) into consecutive slices whose summed
    lengths stay <= cap (a single over-cap row still forms its own
    slice). Returns a list of (start, stop) pairs."""
    out, start, acc = [], 0, 0
    for i, ln in enumerate(lens):
        if acc + ln > cap and i > start:
            out.append((start, i))
            start, acc = i, 0
        acc += ln
    out.append((start, len(lens)))
    return out


def _fps_map_in_pandas(df, text_col, id_col, k, w, sample_mod):
    """mapInPandas wrapper over _fps_batch_numpy preserving the input
    id column's type. Zero-shuffle."""
    id_type = dict(df.dtypes)[id_col]

    def kern(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            texts = pdf[text_col].tolist()
            ids = pdf[id_col].to_numpy()
            lens = [len(t) if isinstance(t, str) else 0 for t in texts]
            for lo, hi in _char_bounded_slices(lens, _FPS_BATCH_CHAR_CAP):
                ridx, fps = _fps_batch_numpy(texts[lo:hi], k, w, sample_mod)
                if ridx.size == 0:
                    continue
                yield pd.DataFrame({id_col: ids[lo:hi][ridx], "fp": fps})

    return df.select(id_col, text_col).mapInPandas(kern, f"{id_col} {id_type}, fp long")


def doc_fingerprints(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = FP_K,
    sample_mod: int = FP_SAMPLE_MOD,
):
    """Rolling-hash document fingerprinting (the training-data op the
    build spec names): hash every character k-gram, keep the ~1/p
    sample whose hash ≡ 0 (mod p), distinct per document. A shared
    shingle surviving in two documents yields the same fingerprint
    regardless of its offset — the position-independent near-dup /
    provenance signal (Manber's sif / winnowing-family scheme).

    One Arrow kernel, ZERO shuffles: each Arrow batch's texts are
    concatenated into one code-point array and every k-gram's Horner
    hash (FP_BASE, FP_MOD over true code points) comes from k vector
    steps over the whole batch (_fps_batch_numpy), sub-batched by
    character count (_FPS_BATCH_CHAR_CAP). Sampling and per-doc dedup
    happen inside the kernel, so only the ~len/p surviving fingerprints
    leave it. Docs shorter than k emit nothing. The scan fans out first
    (sizing.fan_out at KERNEL_ROWS_PER_TASK): a one-row-group file
    would otherwise run the whole kernel on one core. Value-identical to
    the DuckDB oracle doc_fingerprints_sql (kgram_hash_sql)."""
    return _fps_map_in_pandas(
        sizing.fan_out(
            df.filter(F.length(text_col) >= k), df, sizing.KERNEL_ROWS_PER_TASK
        ),
        text_col, id_col, k, None, sample_mod,
    )


def doc_fingerprints_winnow(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = FP_K,
    w: int = 16,
):
    """WINNOWING document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS scheme): the minimum k-gram hash of every
    w-window is selected, giving the guarantee 0-mod-p sampling lacks:
    ANY shared substring of at least w + k - 1 characters shares at
    least one fingerprint. Density ~2/(w+1) instead of 1/p.

    Same Arrow kernel and fan-out as doc_fingerprints. Window minima
    come from a sparse-table doubling ladder over the batch's hash
    array (lev[i] = min(h[i .. i+span-1]); two overlapping spans merge
    to any target w), O(len log w) instead of the naive O(len * w)
    per-window min. Emitting VALUES (not positions) makes the output
    independent of which tied position a window picks — set-identical
    to any winnowing implementation, including the DuckDB oracle
    doc_fingerprints_winnow_sql. Docs shorter than w + k - 1 chars emit
    nothing."""
    return _fps_map_in_pandas(
        sizing.fan_out(
            df.filter(F.length(text_col) >= k + w - 1), df,
            sizing.KERNEL_ROWS_PER_TASK,
        ),
        text_col, id_col, k, w, None,
    )


def doc_fingerprints_winnow_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = FP_K,
    w: int = 16,
) -> str:
    """DuckDB oracle for doc_fingerprints_winnow: the validated
    substr-based k-gram hash per position, window MIN over the next w
    positions (ROWS BETWEEN CURRENT AND w-1 FOLLOWING), distinct.
    Values-only output makes tie-position conventions irrelevant."""
    h = kgram_hash_sql(text_col, "i", k)
    return f"""
SELECT DISTINCT {id_col}, fp FROM (
  SELECT {id_col}, i,
         min(hv) OVER (PARTITION BY {id_col} ORDER BY i
                       ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS fp,
         count(*) OVER (PARTITION BY {id_col}) AS npos
  FROM (
    SELECT {id_col}, i, {h} AS hv FROM (
      SELECT {id_col}, {text_col},
             unnest(generate_series(1, length({text_col}) - {k - 1})) AS i
      FROM {table} WHERE length({text_col}) >= {k + w - 1})
  )
)
WHERE i <= npos - {w - 1}
"""


def doc_fingerprints_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = FP_K,
    sample_mod: int = FP_SAMPLE_MOD,
) -> str:
    """DuckDB oracle for doc_fingerprints — the same kgram_hash_sql
    text over unnest(generate_series) positions (DuckDB's range() is
    not lateral-capable; generate_series is)."""
    h = kgram_hash_sql(text_col, "i", k)
    return f"""
SELECT {id_col}, fp FROM (
  SELECT {id_col}, {h} AS fp FROM (
    SELECT {id_col}, {text_col},
           unnest(generate_series(1, length({text_col}) - {k - 1})) AS i
    FROM {table} WHERE length({text_col}) >= {k})
)
WHERE fp % {sample_mod} = 0
GROUP BY {id_col}, fp
"""


# --- language id -------------------------------------------------------------

_LANG_STOPWORDS = {lang: frozenset(words) for lang, words in _VOCAB.items()}


def make_lang_id_udf():
    """Stopword-overlap language id (n-gram heuristic class of
    detectors). Returns argmax language by count of tokens found in
    each language's stopword list; 'und' when nothing matches; ties
    broken by language code order for determinism.

    Inner loop is O(tokens), not O(tokens x languages) (VERDICT r4
    #9): each token makes ONE probe into a merged token -> language-
    membership dict instead of one set probe per language, so the cost
    is independent of how many languages are registered. Measured 1.8x
    at the current 5 languages on 10k docs (0.19 s -> 0.11 s per
    batch); the gap widens linearly as languages are added. A fully
    pandas-vectorized variant (explode + factorize + bincount) was
    measured SLOWER here (0.36 s) — object-dtype explode/concat/hash
    overhead exceeds the per-token Python cost at this vocabulary
    size, so the dict form is the fast path, not a compromise.

    This UDF is the ad-hoc convenience surface; the oracle-checked
    query path (doc_lang_scores) scores languages JVM-side with
    built-in expressions and never enters Python."""
    langs = sorted(_LANG_STOPWORDS)
    merged: dict[str, tuple[int, ...]] = {}
    for li, lang in enumerate(langs):
        for wd in _LANG_STOPWORDS[lang]:
            merged.setdefault(wd, ())
            merged[wd] = merged[wd] + (li,)
    n_langs = len(langs)
    lang_arr = np.array(langs, dtype=object)

    @F.pandas_udf(StringType())
    def lang_id(text: pd.Series) -> pd.Series:
        get = merged.get
        out = np.empty(len(text), dtype=object)
        for i, t in enumerate(text):
            toks = (t or "").lower().split()
            if not toks:
                out[i] = "und"
                continue
            c = [0] * n_langs
            for w in toks:
                m = get(w)
                if m is not None:
                    for li in m:
                        c[li] += 1
            best = c.index(max(c))  # lowest index on ties = lang order
            out[i] = lang_arr[best] if c[best] > 0 else "und"
        return pd.Series(out)

    return lang_id


# --- deterministic stratified sampling (training-data curation) --------------

SAMPLE_BUCKETS = 1_000_000


def stratified_sample(
    df,
    strata_col: str,
    fractions: dict[str, float],
    id_col: str = "doc_id",
    default_fraction: float = 0.0,
):
    """Per-stratum quota sampling, the curation op every training-data
    pipeline runs (e.g. downsample English, keep all low-resource
    languages). DETERMINISTIC-BY-ID, not Bernoulli: a row is kept iff
    md5(id) mod 1e6 falls under its stratum's threshold, so the sample
    is reproducible across runs/partitionings/engines (the RIOS
    answer-invariance contract applied to sampling), re-running with a
    LARGER fraction yields a superset (monotone thresholds — stable
    train/holdout growth), and the DuckDB oracle reproduces it exactly
    via the same md5 arithmetic (fingerprint_col's proven cross-engine
    hash). One codegen'd filter; no shuffle, no RNG state."""
    # the proven cross-engine hash (fingerprint_col), reused rather
    # than re-spelled so the sampling path can never silently diverge
    # from the fingerprint path (code-review r5)
    bucket = fingerprint_col(F.col(id_col).cast("string")) % F.lit(SAMPLE_BUCKETS)
    thr = F.lit(int(round(default_fraction * SAMPLE_BUCKETS)))
    for key, frac in sorted(fractions.items()):
        thr = F.when(
            F.col(strata_col) == key, F.lit(int(round(frac * SAMPLE_BUCKETS)))
        ).otherwise(thr)
    return df.filter(bucket < thr)


def stratified_sample_sql(
    table: str,
    strata_col: str,
    fractions: dict[str, float],
    id_col: str = "doc_id",
    default_fraction: float = 0.0,
    select: str = "*",
) -> str:
    """DuckDB oracle for stratified_sample — same md5 bucket, same
    CASE thresholds."""
    cases = " ".join(
        f"WHEN '{key}' THEN {int(round(frac * SAMPLE_BUCKETS))}"
        for key, frac in sorted(fractions.items())
    )
    return f"""
SELECT {select} FROM {table}
WHERE ({fingerprint_sql_duckdb(f"cast({id_col} AS VARCHAR)")}
       % {SAMPLE_BUCKETS})
      < CASE {strata_col} {cases}
        ELSE {int(round(default_fraction * SAMPLE_BUCKETS))} END
"""
