"""Text analysis, dedup, and ANN operators — numpy/DuckDB oracles,
run over the synthetic pages plus the driver's real documents and
embeddings tables at sf0.001."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from rios_spark import ann, datagen, dedup, textops

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def embs(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def test_extract_text_udf_byte_identical(spark):
    pages = datagen.gen_pages(400)
    df = spark.createDataFrame(pages[["url", "html", "text"]])
    out = (
        df.withColumn("extracted", textops.extract_text_udf("html"))
        .withColumn("match", F.sha2(F.col("extracted"), 256) == F.sha2(F.col("text"), 256))
        .agg(F.sum(F.col("match").cast("int")).alias("ok"), F.count("*").alias("n"))
        .collect()[0]
    )
    assert out["ok"] == out["n"] == 400


def test_token_count_matches_duckdb(spark, docs):
    got = (
        docs.select("doc_id", textops.token_count_col("text").alias("n_tokens"))
        .toPandas()
        .sort_values("doc_id")
    )
    con = duckdb.connect()
    want = con.execute(
        f"""select doc_id, len(regexp_split_to_array(trim(text), '\\s+')) n
            from read_parquet('{SF}/documents.parquet') order by doc_id"""
    ).df()
    assert (got["n_tokens"].to_numpy() == want["n"].to_numpy()).all()


def test_quality_and_bpe_counts(spark, docs):
    out = docs.select(
        "doc_id",
        textops.quality_score_col("text").alias("q"),
        textops.bpe_token_count_col("text").alias("bpe"),
    ).toPandas()
    assert out["q"].between(0, 1).all()
    assert (out["bpe"] > 0).all()
    # oracle one row by hand
    import re

    row = docs.filter(F.col("doc_id") == 0).select("text").first()
    t = row["text"]
    want_bpe = len(re.findall(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]", t))
    assert out[out.doc_id == 0]["bpe"].iloc[0] == want_bpe


def test_fingerprint_matches_duckdb(spark, docs):
    got = (
        docs.select("doc_id", textops.fingerprint_col("text").alias("fp"))
        .toPandas()
        .sort_values("doc_id")
    )
    con = duckdb.connect()
    want = con.execute(
        f"""select doc_id, {textops.fingerprint_sql_duckdb('text')} fp
            from read_parquet('{SF}/documents.parquet') order by doc_id"""
    ).df()
    assert (got["fp"].to_numpy() == want["fp"].to_numpy()).all()


def test_doc_fingerprints_rolling(spark):
    """Rolling-hash fingerprints (Manber 0-mod-p k-gram sampling) are
    POSITION-INDEPENDENT: a shared shingle yields the same fingerprint
    at any offset, so two docs sharing a long substring share its
    sampled fingerprints. Docs shorter than k emit nothing. A numpy
    re-derivation pins the Spark arithmetic."""
    shared = "the quick brown fox jumps over the lazy dog again and again"
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": [
                "PREFIX AAA " + shared,
                shared + " ZZZ completely different tail here",
                "no overlap with the others at all, none whatsoever",
                "short",  # < k: no fingerprints
            ],
        }
    )
    df = spark.createDataFrame(pdf)
    got = textops.doc_fingerprints(df).toPandas()
    by_doc = {d: set(g["fp"]) for d, g in got.groupby("doc_id")}
    # numpy reference: same Horner hash, same sampling
    def ref(text):
        out = set()
        for i in range(len(text) - textops.FP_K + 1):
            h = 0
            for ch in text[i : i + textops.FP_K]:
                h = (h * textops.FP_BASE + ord(ch)) % textops.FP_MOD
            if h % textops.FP_SAMPLE_MOD == 0:
                out.add(h)
        return out
    for d in (1, 2, 3):
        assert by_doc.get(d, set()) == ref(pdf["text"][d - 1])
    assert 4 not in by_doc
    # interior shingles of the shared substring fingerprint identically
    # in docs 1 and 2 despite different offsets
    shared_fps = ref(shared)
    if shared_fps:  # sampling may legitimately select none
        assert shared_fps <= by_doc[1] and shared_fps <= by_doc[2]


def test_doc_fingerprints_winnow_guarantee(spark):
    """Winnowing's defining guarantee (SWA'03): ANY shared substring of
    length >= w + k - 1 (= 23 here) between two docs yields at least
    one shared fingerprint — no sampling luck involved, unlike 0-mod-p.
    Also: every fingerprint is one of the doc's own k-gram hashes, and
    a doc shorter than w + k - 1 emits nothing."""
    rng = np.random.default_rng(5)

    def uniq_text(tag, n):
        return " ".join(f"z{tag}v{int(j)}" for j in rng.integers(0, 50, n))

    shared = "exactly this shared span!"  # 25 chars >= w + k - 1 = 23
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": [
                uniq_text(1, 30) + " " + shared + " " + uniq_text(1, 5),
                shared + " " + uniq_text(2, 35),
                "tiny",  # < w + k - 1
            ],
        }
    )
    df = spark.createDataFrame(pdf)
    got = textops.doc_fingerprints_winnow(df, k=8, w=16).toPandas()
    by_doc = {d: set(g["fp"]) for d, g in got.groupby("doc_id")}
    assert by_doc[1] & by_doc[2], "guaranteed shared fingerprint missing"
    assert 3 not in by_doc

    def all_kgram_hashes(text, k=8):
        out = set()
        for i in range(len(text) - k + 1):
            h = 0
            for ch in text[i : i + k]:
                h = (h * textops.FP_BASE + ord(ch)) % textops.FP_MOD
            out.add(h)
        return out

    for d in (1, 2):
        assert by_doc[d] <= all_kgram_hashes(pdf["text"][d - 1])
    # density: winnowing selects ~2/(w+1) of positions — far fewer
    # fingerprints than k-grams, but at least one per w-window
    n_pos = len(pdf["text"][0]) - 8 + 1
    assert 1 <= len(by_doc[1]) <= n_pos / 2


def test_doc_fingerprints_winnow_guarantee_randomized(spark):
    """The winnowing guarantee over 100 RANDOM planted pairs in one
    batch job: docs 2i and 2i+1 share a random substring of length
    w + k - 1 .. 3(w+k) at random offsets inside otherwise-disjoint
    random text — every pair must share >= 1 fingerprint."""
    rng = np.random.default_rng(23)
    alpha = np.array(list("abcdefghijklmnopqrstuvwxyz 0123456789"))
    k, w = 8, 16

    def rand_s(n):
        return "".join(rng.choice(alpha, n))

    rows = []
    for i in range(100):
        shared = rand_s(int(rng.integers(w + k - 1, 3 * (w + k))))
        # unique-alphabet prefix/suffix per doc (uppercase: disjoint
        # from the shared/lowercase alphabet, so no accidental k-grams)
        def pad(n):
            return "".join(rng.choice(np.array(list("ABCDEFGHIJKLMNOP")), n))
        rows.append((2 * i, pad(int(rng.integers(0, 60))) + shared + pad(int(rng.integers(0, 60)))))
        rows.append((2 * i + 1, pad(int(rng.integers(0, 60))) + shared + pad(int(rng.integers(0, 60)))))
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    got = textops.doc_fingerprints_winnow(df, k=k, w=w).toPandas()
    by_doc = {d: set(g["fp"]) for d, g in got.groupby("doc_id")}
    misses = [
        i for i in range(100)
        if not (by_doc.get(2 * i, set()) & by_doc.get(2 * i + 1, set()))
    ]
    assert not misses, f"guarantee violated for pairs {misses[:5]}"


def test_fingerprint_near_dup_pairs(spark):
    """Planted passage-copies are found via shared fingerprints at ANY
    offset; unrelated docs are not paired; a boilerplate shingle shared
    by every doc is suppressed by the max_df stop-shingle guard."""
    rng = np.random.default_rng(11)

    def uniq_text(tag, n):
        # per-doc vocabulary: cross-doc shingles can only come from the
        # planted passage or the boilerplate
        return " ".join(f"w{tag}q{int(j)}" for j in rng.integers(0, 40, n))

    passage = "the copied incriminating passage " + uniq_text("shared", 40)
    boiler = "standard footer text present everywhere on this site"
    rows = []
    for i in range(20):
        body = uniq_text(i, 60)
        if i == 3:
            body = uniq_text(i, 5) + " " + passage
        elif i == 7:
            body = passage + " " + uniq_text(i, 9)
        rows.append((i, body + " " + boiler))
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    pairs = dedup.fingerprint_near_dup_pairs(
        df, sample_mod=8, min_shared=2, max_df=5
    ).toPandas()
    got = set(map(tuple, pairs[["id1", "id2"]].itertuples(index=False)))
    # exactly the planted pair: the passage matches at different
    # offsets; the boilerplate (df=20 > max_df) pairs nobody
    assert got == {(3, 7)}, f"expected only (3,7): {got}"


def test_lang_id_on_pages(spark):
    pages = datagen.gen_pages(600)
    df = spark.createDataFrame(pages[["page_id", "text", "lang"]])
    out = df.withColumn("pred", textops.make_lang_id_udf()("text")).toPandas()
    acc = (out["pred"] == out["lang"]).mean()
    assert acc > 0.9, f"lang-id accuracy {acc}"
    # empty text → 'und'
    empty = spark.createDataFrame(pd.DataFrame({"text": ["", "   "]}))
    got = empty.withColumn("pred", textops.make_lang_id_udf()("text")).toPandas()
    assert (got["pred"] == "und").all()


def test_exact_dedup(spark, docs):
    # plant exact duplicates deterministically
    dup = docs.limit(20).withColumn("doc_id", F.col("doc_id") + 100000)
    with_dups = docs.unionByName(dup)
    deduped = dedup.exact_dedup(with_dups, "text", "doc_id")
    n0 = docs.count()
    assert deduped.count() == n0  # duplicates removed
    assert deduped.filter(F.col("doc_id") >= 100000).count() == 0  # kept min ids
    groups = dedup.exact_dup_groups(with_dups, "text", "doc_id").toPandas()
    assert len(groups) == 20
    assert (groups["n_docs"] == 2).all()


def test_minhash_lsh_finds_planted_near_dups(spark, docs):
    # plant near-duplicates: copy docs, tweak one token
    base = docs.limit(30).toPandas()
    tweaked = base.copy()
    tweaked["doc_id"] = tweaked["doc_id"] + 200000
    tweaked["text"] = tweaked["text"] + " extra"
    both = spark.createDataFrame(
        pd.concat([base, tweaked], ignore_index=True)[["doc_id", "text"]]
    )
    sigs = dedup.minhash_signatures(both, "text", "doc_id", num_hashes=64, shingle_w=3)
    pairs = dedup.minhash_lsh_pairs(sigs, "doc_id", bands=16, threshold=0.5).toPandas()
    planted = set(zip(base["doc_id"], base["doc_id"] + 200000))
    found = set(zip(pairs["id1"], pairs["id2"]))
    recall = len(planted & found) / len(planted)
    assert recall >= 0.9, f"minhash recall {recall}: {sorted(planted - found)[:5]}"
    # estimated jaccard should be high for planted pairs
    hits = pairs[[(a, b) in planted for a, b in zip(pairs.id1, pairs.id2)]]
    assert (hits["est_jaccard"] >= 0.5).all()


def test_minhash_signature_determinism(spark, docs):
    s1 = dedup.minhash_signatures(docs.limit(10), "text", "doc_id").toPandas()
    s2 = dedup.minhash_signatures(
        docs.limit(10).repartition(7), "text", "doc_id"
    ).toPandas()
    m1 = dict(zip(s1["doc_id"], s1["sig"].map(tuple)))
    m2 = dict(zip(s2["doc_id"], s2["sig"].map(tuple)))
    assert m1 == m2  # answer-invariance under partitioning


def test_ngram_jaccard_verify(spark, docs):
    base = docs.limit(10).toPandas()
    twin = base.copy()
    twin["doc_id"] += 300000
    both = spark.createDataFrame(pd.concat([base, twin])[["doc_id", "text"]])
    cands = spark.createDataFrame(
        pd.DataFrame({"id1": base["doc_id"], "id2": base["doc_id"] + 300000})
    )
    out = dedup.ngram_jaccard_pairs(both, cands, "text", "doc_id", w=3, threshold=0.99).toPandas()
    assert len(out) == 10
    assert (out["jaccard"] == 1.0).all()


def test_simhash_near_dups(spark, docs):
    df = docs.limit(40).withColumn("simhash", dedup.simhash_col_udf()("text"))
    dup = df.withColumn("doc_id", F.col("doc_id") + 400000)
    both = df.unionByName(dup)
    pairs = dedup.simhash_pairs(both, "doc_id", max_hamming=0).toPandas()
    planted = set(zip(range(40), range(400000, 400040)))
    found = set(zip(pairs["id1"], pairs["id2"]))
    assert planted <= found  # identical text → hamming 0, always found
    assert (pairs["hamming"] == 0).sum() >= 40


def test_embedding_near_dup(spark, embs):
    # plant: duplicate embeddings with tiny noise → cosine ~1
    base = embs.limit(25).toPandas()
    noisy = base.copy()
    noisy["vec_id"] = noisy["vec_id"] + 500000
    noisy["embedding"] = noisy["embedding"].map(
        lambda v: (np.asarray(v) + 1e-4).astype(np.float32).tolist()
    )
    both = spark.createDataFrame(pd.concat([base, noisy])[["vec_id", "embedding"]])
    pairs = dedup.embedding_near_dup(both, "embedding", "vec_id", threshold=0.999).toPandas()
    found = set(zip(pairs["id1"], pairs["id2"]))
    planted = set(zip(base["vec_id"], base["vec_id"] + 500000))
    # LSH recall on essentially-identical vectors is 1 (same bucket)
    assert planted <= found


def test_embedding_near_dup_bucket_pairs_bounded(spark, monkeypatch):
    """The within-bucket pair kernel (shared with the exact mode's
    within-block tasks) builds its similarity matrix in chunks of at
    most sizing.GEMM_BUDGET elements. With a 400-element budget, buckets
    wider than sqrt(400) = 20 rows still give every same-bucket pair at
    or above the threshold (the numpy all-pairs oracle on the same
    hyperplane keys), each once, with the f64 cosine."""
    from rios_spark.plans import sizing

    monkeypatch.setattr(sizing, "GEMM_BUDGET", 400)
    rng = np.random.default_rng(17)
    dim, planes, thr = 8, 2, 0.95
    centres = rng.normal(size=(3, dim))
    embs = np.concatenate(
        [c + rng.normal(scale=0.02, size=(30, dim)) for c in centres]
        + [rng.normal(size=(30, dim))]
    ).astype(np.float32)  # what Spark stores
    ids = rng.permutation(len(embs)).astype(np.int64)
    mat = embs.astype(np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    sim = mat @ mat.T
    # the same hyperplanes embedding_near_dup draws from its seed
    keys = dedup._hyperplane_keys(mat, np.random.default_rng(42).normal(size=(dim, planes)))
    assert np.bincount(np.unique(keys, return_inverse=True)[1]).max() > 20
    iu = np.triu_indices(len(embs), k=1)
    assert np.abs(sim[iu] - thr).min() > 1e-6  # no pair on the threshold
    hit = (sim[iu] >= thr) & (keys[iu[0]] == keys[iu[1]])
    want = {
        (min(ids[i], ids[j]), max(ids[i], ids[j])): sim[i, j]
        for i, j in zip(iu[0][hit], iu[1][hit])
    }
    assert len(want) >= 100

    pdf = pd.DataFrame({"vec_id": ids, "embedding": list(embs)})
    got = dedup.embedding_near_dup(
        spark.createDataFrame(pdf), "embedding", "vec_id", threshold=thr,
        planes=planes, seed=42,
    ).toPandas()
    pairs = list(zip(got["id1"], got["id2"]))
    assert len(pairs) == len(set(pairs)) and set(pairs) == set(want)
    for a, b, c in zip(got["id1"], got["id2"], got["cosine"]):
        assert c == pytest.approx(want[(a, b)], abs=1e-12)


def _brute_cosine_oracle(qdf, ddf, k):
    qm = np.stack(qdf["embedding"].map(np.asarray)).astype(np.float64)
    dm = np.stack(ddf["embedding"].map(np.asarray)).astype(np.float64)
    qm = qm / np.linalg.norm(qm, axis=1, keepdims=True)
    dm = dm / np.linalg.norm(dm, axis=1, keepdims=True)
    sim = qm @ dm.T
    ids = ddf["vec_id"].to_numpy()
    out = {}
    for i, qid in enumerate(qdf["vec_id"]):
        order = np.lexsort((ids, -sim[i]))[:k]
        out[int(qid)] = [int(ids[j]) for j in order]
    return out


def test_cosine_topk_bruteforce_exact(spark, embs):
    pdf = embs.toPandas()
    qdf = pdf.head(20)
    queries = spark.createDataFrame(qdf).withColumnRenamed("vec_id", "qid")
    got = (
        ann.cosine_topk_bruteforce(queries, pdf, 5, q_id="qid")
        .toPandas()
        .sort_values(["qid", "rank"])
    )
    want = _brute_cosine_oracle(qdf, pdf, 5)
    for qid, grp in got.groupby("qid"):
        assert grp["neighbor_id"].tolist() == want[int(qid)]
    # self-match is always rank 1 with cosine ~1
    r1 = got[got["rank"] == 1]
    assert (r1["qid"] == r1["neighbor_id"]).all()


def test_cosine_topk_ivf_recall(spark, embs):
    pdf = embs.toPandas()
    queries = spark.createDataFrame(pdf.head(20)).withColumnRenamed("vec_id", "qid")
    got = (
        ann.cosine_topk_ivf(
            queries, embs, 5, n_centroids=8, nprobe=4, q_id="qid"
        )
        .toPandas()
        .sort_values(["qid", "rank"])
    )
    want = _brute_cosine_oracle(pdf.head(20), pdf, 5)
    hits = tot = 0
    for qid, grp in got.groupby("qid"):
        hits += len(set(grp["neighbor_id"]) & set(want[int(qid)]))
        tot += 5
    recall = hits / tot
    assert recall >= 0.7, f"IVF recall@5 = {recall}"


def test_embedding_near_dup_hot_cluster_sparsified(spark):
    """A dense near-identical cluster must complete WITHOUT one O(b^2)
    mega-task (round-1 VERDICT #7): hot buckets sub-split, still-hot
    sub-buckets switch to star sparsification. The dedup contract is
    connected components: every cluster member must be reachable from
    the cluster's min id through the emitted pairs."""
    rng = np.random.default_rng(7)
    dim = 16
    base = rng.normal(size=dim)
    base /= np.linalg.norm(base)
    n_cluster = 3000
    cluster = base + rng.normal(scale=1e-4, size=(n_cluster, dim))
    scattered = rng.normal(size=(200, dim))
    embs = np.concatenate([cluster, scattered]).astype(np.float32)
    pdf = pd.DataFrame(
        {"vec_id": np.arange(len(embs), dtype=np.int64), "embedding": list(embs)}
    )
    df = spark.createDataFrame(pdf).repartition(8)
    pairs = dedup.embedding_near_dup(
        df, "embedding", "vec_id", threshold=0.999, max_bucket_rows=400
    ).toPandas()
    # no false positives ever (exact verification)
    assert (pairs["cosine"] >= 0.999).all()
    # connected components: all cluster ids in one component
    parent = dict()

    def find(a):
        while parent.get(a, a) != a:
            parent[a] = parent.get(parent[a], parent[a])
            a = parent[a]
        return a

    for a, b in zip(pairs["id1"], pairs["id2"]):
        parent[find(int(a))] = find(int(b))
    roots = {find(i) for i in range(n_cluster)}
    assert len(roots) == 1, f"cluster split into {len(roots)} components"


def test_embedding_pair_kernels_fully_type_hinted(spark):
    """Every grouped pair kernel carries full type hints, so planning the
    exact all-pairs tasks and the LSH near-dup down to its star stage
    raises no PySpark 'cannot infer the eval type' warning."""
    import warnings

    rng = np.random.default_rng(3)
    base = rng.normal(size=8)
    cluster = base + rng.normal(scale=1e-5, size=(40, 8))
    vecs = np.concatenate([cluster, rng.normal(size=(10, 8))]).astype(np.float32)
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": np.arange(len(vecs), dtype=np.int64), "embedding": list(vecs)})
    )
    with warnings.catch_warnings():
        warnings.filterwarnings("error", message=".*TYPE_HINT_SHOULD_BE_SPECIFIED")
        exact = dedup.embedding_all_pairs_exact(df, "embedding", "vec_id", 0.9, block_rows=16)
        lsh = dedup.embedding_near_dup(
            df, "embedding", "vec_id", threshold=0.999, planes=4, sub_planes=2,
            max_bucket_rows=10,
        )
    assert "FlatMapGroupsInPandas" in exact._jdf.queryExecution().executedPlan().toString()
    # the star stage ran: its shard kernel groups on (bucket, __shard)
    assert "__shard" in lsh._jdf.queryExecution().analyzed().toString()


def test_cosine_topk_ivf_shard_invariance(spark, embs):
    """list_shards splits hot inverted lists across cogroup tasks; the
    result must be IDENTICAL to the unsharded run (each shard emits a
    local top-k, the final window merges)."""
    queries = embs.limit(20).select(F.col("vec_id").alias("qid"), "embedding")
    base = ann.cosine_topk_ivf(
        queries, embs, 5, n_centroids=8, nprobe=8, q_id="qid"
    ).toPandas().sort_values(["qid", "rank"]).reset_index(drop=True)
    sharded = ann.cosine_topk_ivf(
        queries, embs, 5, n_centroids=8, nprobe=8, q_id="qid", list_shards=3
    ).toPandas().sort_values(["qid", "rank"]).reset_index(drop=True)
    assert base[["qid", "neighbor_id", "rank"]].equals(
        sharded[["qid", "neighbor_id", "rank"]]
    )


def test_cosine_topk_ivf_matches_persisted_index(spark, embs, tmp_path):
    """The ad-hoc and persisted IVF paths share one centroid trainer,
    one vector -> list_id rule, one probe rule and one scoring tail.
    With the same seed, sample, n_centroids, list_shards and a pruning
    nprobe (< n_centroids, so the list mapping decides the candidates)
    both return row-identical (qid, neighbor_id, cosine, rank)."""
    pdf = embs.toPandas()
    queries = spark.createDataFrame(pdf.head(20)).withColumnRenamed("vec_id", "qid")
    cols = ["qid", "neighbor_id", "cosine", "rank"]

    def rows(df):
        return df.toPandas()[cols].sort_values(["qid", "rank"]).reset_index(drop=True)

    adhoc = rows(
        ann.cosine_topk_ivf(
            queries, embs, 5, n_centroids=8, nprobe=4, list_shards=2, seed=42,
            q_id="qid",
        )
    )
    path = str(tmp_path / "ivf_same_as_adhoc")
    ann.ivf_build_index(embs, path, n_centroids=8, list_shards=2, seed=42)
    indexed = rows(ann.ivf_search(spark, path, queries, 5, nprobe=4, q_id="qid"))
    pd.testing.assert_frame_equal(adhoc, indexed)
    # the pruned probe set really decides: some true neighbour is missed
    want = _brute_cosine_oracle(pdf.head(20), pdf, 5)
    assert any(
        list(g["neighbor_id"]) != want[int(q)] for q, g in adhoc.groupby("qid")
    )


def test_embedding_all_pairs_exact_tiled(spark, embs):
    """planes=0 exact mode is exact at ANY size (r2 ADVICE): with the
    block size forced tiny (many block-pair tasks), the full pair set
    equals the numpy cross-join oracle — no pair lost to hot-bucket
    sparsification, no pair duplicated across tasks."""
    base = embs.limit(60).toPandas()
    noisy = base.head(10).copy()
    noisy["vec_id"] = noisy["vec_id"] + 500000
    noisy["embedding"] = noisy["embedding"].map(
        lambda v: (np.asarray(v) + 1e-4).astype(np.float32).tolist()
    )
    pdf = pd.concat([base, noisy], ignore_index=True)[["vec_id", "embedding"]]
    both = spark.createDataFrame(pdf)
    thr = 0.9
    # oracle: full cross join in numpy (float64, same dot order)
    m = np.stack(pdf["embedding"].map(np.asarray)).astype(np.float64)
    m = m / np.linalg.norm(m, axis=1, keepdims=True)
    sim = m @ m.T
    ids = pdf["vec_id"].to_numpy(np.int64)
    iu = np.triu_indices(len(pdf), k=1)
    keep = sim[iu] >= thr
    want = set(
        zip(
            np.minimum(ids[iu[0][keep]], ids[iu[1][keep]]),
            np.maximum(ids[iu[0][keep]], ids[iu[1][keep]]),
        )
    )
    assert len(want) >= 10  # the planted dups are in the oracle

    # block_rows=16 over 70 rows -> 5 blocks, 15 block-pair tasks
    got_df = dedup.embedding_all_pairs_exact(
        both, "embedding", "vec_id", thr, block_rows=16
    ).toPandas()
    got = list(zip(got_df["id1"], got_df["id2"]))
    assert len(got) == len(set(got))  # each pair exactly once
    assert set(got) == want

    # and the public planes=0 entry point routes here
    via_mode = dedup.embedding_near_dup(
        both, "embedding", "vec_id", threshold=thr, planes=0, max_bucket_rows=16
    ).toPandas()
    assert set(zip(via_mode["id1"], via_mode["id2"])) == want


def test_embedding_all_pairs_f32_candidate_boundary(spark):
    """r7: the exact all-pairs kernel runs an f32 candidate GEMM plus
    an exact f64 per-pair verification. Membership at cosines within
    1e-9 of the threshold — far inside f32 noise, where a pure-f32
    decision WOULD misclassify — must match the f64 rule exactly, and
    every emitted cosine must be the f64 value (>= threshold)."""
    thr = 0.45
    angle = np.arccos(thr)
    # unit 2-D vectors: query at angle 0; partners at angles giving
    # cosine straddling thr by +-1e-9 and +-1e-5 (inside f32 noise),
    # plus clear in/out controls
    deltas = [-1e-9, 1e-9, -1e-5, 1e-5, -0.1, 0.1]
    angs = [0.0] + [np.arccos(np.clip(thr + d, -1, 1)) for d in deltas]
    vecs = [[float(np.cos(a)), float(np.sin(a))] for a in angs]
    pdf = pd.DataFrame({"vec_id": np.arange(len(vecs)), "embedding": vecs})
    got = dedup.embedding_all_pairs_exact(
        spark.createDataFrame(pdf), "embedding", "vec_id", thr, block_rows=3
    ).toPandas()
    # oracle: the SAME f64 per-pair arithmetic as the kernel's verify
    m = np.stack([np.asarray(v, np.float64) for v in vecs])
    m = m / np.linalg.norm(m, axis=1, keepdims=True)
    want = set()
    for i in range(len(vecs)):
        for j in range(i + 1, len(vecs)):
            if (m[i] * m[j]).sum() >= thr:
                want.add((i, j))
    assert set(zip(got["id1"], got["id2"])) == want
    assert (got["cosine"] >= thr).all()


def test_embedding_all_pairs_f32_slack_large_dim(spark):
    """The f32 shortlist slack grows with the embedding dim: 1e-3 up to
    ~4k dims, 2 * (dim + 2) * 2^-23 past it. At 16384 dims, pairs whose
    cosine straddles the threshold by 1e-9 to 2e-3 must come out exactly
    as the f64 numpy rule says, and the f32 error on these vectors must
    sit inside the slack."""
    assert dedup.pairs_f32_slack(64) == dedup.pairs_f32_slack(4096) == 1e-3
    dim, thr = 16384, 0.45
    slack = dedup.pairs_f32_slack(dim)
    assert slack > 3.9e-3
    rng = np.random.default_rng(11)
    q = rng.normal(size=dim)
    q /= np.linalg.norm(q)
    vecs = [q]
    for d in (-1e-9, 1e-9, -1e-5, 1e-5, -2e-3, 2e-3, -0.1, 0.1):
        r = rng.normal(size=dim)
        r -= (r @ q) * q
        r /= np.linalg.norm(r)
        c = thr + d
        vecs.append(c * q + np.sqrt(1.0 - c * c) * r)
    pdf = pd.DataFrame(
        {"vec_id": np.arange(len(vecs)), "embedding": [v.tolist() for v in vecs]}
    )
    got = dedup.embedding_all_pairs_exact(
        spark.createDataFrame(pdf), "embedding", "vec_id", thr, block_rows=4
    ).toPandas()
    m = np.stack(vecs)
    m = m / np.linalg.norm(m, axis=1, keepdims=True)
    want = {
        (i, j)
        for i in range(len(vecs))
        for j in range(i + 1, len(vecs))
        if (m[i] * m[j]).sum() >= thr
    }
    assert len(want) == 4
    assert set(zip(got["id1"], got["id2"])) == want
    assert (got["cosine"] >= thr).all()
    m32 = m.astype(np.float32)
    assert np.abs(m32 @ m32.T - m @ m.T).max() < slack


def test_ivf_persisted_index_search(spark, embs, tmp_path):
    """Persisted IVF index (build once / search many): nprobe == all
    lists is EXACT vs the brute oracle; a small nprobe prunes the
    assigned-table scan to the probed list partitions (the filter
    reaches the parquet read), with high recall on this fixture."""
    path = str(tmp_path / "ivf_index")
    ann.ivf_build_index(embs, path, n_centroids=8, list_shards=2, seed=42)

    pdf = embs.toPandas()
    qdf = pdf.head(15)
    queries = spark.createDataFrame(qdf).withColumnRenamed("vec_id", "qid")

    # exact mode: probe everything
    got = (
        ann.ivf_search(spark, path, queries, 5, nprobe=8, q_id="qid")
        .toPandas().sort_values(["qid", "rank"])
    )
    want = _brute_cosine_oracle(qdf, pdf, 5)
    for qid, grp in got.groupby("qid"):
        assert list(grp["neighbor_id"]) == want[int(qid)], f"qid={qid}"

    # pruned mode: partition filter reaches the scan and recall is high
    df2 = ann.ivf_search(spark, path, queries, 5, nprobe=4, q_id="qid")
    plan = df2._jdf.queryExecution().executedPlan().toString()
    assert "list_id" in plan and ("PartitionFilters: [" in plan)
    got2 = df2.toPandas()
    hits = sum(
        len(set(g["neighbor_id"]) & set(want[int(q)]))
        for q, g in got2.groupby("qid")
    )
    assert hits / (5 * len(qdf)) >= 0.8

    # driver-side probe path (q_rows_hint under sizing.IVF_DRIVER_PROBE_ROWS,
    # r7): same probe arithmetic driver-side, ONE Spark job — results
    # must be row-identical to the distributed path at both nprobes,
    # and the partition filter must still reach the scan
    for nprobe, base in ((8, got), (4, got2)):
        df3 = ann.ivf_search(
            spark, path, queries, 5, nprobe=nprobe, q_id="qid",
            q_rows_hint=len(qdf),
        )
        plan3 = df3._jdf.queryExecution().executedPlan().toString()
        assert "list_id" in plan3 and ("PartitionFilters: [" in plan3)
        got3 = df3.toPandas().sort_values(["qid", "rank"]).reset_index(drop=True)
        base_s = base.sort_values(["qid", "rank"]).reset_index(drop=True)
        assert got3["neighbor_id"].tolist() == base_s["neighbor_id"].tolist()
        assert got3["cosine"].tolist() == base_s["cosine"].tolist()
    # the hint is an upper bound: an empty batch under it finds nothing
    empty = queries.filter(F.col("qid") < 0)
    assert ann.ivf_search(
        spark, path, empty, 5, nprobe=4, q_id="qid", q_rows_hint=len(qdf)
    ).count() == 0


def test_ivf_meta_protects_sparse_shards(spark, embs, tmp_path):
    """ADVICE r3 regression pin: with ids that are all multiples of 4
    and list_shards=4, only the residue-0 shard of every list is
    populated, so the pre-meta `shards = (max(list_id)+1)//n_centroids`
    inference derives a WRONG shard count and probes a different list
    mapping than the one the index was written with (silent recall
    collapse). The persisted meta table makes nprobe == n_centroids
    exact regardless of which shards the ids happen to cover."""
    from pyspark.sql import functions as F

    sparse = embs.withColumn("vec_id", F.col("vec_id") * 4)
    path = str(tmp_path / "ivf_sparse_idx")
    ann.ivf_build_index(sparse, path, n_centroids=8, list_shards=4, seed=42)
    # meta must exist and carry the build parameters
    meta = spark.read.parquet(f"{path}/meta").first().asDict()
    assert meta["n_centroids"] == 8 and meta["list_shards"] == 4

    pdf = sparse.toPandas()
    qdf = pdf.head(12)
    queries = spark.createDataFrame(qdf).withColumnRenamed("vec_id", "qid")
    got = (
        ann.ivf_search(spark, path, queries, 5, nprobe=8, q_id="qid")
        .toPandas().sort_values(["qid", "rank"])
    )
    want = _brute_cosine_oracle(qdf, pdf, 5)
    for qid, grp in got.groupby("qid"):
        assert list(grp["neighbor_id"]) == want[int(qid)], f"qid={qid}"


def test_ivf_pq_compressed_search(spark, embs, tmp_path):
    """IVF-PQ: vectors stored as m uint8 codes (32x smaller than
    float32); ADC search scores from codes alone. Recall vs the exact
    brute oracle must be usable on the clustered fixture, improve with
    nprobe, and the whole pipeline is deterministic (two identical
    searches agree row-for-row)."""
    path = str(tmp_path / "ivfpq")
    ann.ivf_pq_build_index(embs, path, n_centroids=8, list_shards=2, m=8, seed=42)

    pdf = embs.toPandas()
    qdf = pdf.head(15)
    queries = spark.createDataFrame(qdf).withColumnRenamed("vec_id", "qid")
    want = _brute_cosine_oracle(qdf, pdf, 10)

    def hits(nprobe):
        got = ann.ivf_pq_search(spark, path, queries, 10, nprobe=nprobe, q_id="qid").toPandas()
        return got, sum(
            len(set(g["neighbor_id"]) & set(want[int(q)]))
            for q, g in got.groupby("qid")
        )

    got_all, h_all = hits(8)
    _, h_one = hits(1)
    assert h_one <= h_all
    assert h_all / (10 * len(qdf)) >= 0.5  # quantization-bounded recall
    # a query vector present in the corpus finds itself at rank 1 for
    # most queries (its own code is its best quantized match)
    self_top = sum(
        int(g.sort_values("rank")["neighbor_id"].iloc[0] == q)
        for q, g in got_all.groupby("qid")
    )
    assert self_top >= 10
    # determinism
    again, _ = hits(8)
    a = got_all.sort_values(["qid", "rank"]).reset_index(drop=True)
    b = again.sort_values(["qid", "rank"]).reset_index(drop=True)
    assert a.equals(b)
    # the shared probe step: probing every list needs no checkpointed
    # probe frame (the list ids are known without a job); a pruning
    # nprobe checkpoints it for the list-id collect
    def plan(nprobe):
        df = ann.ivf_pq_search(spark, path, queries, 10, nprobe=nprobe, q_id="qid")
        return df._jdf.queryExecution().executedPlan().toString()

    assert "ExistingRDD" not in plan(8)
    assert "ExistingRDD" in plan(1)


def test_ivf_searches_leave_no_cache_entry(spark, tmp_path):
    """The distributed probe step owns its frame: after a pruning
    ivf_search with no q_rows_hint and an ivf_pq_search are collected,
    the session CacheManager holds nothing."""
    spark.catalog.clearCache()
    vecs = spark.read.parquet(f"{SF}/embeddings.parquet")
    path = str(tmp_path / "ivf_lifetime")
    ann.ivf_build_index(vecs, path, n_centroids=8, list_shards=2, seed=42, pq=True, m=8)
    queries = vecs.limit(12).withColumnRenamed("vec_id", "qid")
    assert ann.ivf_search(spark, path, queries, 5, nprobe=3, q_id="qid").count() == 60
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert ann.ivf_pq_search(spark, path, queries, 5, nprobe=3, q_id="qid").count() == 60
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_ivf_index_append_exact(spark, embs, tmp_path):
    """Corpus-grows case: build on half the vectors, append the other
    half (no retrain — same stored centroids), then nprobe=all search
    over the appended index equals brute force over the FULL corpus."""
    path = str(tmp_path / "ivf_grow")
    pdf = embs.toPandas()
    half = len(pdf) // 2
    first = spark.createDataFrame(pdf.iloc[:half])
    rest = spark.createDataFrame(pdf.iloc[half:])
    ann.ivf_build_index(first, path, n_centroids=8, list_shards=2, seed=42)
    ann.ivf_index_append(rest, path)

    qdf = pdf.head(12)
    queries = spark.createDataFrame(qdf).withColumnRenamed("vec_id", "qid")
    got = (
        ann.ivf_search(spark, path, queries, 5, nprobe=8, q_id="qid")
        .toPandas().sort_values(["qid", "rank"])
    )
    want = _brute_cosine_oracle(qdf, pdf, 5)
    for qid, grp in got.groupby("qid"):
        assert list(grp["neighbor_id"]) == want[int(qid)], f"qid={qid}"


def test_ivf_pq_rerank_recovers_exactness(spark, embs, tmp_path):
    """PQ + refine: the ADC shortlist re-scored with exact cosine
    against a same-params full-precision index (floats read for
    CANDIDATES only, partition-pruned) matches the brute oracle at
    nprobe=all when the shortlist factor is generous."""
    pq = str(tmp_path / "pq")
    full = str(tmp_path / "full")
    ann.ivf_pq_build_index(embs, pq, n_centroids=8, list_shards=2, m=8, seed=42)
    ann.ivf_build_index(embs, full, n_centroids=8, list_shards=2, seed=42)

    pdf = embs.toPandas()
    qdf = pdf.head(12)
    queries = spark.createDataFrame(qdf).withColumnRenamed("vec_id", "qid")
    got = (
        ann.ivf_pq_search(
            spark, pq, queries, 5, nprobe=8, q_id="qid",
            rerank_path=full, rerank_factor=10,
        )
        .toPandas().sort_values(["qid", "rank"])
    )
    want = _brute_cosine_oracle(qdf, pdf, 5)
    for qid, grp in got.groupby("qid"):
        assert list(grp["neighbor_id"]) == want[int(qid)], f"qid={qid}"


def test_ivf_meta_less_search_raises_and_backfill(spark, embs, tmp_path):
    """VERDICT r4 #3: a meta-less index must FAIL LOUDLY, not fall back
    to inferring list_shards from max(list_id)+1 (silently wrong on
    sparse shards — recall collapses with no error). The ivf_write_meta
    backfill tool, given the one unrecoverable parameter, restores the
    index to exact-searchable."""
    import shutil

    path = str(tmp_path / "ivf_nometa")
    ann.ivf_build_index(embs, path, n_centroids=8, list_shards=2, seed=42)
    shutil.rmtree(f"{path}/meta")

    pdf = embs.toPandas()
    qdf = pdf.head(8)
    queries = spark.createDataFrame(qdf).withColumnRenamed("vec_id", "qid")
    with pytest.raises(ValueError, match="no meta table"):
        ann.ivf_search(spark, path, queries, 5, nprobe=8, q_id="qid")
    with pytest.raises(ValueError, match="no meta table"):
        ann.ivf_index_append(embs.limit(1), path)

    got_meta = ann.ivf_write_meta(spark, path, list_shards=2)
    assert got_meta["n_centroids"] == 8 and got_meta["list_shards"] == 2
    got = (
        ann.ivf_search(spark, path, queries, 5, nprobe=8, q_id="qid")
        .toPandas().sort_values(["qid", "rank"])
    )
    want = _brute_cosine_oracle(qdf, pdf, 5)
    for qid, grp in got.groupby("qid"):
        assert list(grp["neighbor_id"]) == want[int(qid)], f"qid={qid}"


def test_ivf_combined_build_inplace_rerank(spark, embs, tmp_path):
    """VERDICT r4 #6: ivf_build_index(pq=True) writes floats AND
    residual PQ codes from ONE assignment pass under one meta — the
    same path serves ivf_search (exact at nprobe=all), ivf_pq_search
    (ADC), and in-place rerank (rerank_path == path), with zero
    possibility of (list_id, id) drift between codes and floats."""
    path = str(tmp_path / "ivf_combined")
    # pin the residual encoding so the decode-side base term
    # (q . c_list added back in ADC) is exercised; encoding='auto'
    # picks raw on this weakly-clustered fixture (measured, see
    # _train_pq_codebooks)
    ann.ivf_build_index(
        embs, path, n_centroids=8, list_shards=2, seed=42, pq=True, m=8,
        pq_encoding="residual",
    )
    meta = spark.read.parquet(f"{path}/meta").first().asDict()
    assert meta["has_full"] and meta["pq_encoding"] == "residual"
    assert meta["m"] == 8

    pdf = embs.toPandas()
    qdf = pdf.head(12)
    queries = spark.createDataFrame(qdf).withColumnRenamed("vec_id", "qid")
    want = _brute_cosine_oracle(qdf, pdf, 5)

    got = (
        ann.ivf_search(spark, path, queries, 5, nprobe=8, q_id="qid")
        .toPandas().sort_values(["qid", "rank"])
    )
    for qid, grp in got.groupby("qid"):
        assert list(grp["neighbor_id"]) == want[int(qid)], f"full qid={qid}"

    rer = (
        ann.ivf_pq_search(
            spark, path, queries, 5, nprobe=8, q_id="qid",
            rerank_path=path, rerank_factor=10,
        )
        .toPandas().sort_values(["qid", "rank"])
    )
    for qid, grp in rer.groupby("qid"):
        assert list(grp["neighbor_id"]) == want[int(qid)], f"rerank qid={qid}"

    # the combined index also APPENDS both tables from one kernel
    grow = str(tmp_path / "ivf_combined_grow")
    half = len(pdf) // 2
    ann.ivf_build_index(
        spark.createDataFrame(pdf.iloc[:half]), grow,
        n_centroids=8, list_shards=2, seed=42, pq=True, m=8,
    )
    ann.ivf_index_append(spark.createDataFrame(pdf.iloc[half:]), grow)
    n_codes = spark.read.parquet(f"{grow}/codes").count()
    n_full = spark.read.parquet(f"{grow}/assigned").count()
    assert n_codes == len(pdf) and n_full == len(pdf)
    # factor covers the whole corpus: any deviation from the brute
    # oracle would be (list_id, id) mis-addressing, not quantization
    # (appended vectors quantize worse — codebooks trained pre-append)
    rer2 = (
        ann.ivf_pq_search(
            spark, grow, queries, 5, nprobe=8, q_id="qid",
            rerank_path=grow, rerank_factor=len(pdf) // 5 + 1,
        )
        .toPandas().sort_values(["qid", "rank"])
    )
    for qid, grp in rer2.groupby("qid"):
        assert list(grp["neighbor_id"]) == want[int(qid)], f"grown qid={qid}"


def test_ivf_pq_rerank_param_drift_raises(spark, embs, tmp_path):
    """VERDICT r4 #6 (drift case): a separately-built full-precision
    rerank index whose build parameters differ maps (list_id, id)
    differently — the search must RAISE, not silently join candidates
    against the wrong partitions."""
    pq = str(tmp_path / "pq_drift")
    full = str(tmp_path / "full_drift")
    ann.ivf_pq_build_index(embs, pq, n_centroids=8, list_shards=2, m=8, seed=42)
    ann.ivf_build_index(embs, full, n_centroids=4, list_shards=2, seed=42)
    queries = (
        spark.createDataFrame(embs.toPandas().head(4))
        .withColumnRenamed("vec_id", "qid")
    )
    with pytest.raises(ValueError, match="different"):
        ann.ivf_pq_search(
            spark, pq, queries, 5, nprobe=8, q_id="qid", rerank_path=full
        )
    # a PQ-only index cannot rerank in place either
    with pytest.raises(ValueError, match="codes only"):
        ann.ivf_pq_search(
            spark, pq, queries, 5, nprobe=8, q_id="qid", rerank_path=pq
        )


def test_doc_fingerprints_winnow_ladder_matches_bruteforce(spark):
    """The sparse-table doubling ladder (r5: O(len log w) window min)
    must select the EXACT same fingerprint set as the definitional
    per-window min for every w — including non-powers-of-two, which
    exercise the two-overlapping-windows least() branch."""
    rng = np.random.default_rng(11)
    alpha = np.array(list("abcdefg h"))
    pdf = pd.DataFrame(
        {
            "doc_id": range(20),
            "text": ["".join(rng.choice(alpha, int(rng.integers(30, 200)))) for _ in range(20)],
        }
    )
    df = spark.createDataFrame(pdf)
    k = 8

    def brute(text, w):
        hs = []
        for i in range(len(text) - k + 1):
            h = 0
            for ch in text[i : i + k]:
                h = (h * textops.FP_BASE + ord(ch)) % textops.FP_MOD
            hs.append(h)
        return {min(hs[j : j + w]) for j in range(len(hs) - w + 1)} if len(hs) >= w else set()

    for w in (1, 2, 5, 12, 16, 20, 31):
        got = textops.doc_fingerprints_winnow(df, k=k, w=w).toPandas()
        by_doc = {d: set(g["fp"]) for d, g in got.groupby("doc_id")}
        for d, text in zip(pdf["doc_id"], pdf["text"]):
            assert by_doc.get(d, set()) == brute(text, w), f"w={w} doc={d}"


def test_simhash_unicode_whitespace_parity(spark):
    """ADVICE r4: the simhash UDF used Python str.split() (UNICODE
    whitespace) while the DuckDB oracle splits on RE2's ASCII \\s —
    a document containing U+00A0/U+3000 diverged between engines. Both
    now tokenize on the same ASCII class, so parity holds on any
    corpus, verified here on NBSP/ideographic-space/vertical-tab docs."""
    from rios_spark.queries import O_SIMHASH_DOCS

    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3],
            "text": [
                "plain ascii words only",
                "nbsp inside and again tail",
                "ideographic\u3000space mixed\u2009normal gap",
                "vertical\x0btab and\x0cformfeed mix",
            ],
        }
    )
    got = (
        spark.createDataFrame(pdf)
        .select("doc_id", dedup.simhash_col_udf()("text").alias("simhash"))
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.register("documents", pdf)
    want = con.execute(O_SIMHASH_DOCS).df().sort_values("doc_id").reset_index(drop=True)
    assert (got["simhash"].to_numpy() == want["simhash"].to_numpy()).all()


def test_kgram_hash_ladder_non_power_of_two_k(spark):
    """The Arrow kernel's k-gram hash must equal the positional Horner
    reference at power-of-two and other k alike."""
    rng = np.random.default_rng(13)
    alpha = np.array(list("abc def"))
    pdf = pd.DataFrame(
        {"doc_id": range(8),
         "text": ["".join(rng.choice(alpha, int(rng.integers(20, 80)))) for _ in range(8)]}
    )
    df = spark.createDataFrame(pdf)

    def ref(text, k):
        out = set()
        for i in range(len(text) - k + 1):
            h = 0
            for ch in text[i : i + k]:
                h = (h * textops.FP_BASE + ord(ch)) % textops.FP_MOD
            if h % 4 == 0:
                out.add(h)
        return out

    for k in (5, 8, 16):
        got = textops.doc_fingerprints(df, k=k, sample_mod=4).toPandas()
        by_doc = {d: set(g["fp"]) for d, g in got.groupby("doc_id")}
        for d, text in zip(pdf["doc_id"], pdf["text"]):
            assert by_doc.get(d, set()) == ref(text, k), f"k={k} doc={d}"


def test_stratified_sample_deterministic_monotone(spark, docs):
    """Deterministic quota sampling invariants: (1) reruns are
    identical (no RNG state); (2) a larger fraction yields a SUPERSET
    (monotone thresholds — stable train/holdout growth); (3) realized
    per-stratum rates track the quotas; (4) DuckDB reproduces the
    sample exactly (shared md5 arithmetic)."""
    fr_small = {"en": 0.2, "de": 0.5}
    fr_big = {"en": 0.6, "de": 0.9}
    s1 = textops.stratified_sample(docs, "lang", fr_small, default_fraction=0.3)
    s2 = textops.stratified_sample(docs, "lang", fr_small, default_fraction=0.3)
    a = set(r["doc_id"] for r in s1.select("doc_id").collect())
    assert a == set(r["doc_id"] for r in s2.select("doc_id").collect())
    big = set(
        r["doc_id"]
        for r in textops.stratified_sample(
            docs, "lang", fr_big, default_fraction=0.8
        ).select("doc_id").collect()
    )
    assert a <= big
    totals = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    got = {
        r["lang"]: r["n"]
        for r in textops.stratified_sample(docs, "lang", fr_big, default_fraction=0.8)
        .groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    for lang, n_total in totals.items():
        frac = fr_big.get(lang, 0.8)
        rate = got.get(lang, 0) / n_total
        assert abs(rate - frac) < 0.35, f"{lang}: rate {rate} vs quota {frac}"
    # oracle parity on this fixture
    con = duckdb.connect()
    pdf = docs.select("doc_id", "lang").toPandas()
    con.register("documents", pdf)
    want = set(
        con.execute(
            textops.stratified_sample_sql(
                "documents", "lang", fr_small, default_fraction=0.3, select="doc_id"
            )
        ).df()["doc_id"]
    )
    assert a == want


def test_winnow_near_dup_guaranteed_detection(spark):
    """End-to-end guarantee: with min_shared=1, ANY pair sharing a
    substring of >= w + k - 1 chars MUST be paired (winnowing selects
    at least one fingerprint per w-window — no sampling luck, unlike
    the 0-mod-p variant), and docs with no shared k-gram never pair."""
    rng = np.random.default_rng(29)
    lower = np.array(list("abcdefghijklmnop qrs"))
    upper = np.array(list("ABCDEFGHIJKLMNOP"))
    k, w = 8, 16
    rows = []
    for i in range(30):
        shared = "".join(rng.choice(lower, int(rng.integers(w + k - 1, 2 * (w + k)))))
        pad = lambda n: "".join(rng.choice(upper, n))
        rows.append((2 * i, pad(int(rng.integers(0, 50))) + shared + pad(int(rng.integers(0, 50)))))
        rows.append((2 * i + 1, pad(int(rng.integers(0, 50))) + shared + pad(int(rng.integers(0, 50)))))
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    got = dedup.winnow_near_dup_pairs(df, k=k, w=w, min_shared=1, max_df=1000).toPandas()
    pairs = set(map(tuple, got[["id1", "id2"]].itertuples(index=False)))
    for i in range(30):
        assert (2 * i, 2 * i + 1) in pairs, f"planted pair {i} missed"


def test_ivf_build_validates_before_writing(spark, embs, tmp_path):
    """code-review r5: a rebuild whose parameters are invalid must
    raise BEFORE touching any on-disk table — raising after the
    centroids overwrite left OLD lists readable against NEW centroids
    under a still-valid meta (silent recall collapse). After the failed
    rebuild the original index must still search exactly."""
    path = str(tmp_path / "ivf_guarded")
    ann.ivf_build_index(embs, path, n_centroids=8, list_shards=2, seed=42, pq=True, m=8)
    meta_before = spark.read.parquet(f"{path}/meta").first().asDict()

    with pytest.raises(ValueError, match="not divisible"):
        ann.ivf_build_index(embs, path, n_centroids=8, list_shards=2, seed=7, pq=True, m=7)
    with pytest.raises(ValueError, match="pq_encoding"):
        ann.ivf_build_index(
            embs, path, n_centroids=8, list_shards=2, seed=7, pq=True,
            pq_encoding="residul",
        )

    pdf = embs.toPandas()
    qdf = pdf.head(8)
    queries = spark.createDataFrame(qdf).withColumnRenamed("vec_id", "qid")
    got = (
        ann.ivf_search(spark, path, queries, 5, nprobe=8, q_id="qid")
        .toPandas().sort_values(["qid", "rank"])
    )
    want = _brute_cosine_oracle(qdf, pdf, 5)
    for qid, grp in got.groupby("qid"):
        assert list(grp["neighbor_id"]) == want[int(qid)], f"qid={qid}"
    assert spark.read.parquet(f"{path}/meta").first().asDict() == meta_before

    # a compressed-only index refuses full-precision search with a
    # curated error, not a raw PATH_NOT_FOUND
    pq_only = str(tmp_path / "ivf_pqonly")
    ann.ivf_pq_build_index(embs, pq_only, n_centroids=8, list_shards=2, m=8, seed=42)
    with pytest.raises(ValueError, match="codes only"):
        ann.ivf_search(spark, pq_only, queries, 5, nprobe=8, q_id="qid")


def test_ivf_rerank_same_params_different_data_raises(spark, embs, tmp_path):
    """code-review r5: two indexes built with IDENTICAL parameters over
    DIFFERENT corpus snapshots train different centroids -> different
    (list_id, id) mappings; the parameter-only drift check passed and
    silently mis-addressed. The centroid content signature in the meta
    must catch it."""
    pdf = embs.toPandas()
    half = spark.createDataFrame(pdf.iloc[: len(pdf) // 2])
    pq = str(tmp_path / "pq_snapA")
    full = str(tmp_path / "full_snapB")
    ann.ivf_pq_build_index(embs, pq, n_centroids=8, list_shards=2, m=8, seed=42)
    ann.ivf_build_index(half, full, n_centroids=8, list_shards=2, seed=42)
    queries = spark.createDataFrame(pdf.head(4)).withColumnRenamed("vec_id", "qid")
    with pytest.raises(ValueError, match="centroid_sig"):
        ann.ivf_pq_search(
            spark, pq, queries, 5, nprobe=8, q_id="qid", rerank_path=full
        )


def test_ivf_half_written_rebuild_detected(spark, embs, tmp_path):
    """ADVICE r5 (medium): the build writes centroids/ FIRST and meta
    LAST, so a rebuild that crashes between the two leaves NEW
    centroids under the OLD still-valid meta — every load surface
    (ivf_search, ivf_pq_search, ivf_index_append) must verify the
    stored centroids' content signature against meta.centroid_sig and
    refuse to probe a stale list mapping."""
    path = str(tmp_path / "ivf_halfwritten")
    ann.ivf_build_index(embs, path, n_centroids=8, list_shards=2, seed=42, pq=True, m=8)

    # simulate the crashed rebuild: overwrite centroids/ with a
    # perturbed set while the original meta (and lists) stay on disk
    cen = spark.read.parquet(f"{path}/centroids").toPandas()
    cen["vec"] = cen["vec"].map(lambda v: [x * 0.5 + 0.1 for x in v])
    spark.createDataFrame(cen).coalesce(1).write.mode("overwrite").parquet(
        f"{path}/centroids"
    )

    pdf = embs.toPandas()
    queries = spark.createDataFrame(pdf.head(4)).withColumnRenamed("vec_id", "qid")
    with pytest.raises(ValueError, match="inconsistent"):
        ann.ivf_search(spark, path, queries, 5, nprobe=8, q_id="qid")
    with pytest.raises(ValueError, match="inconsistent"):
        ann.ivf_pq_search(spark, path, queries, 5, nprobe=8, q_id="qid")
    with pytest.raises(ValueError, match="inconsistent"):
        ann.ivf_index_append(embs.limit(5), path)

    # a legacy meta without the signature key skips the check (backfill
    # path): drop the key and the search must run again
    meta = spark.read.parquet(f"{path}/meta").first().asDict()
    meta.pop("centroid_sig")
    ann._write_index_meta(spark, path, **meta)
    got = ann.ivf_search(spark, path, queries, 5, nprobe=8, q_id="qid").toPandas()
    assert len(got) == 20


def test_ivf_ksub_over_uint8_raises_before_write(spark, embs, tmp_path):
    """ADVICE r5: ksub > 256 would silently wrap _pq_encode's argmin
    indices in the uint8 code dtype — corrupt codes, garbage ADC, no
    error. The build must raise up front, before any table is
    touched."""
    path = str(tmp_path / "ivf_ksub")
    with pytest.raises(ValueError, match="uint8"):
        ann.ivf_pq_build_index(embs, path, n_centroids=8, list_shards=2, m=8, ksub=300)
    import os

    assert not os.path.exists(path)


def test_ivf_corrupt_meta_propagates_not_no_meta(spark, embs, tmp_path):
    """ADVICE r5 (low): _read_index_meta maps ONLY the missing-path
    case to {}; any other read failure (here: a corrupt meta file)
    must propagate as-is rather than surface as 'index has no meta
    table' — that message directs the operator to ivf_write_meta with
    a guessed list_shards, and a wrong guess on an index whose meta is
    actually fine recreates the silent recall collapse."""
    import shutil

    path = str(tmp_path / "ivf_corruptmeta")
    ann.ivf_build_index(embs, path, n_centroids=8, list_shards=2, seed=42)
    shutil.rmtree(f"{path}/meta")
    import os

    os.makedirs(f"{path}/meta")
    with open(f"{path}/meta/part-00000.parquet", "wb") as f:
        f.write(b"this is not parquet")
    pdf = embs.toPandas()
    queries = spark.createDataFrame(pdf.head(2)).withColumnRenamed("vec_id", "qid")
    with pytest.raises(Exception) as exc_info:
        ann.ivf_search(spark, path, queries, 5, nprobe=8, q_id="qid")
    assert "no meta table" not in str(exc_info.value)


def test_ivf_append_staleness_signal(spark, embs, tmp_path):
    """VERDICT r5 #3: assign-only appends over a drifting corpus decay
    recall with NO error. The build records the full-corpus mean
    assignment cosine E[v.c]; an append whose batch falls more than
    stale_tol below it must warn and flag the meta, while a
    same-distribution append must stay quiet."""
    import warnings

    import numpy as np
    import pandas as pd

    path = str(tmp_path / "ivf_stale")
    # a STRONGLY clustered synthetic corpus: on the near-noise sf0.001
    # fixture the build-half baseline overfits tiny-sample k-means
    # (train E[v.c] 0.31 vs held-out 0.18), so even an iid append looks
    # drifted — with real cluster structure held-out == train and the
    # detector separates iid growth from genuine drift
    rng = np.random.default_rng(7)
    centers = rng.normal(size=(8, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    raw = centers[rng.integers(0, 8, 400)] + 0.05 * rng.normal(size=(400, 64))
    raw /= np.linalg.norm(raw, axis=1, keepdims=True)
    pdf = pd.DataFrame(
        {"vec_id": np.arange(400), "embedding": [v.tolist() for v in raw]}
    )
    half = len(pdf) // 2
    ann.ivf_build_index(
        spark.createDataFrame(pdf.iloc[:half]), path,
        n_centroids=8, list_shards=2, seed=42,
    )
    meta = spark.read.parquet(f"{path}/meta").first().asDict()
    assert 0.0 < meta["assign_cos"] <= 1.0 and meta["n_rows"] == half

    # same distribution: quiet, stale False, meta IMMUTABLE (the
    # telemetry goes to the append-only append_log side table — a
    # per-append meta rewrite would open a crash-mid-overwrite window
    # that bricks a healthy index; code-review r6)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        got = ann.ivf_index_append(spark.createDataFrame(pdf.iloc[half:]), path)
    assert got["stale"] is False and got["n_appended"] == len(pdf) - half
    assert abs(got["batch_assign_cos"] - got["build_assign_cos"]) < 0.05
    meta2 = spark.read.parquet(f"{path}/meta").first().asDict()
    assert meta2 == meta  # append never rewrites the meta
    st = ann.ivf_index_status(spark, path)
    assert st["n_appends"] == 1 and st["stale_ever"] is False

    # drifted distribution (uniform noise shares no cluster structure
    # with the build-time centroids): warn + flag
    rng = np.random.default_rng(9)
    noise = rng.normal(size=(60, len(pdf["embedding"].iloc[0]))).astype(float)
    noise /= np.linalg.norm(noise, axis=1, keepdims=True)
    drift = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": np.arange(10_000, 10_060),
                "embedding": [v.tolist() for v in noise],
            }
        )
    )
    with pytest.warns(UserWarning, match="drifted"):
        got2 = ann.ivf_index_append(drift, path)
    assert got2["stale"] is True
    st2 = ann.ivf_index_status(spark, path)
    assert st2["stale_ever"] is True and st2["n_appends"] == 2
    assert st2["worst_append_cos"] < st2["build_assign_cos"] - 0.05

    # a later healthy append reports itself non-stale but the sticky
    # has-ever-drifted state survives in the log
    healthy = spark.createDataFrame(
        pdf.iloc[:20].assign(vec_id=np.arange(20_000, 20_020))
    )
    got3 = ann.ivf_index_append(healthy, path)
    assert got3["stale"] is False
    st3 = ann.ivf_index_status(spark, path)
    assert st3["stale_ever"] is True and st3["n_appends"] == 3


def test_embedding_topk_indexed_partition_pruned(spark):
    """VERDICT r5 #1: the oracle-backed serving-path query must keep
    the plan shape that matters at 100 TB — the probed list ids pushed
    into the assigned-table read as a list_id partition filter."""
    from rios_spark.queries import q_embedding_topk_indexed

    df = q_embedding_topk_indexed(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "list_id" in plan
    assert len(df.toPandas()) == 100


def test_fps_char_bounded_subbatching(spark, docs, monkeypatch):
    """The arrow kernel's memory envelope is bounded by CHARACTERS, not
    Arrow's record count: with the cap forced tiny the kernel must
    split every Arrow batch into many concatenation groups (one even
    per single over-cap doc) and still return exactly the same value
    set (code-review r6: a batch of 10k long docs must not OOM the
    Python worker)."""
    baseline = textops.doc_fingerprints_winnow(docs).toPandas()
    monkeypatch.setattr(textops, "_FPS_BATCH_CHAR_CAP", 500)
    tiny = textops.doc_fingerprints_winnow(docs).toPandas()
    assert set(zip(tiny["doc_id"], tiny["fp"])) == set(
        zip(baseline["doc_id"], baseline["fp"])
    )
    # the slicer itself: over-cap rows form singleton slices, bounds
    # are consecutive and exhaustive
    sl = textops._char_bounded_slices([100, 600, 100, 100, 350, 600], 500)
    assert sl == [(0, 1), (1, 2), (2, 4), (4, 5), (5, 6)]
    assert textops._char_bounded_slices([], 500) == [(0, 0)]


def _clustered_vecs(n=3000, d=64, k=8, noise=0.3, seed=3):
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(k, d))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    raw = centers[rng.integers(0, k, n)] + noise * rng.normal(size=(n, d))
    raw /= np.linalg.norm(raw, axis=1, keepdims=True)
    return pd.DataFrame(
        {"vec_id": np.arange(n), "embedding": [v.tolist() for v in raw]}
    )


def test_sq8_rerank_tier(spark, tmp_path):
    """ivf_build_index(sq8=True) writes an int8 scalar-quantized rerank
    tier (4x less rerank IO than float32 — the 100-TB shape);
    rerank_source='sq8' must recover recall within noise of the float
    rerank, appends must grow the tier under the BUILD-TIME params, and
    asking for the tier on an index without one must raise."""
    import numpy as np

    pdf = _clustered_vecs()
    path = str(tmp_path / "sq8idx")
    ann.ivf_build_index(
        spark.createDataFrame(pdf), path,
        n_centroids=8, list_shards=2, pq=True, m=8, seed=1, sq8=True,
    )
    assert spark.read.parquet(f"{path}/meta").first().asDict()["has_sq8"] is True
    qs = spark.createDataFrame(pdf.iloc[:40].rename(columns={"vec_id": "qid"}))
    r_full = ann.ivf_pq_search(
        spark, path, qs, 10, nprobe=8, rerank_path=path
    ).toPandas()
    r_sq8 = ann.ivf_pq_search(
        spark, path, qs, 10, nprobe=8, rerank_path=path, rerank_source="sq8"
    ).toPandas()
    truth = ann.cosine_topk_bruteforce(qs, pdf, 10, q_id="qid").toPandas()
    t = truth.groupby("qid")["neighbor_id"].apply(set)

    def recall(r):
        g = r.groupby("qid")["neighbor_id"].apply(set)
        return float(np.mean([len(t[q] & g[q]) / 10 for q in t.index]))

    rf, rs = recall(r_full), recall(r_sq8)
    assert rs >= rf - 0.02, (rs, rf)

    # decode error bounded by half a quantization step per dim
    dmin, scale = ann._read_sq8_params(spark, path)
    mat = np.stack(pdf["embedding"].map(np.asarray).to_list()).astype(np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    dec = ann._sq8_decode(ann._sq8_encode(mat, dmin, scale), dmin, scale)
    assert np.all(np.abs(dec - mat) <= scale / 2 + 1e-12)

    # append grows the tier in lockstep with assigned/codes
    ann.ivf_index_append(
        spark.createDataFrame(
            pdf.iloc[:100].assign(vec_id=np.arange(90000, 90100))
        ),
        path,
    )
    assert spark.read.parquet(f"{path}/sq8").count() == len(pdf) + 100
    assert spark.read.parquet(f"{path}/assigned").count() == len(pdf) + 100

    # an index without the tier refuses rerank_source='sq8'
    p2 = str(tmp_path / "nosq8")
    ann.ivf_build_index(
        spark.createDataFrame(pdf), p2,
        n_centroids=8, list_shards=2, pq=True, m=8, seed=1,
    )
    with pytest.raises(ValueError, match="no 'sq8' rerank tier"):
        ann.ivf_pq_search(
            spark, p2, qs, 10, nprobe=8, rerank_path=p2, rerank_source="sq8"
        )
    with pytest.raises(ValueError, match="rerank_source"):
        ann.ivf_pq_search(
            spark, path, qs, 10, nprobe=8, rerank_path=path, rerank_source="xx"
        )


def test_sq8_float_free_index(spark, tmp_path):
    """The fully compressed serving shape: PQ codes for ADC + sq8 for
    rerank, NO float32 table at all (25% of the float footprint). The
    in-place rerank must work without has_full."""
    pdf = _clustered_vecs(n=1500)
    path = str(tmp_path / "nofloat")
    ann.ivf_build_index(
        spark.createDataFrame(pdf), path,
        n_centroids=8, list_shards=2, pq=True, m=8, seed=1,
        store_full=False, sq8=True,
    )
    import os

    assert not os.path.exists(f"{path}/assigned")
    qs = spark.createDataFrame(pdf.iloc[:20].rename(columns={"vec_id": "qid"}))
    out = ann.ivf_pq_search(
        spark, path, qs, 5, nprobe=8, rerank_path=path, rerank_source="sq8"
    ).toPandas()
    assert len(out) == 100 and set(out["rank"]) == {1, 2, 3, 4, 5}
    # the float rerank on this index must refuse (there are no floats)
    with pytest.raises(ValueError, match="codes only"):
        ann.ivf_pq_search(spark, path, qs, 5, nprobe=8, rerank_path=path)


def test_append_log_lifecycle(spark, tmp_path):
    """code-review r6: (a) rerank_source without rerank_path must raise
    rather than silently return unrefined ADC scores; (b) appends over
    a legacy (backfilled, no assign_cos) meta still count in
    ivf_index_status; (c) an in-place REBUILD starts a fresh telemetry
    generation — stale_ever from the dead generation must not survive."""
    import numpy as np

    pdf = _clustered_vecs(n=800)
    path = str(tmp_path / "lc")
    ann.ivf_build_index(
        spark.createDataFrame(pdf), path,
        n_centroids=8, list_shards=2, pq=True, m=8, seed=1,
    )
    qs = spark.createDataFrame(pdf.iloc[:5].rename(columns={"vec_id": "qid"}))
    with pytest.raises(ValueError, match="requires rerank_path"):
        ann.ivf_pq_search(spark, path, qs, 5, nprobe=8, rerank_source="sq8")

    # drifted append -> stale_ever True
    rng = np.random.default_rng(11)
    noise = rng.normal(size=(40, 64))
    noise /= np.linalg.norm(noise, axis=1, keepdims=True)
    import pandas as pd
    import warnings as _w

    with _w.catch_warnings():
        _w.simplefilter("ignore")
        ann.ivf_index_append(
            spark.createDataFrame(
                pd.DataFrame(
                    {
                        "vec_id": np.arange(50000, 50040),
                        "embedding": [v.tolist() for v in noise],
                    }
                )
            ),
            path,
        )
    assert ann.ivf_index_status(spark, path)["stale_ever"] is True

    # in-place rebuild -> fresh generation, telemetry reset
    ann.ivf_build_index(
        spark.createDataFrame(pdf), path,
        n_centroids=8, list_shards=2, pq=True, m=8, seed=1,
    )
    st = ann.ivf_index_status(spark, path)
    assert st["stale_ever"] is False and st["n_appends"] == 0

    # legacy meta (no assign_cos): appends still counted, stale None
    legacy = str(tmp_path / "legacy")
    ann.ivf_build_index(
        spark.createDataFrame(pdf), legacy, n_centroids=8, list_shards=2, seed=1
    )
    import shutil

    shutil.rmtree(f"{legacy}/meta")
    ann.ivf_write_meta(spark, legacy, list_shards=2)
    got = ann.ivf_index_append(
        spark.createDataFrame(
            pdf.iloc[:30].assign(vec_id=np.arange(60000, 60030))
        ),
        legacy,
    )
    assert got["stale"] is None
    st2 = ann.ivf_index_status(spark, legacy)
    assert st2["n_appends"] == 1 and st2["stale_ever"] is False


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=300, deadline=None)
@given(
    lens=st.lists(st.integers(min_value=0, max_value=2000), max_size=40),
    cap=st.integers(min_value=1, max_value=1500),
)
def test_char_bounded_slices_properties(lens, cap):
    """Invariants of the Arrow-kernel sub-batcher: slices are
    consecutive and exhaustive (every row in exactly one slice), no
    slice exceeds the cap unless it is a single over-cap row, and
    every slice is non-empty when there are rows."""
    sl = textops._char_bounded_slices(lens, cap)
    assert sl[0][0] == 0 and sl[-1][1] == len(lens)
    for (a, b), (c, _d) in zip(sl, sl[1:]):
        assert b == c and a < b
    for a, b in sl:
        if b - a > 1:
            assert sum(lens[a:b]) <= cap


@settings(max_examples=100, deadline=None)
@given(
    n=st.integers(min_value=2, max_value=40),
    d=st.integers(min_value=2, max_value=32),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_sq8_roundtrip_error_bound(n, d, seed):
    """SQ8 encode/decode: every in-range value reconstructs within half
    a quantization step per dimension; params trained on the matrix
    itself make every value in-range (no clipping)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    mat = rng.normal(size=(n, d))
    from rios_spark.ann import _sq8_decode, _sq8_encode, _train_sq8_params

    dmin, scale = _train_sq8_params(mat)
    dec = _sq8_decode(_sq8_encode(mat, dmin, scale), dmin, scale)
    assert np.all(np.abs(dec - mat) <= scale / 2 + 1e-12)
    # constant dimensions: scale falls back to 1, decode is exact dmin
    mat[:, 0] = 3.25
    dmin2, scale2 = _train_sq8_params(mat)
    assert scale2[0] == 1.0
    dec2 = _sq8_decode(_sq8_encode(mat, dmin2, scale2), dmin2, scale2)
    assert np.all(dec2[:, 0] == 3.25)


def test_index_handle_memo(spark, tmp_path, monkeypatch):
    """The serving-path (meta, centroids) memo: a repeat search must
    not re-read the meta/centroids tables (they are build-time
    immutable); a REBUILD changes the underlying files and must miss
    the memo and reload through the verified path; non-local paths
    never cache."""
    pdf = _clustered_vecs(n=400)
    path = str(tmp_path / "hidx")
    ann.ivf_build_index(
        spark.createDataFrame(pdf), path, n_centroids=4, list_shards=2, seed=1
    )
    qs = spark.createDataFrame(pdf.iloc[:5].rename(columns={"vec_id": "qid"}))
    calls = {"n": 0}
    real = ann._require_index_meta

    def counting(sp, p):
        calls["n"] += 1
        return real(sp, p)

    monkeypatch.setattr(ann, "_require_index_meta", counting)
    ann._HANDLE_CACHE.clear()
    a = ann.ivf_search(spark, path, qs, 3, nprobe=4, q_id="qid").toPandas()
    assert calls["n"] == 1
    b = ann.ivf_search(spark, path, qs, 3, nprobe=4, q_id="qid").toPandas()
    assert calls["n"] == 1  # memo hit: no second meta read
    assert a.sort_values(["qid", "rank"]).reset_index(drop=True).equals(
        b.sort_values(["qid", "rank"]).reset_index(drop=True)
    )

    # rebuild with a different seed -> different centroids on disk ->
    # the file-stats signature misses and the fresh centroids load
    ann.ivf_build_index(
        spark.createDataFrame(pdf), path, n_centroids=4, list_shards=2, seed=77
    )
    ann.ivf_search(spark, path, qs, 3, nprobe=4, q_id="qid").toPandas()
    assert calls["n"] == 2
    sig_now = ann._local_fs_sig(path)
    assert ann._HANDLE_CACHE[path][0] == sig_now

    # non-local paths are never cached
    assert ann._local_fs_sig("s3://bucket/idx") is None
    assert ann._local_fs_sig(str(tmp_path / "missing")) is None
