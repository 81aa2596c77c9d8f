"""Example cluster job: build a persisted IVF index over an embedding
table, then serve a query batch against it with partition-pruned
search (ann.ivf_build_index / ann.ivf_search).

Run (cluster):
  tools/make_package.sh
  spark-submit --master yarn --deploy-mode cluster \
      --py-files dist/rios_spark.zip \
      examples/ann_index_job.py --vectors s3://bucket/embeddings \
      --index s3://bucket/ivf_index --k 10 --nprobe 16

Run (local smoke):
  python examples/ann_index_job.py --n-vectors 50000 --index /tmp/ivf_idx
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--vectors", default=None, help="embeddings parquet (default: synthesize)")
    ap.add_argument("--n-vectors", type=int, default=50_000)
    ap.add_argument("--index", required=True, help="index output path")
    ap.add_argument("--n-centroids", type=int, default=64)
    ap.add_argument("--list-shards", type=int, default=4)
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--nprobe", type=int, default=16)
    ap.add_argument("--n-queries", type=int, default=200)
    ap.add_argument("--skip-build", action="store_true", help="reuse an existing index")
    ap.add_argument(
        "--pq", action="store_true",
        help="combined build: residual/raw-auto PQ codes beside the floats "
        "(one assignment pass, one meta); search then also runs the ADC + "
        "in-place exact-rerank path",
    )
    ap.add_argument("--pq-m", type=int, default=16)
    ap.add_argument(
        "--sq8", action="store_true",
        help="also write the int8 scalar-quantized rerank tier (25%% of "
        "the float32 footprint); with --pq the job additionally runs the "
        "rerank_source='sq8' search leg (without --pq the tier is built "
        "for later use and the sq8 search leg is skipped)",
    )
    ap.add_argument(
        "--append", type=int, default=0, metavar="N",
        help="after the searches, append N new vectors (assign-only "
        "growth) and print ivf_index_status — the corpus-grows flow "
        "with staleness telemetry",
    )
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from rios_spark import ann, sources
    from rios_spark.session import get_spark

    spark = get_spark("ann_index_job")
    if args.vectors:
        vecs = sources.table(spark, args.vectors)
    else:
        from rios_spark.datagen import gen_embeddings_spark

        vecs = gen_embeddings_spark(spark, args.n_vectors)

    if not args.skip_build:
        t0 = time.monotonic()
        ann.ivf_build_index(
            vecs, args.index,
            n_centroids=args.n_centroids, list_shards=args.list_shards,
            pq=args.pq, m=args.pq_m, sq8=args.sq8,
        )
        print(json.dumps({"built_sec": round(time.monotonic() - t0, 2)}))

    queries = (
        vecs.filter(F.col("vec_id") < args.n_queries)
        .select(F.col("vec_id").alias("qid"), "embedding")
    )
    t0 = time.monotonic()
    out = ann.ivf_search(spark, args.index, queries, args.k, nprobe=args.nprobe)
    n = out.count()
    wall = time.monotonic() - t0
    print(json.dumps({
        "result_rows": n,
        "search_sec": round(wall, 2),
        "qps": round(args.n_queries / wall, 1),
    }))
    if args.pq:
        t0 = time.monotonic()
        pq_out = ann.ivf_pq_search(
            spark, args.index, queries, args.k, nprobe=args.nprobe,
            rerank_path=args.index, rerank_factor=8,
        )
        n_pq = pq_out.count()
        wall = time.monotonic() - t0
        print(json.dumps({
            "pq_rerank_rows": n_pq,
            "pq_rerank_sec": round(wall, 2),
            "pq_rerank_qps": round(args.n_queries / wall, 1),
        }))
    if args.pq and args.sq8:
        t0 = time.monotonic()
        sq8_out = ann.ivf_pq_search(
            spark, args.index, queries, args.k, nprobe=args.nprobe,
            rerank_path=args.index, rerank_factor=8, rerank_source="sq8",
        )
        n_sq8 = sq8_out.count()
        wall = time.monotonic() - t0
        print(json.dumps({
            "sq8_rerank_rows": n_sq8,
            "sq8_rerank_sec": round(wall, 2),
            "sq8_rerank_qps": round(args.n_queries / wall, 1),
        }))
    if args.sq8 and not args.pq:
        print(json.dumps({"note": "sq8 tier written; sq8 search leg needs --pq"}))
    if args.append:
        from rios_spark.datagen import gen_embeddings_spark

        # new ids start past the corpus max (a fixed offset collides for
        # corpora with >= that many rows), and a different seed makes
        # the appended batch genuinely new vectors rather than exact
        # duplicates of the build set (code-review r6)
        off = int(vecs.agg(F.max("vec_id")).first()[0]) + 1
        batch = gen_embeddings_spark(spark, args.append, seed=off % 97 + 1).withColumn(
            "vec_id", F.col("vec_id") + F.lit(off)
        )
        got = ann.ivf_index_append(batch, args.index)
        print(json.dumps({"append": got}))
        print(json.dumps({"status": ann.ivf_index_status(spark, args.index)}))
    spark.stop()


if __name__ == "__main__":
    main()
