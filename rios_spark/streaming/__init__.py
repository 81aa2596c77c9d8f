"""Structured Streaming ingest — the streaming face of the tile engine.

RIOS's producer/consumer block buffers and single-writer drain loop
(rios/structures.py:547-722, rios/applier.py:1143-1171) are replaced
wholesale by Spark micro-batches: backpressure = maxFilesPerTrigger /
maxOffsetsPerTrigger, the ordered writer = the sink's transactional
commit, block-completion events = watermarked windows.

``stream_tile_counts`` is the canonical streaming query: a pages
stream → tile-assign (same JVM-side cell expression as batch — the
batch/stream parity guarantee) → watermarked tumbling-window counts
per cell.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

from rios_spark.grid import cell_col


def stream_tile_counts(
    pages_stream: DataFrame,
    res: int,
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "warc_ts",
) -> DataFrame:
    """Streaming per-(window, cell) page counts with late-data handling.

    The aggregation state is keyed by (window, cell) — bounded by the
    watermark; counts are algebraic so state merge is exact. The cell
    expression is the identical codegen'd expression used in batch, so
    a backfill (batch) and the live stream agree row-for-row.
    """
    tiled = pages_stream.withColumn("cell", cell_col("lat", "lon", res))
    return (
        tiled.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("win"), "cell")
        .agg(F.count("*").alias("n_pages"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "cell",
            "n_pages",
        )
    )


def stream_zonal_counts(
    pages_stream: DataFrame,
    polygons: pd.DataFrame,
    res: int,
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "warc_ts",
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Streaming zonal counts: the PIP join is a STATELESS transform
    (broadcast polyfill cover + broadcast geometry join + codegen'd/HOF
    containment filter — a stream-static join Spark supports natively),
    so the only streaming state is the watermarked (window, polygon)
    count — exactly the batch zonal plan with a window key added. The
    streaming face of SURVEY.md A14/J6."""
    from rios_spark.spatial import pip_join

    tiled = pages_stream.withColumn("cell", cell_col(lat, lon, res))
    joined = pip_join(tiled, polygons, res, lat=lat, lon=lon)
    return (
        joined.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("win"), "polygon_id")
        .agg(F.count("*").alias("n_pages"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "polygon_id",
            "n_pages",
        )
    )


def stream_pair_join(
    left_stream: DataFrame,
    right_stream: DataFrame,
    res: int,
    max_skew: str = "30 minutes",
    watermark: str = "2 hours",
    ts_col: str = "warc_ts",
    lat: str = "lat",
    lon: str = "lon",
    left_id: str = "page_id",
    right_id: str = "page_id",
) -> DataFrame:
    """Stream-stream JOIN on the tile key — the streaming face of the
    engine's gather-inputs-per-block join (SURVEY §2.9 mapped RIOS's
    block-completion events to 'stream-stream join with watermark';
    this is that operator realized): two live feeds tile-assign with
    the SAME codegen'd cell expression as batch and inner-join where
    cells match and event times are within ``max_skew`` of each other.
    Both sides carry watermarks, so Spark bounds the join state to the
    watermark+skew horizon — a row whose partner can no longer arrive
    is dropped from state (RIOS's 'block complete when all inputs
    present', with lateness made explicit).

    Returns (cell, left id, right id, both timestamps) — one row per
    matched pair; aggregate downstream as needed."""
    l = (
        left_stream.withColumn("cell", cell_col(lat, lon, res))
        .withWatermark(ts_col, watermark)
        .select(
            F.col("cell"),
            F.col(left_id).alias("left_id"),
            F.col(ts_col).alias("left_ts"),
        )
    )
    r = (
        right_stream.withColumn("cell", cell_col(lat, lon, res))
        .withWatermark(ts_col, watermark)
        .select(
            F.col("cell").alias("r_cell"),
            F.col(right_id).alias("right_id"),
            F.col(ts_col).alias("right_ts"),
        )
    )
    cond = (
        (l["cell"] == r["r_cell"])
        & (r["right_ts"] >= F.expr(f"left_ts - interval {max_skew}"))
        & (r["right_ts"] <= F.expr(f"left_ts + interval {max_skew}"))
    )
    return l.join(r, cond, "inner").select(
        "cell", "left_id", "right_id", "left_ts", "right_ts"
    )


def stream_sessionize(
    events_stream: DataFrame,
    gap_s: int = 1800,
    user_col: str = "user_id",
    ts_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming gap-based sessionization — the stateful streaming face
    of the batch `q_sessionize_events` (lag + cumulative-sum window):
    per user, a session closes when no event arrives within `gap_s`
    seconds of its last event. State = the OPEN session (start,
    last_ts, n_events) per user; an EventTimeTimeout fires once the
    watermark passes last_ts + gap, emitting the closed session and
    evicting the state — so state is bounded by concurrently-open
    sessions, not by all-time users.

    Emits one row per CLOSED session: (user, session_start,
    session_end, n_events). Sessions only close when the watermark
    proves no in-gap event can still arrive — identical session
    boundaries to the batch op for any event order within the
    watermark (late data beyond it is dropped by Spark upstream).

    Timeout-deadline hygiene (ADVICE r3): an accepted-but-late event
    (up to `watermark` behind the stream head — which can be MORE than
    gap_s behind the current watermark whenever watermark > gap) yields
    last_ts + gap earlier than the current watermark, and
    setTimeoutTimestamp raises for past deadlines, crashing the whole
    query. The deadline is therefore clamped to watermark + 1 ms — the
    session then closes on the very next trigger, which is exactly when
    the watermark first proves it complete. Epoch conversion is pinned
    to the Spark session timezone (Spark hands pandas tz-NAIVE wall
    times in that zone; naive .timestamp() would silently read them as
    UTC and skew every deadline by the zone offset).
    """
    session_tz = events_stream.sparkSession.conf.get(
        "spark.sql.session.timeZone"
    )
    hashed = events_stream.withWatermark(ts_col, watermark)
    out_schema = T.StructType(
        [
            T.StructField(user_col, T.LongType()),
            T.StructField("session_start", T.TimestampType()),
            T.StructField("session_end", T.TimestampType()),
            T.StructField("n_events", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("start", T.TimestampType()),
            T.StructField("last", T.TimestampType()),
            T.StructField("n", T.LongType()),
        ]
    )

    def sess_fn(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        user = key[0]
        if state.hasTimedOut:
            start, last, n = state.get
            state.remove()
            yield _pd.DataFrame(
                {
                    user_col: [user],
                    "session_start": [start],
                    "session_end": [last],
                    "n_events": [int(n)],
                }
            )
            return
        ts_all = _pd.concat([p[ts_col] for p in pdfs]).sort_values().reset_index(drop=True)
        if len(ts_all) == 0:
            return
        if state.exists:
            start, last, n = state.get
            start = _pd.Timestamp(start)
            last = _pd.Timestamp(last)
            n = int(n)
        else:
            start = last = ts_all.iloc[0]
            n = 1
            ts_all = ts_all.iloc[1:]
        closed = {user_col: [], "session_start": [], "session_end": [], "n_events": []}
        for t in ts_all:
            if (t - last).total_seconds() > gap_s:
                closed[user_col].append(user)
                closed["session_start"].append(start)
                closed["session_end"].append(last)
                closed["n_events"].append(n)
                start, n = t, 0
            last, n = t, n + 1
        state.update((start.to_pydatetime(), last.to_pydatetime(), n))
        # close once the watermark passes the gap after the last event;
        # tz-localize (naive wall time -> session zone) before epoch
        # conversion, and clamp to watermark+1 so a late event's
        # already-passed deadline schedules for the next trigger
        # instead of raising (see docstring)
        # explicit DST policies: the localize default is ambiguous=
        # 'raise'/nonexistent='raise', so for any DST session zone an
        # event in the fall-back hour (ambiguous) or spring-forward gap
        # (nonexistent) would raise inside the state function and kill
        # the whole query — the same crash class the watermark clamp
        # exists to prevent (ADVICE r4). ambiguous=True picks the DST
        # (first) occurrence, shift_forward lands gap times on the
        # first valid instant; either way the deadline is within an
        # hour of the wall time and the clamp keeps it legal.
        last_ms = int(
            _pd.Timestamp(last)
            .tz_localize(session_tz, ambiguous=True, nonexistent="shift_forward")
            .timestamp() * 1000
        )
        state.setTimeoutTimestamp(
            max(state.getCurrentWatermarkMs() + 1, last_ms + gap_s * 1000)
        )
        if closed[user_col]:
            yield _pd.DataFrame(closed)

    return (
        hashed.groupBy(user_col)
        .applyInPandasWithState(
            sess_fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def stream_dedup_exact(
    pages_stream: DataFrame,
    text_col: str = "text",
    id_col: str = "page_id",
    ttl_ms: int | None = None,
) -> DataFrame:
    """Custom STATEFUL streaming operator (applyInPandasWithState):
    exact content dedup ACROSS micro-batches. The first row per content
    hash is emitted; later arrivals (same batch or any later batch
    within the TTL) are dropped. State = one boolean per content hash,
    partitioned by the hash key.

    ttl_ms bounds the state store (round-2 VERDICT #5 — previously the
    docstring deferred this to "deployments"): each key's state expires
    ttl_ms after its last arrival (ProcessingTimeTimeout; the deadline
    refreshes on every arrival, so an actively-duplicated content hash
    never expires mid-stream). After expiry the same content is treated
    as new and re-emitted — the standard dedup-window contract. With
    ttl_ms=None state grows with distinct-content cardinality (exact
    forever, unbounded).

    This is the streaming face of dedup.exact_dedup, and the engine's
    analogue of RIOS block-completion bookkeeping
    (rios/structures.py:700-722) — per-key state advanced by arrivals.
    """
    hashed = pages_stream.withColumn("__h", F.md5(F.col(text_col)))
    out_schema = T.StructType(
        [
            T.StructField("content_hash", T.StringType()),
            T.StructField(id_col, T.LongType()),
        ]
    )
    state_schema = T.StructType([T.StructField("seen", T.BooleanType())])
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if ttl_ms
        else GroupStateTimeout.NoTimeout
    )

    def dedup_fn(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if ttl_ms and state.hasTimedOut:
            # no arrival within the TTL: evict — bounded state
            state.remove()
            return
        seen = state.exists
        first_id = None
        for pdf in pdfs:
            if len(pdf) and not seen:
                first_id = int(pdf[id_col].min())
                seen = True
        if not state.exists and first_id is not None:
            state.update((True,))
            if ttl_ms:
                state.setTimeoutDuration(ttl_ms)
            yield pd.DataFrame({"content_hash": [key[0]], id_col: [first_id]})
        elif state.exists and ttl_ms:
            # refresh the deadline on every arrival
            state.setTimeoutDuration(ttl_ms)

    return (
        hashed.groupBy("__h")
        .applyInPandasWithState(
            dedup_fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=timeout,
        )
    )


def stream_fingerprint_matches(
    doc_stream: DataFrame,
    corpus_fps: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    corpus_id_col: str = "doc_id",
    k: int | None = None,
    sample_mod: int | None = None,
    exclude_self: bool = True,
) -> DataFrame:
    """Ingest-time provenance/copy detection: fingerprint each arriving
    document (textops.doc_fingerprints — a pure stateless projection,
    so it runs on the stream unchanged) and equi-join against a STATIC
    corpus fingerprint table (fp, corpus_id) — a stream-static inner
    join Spark executes with NO streaming state at all, so the output
    is append-mode and the operator scales like a batch join. Emits one
    row per shared fingerprint: (stream_id, corpus_id, fp).

    This is the streaming face of dedup.fingerprint_near_dup_pairs:
    the corpus side is fingerprinted ONCE (a parquet/Iceberg table the
    batch job maintains; partition it by a prefix of fp at scale so
    the stream-side join prunes), and each incoming crawl batch pays
    only its own fingerprinting plus a join against that index — never
    re-reading the corpus text. Deliberately NOT aggregated here: a
    streaming groupBy keyed by (stream doc, corpus doc) would hold
    state for every pair ever seen. Each arriving doc lives in exactly
    one micro-batch, so a min-shared threshold is a per-batch
    aggregation — apply it downstream in foreachBatch (as the parity
    test does) or over the sink table.

    exclude_self=True (the default) drops rows where stream_id equals
    corpus_id — the right behavior when the stream re-delivers
    documents that are ALREADY in the corpus under the same id (the
    re-crawl case). It assumes the two sides share ONE id namespace:
    if they are numbered independently, a stream doc whose id happens
    to collide with an unrelated corpus doc's id would have its
    genuine copy-detection match silently dropped (ADVICE r5) — pass
    exclude_self=False for disjoint-namespace callers."""
    from rios_spark.textops import FP_K, FP_SAMPLE_MOD, doc_fingerprints

    fps = doc_fingerprints(
        doc_stream, text_col, id_col,
        k=k or FP_K, sample_mod=sample_mod or FP_SAMPLE_MOD,
    ).withColumnRenamed(id_col, "stream_id")
    corpus = corpus_fps.select(
        F.col("fp"), F.col(corpus_id_col).alias("corpus_id")
    )
    joined = fps.join(corpus, "fp")
    if exclude_self:
        joined = joined.filter(F.col("stream_id") != F.col("corpus_id"))
    return joined.select("stream_id", "corpus_id", "fp")


def stream_embedding_topk(
    query_stream: DataFrame,
    corpus: pd.DataFrame,
    k: int,
    q_id: str = "qid",
    q_emb: str = "embedding",
    d_id: str = "vec_id",
    d_emb: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k for every ARRIVING query embedding against a
    static corpus — similarity serving at ingest time (route each new
    document/query to its nearest corpus neighbors as it lands).

    ann.cosine_topk_bruteforce's Arrow kernel is a pure STATELESS
    projection — the top-k is computed inside the kernel (GEMM +
    argpartition per Arrow batch), no window, no shuffle — so it runs
    on a streaming DataFrame unchanged: append output mode, zero
    streaming state, scales in the query dimension like any map.

    `corpus` is a driver pandas frame broadcast once — the SAME bounded
    -broadcast contract as the batch brute path (fine up to a few
    million vectors). For an unbounded corpus use stream_indexed_topk:
    the persisted-IVF foreachBatch face, which reads only the probed
    lists' files per micro-batch."""
    from rios_spark.ann import cosine_topk_bruteforce

    return cosine_topk_bruteforce(
        query_stream, corpus, k, q_id=q_id, q_emb=q_emb, d_id=d_id, d_emb=d_emb
    )


def stream_indexed_topk(
    query_stream: DataFrame,
    index_path: str,
    sink_path: str,
    checkpoint: str,
    k: int,
    nprobe: int = 4,
    q_id: str = "qid",
    q_emb: str = "embedding",
):
    """Streaming face of the persisted-IVF serving path: each
    micro-batch of arriving query embeddings is searched against the
    partition-pruned index (ann.ivf_search — the 100-TB corpus shape)
    and appended to a parquet sink.

    ivf_search needs multi-stage orchestration (probe assignment,
    per-list cogrouped scoring, a global rank window) that pure append
    -mode streaming cannot express inline, so this runs it per batch
    under foreachBatch: each batch is a bounded BATCH job against the
    static index. The sink is EXACTLY-ONCE per epoch because the write
    is idempotent, not merely checkpointed: results land partitioned
    by __epoch with dynamic partition overwrite, so a crash between
    the parquet commit and the checkpoint record makes the retried
    epoch REPLACE its own partition instead of appending duplicates
    (foreachBatch alone is at-least-once — code-review r6). Queries
    live in exactly ONE micro-batch, so per-query top-k never needs
    cross-batch state.

    Per-micro-batch setup is a PREPARED HANDLE in steady state
    (VERDICT r6 #4): the verified (meta, centroids) load is memoized
    per index path (ann._index_handle — any on-disk change misses the
    memo and reloads verified), and batches at or under
    sizing.IVF_DRIVER_PROBE_ROWS rows take ivf_search's driver-side probe
    path, collapsing the per-batch work to ONE Spark job (scoring) plus
    the sink commit. Measured at a processingTime trigger (100-row
    batches, 20k-vector index, local[8]): ~4.3 s first batch (handle
    load + worker spin-up), ~1.9 s/batch steady state before r7's
    driver-side probes, ~1.0 s/batch after (BENCH/STREAM_SERVE_r7.md).

    NOTE: the __epoch idempotence key restarts at 0 with a FRESH
    checkpoint, and dynamic partition overwrite would then silently
    REPLACE an earlier run's epoch partitions (ADVICE r6) — point each
    new checkpoint at a fresh sink_path; reuse a sink only together
    with its checkpoint.

    Returns the configured DataStreamWriter — call .start() (add
    .trigger(...) first to override the availableNow default)."""
    from rios_spark.ann import ivf_search

    def _batch(bdf: DataFrame, epoch_id: int) -> None:
        # count replaces isEmpty (both are one bounded job on the
        # micro-batch) and doubles as the driver-side-probe hint, which
        # ivf_search gates
        n = bdf.count()
        if n == 0:
            return
        out = ivf_search(
            bdf.sparkSession, index_path, bdf, k, nprobe=nprobe,
            q_id=q_id, q_emb=q_emb, q_rows_hint=n,
        )
        (
            out.withColumn("__epoch", F.lit(epoch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__epoch")
            .parquet(sink_path)
        )

    return (
        query_stream.writeStream.foreachBatch(_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )
