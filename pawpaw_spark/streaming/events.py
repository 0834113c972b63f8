"""Structured Streaming surface.

The reference is strictly batch (SURVEY.md §2.9) — its only
streaming-shaped operators, WindowedJoin and StackedReduce, map to
window/session aggregation. This module provides the streaming forms of
those plus a streaming segmentation pass, so the engine covers
continuous ingestion of new source files / events:

* ``windowed_event_counts`` — watermarked tumbling-window agg
  (WindowedJoin's fixed-window analog).
* ``session_counts``        — ``session_window`` gap sessionization
  (StackedReduce's push/pop analog for the time axis).
* ``streaming_segment``     — the same Arrow segmentation kernel under
  ``readStream``: mapInPandas works unchanged in streaming plans.

Tests drive these with the memory sink + ``processAllAvailable`` per
the Structured Streaming testing idiom.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pawpaw_spark.operators.segment import segment
from pawpaw_spark.rules import RuleSet


def windowed_event_counts(
    events: DataFrame,
    window: str = "5 minutes",
    slide: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    e = events.withColumn("ts", F.col("ts").cast("timestamp")).withWatermark("ts", watermark)
    win = F.window("ts", window, slide) if slide else F.window("ts", window)
    return e.groupBy(win, "event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("value").alias("total_value")
    )


def session_counts(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    e = events.withColumn("ts", F.col("ts").cast("timestamp")).withWatermark("ts", watermark)
    return e.groupBy(F.session_window("ts", gap), "user_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )


def streaming_segment(source_stream: DataFrame, rules: RuleSet) -> DataFrame:
    """Segmentation over a streaming source table — identical kernel,
    streaming plan (append mode; segmentation is stateless per row)."""
    return segment(source_stream, rules)


def streaming_exact_dedup(
    docs: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Exact dedup on a stream: first arrival of each content digest
    passes, re-arrivals inside the watermark horizon are dropped.
    ``dropDuplicatesWithinWatermark`` bounds the digest state by the
    horizon — the only way continuous exact dedup fits in finite state;
    duplicates farther apart than the horizon are a batch
    reconciliation job's problem by design (state O(unique digests per
    horizon), not O(corpus))."""
    d = (
        docs.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        .withColumn("__digest", F.sha2(F.col(text_col).cast("binary"), 256))
        .withWatermark(ts_col, watermark)
    )
    return d.dropDuplicatesWithinWatermark(["__digest"]).drop("__digest")


_SESSION_OUT_DDL = (
    "user_id long, session_start timestamp, session_end timestamp, "
    "n_events long, total_value double"
)
_SESSION_STATE_DDL = "session_start long, last_ts long, n_events long, total_value double"


def stateful_sessions(
    events: DataFrame, gap_seconds: int = 1800, watermark: str = "1 hour"
) -> DataFrame:
    """Custom stateful sessionization via ``applyInPandasWithState`` —
    the arbitrary-state form ``session_window`` can't express (e.g.
    carrying aggregates the built-in session agg doesn't support, or
    custom close rules). State per user = the OPEN session (start,
    last event, count, value sum); an event beyond the gap closes and
    emits the previous session; an event-time timeout (watermark past
    last_ts + gap) closes idle sessions. Emits CLOSED sessions only
    (append mode).

    This is the ``StackedReduce`` push/pop semantics lifted onto an
    unbounded stream: push = event within gap, pop = gap exceeded or
    timeout, reduce = (span, count, sum)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    e = (
        events.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .select("user_id", "ts", "event_id", "value")
    )
    gap = int(gap_seconds)

    def fn(key, pdfs, state):
        import pandas as pd

        user = key[0]
        out = []

        def emit(ss, lt, n, tv):
            out.append((user, ss, lt, n, tv))

        if state.hasTimedOut:
            ss, lt, n, tv = state.get
            emit(ss, lt, n, tv)
            state.remove()
        else:
            frames = [p for p in pdfs if len(p)]
            cur = state.get if state.exists else None
            if frames:
                batch = pd.concat(frames, ignore_index=True).sort_values(
                    ["ts", "event_id"]
                )
                # state keeps MICROSECOND timestamps (emitted spans must
                # match the source precision); the gap rule compares
                # truncated seconds, the same arithmetic as the batch
                # epoch-cast oracle
                ts_us = (batch["ts"].astype("int64") // 1_000).tolist()
                vals = batch["value"].tolist()
                for t, v in zip(ts_us, vals):
                    if cur is None:
                        cur = (t, t, 1, float(v))
                    else:
                        ss, lt, n, tv = cur
                        if t // 1_000_000 - lt // 1_000_000 > gap:
                            emit(ss, lt, n, tv)
                            cur = (t, t, 1, float(v))
                        else:
                            cur = (ss, max(lt, t), n + 1, tv + float(v))
            if cur is not None:
                state.update(cur)
                # close the open session when event time passes last+gap
                state.setTimeoutTimestamp((cur[1] // 1_000_000 + gap) * 1000)
        if out:
            yield pd.DataFrame(
                {
                    "user_id": [r[0] for r in out],
                    "session_start": pd.to_datetime([r[1] for r in out], unit="us"),
                    "session_end": pd.to_datetime([r[2] for r in out], unit="us"),
                    "n_events": [r[3] for r in out],
                    "total_value": [r[4] for r in out],
                }
            )

    return e.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=_SESSION_OUT_DDL,
        stateStructType=_SESSION_STATE_DDL,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def _dedup_index_sink(
    docs: DataFrame,
    index_path: str,
    pairs_path: str,
    checkpoint: str,
    text_col: str,
    id_col: str,
    delta_fn,
    index_fold_fn,
):
    """Shared exactly-once harness for the dedup-index streaming sinks
    (MinHash near-dup and winnowing exact-substring): per micro-batch,
    run ``delta_fn(batch, params_row) -> pairs``, write the pairs
    partitioned by batch_id with DYNAMIC overwrite (a replayed batch —
    crash after the write, before the index fold — rewrites ITS OWN
    partition instead of appending the same pairs twice; the delta is
    deterministic given (batch, index), so the rewrite is
    byte-identical), then ``index_fold_fn(batch, params_row)`` appends
    the batch into the at-rest index. A crash AFTER the fold replays
    into the delta's id-collision guard, which raises rather than
    double-counting — fail loud, reconcile in batch. One body, so the
    two sinks' crash-recovery guarantees cannot silently diverge.
    """

    def fold(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        batch = batch.select(id_col, text_col).persist()
        try:
            p = batch.sparkSession.read.parquet(f"{index_path}/params").first()
            from pawpaw_spark.operators.dedup import cached_scope

            with cached_scope(delta_fn(batch, p)) as pairs:
                (
                    pairs.withColumn("batch_id", F.lit(batch_id))
                    .write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("batch_id")
                    .parquet(pairs_path)
                )
            index_fold_fn(batch, p)
        finally:
            batch.unpersist()

    return (
        docs.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .start()
    )


def streaming_neardup_sink(
    docs: DataFrame,
    index_path: str,
    pairs_path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
):
    """Continuous NEAR-dup detection: each micro-batch runs the
    incremental MinHash delta against the persisted index
    (:func:`pawpaw_spark.operators.dedup.minhash_dedup_delta` —
    new-vs-history + new-vs-new, LSH-blocked, exact-verified), appends
    the found pairs to ``pairs_path``, then folds the batch into the
    index so the NEXT batch dedups against it.

    ``foreachBatch`` is the right harness here, not a stateful
    operator: the state (signatures + shingle sets of every doc ever
    seen) must outlive any watermark horizon and be shared with batch
    jobs — an at-rest parquet index, not executor state. Per-batch
    cost scales with |batch| x bucket density; history is only touched
    through its (band, bucket)-pruned signature rows.

    Exactly-once: Structured Streaming replays a failed batch with the
    same batch_id. The pairs write is idempotent under replay — it is
    partitioned by batch_id with dynamic overwrite, so a crash between
    the pairs write and the index fold replays into a rewrite of the
    same partition, not a duplicate append. A crash AFTER the index
    fold (but before the checkpoint commit) replays into the delta's
    id-collision guard, which raises rather than double-counting —
    fail loud, reconcile in batch.

    Bootstrap: the index (with its params sidecar) must exist before
    the stream starts — ``minhash_index_write`` it from the historical
    corpus, or from an empty slice for a cold start.

    Returns the StreamingQuery (caller stops it / processAllAvailable).
    """
    from pawpaw_spark.operators.dedup import (
        minhash_dedup_delta,
        minhash_index_write,
    )

    return _dedup_index_sink(
        docs, index_path, pairs_path, checkpoint, text_col, id_col,
        delta_fn=lambda batch, p: minhash_dedup_delta(
            batch, index_path, threshold=threshold,
            text_col=text_col, id_col=id_col,
        ),
        index_fold_fn=lambda batch, p: minhash_index_write(
            batch, index_path, text_col=text_col, id_col=id_col,
            n_hashes=int(p["n_hashes"]), bands=int(p["bands"]),
            shingle_k=int(p["shingle_k"]), seed=int(p["seed"]),
            mode="append",
        ),
    )


def streaming_substring_sink(
    docs: DataFrame,
    index_path: str,
    pairs_path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int | None = 1000,
    min_shared: int = 1,
):
    """Continuous EXACT-SUBSTRING duplicate detection — the winnowing
    twin of :func:`streaming_neardup_sink`: each micro-batch runs the
    incremental fingerprint delta
    (:func:`pawpaw_spark.operators.substring.winnow_delta_pairs`,
    new-vs-history + new-vs-new shared-passage pairs), appends the
    pairs partitioned by batch_id (dynamic overwrite = idempotent
    replay), then folds the batch's fingerprints into the at-rest
    index so the next batch dedups against them.

    Same exactly-once analysis as the MinHash sink: replay before the
    index fold rewrites the same pairs partition byte-identically;
    replay after it hits the delta's id-collision guard and fails loud.
    Bootstrap by :func:`winnow_index_write` on history (or an empty
    slice). State is the parquet fingerprint index — outlives any
    watermark, shared with batch jobs.
    """
    from pawpaw_spark.operators.substring import (
        winnow_delta_pairs,
        winnow_index_write,
    )

    return _dedup_index_sink(
        docs, index_path, pairs_path, checkpoint, text_col, id_col,
        delta_fn=lambda batch, p: winnow_delta_pairs(
            batch, index_path, text_col=text_col, id_col=id_col,
            max_df=max_df, min_shared=min_shared,
        ),
        index_fold_fn=lambda batch, p: winnow_index_write(
            batch, index_path, text_col=text_col, id_col=id_col,
            k=int(p["k"]), w=int(p["w"]), mode="append",
        ),
    )


def streaming_kg_sink(
    source: DataFrame,
    edges_path: str,
    checkpoint: str,
    metrics_path: str | None = None,
):
    """Continuous KG construction: each micro-batch of source rows
    (repo, path, commit, lang, content — the input_hint shape) runs the
    fused segmentation->triples kernel and appends the edges to the
    at-rest store, partitioned by (pred, batch_id).

    Why this composition is exactly-once SAFE with a plain overwrite:
    every edge is a PER-DOCUMENT derivation (the kernel is one Arrow
    pass, no cross-doc state), so a batch's edge set is a deterministic
    function of the batch alone — Structured Streaming replays a failed
    batch under the same batch_id, and the dynamic partition overwrite
    rewrites exactly that batch's (pred, batch_id) partitions
    byte-identically instead of appending duplicates. No index fold, no
    collision guard needed — the KG sink is simpler than the dedup
    sinks BECAUSE triple extraction is stateless per document.

    Layout: ``pred`` is the leading partition column, so downstream
    consumers (motif slices, the analytics queries, plumule-over-KG)
    get partition pruning on constant-predicate reads, as they do on
    the batch store's ``edges_canonical`` (partitioned by ``pred``
    too); ``batch_id`` under it is the replay/idempotence unit and
    doubles as ingest lineage (which micro-batch produced each file).
    ``metrics_path``
    (default ``{edges_path}/_metrics``) gets one row per (batch_id,
    pred) with edge and doc counts — the per-partition metrics surface
    the north rule asks for, written with the same dynamic-overwrite
    idempotence.

    Downstream day-2 semantics (re-ingested paths at new commits)
    compose at READ time: ``triples.latest_snapshot`` on the source or
    ``edge_diff`` between snapshot builds — the sink itself is
    append-only, which is what makes replay trivially safe.

    Returns the StreamingQuery (caller stops it / processAllAvailable).
    """
    from pawpaw_spark.operators.triples import build_edges_fused

    mpath = metrics_path or f"{edges_path}/_metrics"

    def fold(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        edges = build_edges_fused(batch).persist()
        try:
            (
                edges.withColumn("batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("pred", "batch_id")
                .parquet(edges_path)
            )
            (
                edges.groupBy("pred")
                .agg(
                    F.count(F.lit(1)).cast("long").alias("n_edges"),
                    F.countDistinct("doc_id").cast("long").alias("n_docs"),
                )
                .withColumn("batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch_id")
                .parquet(mpath)
            )
        finally:
            edges.unpersist()

    return (
        source.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .start()
    )
