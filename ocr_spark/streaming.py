"""Structured Streaming surface for the extraction pipeline.

The reference explicitly descoped real-time ingest (CCTV streaming was
asked and rejected — /root/reference/documents/1차회의의문내용.md:6; the
product is batch photo uploads). This module exists because a complete
engine at 10^12-turn scale still needs an incremental path: new
transcript partitions land continuously, and re-running the batch job
over the full table is wasteful even with lineage resume.

Design: the SAME fused pandas UDF (ocr_spark.extract) applied to a
file-source stream. Exactly-once comes from Spark's checkpointed source
offsets + idempotent parquet sink — the streaming twin of the batch
lineage/anti-join protocol (ocr_spark.io). Extraction itself is
stateless per-row, so ``extract_stream`` is a pure map (the cheapest
possible streaming operator shape — no watermark needed);
``extract_stream_dedup`` adds the one stateful shape an at-least-once
source forces (watermarked keyed dedup, state bounded by event time).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ocr_spark.extract import extract
from ocr_spark.io import lineage_frame
from ocr_spark.schema import STREAM_LINEAGE, TRANSCRIPTS


def read_transcript_stream(
    spark: SparkSession,
    input_dir: str,
    max_files_per_trigger: int = 64,
) -> DataFrame:
    """File-source stream over a transcripts directory (new parquet files
    are discovered per micro-batch — the Iceberg/Kafka source drops in
    behind the same schema)."""
    return (
        spark.readStream.schema(TRANSCRIPTS)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


def extract_stream(
    transcripts: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    trigger_once: bool = False,
):
    """Run the extraction UDF over a streaming transcripts DataFrame.

    Returns the started StreamingQuery. ``trigger_once=True`` drains all
    available input then stops — the "incremental batch" mode (run from
    cron, process only new files, exactly-once via checkpoint).
    """
    ext = extract(transcripts)  # map-only: no partitions arg, no shuffle
    writer = (
        ext.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def extract_stream_dedup(
    transcripts: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    watermark: str = "1 hour",
    trigger_once: bool = False,
):
    """Stateful streaming: at-least-once source dedup before extraction.

    Real transcript feeds redeliver (a producer retry re-lands a file,
    a log-based source replays a segment), so the stream drops
    duplicate (conv_id, turn_idx) keys with keyed state bounded by an
    event-time watermark on ``ts``: a key's state is evicted once the
    watermark passes its event time, so state size is
    O(keys-per-watermark-window), not O(all keys ever seen) — the knob
    that keeps this runnable forever at 10^12-turn scale. Duplicates
    arriving later than ``watermark`` after the original are NOT
    caught (the standard watermarked-dedup contract); size the
    watermark to the source's redelivery horizon.

    First occurrence is emitted immediately (dropDuplicates streams
    rows through; only the state eviction waits for the watermark), so
    this adds one stateful shuffle and zero latency to the map-only
    extract. State survives restarts via the checkpoint.
    """
    deduped = transcripts.withWatermark("ts", watermark).dropDuplicates(
        ["conv_id", "turn_idx"]
    )
    ext = extract(deduped)
    writer = (
        ext.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def extract_stream_incremental(
    transcripts: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    store_dir: str,
    run_id: str,
    trigger_once: bool = False,
):
    """Streaming ingest composed with the CROSS-RUN fingerprint store
    (the batch ``--fingerprint-store`` semantics on the micro-batch
    path): each arriving turn's canonical content fingerprint
    anti-joins the STATIC committed store — a stream-static join, so
    no streaming state at all (the store is the state, durably on
    disk) — and only content no previous run committed flows into
    extraction.

    Intended for the availableNow DRAIN mode: each drain constructs a
    fresh query, so the store is re-listed at construction and a
    commit made between drains is seen by the next one. (Inside one
    long-running query the stream-static contract re-executes the
    static side per micro-batch, but the parquet FILE INDEX is
    resolved at plan time — do not rely on mid-query store growth.)
    This path deliberately does NOT commit new fingerprints itself: a
    drain's output is committed to the store by the caller after the
    drain completes (manifest-last, same as the batch CLI), keeping
    the at-most-once store append under caller control.

    Returns the started StreamingQuery.
    """
    from ocr_spark.operators.dedup import FingerprintStore
    from ocr_spark.operators.textops import with_fingerprint

    spark = transcripts.sparkSession
    store = FingerprintStore(store_dir)
    committed = store.committed_fingerprints(
        spark, exclude_run=run_id
    ).select("fingerprint")
    fresh = (
        with_fingerprint(transcripts)
        .join(committed, "fingerprint", "left_anti")
        .drop("fingerprint")
    )
    ext = extract(fresh)
    writer = (
        ext.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def url_dedup_stream(
    docs: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    ts_col: str = "ts",
    watermark: str = "1 hour",
    trigger_once: bool = False,
):
    """Streaming URL-level curation — the batch ``url_dedup`` grafted
    onto the micro-batch path, proving the curation family composes
    with streaming ingest: each arriving doc's URL canonicalizes via
    ``with_canonical_url`` (pure projection, streams through with no
    state), and the canonical key feeds a watermarked
    ``dropDuplicates`` so a URL seen under ANY raw variant (scheme
    case, www, :443, param order, tracking params, fragment) within
    the watermark horizon is emitted exactly once.

    Same state contract as ``extract_stream_dedup``: first occurrence
    emits immediately; a key's state evicts once the event-time
    watermark passes it, so state is O(urls-per-watermark-window) —
    the bound that keeps a crawl-frontier dedup runnable forever.
    Duplicates arriving later than ``watermark`` after the original
    are not caught; size the watermark to the source's redelivery /
    recrawl horizon. State survives restarts via the checkpoint.
    """
    from ocr_spark.operators.urlops import with_canonical_url

    canon = with_canonical_url(docs)
    deduped = canon.withWatermark(ts_col, watermark).dropDuplicates(
        ["canonical_url"]
    )
    writer = (
        deduped.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def sessionize_stream(
    events: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    key: str = "user_id",
    ts: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    trigger_once: bool = False,
):
    """Stateful streaming sessionization: gap-based session windows per
    key (``F.session_window`` — Spark's native merging-window state),
    emitting (key, start_ts, end_ts, n_events) once the event-time
    watermark passes a session's close (append mode: a session is only
    final when no more events can extend it, which is exactly what the
    watermark guarantees). State is bounded by the watermark horizon —
    the streaming twin of the batch ``relational.sessionize``.

    Late-data contract: events later than ``watermark`` after the
    stream's max event time are dropped by the watermark, and a session
    stays open (unemitted) until the watermark passes end + 0; size the
    watermark to the source's lateness horizon.
    """
    from pyspark.sql import functions as F

    agg = (
        events.withWatermark(ts, watermark)
        .groupBy(
            F.session_window(F.col(ts), gap).alias("w"), F.col(key)
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            key,
            F.col("w.start").alias("start_ts"),
            F.col("w.end").alias("end_ts"),
            "n_events",
        )
    )
    writer = (
        agg.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_counts_stream(
    events: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    key: str = "user_id",
    ts: str = "ts",
    window: str = "1 hour",
    watermark: str = "1 hour",
    trigger_once: bool = False,
):
    """Watermarked TUMBLING-window aggregation — the fixed-bucket twin
    of :func:`sessionize_stream` and the canonical late-data shape:
    (key, window) counts are emitted in append mode once the event-time
    watermark passes the window's end, so every emitted bucket is FINAL
    (no retraction downstream); events arriving later than ``watermark``
    after the stream's max event time are dropped, never double-counted
    (pytest-pinned: a post-emission late event changes nothing).

    State is one count per (key, open window) within the watermark
    horizon — bounded, independent of stream length. The batch
    equivalent is ``groupBy(F.window(ts, window), key).count()``; the
    streaming plan is the SAME declarative agg plus the watermark,
    which is the whole point of Structured Streaming's model.
    """
    from pyspark.sql import functions as F

    agg = (
        events.withWatermark(ts, watermark)
        .groupBy(F.window(F.col(ts), window).alias("w"), F.col(key))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            key,
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
        )
    )
    writer = (
        agg.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def extract_stream_with_lineage(
    transcripts: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    lineage_dir: str,
    trigger_once: bool = False,
    counters=None,
):
    """Streaming twin of the batch lineage protocol (observability
    parity with ``ExtractWriter``): each micro-batch writes its data
    partition idempotently (overwrite of batch_id=<n>, so a replayed
    batch after a crash rewrites rather than duplicates), then appends
    ONE lineage row (batch_id, n_turns, n_errors, committed_at) LAST —
    manifest-last, exactly like the batch writer. Read lineage with
    ``dropDuplicates(['batch_id'])``: a replayed batch may append its
    row twice, and batch_id is the dedup key (the counts are identical
    by determinism).

    ``counters`` (an ``ExtractCounters``) is forwarded into the
    extraction UDF — in a clean run (no task retries) its ``n_turns``
    equals total rows EXACTLY ONCE, which is how the
    one-kernel-execution-per-batch guarantee is pytest-pinned.
    """
    from pyspark.sql import functions as F

    ext = extract(transcripts, counters=counters)

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # The batch plan (incl. the pandas-UDF extraction) is consumed by
        # TWO actions — the data write and the lineage agg. Without a
        # persist each action re-executes the extraction, doubling the
        # per-batch cost; cache once, compute both, release.
        batch_df = batch_df.persist()
        try:
            (
                batch_df.write.mode("overwrite").parquet(
                    f"{output_dir}/batch_id={batch_id}"
                )
            )
            stats = batch_df.agg(
                F.count(F.lit(1)).alias("n_turns"),
                F.sum(
                    (F.col("error") != "").cast("long")
                ).alias("n_errors"),
            ).collect()[0]
        finally:
            batch_df.unpersist()
        lineage_frame(
            spark,
            [(batch_id, stats.n_turns, stats.n_errors or 0)],
            STREAM_LINEAGE,
        ).write.mode("append").parquet(lineage_dir)

    writer = (
        ext.writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def conv_progress_stream(
    transcripts: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    watermark: str = "1 hour",
    idle_gap_ms: int = 30 * 60 * 1000,
    trigger_once: bool = False,
):
    """CUSTOM stateful streaming operator (``applyInPandasWithState``):
    per-conversation running progress counters — the streaming twin of
    the batch accumulators/lineage half of O15, for conversations that
    arrive incrementally across many micro-batches.

    Each micro-batch emits one updated row per conversation touched:
    (conv_id, n_turns, n_tool_turns, final=false) with counts
    accumulated in keyed state (so a conversation whose turns land in
    ten different drains still reports its running total). When the
    event-time watermark passes a conversation's last activity plus
    ``idle_gap_ms``, the state times out: a closing row with
    final=true is emitted and the state is dropped — state size is
    O(active conversations), not O(all conversations ever seen), the
    bound that keeps this runnable forever. State (and therefore the
    running counts) survives restarts via the checkpoint.

    This is the escape hatch the built-in operators can't express:
    ``dropDuplicates`` and ``session_window`` cover dedup and
    sessionization, but an arbitrary per-key accumulator with custom
    eviction semantics needs the Arrow-batched state API.
    """
    import pandas as pd  # noqa: PLC0415 - worker-side import
    from pyspark.sql.streaming.state import (
        GroupState,
        GroupStateTimeout,
    )

    def update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            n_turns, n_tools, _ = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "conv_id": [key[0]],
                    "n_turns": [n_turns],
                    "n_tool_turns": [n_tools],
                    "final": [True],
                }
            )
            return
        turns = tools = 0
        last_ms = 0
        for pdf in pdfs:
            turns += len(pdf)
            tools += int(pdf["tool"].notna().sum())
            if len(pdf):
                last_ms = max(
                    last_ms,
                    int(pdf["ts"].max().timestamp() * 1000),
                )
        if state.exists:
            n_turns, n_tools, prev_ms = state.get
        else:
            n_turns, n_tools, prev_ms = 0, 0, 0
        n_turns += turns
        n_tools += tools
        last_ms = max(last_ms, prev_ms)
        state.update((n_turns, n_tools, last_ms))
        state.setTimeoutTimestamp(last_ms + idle_gap_ms)
        yield pd.DataFrame(
            {
                "conv_id": [key[0]],
                "n_turns": [n_turns],
                "n_tool_turns": [n_tools],
                "final": [False],
            }
        )

    prog = (
        transcripts.withWatermark("ts", watermark)
        .groupBy("conv_id")
        .applyInPandasWithState(
            update,
            "conv_id string, n_turns long, n_tool_turns long, "
            "final boolean",
            "n_turns long, n_tool_turns long, last_ms long",
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )
    writer = (
        prog.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
