"""Structured Streaming edge ingest — the live-segment analogue.

GraphJet's write path is a continuous stream: statuses arrive, edges
append to the live segment, segments seal and roll over, the oldest
drops (reference: graphjet-demo/src/main/java/com/twitter/graphjet/
demo/TwitterStreamReader.java:129-160; rollover bipartite/
LeftIndexedMultiSegmentBipartiteGraph.java:125-158; drop-oldest
bipartite/MultiSegmentReaderAccessibleInfoProvider.java:86-90).

Batch re-expression used by the north rule is partition-append; this
module provides the genuine streaming form for parity:

- ``stream_pages``: file-source readStream over a pages directory
  (new parquet files = arriving crawl batches);
- ``edge_stream``: the SAME extraction stage as the batch path
  (plans/build_edges.extract_link_rows works unchanged on a streaming
  DataFrame — it is one JVM Column plan, so a microbatch never ships
  its pages to a Python worker);
- ``write_edge_segments``: append sink partitioned by ``segment``
  (ingest-time bucket) — one partition dir per GraphJet segment;
- ``expire_segments``: drop-oldest retention (keep last k segment
  partitions), the sliding-window semantics.

Scale notes: the streaming job is stateless (extraction only), so
throughput scales with source parallelism; segment expiry is a
metadata-only delete of whole partitions (no rewrite), exactly like
GraphJet freeing a segment wholesale.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from graphjet_spark.plans.build_edges import extract_link_rows

PAGES_STREAM_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def stream_pages(
    spark: SparkSession, pages_dir: str, *, max_files_per_trigger: int = 4
) -> DataFrame:
    """File-stream source over a pages directory.  The trigger size is
    the ingest-throughput knob: each microbatch pays fixed planning +
    exactly-once commit cost, so a production ingest sized for
    1M edges/s wants far fewer, larger batches than the default 4
    (sized for fine-grained test replay)."""
    return (
        spark.readStream.schema(PAGES_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(pages_dir)
    )


def edge_stream(pages: DataFrame, *, segment_seconds: int = 3600) -> DataFrame:
    """Streaming link extraction + segment assignment (ingest-time
    bucket = unix_ts // segment_seconds, GraphJet's arrival-order
    segment id)."""
    links = extract_link_rows(pages)
    return links.select(
        F.xxhash64("src_url").alias("src"),
        F.xxhash64("dst_url").alias("dst"),
        "src_url",
        "dst_url",
        "warc_ts",
        F.lit(0).alias("edge_type"),
        (F.unix_timestamp("warc_ts") / segment_seconds).cast("long").alias("segment"),
    )


def write_edge_segments(
    edges: DataFrame, out_dir: str, checkpoint_dir: str, *, available_now: bool = True
):
    """Append edges partitioned by segment; exactly-once via the
    streaming checkpoint (replaces GraphJet's single-writer contract)."""
    writer = (
        edges.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("segment")
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def expire_segments(out_dir: str, *, max_segments: int) -> list[int]:
    """Drop-oldest retention: keep the newest ``max_segments`` segment
    partitions, delete the rest wholesale (metadata-only, no rewrite —
    the MultiSegmentReaderAccessibleInfoProvider.java:86-90 semantics).
    Returns the dropped segment ids."""
    segs = sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(out_dir)
        if d.startswith("segment=")
    )
    drop = segs[:-max_segments] if max_segments else segs
    for s in drop:
        shutil.rmtree(os.path.join(out_dir, f"segment={s}"))
    return drop


def running_degrees(edges: DataFrame) -> DataFrame:
    """Custom stateful streaming operator: running out-degree per src,
    maintained with ``applyInPandasWithState`` — the streaming analogue
    of GraphJet's live-segment degree counters (degrees kept adjacent to
    the adjacency state and updated per addEdge; reference bipartite/
    segment/LeftIndexedBipartiteGraphSegment.java:173-217).

    State = one bigint per node; each micro-batch adds the node's new
    edge count and emits the updated total (output mode ``update``).
    The state store lives in the streaming checkpoint, so counters
    survive restarts exactly-once — the property the in-memory reference
    loses on process death.  Per-group batches arrive as Arrow frames;
    the kernel is a constant-time accumulate, so a mega-hub node costs
    one state row, not memory proportional to its degree.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def _update(key, pdfs, state):
        prev = state.get[0] if state.exists else 0
        add = 0
        for pdf in pdfs:
            add += len(pdf)
        total = prev + add
        state.update((total,))
        yield pd.DataFrame({"src": [key[0]], "out_degree": [total]})

    return edges.groupBy("src").applyInPandasWithState(
        _update,
        outputStructType="src bigint, out_degree bigint",
        stateStructType="cnt bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def read_edges(spark: SparkSession, out_dir: str) -> DataFrame:
    """Batch view over the surviving segments (readers see committed
    state only — snapshot-consistency analogue).

    Reads the segment partition dirs explicitly rather than the sink
    root: the streaming sink's _spark_metadata log still references
    expired files, so a root read would resurrect dropped segments
    (Iceberg's snapshot expiry handles this natively; this is the
    parquet-sandbox equivalent)."""
    seg_dirs = sorted(
        os.path.join(out_dir, d)
        for d in os.listdir(out_dir)
        if d.startswith("segment=")
    )
    if not seg_dirs:
        raise FileNotFoundError(f"no segments under {out_dir}")
    return spark.read.option("basePath", out_dir).parquet(*seg_dirs)


def windowed_event_counts(
    stream: DataFrame,
    *,
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Event-time tumbling-window counts with a late-data watermark —
    the streaming twin of the batch ``events_daily`` rollup.

    With append output mode a window finalizes once the watermark
    passes its end; rows arriving later than the watermark are dropped
    (the bounded-state contract that lets this run forever at 100 TB/day
    event volume — state size is windows-in-flight, not history)."""
    from pyspark.sql import functions as F

    w = F.window(F.col(ts_col), window_duration)
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(w.alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
        )
    )


def _latest_snapshot(
    spark: SparkSession, snap_dir: str, *, before: int | None = None
):
    """Latest ``_SUCCESS``-committed ``v=<batch_id>`` snapshot under
    ``snap_dir`` (optionally strictly older than ``before``), or
    ``None`` — the shared reader for every per-batch-id snapshot
    layout (CC labels, sketch grids)."""
    if not os.path.isdir(snap_dir):
        return None
    versions = sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(snap_dir)
        if d.startswith("v=")
        and os.path.exists(os.path.join(snap_dir, d, "_SUCCESS"))
    )
    if before is not None:
        versions = [v for v in versions if v < before]
    if not versions:
        return None
    return spark.read.parquet(os.path.join(snap_dir, f"v={versions[-1]}"))


def read_component_labels(spark: SparkSession, labels_dir: str):
    """Latest committed ``(id, component)`` snapshot written by
    :func:`streaming_components`, or ``None`` before the first batch."""
    return _latest_snapshot(spark, labels_dir)


def streaming_components(
    spark: SparkSession,
    edges: DataFrame,
    labels_dir: str,
    *,
    checkpoint_dir: str,
):
    """Live connected-component labels over a micro-batch edge stream —
    the streaming composition of the batch delta path: every batch
    folds into the label table via the condensed-graph merge
    (:func:`graphjet_spark.plans.components.connected_components_delta`,
    work ∝ batch size), never re-flooding the accumulated graph.  This
    is the closest batch-engine analogue of GraphJet ingesting edges
    into a live segment while serving connectivity reads.

    Snapshots are written idempotently per micro-batch id
    (``labels_dir/v=<batch_id>``), so a replayed batch after a crash
    overwrites its own output — exactly-once labels on top of the
    at-least-once foreachBatch contract.  Readers pick the latest
    ``_SUCCESS``-committed snapshot (:func:`read_component_labels`).
    """
    from graphjet_spark.plans.components import connected_components_delta

    def _fold(batch: DataFrame, batch_id: int) -> None:
        old = read_component_labels(spark, labels_dir)
        if old is None:
            old = spark.createDataFrame([], "id bigint, component bigint")
        new = connected_components_delta(
            spark, old, batch.select("src", "dst")
        )
        new.write.mode("overwrite").parquet(
            os.path.join(labels_dir, f"v={batch_id}")
        )

    return (
        edges.writeStream.foreachBatch(_fold)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def dedup_events_within_watermark(
    stream: DataFrame,
    *,
    key_cols: tuple[str, ...] = ("event_id",),
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Exactly-once event delivery over an at-least-once transport:
    drop redelivered events whose dedup key was already seen, keeping
    state only within the watermark horizon
    (``dropDuplicatesWithinWatermark``, the bounded-state form — plain
    dropDuplicates would accumulate every key ever seen, which is
    unbounded at 100 TB/day; a redelivery later than the watermark is
    the transport's SLA violation, not ours).

    The streaming-ingest analogue of the reference's exactly-once
    segment contract (SURVEY §2.10): the batch twin is a plain
    ``dropDuplicates(key_cols)`` and the restart test proves the state
    store carries the seen-set across a checkpoint-restore."""
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )


def streaming_session_stats(
    stream: DataFrame,
    *,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """Per-user session rollup over the live event stream via
    ``session_window`` — the streaming twin of the batch gap-based
    sessionization in operators/sessions.py (same gap semantics;
    sessions close when the watermark passes their end, so state is
    open-sessions-sized, never history-sized).

    Returns (user_id, session_start, session_end, n_events)."""
    w = F.session_window(F.col(ts_col), gap)
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.col(user_col), w.alias("s"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
        .select(
            user_col,
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "n_events",
        )
    )


def read_sketch_grid(
    spark: SparkSession, grid_dir: str, *, before: int | None = None
):
    """Latest committed ``(row, bucket, cnt)`` count-min grid snapshot
    written by :func:`streaming_cms`, or ``None`` before the first
    batch.  ``before`` restricts to versions strictly older — the
    exactly-once replay rule (see below)."""
    return _latest_snapshot(spark, grid_dir, before=before)


def streaming_cms(
    spark: SparkSession,
    stream: DataFrame,
    grid_dir: str,
    *,
    checkpoint_dir: str,
    key_col: str,
    width: int = 64,
    depth: int = 4,
):
    """Live count-min grid over a micro-batch stream: each batch's
    grid merges CELL-WISE (sum) into the accumulated grid — the
    mergeability contract of the sketch doing the streaming work.

    Exactly-once on top of at-least-once foreachBatch: CMS addition is
    NOT idempotent (unlike the CC fold, which tolerates re-merging the
    same edges), so a batch folds into the newest snapshot STRICTLY
    OLDER than its own batch id and overwrites its own
    ``grid_dir/v=<batch_id>`` — a replayed batch re-reads the same base
    and produces the same snapshot.  Readers take the latest
    ``_SUCCESS``-committed version (:func:`read_sketch_grid`)."""
    from graphjet_spark.operators.sketches import cms_counters

    def _fold(batch: DataFrame, batch_id: int) -> None:
        grid = cms_counters(batch, key_col, width=width, depth=depth)
        base = read_sketch_grid(spark, grid_dir, before=batch_id)
        if base is not None:
            grid = (
                grid.unionByName(base)
                .groupBy("row", "bucket")
                .agg(F.sum("cnt").cast("bigint").alias("cnt"))
            )
        grid.write.mode("overwrite").parquet(
            os.path.join(grid_dir, f"v={batch_id}")
        )

    return (
        stream.writeStream.foreachBatch(_fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_keep_list(spark: SparkSession, state_dir: str):
    """Latest committed ``(doc_id, keep_id)`` snapshot written by
    :func:`streaming_keep_list`, or ``None`` before the first batch."""
    return _latest_snapshot(spark, os.path.join(state_dir, "keeps"))


def streaming_keep_list(
    spark: SparkSession,
    docs: DataFrame,
    state_dir: str,
    *,
    checkpoint_dir: str,
    n: int = 1,
    threshold: float = 0.9,
):
    """Live near-dup keep-list maintenance over a micro-batch document
    stream — the streaming composition of
    :func:`graphjet_spark.operators.dedup.dedup_keep_list_delta`: each
    batch appends to the accumulated corpus, then folds into the
    keep-list with quadratic pair work restricted to new x all (never a
    full recompute).  This is the continuous-crawl dedup loop: GraphJet
    ingests edges into a live segment while serving reads (reference:
    bipartite/LeftIndexedMultiSegmentBipartiteGraph.java:144-158); here
    the "live segment" is the newest corpus batch and the served state
    is the keep-list.

    Exactly-once on top of at-least-once foreachBatch, like
    :func:`streaming_components`: the batch's corpus slice lands
    idempotently at ``corpus/b=<batch_id>`` and the keep-list snapshot
    at ``keeps/v=<batch_id>``; a replayed batch reads the snapshot
    STRICTLY BEFORE its own id, so replay recomputes byte-identical
    output and overwrites itself.  Readers pick the latest committed
    snapshot (:func:`read_keep_list`) — equal, by
    ``dedup_keep_list_delta``'s row-identity contract, to the batch
    :func:`~graphjet_spark.operators.dedup.dedup_keep_list` over
    everything ingested so far.
    """
    corpus_dir = os.path.join(state_dir, "corpus")
    keeps_dir = os.path.join(state_dir, "keeps")
    from graphjet_spark.operators.dedup import dedup_keep_list_delta

    def _fold(batch: DataFrame, batch_id: int) -> None:
        batch.write.mode("overwrite").parquet(
            os.path.join(corpus_dir, f"b={batch_id}")
        )
        corpus = spark.read.parquet(corpus_dir).drop("b")
        old = _latest_snapshot(spark, keeps_dir, before=batch_id)
        if old is None:
            old = spark.createDataFrame([], "doc_id bigint, keep_id bigint")
        keeps = dedup_keep_list_delta(
            corpus,
            batch.select("doc_id"),
            old,
            n=n,
            threshold=threshold,
        )
        keeps.write.mode("overwrite").parquet(
            os.path.join(keeps_dir, f"v={batch_id}")
        )

    return (
        docs.writeStream.foreachBatch(_fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def streaming_change_rates(
    spark: SparkSession,
    captures: DataFrame,
    state_dir: str,
    *,
    checkpoint_dir: str,
):
    """Live Cho-Garcia-Molina change-rate maintenance over a capture
    stream ``(url, warc_epoch, text)`` — the streaming twin of
    :func:`graphjet_spark.operators.crawl.page_change_rate`.  The
    crawl scheduler's revisit priorities stay fresh without ever
    re-reading the capture log: state is one row of MERGEABLE
    sufficient statistics per URL ``(n_captures, n_changes, first_ts,
    last_ts, last_fp)``, and each micro-batch folds in as batch-local
    stats plus one boundary comparison (did the first fetch of this
    batch differ from the last known fingerprint?).

    Arrival contract: per-URL time-ordered batches (a live fetch log
    appends captures as they happen) — the same in-order contract the
    running-degree and CC folds assume.  Within a batch, rows may be
    unordered (the fold sorts by ``warc_epoch``).

    Exactly-once on top of at-least-once foreachBatch, like
    :func:`streaming_components`: the merged snapshot lands at
    ``caprates/v=<batch_id>``; a replayed batch re-reads the snapshot
    STRICTLY BEFORE its own id and overwrites itself byte-identically.
    Readers (:func:`read_change_rates`) apply the closed-form
    estimator to the latest snapshot — equal, by the merge identity,
    to the batch operator over every capture ingested so far (pinned
    by pytest).
    """
    from graphjet_spark.functions.hashing import md5_prefix_bigint

    stats_dir = os.path.join(state_dir, "caprates")
    empty_schema = (
        "url string, n_captures bigint, n_changes bigint, "
        "first_ts bigint, last_ts bigint, last_fp bigint"
    )

    def _fold(batch: DataFrame, batch_id: int) -> None:
        w = Window.partitionBy("url").orderBy("ts")
        marked = (
            batch.select(
                "url",
                F.col("warc_epoch").cast("long").alias("ts"),
                md5_prefix_bigint(F.col("text")).alias("fp"),
            )
            .withColumn("prev_fp", F.lag("fp").over(w))
        )
        b = marked.groupBy("url").agg(
            F.count(F.lit(1)).cast("bigint").alias("b_n"),
            F.sum(
                F.when(
                    F.col("prev_fp").isNotNull()
                    & (F.col("fp") != F.col("prev_fp")),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("b_x"),
            F.min("ts").alias("b_first_ts"),
            F.max("ts").alias("b_last_ts"),
            F.expr("min_by(fp, ts)").alias("b_first_fp"),
            F.expr("max_by(fp, ts)").alias("b_last_fp"),
        )
        old = _latest_snapshot(spark, stats_dir, before=batch_id)
        if old is None:
            old = spark.createDataFrame([], empty_schema)
        boundary = (
            F.col("n_captures").isNotNull()
            & F.col("b_n").isNotNull()
            & (F.col("last_fp") != F.col("b_first_fp"))
        ).cast("bigint")
        merged = (
            old.join(b, "url", "full_outer")
            .select(
                "url",
                (
                    F.coalesce("n_captures", F.lit(0))
                    + F.coalesce("b_n", F.lit(0))
                ).alias("n_captures"),
                (
                    F.coalesce("n_changes", F.lit(0))
                    + F.coalesce("b_x", F.lit(0))
                    + F.coalesce(boundary, F.lit(0))
                ).alias("n_changes"),
                F.coalesce("first_ts", "b_first_ts").alias("first_ts"),
                F.coalesce("b_last_ts", "last_ts").alias("last_ts"),
                F.coalesce("b_last_fp", "last_fp").alias("last_fp"),
            )
        )
        merged.write.mode("overwrite").parquet(
            os.path.join(stats_dir, f"v={batch_id}")
        )

    return (
        captures.writeStream.foreachBatch(_fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_change_rates(spark: SparkSession, state_dir: str):
    """Latest committed change-rate estimates from the streaming
    fold's state — same output shape and values as the batch
    :func:`graphjet_spark.operators.crawl.page_change_rate` over all
    captures folded so far, or ``None`` before the first commit."""
    from graphjet_spark.operators.crawl import change_rate_from_stats

    snap = _latest_snapshot(spark, os.path.join(state_dir, "caprates"))
    if snap is None:
        return None
    return change_rate_from_stats(
        snap.select(
            "url",
            "n_captures",
            "n_changes",
            (F.col("last_ts") - F.col("first_ts"))
            .cast("bigint")
            .alias("span_s"),
        )
    )
