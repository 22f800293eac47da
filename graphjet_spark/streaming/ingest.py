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
  partitions), the sliding-window semantics;
- four live-state folds (CC labels, count-min grid, near-dup keep-list,
  change-rate statistics), each a merge function on one exactly-once
  ``foreachBatch`` fold (:func:`_fold`) that publishes its snapshots
  through :mod:`graphjet_spark.sources.committer` and keeps at most
  ``SNAPSHOTS_KEPT`` of them.

Scale notes: the streaming job is stateless (extraction only), so
throughput scales with source parallelism; segment expiry is a
metadata-only delete of whole partitions (no rewrite), exactly like
GraphJet freeing a segment wholesale.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from graphjet_spark.plans.build_edges import extract_link_rows
from graphjet_spark.sources.committer import commit_staged, expire, versions

# The newest snapshot plus the base a replay of its batch reads.
SNAPSHOTS_KEPT = 2

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
    return expire(out_dir, "segment", max_segments)


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


def _snapshot(spark: SparkSession, snap_dir: str, *, before: int | None = None):
    """Newest committed ``v=<batch_id>`` snapshot under ``snap_dir``
    (strictly older than ``before`` when given), or ``None``."""
    vs = [v for v in versions(snap_dir, "v") if before is None or v < before]
    if not vs:
        return None
    return spark.read.parquet(os.path.join(snap_dir, f"v={vs[-1]}"))


def _fold(
    spark: SparkSession,
    stream: DataFrame,
    snap_dir: str,
    merge: Callable[[DataFrame, int, DataFrame | None], DataFrame],
    *,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Exactly-once state fold on top of at-least-once ``foreachBatch``.

    Batch ``b`` merges into the newest snapshot STRICTLY OLDER than
    ``b`` (``None`` before the first), commits ``merge(batch, b, base)``
    to ``snap_dir/v=<b>`` through :func:`commit_staged`, then expires
    all but the newest ``SNAPSHOTS_KEPT`` snapshots.  A replayed batch
    re-reads the same base, which the expiry kept, and overwrites its
    own snapshot with the same state, so folds whose merge is not
    idempotent (a count-min sum) stay exact."""

    def _batch(batch: DataFrame, batch_id: int) -> None:
        base = _snapshot(spark, snap_dir, before=batch_id)
        state = merge(batch, batch_id, base)
        path = os.path.join(snap_dir, f"v={batch_id}")
        commit_staged(path, "overwrite", state.write.parquet)
        expire(snap_dir, "v", SNAPSHOTS_KEPT)

    writer = stream.writeStream.foreachBatch(_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_component_labels(spark: SparkSession, labels_dir: str):
    """Latest committed ``(id, component)`` snapshot written by
    :func:`streaming_components`, or ``None`` before the first batch."""
    return _snapshot(spark, labels_dir)


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

    Runs on :func:`_fold` with a continuous trigger: snapshots land at
    ``labels_dir/v=<batch_id>``, a replayed batch re-merges into the
    snapshot before its own id, and readers take the newest committed
    snapshot (:func:`read_component_labels`).
    """
    from graphjet_spark.plans.components import connected_components_delta

    def _merge(batch: DataFrame, batch_id: int, old: DataFrame | None):
        if old is None:
            old = spark.createDataFrame([], "id bigint, component bigint")
        return connected_components_delta(spark, old, batch.select("src", "dst"))

    return _fold(
        spark, edges, labels_dir, _merge,
        checkpoint_dir=checkpoint_dir, available_now=False,
    )


def read_sketch_grid(spark: SparkSession, grid_dir: str):
    """Latest committed ``(row, bucket, cnt)`` count-min grid snapshot
    written by :func:`streaming_cms`, or ``None`` before the first
    batch."""
    return _snapshot(spark, grid_dir)


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

    CMS addition is NOT idempotent, so exactness across a replay rests
    on :func:`_fold`'s strictly-before base: a replayed batch re-reads
    the same base and produces the same ``grid_dir/v=<batch_id>``.
    Readers take the newest committed version (:func:`read_sketch_grid`)."""
    from graphjet_spark.operators.sketches import cms_counters

    def _merge(batch: DataFrame, batch_id: int, base: DataFrame | None):
        grid = cms_counters(batch, key_col, width=width, depth=depth)
        if base is None:
            return grid
        return (
            grid.unionByName(base)
            .groupBy("row", "bucket")
            .agg(F.sum("cnt").cast("bigint").alias("cnt"))
        )

    return _fold(spark, stream, grid_dir, _merge, checkpoint_dir=checkpoint_dir)


def read_keep_list(spark: SparkSession, state_dir: str):
    """Latest committed ``(doc_id, keep_id)`` snapshot written by
    :func:`streaming_keep_list`, or ``None`` before the first batch."""
    return _snapshot(spark, os.path.join(state_dir, "keeps"))


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

    Runs on :func:`_fold`: the batch's corpus slice is committed at
    ``corpus/b=<batch_id>`` (never expired, since the delta reads every
    slice) and the keep-list snapshot at ``keeps/v=<batch_id>``.
    Readers take the newest committed snapshot (:func:`read_keep_list`)
    — equal, by ``dedup_keep_list_delta``'s row-identity contract, to
    the batch :func:`~graphjet_spark.operators.dedup.dedup_keep_list`
    over everything ingested so far.
    """
    corpus_dir = os.path.join(state_dir, "corpus")
    from graphjet_spark.operators.dedup import dedup_keep_list_delta

    def _merge(batch: DataFrame, batch_id: int, old: DataFrame | None):
        commit_staged(
            os.path.join(corpus_dir, f"b={batch_id}"), "overwrite", batch.write.parquet
        )
        corpus = spark.read.parquet(
            *(os.path.join(corpus_dir, f"b={b}") for b in versions(corpus_dir, "b"))
        )
        if old is None:
            old = spark.createDataFrame([], "doc_id bigint, keep_id bigint")
        return dedup_keep_list_delta(
            corpus, batch.select("doc_id"), old, n=n, threshold=threshold
        )

    return _fold(
        spark, docs, os.path.join(state_dir, "keeps"), _merge,
        checkpoint_dir=checkpoint_dir,
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

    Runs on :func:`_fold`: the merged snapshot lands at
    ``caprates/v=<batch_id>``.  Readers (:func:`read_change_rates`)
    apply the closed-form estimator to the newest snapshot — equal, by
    the merge identity, to the batch operator over every capture
    ingested so far (pinned by pytest).
    """
    from graphjet_spark.functions.hashing import md5_prefix_bigint

    def _merge(batch: DataFrame, batch_id: int, old: DataFrame | None):
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
        if old is None:
            old = spark.createDataFrame(
                [],
                "url string, n_captures bigint, n_changes bigint, "
                "first_ts bigint, last_ts bigint, last_fp bigint",
            )
        boundary = (
            F.col("n_captures").isNotNull()
            & F.col("b_n").isNotNull()
            & (F.col("last_fp") != F.col("b_first_fp"))
        ).cast("bigint")
        return (
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

    return _fold(
        spark, captures, os.path.join(state_dir, "caprates"), _merge,
        checkpoint_dir=checkpoint_dir,
    )


def read_change_rates(spark: SparkSession, state_dir: str):
    """Latest committed change-rate estimates from the streaming
    fold's state — same output shape and values as the batch
    :func:`graphjet_spark.operators.crawl.page_change_rate` over all
    captures folded so far, or ``None`` before the first commit."""
    from graphjet_spark.operators.crawl import change_rate_from_stats

    snap = _snapshot(spark, os.path.join(state_dir, "caprates"))
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
