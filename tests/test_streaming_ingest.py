"""Streaming ingest parity tests: file-stream -> extraction -> segment
append -> drop-oldest retention (SURVEY.md §2.10)."""

from __future__ import annotations

import os

from graphjet_spark.sources.pages import CorpusSpec, synthesize_pages
from graphjet_spark.streaming import ingest


def test_stream_ingest_matches_batch_extraction(spark, tmp_path):
    pdf, true_links = synthesize_pages(CorpusSpec(200, n_components=2))
    pages_dir = str(tmp_path / "pages")
    # 4 arrival batches = 4 files
    for i in range(4):
        spark.createDataFrame(pdf.iloc[i * 50 : (i + 1) * 50]).coalesce(1).write.mode(
            "append"
        ).parquet(pages_dir)

    out_dir = str(tmp_path / "edges")
    ck_dir = str(tmp_path / "ck")
    stream = ingest.edge_stream(
        ingest.stream_pages(spark, pages_dir), segment_seconds=60
    )
    q = ingest.write_edge_segments(stream, out_dir, ck_dir)
    q.awaitTermination(120)

    got = ingest.read_edges(spark, out_dir)
    rows = got.select("src_url", "dst_url").collect()
    want = sorted(
        map(tuple, true_links[["src_url", "dst_url"]].itertuples(index=False))
    )
    assert sorted((r["src_url"], r["dst_url"]) for r in rows) == want

    # segments: warc_ts advances 1s per page -> 200s span -> >=3 buckets
    segs = {r["segment"] for r in got.select("segment").distinct().collect()}
    assert len(segs) >= 3

    # restart with no new data: exactly-once, nothing duplicated
    q2 = ingest.write_edge_segments(
        ingest.edge_stream(
            ingest.stream_pages(spark, pages_dir), segment_seconds=60
        ),
        out_dir,
        ck_dir,
    )
    q2.awaitTermination(60)
    assert ingest.read_edges(spark, out_dir).count() == len(want)


def test_expire_segments_drop_oldest(spark, tmp_path):
    pdf, _ = synthesize_pages(CorpusSpec(120))
    pages_dir = str(tmp_path / "pages")
    spark.createDataFrame(pdf).coalesce(1).write.parquet(pages_dir)
    out_dir = str(tmp_path / "edges")
    q = ingest.write_edge_segments(
        ingest.edge_stream(
            ingest.stream_pages(spark, pages_dir), segment_seconds=30
        ),
        out_dir,
        str(tmp_path / "ck"),
    )
    q.awaitTermination(120)
    all_segs = sorted(
        int(d.split("=")[1])
        for d in os.listdir(out_dir)
        if d.startswith("segment=")
    )
    assert len(all_segs) >= 4
    dropped = ingest.expire_segments(out_dir, max_segments=2)
    assert dropped == all_segs[:-2]
    left = ingest.read_edges(spark, out_dir)
    assert {r["segment"] for r in left.select("segment").distinct().collect()} == set(
        all_segs[-2:]
    )


def test_running_degrees_stateful_resume(spark, tmp_path):
    """applyInPandasWithState degree counters: per-batch updates emit
    running totals, and the state store in the checkpoint carries the
    counters across a query restart (exactly-once stateful resume)."""
    from pyspark.sql import functions as F

    edges_dir = str(tmp_path / "edges_in")
    ck = str(tmp_path / "state_ck")
    out_dir = str(tmp_path / "deg_out")

    def _feed(rows):
        spark.createDataFrame(rows, "src bigint, dst bigint").coalesce(
            1
        ).write.mode("append").parquet(edges_dir)

    def _run():
        stream = spark.readStream.schema("src bigint, dst bigint").parquet(
            edges_dir
        )

        def sink(df, batch_id):
            df.withColumn("batch_id", F.lit(batch_id)).write.mode(
                "append"
            ).parquet(out_dir)

        q = (
            ingest.running_degrees(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        rows = spark.read.parquet(out_dir).collect()
        # the update stream appends one row per (src, batch); the row
        # from the highest batch is the current running total
        out = {}
        for r in sorted(rows, key=lambda r: r["batch_id"]):
            out[r["src"]] = r["out_degree"]
        return out

    _feed([(1, 10), (1, 11), (1, 12), (2, 10)])
    got1 = _run()
    assert got1 == {1: 3, 2: 1}

    # new files + RESTARTED query on the same checkpoint: totals resume
    # (node 1 accumulated 3 -> 4 across the restart; node 2's earlier
    # total remains in the append sink, untouched by the new batch)
    _feed([(1, 13), (3, 10)])
    got2 = _run()
    assert got2 == {1: 4, 2: 1, 3: 1}


def test_streaming_components_match_batch_cc(spark, tmp_path):
    """Live CC labels folded per micro-batch through the condensed-
    graph delta path must equal batch CC over all edges ingested so
    far — after each feed AND across a query restart."""
    from graphjet_spark.plans.components import connected_components_star

    edges_dir = str(tmp_path / "cc_edges_in")
    ck = str(tmp_path / "cc_ck")
    labels_dir = str(tmp_path / "cc_labels")

    def _feed(rows):
        spark.createDataFrame(rows, "src bigint, dst bigint").coalesce(
            1
        ).write.mode("append").parquet(edges_dir)

    def _run():
        stream = spark.readStream.schema("src bigint, dst bigint").parquet(
            edges_dir
        )
        q = ingest.streaming_components(
            spark, stream, labels_dir, checkpoint_dir=ck
        )
        q.processAllAvailable()
        q.stop()

    def _want(all_rows):
        df = spark.createDataFrame(all_rows, "src bigint, dst bigint")
        return {
            r["id"]: r["component"]
            for r in connected_components_star(spark, df).collect()
        }

    batch1 = [(1, 2), (3, 4), (10, 11)]
    _feed(batch1)
    _run()
    got = {
        r["id"]: r["component"]
        for r in ingest.read_component_labels(spark, labels_dir).collect()
    }
    assert got == _want(batch1)

    # second feed bridges 2-3 (merges {1,2} with {3,4}) and adds a new
    # vertex; restart the query from the checkpoint
    batch2 = [(2, 3), (11, 12)]
    _feed(batch2)
    _run()
    got = {
        r["id"]: r["component"]
        for r in ingest.read_component_labels(spark, labels_dir).collect()
    }
    assert got == _want(batch1 + batch2)
    assert got[4] == 1 and got[12] == 10


def test_streaming_cms_folds_match_batch_grid(spark, tmp_path):
    """Live count-min grid folded per micro-batch must equal the batch
    grid over all keys ingested so far — after each feed AND across a
    query restart on the same checkpoint (exactly-once despite the
    non-idempotent cell-wise sum)."""
    from graphjet_spark.operators.sketches import cms_counters

    ev_dir = str(tmp_path / "cms_in")
    ck = str(tmp_path / "cms_ck")
    grid_dir = str(tmp_path / "cms_grid")
    seen: list[int] = []

    def _feed(keys):
        seen.extend(keys)
        spark.createDataFrame(
            [(int(k),) for k in keys], "user_id bigint"
        ).coalesce(1).write.mode("append").parquet(ev_dir)

    def _run():
        stream = spark.readStream.schema("user_id bigint").parquet(ev_dir)
        q = ingest.streaming_cms(
            spark, stream, grid_dir, checkpoint_dir=ck,
            key_col="user_id", width=8, depth=2,
        )
        q.awaitTermination(120)
        got = {
            (r["row"], r["bucket"]): r["cnt"]
            for r in ingest.read_sketch_grid(spark, grid_dir).collect()
        }
        want_df = spark.createDataFrame(
            [(int(k),) for k in seen], "user_id bigint"
        )
        want = {
            (r["row"], r["bucket"]): r["cnt"]
            for r in cms_counters(
                want_df, "user_id", width=8, depth=2
            ).collect()
        }
        assert got == want

    _feed([1, 2, 3, 1, 1])
    _run()
    _feed([2, 2, 9, 10])  # restart on the same checkpoint
    _run()


def test_fold_replay_and_retention(spark, tmp_path):
    """The exactly-once fold keeps only the newest snapshot and the base
    a replay of it reads; replaying the last batch (its commit entry
    deleted from the stream checkpoint) leaves the grid unchanged."""
    from graphjet_spark.operators.sketches import cms_counters

    ev_dir = str(tmp_path / "cms_in")
    ck = str(tmp_path / "cms_ck")
    grid_dir = str(tmp_path / "cms_grid")
    batches = [[1, 2, 3], [1, 1, 4], [2, 9], [10, 3, 3]]
    for keys in batches:
        spark.createDataFrame([(k,) for k in keys], "user_id bigint").coalesce(
            1
        ).write.mode("append").parquet(ev_dir)

    def _run():
        stream = (
            spark.readStream.schema("user_id bigint")
            .option("maxFilesPerTrigger", 1)
            .parquet(ev_dir)
        )
        ingest.streaming_cms(
            spark, stream, grid_dir, checkpoint_dir=ck,
            key_col="user_id", width=8, depth=2,
        ).awaitTermination(120)
        return {
            (r["row"], r["bucket"]): r["cnt"]
            for r in ingest.read_sketch_grid(spark, grid_dir).collect()
        }

    got = _run()
    assert sorted(os.listdir(grid_dir)) == ["v=2", "v=3"]
    every = spark.createDataFrame(
        [(k,) for keys in batches for k in keys], "user_id bigint"
    )
    want = {
        (r["row"], r["bucket"]): r["cnt"]
        for r in cms_counters(every, "user_id", width=8, depth=2).collect()
    }
    assert got == want

    # replay batch 3: both the commit entry and its checksum must go
    os.remove(os.path.join(ck, "commits", "3"))
    os.remove(os.path.join(ck, "commits", ".3.crc"))
    assert _run() == want
    assert sorted(os.listdir(grid_dir)) == ["v=2", "v=3"]


def test_streaming_keep_list_matches_batch_dedup(spark, tmp_path):
    """Live keep-list folded per micro-batch through
    dedup_keep_list_delta must equal batch dedup_keep_list over every
    document ingested so far — after each feed AND across a query
    restart from the checkpoint."""
    from graphjet_spark.operators.dedup import dedup_keep_list

    docs_dir = str(tmp_path / "kl_docs_in")
    ck = str(tmp_path / "kl_ck")
    state = str(tmp_path / "kl_state")
    schema = "doc_id bigint, text string"

    def _feed(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(docs_dir)

    def _run():
        stream = spark.readStream.schema(schema).parquet(docs_dir)
        q = ingest.streaming_keep_list(
            spark, stream, state, checkpoint_dir=ck, n=1, threshold=0.6
        )
        q.awaitTermination()

    def _want(all_rows):
        df = spark.createDataFrame(all_rows, schema)
        return {
            r["doc_id"]: r["keep_id"]
            for r in dedup_keep_list(df, n=1, threshold=0.6).collect()
        }

    # near-dup cluster {1,2}, exact-dup cluster {3,4}, singleton 5
    batch1 = [
        (1, "alpha beta gamma delta epsilon"),
        (2, "alpha beta gamma delta zeta"),
        (3, "one two three"),
        (4, "one two three"),
        (5, "totally unrelated words here"),
    ]
    _feed(batch1)
    _run()
    got = {
        r["doc_id"]: r["keep_id"]
        for r in ingest.read_keep_list(spark, state).collect()
    }
    assert got == _want(batch1)

    # batch 2: doc 6 bridges cluster {1,2} (near-dup of 1), doc 7 is an
    # exact dup of 5, doc 8 is new and unique; restart from checkpoint
    batch2 = [
        (6, "alpha beta gamma delta epsilon"),
        (7, "totally unrelated words here"),
        (8, "fresh content never seen"),
    ]
    _feed(batch2)
    _run()
    got = {
        r["doc_id"]: r["keep_id"]
        for r in ingest.read_keep_list(spark, state).collect()
    }
    assert got == _want(batch1 + batch2)
    assert got[6] == got[1] and got[7] == got[5] and got[8] == 8


def test_streaming_change_rates_match_batch(spark, tmp_path):
    """Live change-rate stats folded per micro-batch must equal the
    batch estimator over every capture ingested so far — including
    the cross-batch boundary change (a URL whose content flips BETWEEN
    batches, which only the boundary fingerprint comparison can see) —
    after each feed AND across a restart from the checkpoint."""
    from graphjet_spark.operators.crawl import page_change_rate

    caps_dir = str(tmp_path / "cr_caps_in")
    ck = str(tmp_path / "cr_ck")
    state = str(tmp_path / "cr_state")
    schema = "url string, warc_epoch long, text string"

    def _feed(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(caps_dir)

    def _run():
        stream = spark.readStream.schema(schema).parquet(caps_dir)
        q = ingest.streaming_change_rates(
            spark, stream, state, checkpoint_dir=ck
        )
        q.processAllAvailable()
        q.stop()

    def _want(all_rows):
        df = spark.createDataFrame(all_rows, schema)
        return {
            r["url"]: r.asDict() for r in page_change_rate(df).collect()
        }

    day = 86_400
    # hot flips every visit; cold never changes; flip changes only at
    # the batch-1 -> batch-2 boundary (first capture of batch 2)
    batch1 = [
        ("hot", 0 * day, "h0"),
        ("hot", 1 * day, "h1"),
        ("cold", 0 * day, "same"),
        ("cold", 1 * day, "same"),
        ("flip", 0 * day, "old"),
        ("flip", 1 * day, "old"),
    ]
    batch2 = [
        ("hot", 2 * day, "h2"),
        ("cold", 2 * day, "same"),
        ("flip", 2 * day, "new"),
        ("fresh", 2 * day, "x"),  # single capture: dropped (no span)
    ]

    _feed(batch1)
    _run()
    got1 = {
        r["url"]: r.asDict()
        for r in ingest.read_change_rates(spark, state).collect()
    }
    assert got1 == _want(batch1)

    _feed(batch2)
    _run()  # restart from checkpoint, folds only batch 2
    got2 = {
        r["url"]: r.asDict()
        for r in ingest.read_change_rates(spark, state).collect()
    }
    assert got2 == _want(batch1 + batch2)
    assert "fresh" not in got2
    assert got2["flip"]["n_changes"] == 1  # boundary-only change seen
    assert got2["cold"]["n_changes"] == 0
    assert got2["hot"]["n_changes"] == 2
