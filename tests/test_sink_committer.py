"""Stage-and-rename commit discipline for connector sinks.

A job killed (or failing) mid-write must leave the output path exactly
as it was — absent, or holding the previous COMPLETE output — never a
partial part-file directory a downstream reader would consume.  This
is the sink analogue of the superstep checkpoint contract
(plans/checkpoints.py) the r3 verdict asked to lift to the connectors.
"""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from graphjet_spark.sources.committer import STAGE_SUFFIX, commit_staged
from graphjet_spark.sources.edgelist import read_edgelist, write_edgelist
from graphjet_spark.sources.jsonl import read_jsonl_docs, write_jsonl_docs
from graphjet_spark.sources.warc import read_warc_pages, write_warc_pages


def _pages(spark, n=6, bad=False):
    rows = [
        (
            f"https://ex.org/p{i}",
            1_700_000_000 + i,
            None if (bad and i == n - 1) else f"<html>{i}</html>".encode(),
            "en",
        )
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows, "url string, warc_epoch long, html binary, lang string"
    ).select(
        "url",
        F.timestamp_seconds("warc_epoch").alias("warc_ts"),
        "html",
        "lang",
    )


def test_commit_staged_failure_leaves_target_untouched(tmp_path):
    out = str(tmp_path / "out")

    def boom(stage):
        os.makedirs(stage)
        open(os.path.join(stage, "part-00000"), "wb").write(b"partial")
        raise RuntimeError("killed mid-write")

    with pytest.raises(RuntimeError):
        commit_staged(out, "overwrite", boom)
    assert not os.path.exists(out)
    assert not os.path.exists(out + STAGE_SUFFIX)
    assert not glob.glob(glob.escape(out + STAGE_SUFFIX) + "*")


def test_commit_staged_retry_ignores_straggler_stage(tmp_path):
    """A cancelled task of a failed attempt may recreate that attempt's
    stage after the failure removed it; the next attempt still writes
    and commits."""
    out = str(tmp_path / "out")
    first = []

    def boom(stage):
        first.append(stage)
        os.makedirs(stage)
        raise RuntimeError("killed mid-write")

    with pytest.raises(RuntimeError):
        commit_staged(out, "overwrite", boom)

    def retry(stage):
        os.makedirs(first[0])  # the straggler
        os.makedirs(stage)
        open(os.path.join(stage, "data"), "w").write("v2")

    commit_staged(out, "overwrite", retry)
    assert open(os.path.join(out, "data")).read() == "v2"


def test_commit_staged_overwrite_preserves_previous_on_failure(tmp_path):
    out = str(tmp_path / "out")

    def good(stage):
        os.makedirs(stage)
        open(os.path.join(stage, "data"), "w").write("v1")

    commit_staged(out, "overwrite", good)

    def boom(stage):
        os.makedirs(stage)
        raise RuntimeError("killed")

    with pytest.raises(RuntimeError):
        commit_staged(out, "overwrite", boom)
    # previous complete output still fully visible
    assert open(os.path.join(out, "data")).read() == "v1"


def test_commit_staged_error_mode(tmp_path):
    out = str(tmp_path / "out")
    os.makedirs(out)
    with pytest.raises(FileExistsError):
        commit_staged(out, "error", lambda s: None)


def test_warc_kill_mid_write_no_partial_output(spark, tmp_path):
    out = str(tmp_path / "w")
    # html=None makes bytes(None) raise inside a task -> job dies
    with pytest.raises(Exception):
        write_warc_pages(_pages(spark, bad=True), out)
    assert not os.path.exists(out), "partial part files visible after kill"
    # a later good attempt over the same path commits cleanly
    write_warc_pages(_pages(spark), out)
    assert os.path.exists(os.path.join(out, "_SUCCESS"))
    assert read_warc_pages(spark, out).count() == 6


def test_warc_failed_rewrite_keeps_previous_output(spark, tmp_path):
    out = str(tmp_path / "w")
    write_warc_pages(_pages(spark, n=4), out)
    with pytest.raises(Exception):
        write_warc_pages(_pages(spark, bad=True), out, mode="overwrite")
    # previous complete export still served
    assert read_warc_pages(spark, out).count() == 4


def test_edgelist_kill_mid_write_no_partial_output(spark, tmp_path):
    out = str(tmp_path / "e")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3)], "src bigint, dst bigint"
    )
    # the written column itself raises mid-job (can't be pruned away)
    boom = edges.select(
        "src",
        F.expr(
            "CASE WHEN dst = 3 THEN CAST(raise_error('killed') AS BIGINT)"
            " ELSE dst END"
        ).alias("dst"),
    )
    with pytest.raises(Exception):
        write_edgelist(boom, out)
    assert not os.path.exists(out)
    write_edgelist(edges, out)
    got = read_edgelist(spark, out)
    assert sorted((r.src, r.dst) for r in got.collect()) == [(1, 2), (2, 3)]


def test_jsonl_kill_mid_write_no_partial_output(spark, tmp_path):
    out = str(tmp_path / "j")
    docs = spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "doc_id bigint, text string"
    )
    boom = docs.select(
        "doc_id",
        F.expr(
            "CASE WHEN doc_id = 2 THEN raise_error('killed') ELSE text END"
        ).alias("text"),
    )
    with pytest.raises(Exception):
        write_jsonl_docs(boom, out)
    assert not os.path.exists(out)
    write_jsonl_docs(docs, out)
    got = read_jsonl_docs(spark, out)
    assert sorted((r.doc_id, r.text) for r in got.collect()) == [
        (1, "alpha"),
        (2, "beta"),
    ]


def test_commit_staged_ignore_mode(tmp_path):
    from graphjet_spark.sources.committer import commit_staged

    out = tmp_path / "o"
    out.mkdir()
    (out / "keep").write_text("old")
    ran = []
    commit_staged(str(out), "ignore", lambda stage: ran.append(stage))
    # Spark DataFrameWriter 'ignore' semantics: existing path => no-op
    assert ran == [] and (out / "keep").read_text() == "old"
    # absent path => behaves like a normal staged write
    out2 = tmp_path / "o2"

    def write(stage):
        os.makedirs(stage)
        with open(os.path.join(stage, "part"), "w") as f:
            f.write("new")

    commit_staged(str(out2), "ignore", write)
    assert (out2 / "part").read_text() == "new"


def test_commit_staged_append_rejected(tmp_path):
    from graphjet_spark.sources.committer import commit_staged

    with pytest.raises(ValueError, match="append"):
        commit_staged(str(tmp_path / "x"), "append", lambda stage: None)


def test_commit_staged_overwrites_plain_file_target(tmp_path):
    from graphjet_spark.sources.committer import commit_staged

    out = tmp_path / "f"
    out.write_text("i am a plain file squatting on the sink path")

    def write(stage):
        os.makedirs(stage)
        with open(os.path.join(stage, "part"), "w") as f:
            f.write("new")

    commit_staged(str(out), "overwrite", write)
    assert out.is_dir() and (out / "part").read_text() == "new"
