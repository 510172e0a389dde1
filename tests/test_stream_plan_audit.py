"""Plan audit for the streaming foreachBatch bodies (VERDICT r11 #7).

``test_plan_audit.py`` mechanically audits the 119 batch queries; the
incremental dedup / ANN / span-scrub streams' PER-BATCH plans were only
asserted by targeted tests. These tests call the sinks' own per-batch
bodies (``dedup_ingest_batch``, ``ann_ingest_batch``,
``span_scrub_batch``) on a file-backed incoming batch, capture the frames
they hand to ``_write_ingest_partition`` and assert the same
non-negotiables over those frames' plans:

- no ``CartesianProduct`` (quadratic pair join),
- no ``BatchEvalPython`` (row-at-a-time Python; Arrow paths are fine),
- under the span BROADCAST arm: a broadcast semi-join probes the index
  (the index side is scanned, never shuffled — the r11 structural fix).
"""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from gmall_flink_yb_spark.plans.inspect import _simple_plan
from gmall_flink_yb_spark.sources.readers import read_table
from gmall_flink_yb_spark.streaming import pipelines
from gmall_flink_yb_spark.streaming.pipelines import (
    ann_ingest_batch,
    dedup_ingest_batch,
    span_scrub_batch,
)


def _audit(name: str, *frames) -> str:
    joined = "\n".join(_simple_plan(df) for df in frames)
    assert "CartesianProduct" not in joined, f"{name}: cartesian product"
    assert "BatchEvalPython" not in joined, (
        f"{name}: row-at-a-time Python UDF"
    )
    return joined


def _written(monkeypatch, body, *args, **kwargs) -> list:
    """Run a sink body without writing; the frames it would write."""
    frames = []
    monkeypatch.setattr(
        pipelines, "_write_ingest_partition",
        lambda df, base_dir, batch_id: frames.append(df),
    )
    body(*args, **kwargs)
    return frames


@pytest.fixture(scope="module")
def stream_dirs(spark, sf_dir, tmp_path_factory):
    """Docs and embeddings split into two file-backed batches; batch 0 is
    admitted through the sinks' own bodies, so the batch-1 audits read a
    reference the streams wrote."""
    root = str(tmp_path_factory.mktemp("stream_plan_audit"))
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    vecs = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    d = {"root": root}
    for name, df, idc in (("docs", docs, "doc_id"), ("vecs", vecs, "vec_id")):
        b0 = os.path.join(root, f"{name}_b0")
        b1 = os.path.join(root, f"{name}_b1")
        df.filter(F.col(idc) % 2 == 0).write.parquet(b0)
        df.filter(F.col(idc) % 2 == 1).write.parquet(b1)
        d[f"{name}_b0"], d[f"{name}_b1"] = b0, b1
    for key in ("lsh", "srp", "gh"):
        d[f"{key}_corpus"] = os.path.join(root, f"{key}_corpus")
        d[f"{key}_index"] = os.path.join(root, f"{key}_index")
    b0_docs = spark.read.parquet(d["docs_b0"])
    dedup_ingest_batch(b0_docs, 0, d["lsh_corpus"], d["lsh_index"])
    ann_ingest_batch(
        spark.read.parquet(d["vecs_b0"]), 0, d["srp_corpus"], d["srp_index"]
    )
    span_scrub_batch(b0_docs, 0, d["gh_corpus"], d["gh_index"])
    return d


def test_dedup_indexed_batch_plan(spark, stream_dirs, monkeypatch):
    frames = _written(
        monkeypatch, dedup_ingest_batch,
        spark.read.parquet(stream_dirs["docs_b1"]), 1,
        stream_dirs["lsh_corpus"], stream_dirs["lsh_index"],
    )
    assert len(frames) == 2  # corpus rows, then index rows
    _audit("dedup_indexed", *frames)


def test_ann_indexed_batch_plan(spark, stream_dirs, monkeypatch):
    frames = _written(
        monkeypatch, ann_ingest_batch,
        spark.read.parquet(stream_dirs["vecs_b1"]), 1,
        stream_dirs["srp_corpus"], stream_dirs["srp_index"],
    )
    assert len(frames) == 2
    _audit("ann_indexed", *frames)


@pytest.mark.parametrize("bcast", [False, True])
def test_span_scrub_batch_plan(spark, stream_dirs, bcast, monkeypatch):
    frames = _written(
        monkeypatch, span_scrub_batch,
        spark.read.parquet(stream_dirs["docs_b1"]), 1,
        stream_dirs["gh_corpus"], stream_dirs["gh_index"],
        broadcast_incoming=bcast,
    )
    assert len(frames) == 2  # cleaned docs, then the batch's grams
    joined = _audit(f"span_scrub bcast={bcast}", *frames)
    if bcast:
        # the r11 structural fix: the index is narrowed to the batch's
        # grams by a BROADCAST semi-join, so the index side is scanned,
        # never shuffled
        assert "BroadcastHashJoin" in joined and "LeftSemi" in joined, (
            "broadcast arm must probe the index via broadcast semi-join"
        )


def test_span_scrub_frozen_surgical_batch_plan(
    spark, stream_dirs, monkeypatch
):
    """The exact_span_backfill chunk body (r12): frozen dup-gram set,
    ``within_batch=False`` — membership semi-join only, no occurrence
    window, same non-negotiables."""
    frames = _written(
        monkeypatch, span_scrub_batch,
        spark.read.parquet(stream_dirs["docs_b1"]), 1,
        os.path.join(stream_dirs["root"], "frozen_corpus"),
        os.path.join(stream_dirs["gh_index"], "ingest_batch=0"),
        within_batch=False, frozen_index=True,
    )
    assert len(frames) == 1  # a frozen index is never appended to
    joined = _audit("span_scrub frozen surgical", *frames)
    # the surgical mode must cut by membership: no gh-partitioned
    # occurrence-count window (the doc_id-partitioned island-merge
    # windows of _island_spans are legitimate and remain)
    assert "windowspecdefinition(gh" not in joined, (
        "surgical mode must cut by membership, not an occurrence window"
    )
    assert "LeftSemi" in joined, "membership probe must be a semi-join"
