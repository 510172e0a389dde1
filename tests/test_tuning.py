"""Run-time shuffle sizing, the codegen cache and the job-free scan
helpers.

``session.get_spark`` leaves shuffle sizing to AQE: every batch shuffle
starts at a fixed initial count and coalesces from the bytes its map
side wrote, persisted plans included. No engine code writes
``spark.sql.shuffle.partitions``. Its codegen cache holds every class a
serving mix generates, so a warm repeat compiles nothing, its
streaming checkpoints are written through Hadoop ``FileSystem``, and its
Python workers parse an unchanged archive's directory once."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from conftest import SF_ORACLE
from gmall_flink_yb_spark.functions import dedup, ngrams, similarity
from gmall_flink_yb_spark.functions.cacheutil import release_cache
from gmall_flink_yb_spark.plans.inspect import codegen_compiles
from gmall_flink_yb_spark.queries import QUERIES
from gmall_flink_yb_spark.session import (
    CHECKPOINT_FILE_MANAGER,
    CODEGEN_CACHE_ENTRIES,
    PYTHON_DAEMON_MODULE,
    SHUFFLE_ADVISORY_PARTITION_BYTES,
    SHUFFLE_INITIAL_PARTITIONS,
)

_INITIAL = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
_CACHED = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"


def test_get_spark_sets_runtime_sizing_confs(spark):
    assert int(spark.conf.get(_INITIAL)) == SHUFFLE_INITIAL_PARTITIONS
    assert spark.conf.get(_CACHED) == "true"
    assert int(
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    ) == SHUFFLE_ADVISORY_PARTITION_BYTES
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert (
        spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
        == "true"
    )


def test_checkpoints_write_through_filesystem_manager(spark, tmp_path):
    """Streaming checkpoints go through Hadoop FileSystem, whose local
    rename forks no process, and a no-overwrite write still fails when
    its file exists: the offsets and commit logs rely on that."""
    from py4j.protocol import Py4JJavaError

    jvm = spark._jvm
    managers = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    factory = getattr(getattr(managers, "CheckpointFileManager$"), "MODULE$")
    fm = factory.create(
        jvm.org.apache.hadoop.fs.Path(str(tmp_path)),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )
    assert fm.getClass().getName() == CHECKPOINT_FILE_MANAGER
    path = jvm.org.apache.hadoop.fs.Path(str(tmp_path / "0"))
    out = fm.createAtomic(path, False)
    out.write(b"first")
    out.close()
    out = fm.createAtomic(path, False)
    out.write(b"second")
    with pytest.raises(Py4JJavaError, match="FileAlreadyExists"):
        out.close()
    assert (tmp_path / "0").read_bytes() == b"first"


def test_get_spark_sets_codegen_cache_entries(spark):
    assert int(spark.conf.get("spark.sql.codegen.cache.maxEntries")) == (
        CODEGEN_CACHE_ENTRIES
    )


def test_python_tasks_parse_no_archive_directory(spark):
    """Workers start from the engine daemon, so the
    ``importlib.invalidate_caches()`` each task runs before its UDF finds
    every zip on the worker's path unchanged and parses none of them
    (PySpark's daemon re-parses pyspark.zip through 14-18 zipimporters
    per task)."""
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == PYTHON_DAEMON_MODULE

    def probe(batches):
        import zipimport

        import pandas as pd

        from gmall_flink_yb_spark import pydaemon

        for _ in batches:
            pass
        yield pd.DataFrame({
            "memo": [zipimport._read_directory is pydaemon._read_directory],
            "parses": [pydaemon.parses],
        })

    def run():
        return spark.range(64, numPartitions=4).mapInPandas(
            probe, "memo boolean, parses long"
        ).collect()

    run()  # warm: fork the workers
    rows = run()
    assert len(rows) == 4
    assert all(r.memo for r in rows)
    # parses counts every directory the worker read since it was forked
    assert [r.parses for r in rows] == [0, 0, 0, 0]


def test_warm_serving_pass_reuses_compiled_classes(spark):
    """The serving mix generates about 235 classes, more than Spark's
    default 100-entry codegen cache, so there every warm pass recompiles
    about 230 of them. With the engine's cache a warm pass finds its
    classes; the few it may compile are AQE re-plans that number a
    query's codegen stages in a different order (0-6 measured)."""
    from perfbench.serving import MIX

    def one_pass() -> int:
        before = codegen_compiles(spark)
        for name in MIX:
            df = QUERIES[name](spark, SF_ORACLE)
            df.collect()
            release_cache(df)
        return codegen_compiles(spark) - before

    one_pass()  # cold, or warm from earlier tests
    assert one_pass() <= 8


def _aqe_session(spark, cached_flag: str):
    """A fresh session with ``get_spark``'s sizing confs and a small
    advisory partition size, so a few MB of shuffle exercise sizing."""
    s = spark.newSession()
    s.conf.set(_INITIAL, spark.conf.get(_INITIAL))
    s.conf.set(_CACHED, cached_flag)
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "128k")
    s.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1k")
    return s


def test_aqe_sizes_shuffles_at_run_time(spark):
    """A shuffle bigger than base x advisory bytes runs at more than
    base partitions after AQE coalesces; a groupBy inside a small
    persisted frame coalesces to at most defaultParallelism partitions,
    which needs the cached-plan flag (without it the persisted plan
    keeps every initial partition)."""
    s = _aqe_session(spark, "true")
    base = int(s.conf.get("spark.sql.shuffle.partitions"))
    cores = s.sparkContext.defaultParallelism
    big = (
        s.range(0, 200_000, numPartitions=4)
        .select(
            (F.col("id") % 100_000).alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("h"),
        )
        .groupBy("k")
        .agg(F.max("h").alias("h"))
    )
    parts = big.rdd.getNumPartitions()
    assert base < parts <= SHUFFLE_INITIAL_PARTITIONS

    def persisted_parts(session) -> int:
        small = (
            session.range(1000)
            .groupBy((F.col("id") % 10).alias("k"))
            .count()
            .persist()
        )
        try:
            small.count()
            return small.rdd.getNumPartitions()
        finally:
            small.unpersist()

    assert persisted_parts(s) <= cores
    assert persisted_parts(_aqe_session(spark, "false")) == (
        SHUFFLE_INITIAL_PARTITIONS
    )


def test_input_file_bytes_and_fallbacks(spark, tmp_path):
    from gmall_flink_yb_spark.tuning import input_file_bytes

    p = str(tmp_path / "t2.parquet")
    spark.range(10_000).selectExpr(
        "id", "repeat('y', 50) as pad"
    ).write.parquet(p)
    df = spark.read.parquet(p)
    n = input_file_bytes(df)
    assert n == sum(
        os.path.getsize(os.path.join(p, f))
        for f in os.listdir(p)
        if f.endswith(".parquet")
    )
    # transforms keep the leaf files
    assert input_file_bytes(df.selectExpr("id")) == n
    # no file sources -> None
    assert input_file_bytes(spark.range(5)) is None


# sink -> (module and name of the audit/scrub function its body calls,
# batch schema, one row per batch id, stream starter)
_INGEST_SINKS = {
    "dedup": (
        dedup, "incremental_lsh_dedup_indexed", "doc_id long, text string",
        lambda i: {"doc_id": [i], "text": [f"document {i} on topic {i}"]},
        "start_incremental_dedup_stream",
    ),
    "ann": (
        similarity, "incremental_cosine_dedup_indexed",
        "vec_id long, embedding array<double>",
        lambda i: {"vec_id": [i], "embedding": [[1.0 + i, 2.0, 0.5, 0.0]]},
        "start_incremental_ann_stream",
    ),
    "span": (
        ngrams, "incremental_span_scrub", "doc_id long, text string",
        lambda i: {"doc_id": [i], "text": [f"document {i} on topic {i}"]},
        "start_incremental_span_scrub_stream",
    ),
}


@pytest.mark.parametrize("sink", sorted(_INGEST_SINKS))
def test_stream_sizing_stays_on_the_query_session(
    spark, tmp_path, monkeypatch, sink
):
    """A foreachBatch sink plans the whole batch on the streaming query's
    cloned session: the audit/scrub function's reference and incoming
    frames share one session, that session is not the parent, and the
    parent's shuffle partition count is the same after the stream."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gmall_flink_yb_spark.streaming import pipelines

    module, fn_name, schema, row, starter = _INGEST_SINKS[sink]
    parent = spark._jsparkSession
    parts = spark.conf.get("spark.sql.shuffle.partitions")
    seen = []
    real = getattr(module, fn_name)

    def spy(reference, incoming, *args, **kwargs):
        ref_s = reference.sparkSession._jsparkSession
        inc_s = incoming.sparkSession._jsparkSession
        seen.append((ref_s.equals(inc_s), inc_s.equals(parent)))
        return real(reference, incoming, *args, **kwargs)

    monkeypatch.setattr(module, fn_name, spy)
    src = tmp_path / "incoming"
    src.mkdir()
    for i in range(2):  # two files, one availableNow batch each
        f = src / f"{i:02d}.parquet"
        pq.write_table(pa.table(row(i)), f)
        os.utime(f, (1_700_000_000 + i * 10,) * 2)
    stream = pipelines.read_file_stream(
        spark, str(src), schema, max_files_per_trigger=1, glob="*.parquet"
    )
    q = getattr(pipelines, starter)(
        spark,
        stream,
        str(tmp_path / "corpus"),
        str(tmp_path / "ckpt"),
        index_dir=str(tmp_path / "index"),
        **({"dim": 4} if sink == "ann" else {}),
    )
    q.awaitTermination(180)
    assert q.exception() is None
    assert seen == [(True, False)] * 2
    assert spark.conf.get("spark.sql.shuffle.partitions") == parts


def test_spread_file_scan_gates_and_identity(spark, tmp_path):
    """r12 scan-starvation spread: repartitions a big single-file scan to
    defaultParallelism, is a NO-OP (plan unchanged) for non-file frames,
    small files, and already-parallel scans, and never changes rows."""
    import pyspark.sql.functions as F

    from gmall_flink_yb_spark import tuning

    # non-file frame: no-op, same plan object semantics
    local = spark.range(100).withColumn("t", F.lit("x"))
    assert tuning.spread_file_scan(local) is local

    # small file (< SPREAD_SCAN_MIN_BYTES): no-op
    small = str(tmp_path / "small.parquet")
    spark.range(10).write.parquet(small)
    sdf = spark.read.parquet(small)
    assert tuning.spread_file_scan(sdf) is sdf

    # big single-file scan: spread to defaultParallelism, rows identical
    big = str(tmp_path / "big.parquet")
    spark.range(200_000).select(
        F.col("id"), F.md5(F.col("id").cast("string")).alias("txt")
    ).coalesce(1).write.parquet(big)
    bdf = spark.read.parquet(big)
    n_before = bdf.rdd.getNumPartitions()
    target = spark.sparkContext.defaultParallelism
    spread = tuning.spread_file_scan(bdf)
    if n_before < target:
        assert spread is not bdf
        assert spread.rdd.getNumPartitions() == target
    assert sorted(map(tuple, spread.collect())) == sorted(
        map(tuple, bdf.collect())
    )

    # already-parallel layout: no-op (write enough files to cover cores)
    many = str(tmp_path / "many.parquet")
    spark.range(200_000).select(
        F.col("id"), F.md5(F.col("id").cast("string")).alias("txt")
    ).repartition(target).write.parquet(many)
    mdf = spark.read.parquet(many)
    if mdf.rdd.getNumPartitions() >= target:
        assert tuning.spread_file_scan(mdf) is mdf

    # non-scan plan over file sources (ADVICE r12): a frame with
    # exchanges/joins must be rejected BEFORE the df.rdd split probe —
    # under AQE that probe eagerly executes the plan's shuffle stages
    # at plan-build time. Projections/filters/aliases stay eligible.
    joined = bdf.join(bdf.select(F.col("id")), "id")
    assert tuning.spread_file_scan(joined) is joined
    agged = bdf.groupBy("txt").count()
    assert tuning.spread_file_scan(agged) is agged
    repart = bdf.repartition(4)
    assert tuning.spread_file_scan(repart) is repart
    projected = bdf.select("id", F.col("txt").alias("t")).filter("id > 10")
    assert tuning._scan_only_plan(projected)


def test_scan_only_plan_reads_nodes_not_text(spark, tmp_path):
    """A scan-only frame is classified by its plan's nodes, not by the
    plan's text: a filter literal holding a newline and a node name
    (which printed as a ``Join`` line) still leaves a bare scan, and
    ``spread_file_scan`` spreads it; a real join is still rejected."""
    from gmall_flink_yb_spark import tuning

    big = str(tmp_path / "big.parquet")
    spark.range(200_000).select(
        F.col("id"), F.md5(F.col("id").cast("string")).alias("txt")
    ).coalesce(1).write.parquet(big)
    bdf = spark.read.parquet(big)
    tricky = bdf.filter(F.col("txt") != "x\nJoin y").select(
        "id", F.col("txt").alias("t")
    )
    assert tuning._scan_only_plan(tricky)
    target = spark.sparkContext.defaultParallelism
    if bdf.rdd.getNumPartitions() < target:  # one file, one row group
        spread = tuning.spread_file_scan(tricky)
        assert spread.rdd.getNumPartitions() == target
    assert not tuning._scan_only_plan(bdf.join(bdf.select("id"), "id"))


def test_file_backed_rows_reads_nodes_not_text(spark, tmp_path):
    """``file_backed_rows`` refuses a plan by its nodes, not its text: a
    parquet table with a ``JoinDate`` column (its relation line prints
    ``Join``) gives its footer count, while a real join and an
    ``explode`` still give None."""
    from gmall_flink_yb_spark import tuning

    path = str(tmp_path / "members")
    spark.range(1_000).select(
        F.col("id"),
        F.date_add(F.lit("2024-01-01").cast("date"), (F.col("id") % 90)
                   .cast("int")).alias("JoinDate"),
        F.array(F.col("id"), F.col("id") + 1).alias("arr"),
    ).coalesce(1).write.parquet(path)
    df = spark.read.parquet(path)
    assert tuning.file_backed_rows(df) == 1_000
    assert tuning.file_backed_rows(df.select("id", "JoinDate")) == 1_000
    assert tuning.file_backed_rows(df.join(df.select("id"), "id")) is None
    assert tuning.file_backed_rows(df.select(F.explode("arr"))) is None
