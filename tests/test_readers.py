"""``read_table`` infers each table's schema once per file version: a
repeat read of an unchanged table launches no Spark job, a rewritten
table is inferred again, and a cached schema types a read exactly as
inference would, on any session."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from gmall_flink_yb_spark.schemas import TESTDATA_TABLES
from gmall_flink_yb_spark.sources import readers
from gmall_flink_yb_spark.sources.readers import read_table


def _jobs_launched(spark, group, fn):
    """(fn(), number of Spark jobs fn launched), counted in a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_unchanged_table_is_read_without_a_job(spark, tmp_path):
    pq.write_table(pa.table({"a": [1, 2, 3]}), tmp_path / "t.parquet")
    spark.range(4).write.parquet(str(tmp_path / "d.parquet"))  # a directory
    for name in ("t", "d"):
        first, n_first = _jobs_launched(
            spark, f"schema-first-{name}",
            lambda: read_table(spark, str(tmp_path), name),
        )
        again, n_again = _jobs_launched(
            spark, f"schema-again-{name}",
            lambda: read_table(spark, str(tmp_path), name),
        )
        assert n_first >= 1  # inference is a Spark job
        assert n_again == 0
        assert again.dtypes == first.dtypes
        assert sorted(again.collect()) == sorted(first.collect())


def test_rewritten_table_is_inferred_again(spark, tmp_path):
    f = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2]}), f)
    assert read_table(spark, str(tmp_path), "t").columns == ["a"]
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), f)
    got = read_table(spark, str(tmp_path), "t")
    assert got.columns == ["a", "b"]
    assert sorted(got.collect()) == [(1, "x"), (2, "y")]

    d = str(tmp_path / "d.parquet")
    spark.range(3).write.parquet(d)
    assert read_table(spark, str(tmp_path), "d").columns == ["id"]
    spark.range(3).selectExpr("id", "id * 2 AS twice").write.mode(
        "overwrite"
    ).parquet(d)
    got = read_table(spark, str(tmp_path), "d")
    assert got.columns == ["id", "twice"]
    assert sorted(got.collect()) == [(0, 0), (1, 2), (2, 4)]


def test_missing_table_raises_sparks_error(spark, tmp_path):
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        read_table(spark, str(tmp_path), "absent")


@pytest.mark.parametrize("new_session", [False, True])
def test_cached_schema_reads_like_inference(
    spark, sf_dir, monkeypatch, new_session
):
    """Every driver table reads with the inferring read's dtypes from the
    cache. On a new session whose read confs are the opposite of the
    engine's, ``read_table`` still forces its confs before the read, so
    ``events.ts`` stays a microsecond timestamp with the same values."""
    monkeypatch.setattr(readers, "_SCHEMAS", {})
    inferred = {t: read_table(spark, sf_dir, t) for t in TESTDATA_TABLES}
    reader = spark
    if new_session:
        reader = spark.newSession()
        reader.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
        reader.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
        reader.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    for t in TESTDATA_TABLES:
        cached, n_jobs = _jobs_launched(
            reader, f"schema-cached-{t}-{new_session}",
            lambda: read_table(reader, sf_dir, t),
        )
        assert n_jobs == 0, t
        assert cached.dtypes == inferred[t].dtypes, t

    def micros(df):
        return sorted(df.selectExpr("unix_micros(ts)").collect())

    events = read_table(reader, sf_dir, "events")
    assert dict(events.dtypes)["ts"] == "timestamp"
    assert micros(events) == micros(inferred["events"])
