"""Batch + streaming sources.

Reference counterparts:
- S1 Kafka consumer (utils/MyKafkaUtil.java:33-41) -> ``read_kafka_stream``.
- T1 JSON parse with dirty-record side output (BaseLogApp.java:55-71)
  -> ``parse_log_stream``: ``from_json`` yields null on corrupt input, and the
  caller splits clean/dirty with two filters on the SAME parsed DataFrame, so
  the scan is read once and both predicates stay JVM-side.
- parquet table loading for the driver testdata (TESTDATA.md).

At 100 TB the parquet reader is the hot path: we always select explicit columns
downstream so Catalyst prunes the scan (check ``ReadSchema`` in .explain), and
never infer JSON schemas at runtime (schema inference reads the data twice).
"""

from __future__ import annotations

import os

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from gmall_flink_yb_spark.schemas import LOG_EVENT_SCHEMA, TESTDATA_TABLES


def _ensure_read_confs(spark: SparkSession) -> None:
    """Make reads work on ANY SparkSession, not just session.py's factory.

    The driver harness (``__spark_entry__`` contract) builds its own vanilla
    SparkSession, so session-builder confs never apply there. Both confs are
    runtime-settable, so set them here, on every read:

    - ``spark.sql.legacy.parquet.nanosAsLong``: events.ts is parquet
      TIMESTAMP(NANOS,false); some Spark 4 versions reject it
      (PARQUET_TYPE_ILLEGAL) unless it is read as a raw long.
    - ``spark.sql.parquet.inferTimestampNTZ.enabled=false``: newer Spark 4
      reads isAdjustedToUTC=false parquet timestamps as TIMESTAMP_NTZ, which
      breaks numeric casts (NTZ -> DOUBLE is illegal) and changes collected
      value types vs the LTZ semantics the oracle compare was proven on.
      Forcing it off yields plain TimestampType on every Spark version.
    - ``spark.sql.session.timeZone=UTC``: parquet naive timestamps are
      interpreted in the session TZ, and every events query formats
      timestamps with date_format, which follows the session TZ; a non-UTC
      driver JVM would produce divergent values AND divergent hashes.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


# qualified table path -> (file version, schema inferred at that
# version): one entry per path, so a rewritten table replaces its entry.
# Process-wide on purpose: under the confs _ensure_read_confs forces, a
# file version's schema is the same on every session. Threads share it
# without a lock: a lookup and a store are each atomic, and two threads
# racing on one miss both infer the same schema.
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def _file_version(spark: SparkSession, path: str) -> tuple[str, tuple]:
    """(qualified path, version) of a parquet table from Hadoop
    ``FileStatus`` — driver-side metadata, no Spark job, and correct on
    any filesystem the session's Hadoop conf resolves. A file's version
    is its (size, mtime); a directory's is the (path, size, mtime) of
    every file under it."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    qualified = fs.makeQualified(jpath)
    st = fs.getFileStatus(qualified)
    if not st.isDirectory():
        return qualified.toString(), (st.getLen(), st.getModificationTime())
    files = []
    it = fs.listFiles(qualified, True)
    while it.hasNext():
        f = it.next()
        files.append(
            (f.getPath().toString(), f.getLen(), f.getModificationTime())
        )
    return qualified.toString(), tuple(sorted(files))


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers the schema once per file
    version. Inference is a Spark job (a footer-merge over the files);
    a repeat read of an unchanged table passes the cached schema and
    launches none. A path whose version cannot be read (missing, no
    permission) takes the inferring read, which raises Spark's usual
    error."""
    try:
        key, version = _file_version(spark, path)
    except Py4JError:
        return spark.read.parquet(path)
    hit = _SCHEMAS.get(key)
    if hit is not None and hit[0] == version:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = (version, df.schema)
    return df


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver testdata table (parquet).

    ``events.ts`` is parquet TIMESTAMP(NANOS,false). Depending on the Spark
    version and conf support it arrives as bigint (legacy nanosAsLong),
    TIMESTAMP_NTZ (native nanos read), or TimestampType; normalize all three
    to microsecond TimestampType (truncating ns -> us) so downstream plans
    and the driver's value-hash compare see ONE stable type. The DuckDB
    oracle truncates identically via epoch_ns(ts)//1000.

    The schema is inferred once per file version, keyed by the table's
    qualified path and its files' sizes and mtimes (``_read_parquet``),
    so building a plan over an unchanged table launches no Spark job and
    a rewritten table is inferred again. Inference always runs after
    ``_ensure_read_confs``, so a cached schema is the one this session's
    confs would infer, whichever session filled the cache.
    """
    _ensure_read_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = _read_parquet(spark, path)
    for col, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            # naive wall-clock == UTC instant under the forced UTC session TZ
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # NOT repartitioned here: a blanket post-read spread measured NEGATIVE
    # for most consumers (one extra exchange + AQE round-trip ~0.2 s, and
    # join queries pay a full extra shuffle of base rows) — the spread is
    # an OPERATOR-ENTRY decision instead (tuning.spread_file_scan), taken
    # only by operators whose scan-to-first-exchange work is heavy
    # (tokenize/explode/decode); see OPTIMIZATION_r12.md.
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TESTDATA_TABLES
) -> dict[str, DataFrame]:
    """Load driver tables and register them as temp views (Spark SQL surface —
    the reference shipped the Blink SQL planner dep but never used it
    (gmall-realtime/pom.xml:167-177); for us SQL is native)."""
    out = {}
    for name in names:
        df = read_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def parse_log_stream(
    raw: DataFrame,
    value_col: str = "value",
    schema: StructType = LOG_EVENT_SCHEMA,
) -> tuple[DataFrame, DataFrame]:
    """T1 — parse a DataFrame of JSON strings into (clean, dirty).

    Mirrors BaseLogApp.java:55-71: parse failures went to a side-output tag
    "Dirty"; here PERMISSIVE mode routes malformed input into a corrupt-record
    column and we split with two filters off one parsed frame (single scan,
    both filters stay JVM-side). Works identically on batch and streaming.
    """
    parse_schema = StructType(
        list(schema.fields) + [StructField("_corrupt_record", StringType())]
    )
    parsed = raw.withColumn(
        "_parsed",
        F.from_json(
            F.col(value_col),
            parse_schema,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt_record"},
        ),
    )
    clean = (
        parsed.filter(
            F.col("_parsed").isNotNull()
            & F.col("_parsed._corrupt_record").isNull()
        )
        .select("_parsed.*")
        .drop("_corrupt_record")
    )
    dirty = parsed.filter(
        F.col("_parsed").isNull() | F.col("_parsed._corrupt_record").isNotNull()
    ).select(value_col)
    return clean, dirty


def read_kafka_stream(
    spark: SparkSession,
    topic: str,
    bootstrap_servers: str,
    group_id: str | None = None,
    starting_offsets: str = "latest",
) -> DataFrame:
    """S1 — Kafka topic as a streaming DataFrame of (key, value) strings.

    Reference: MyKafkaUtil.getKafkaConsumer(topic, groupId)
    (utils/MyKafkaUtil.java:33-41). No broker in the test container; covered by
    unit tests only through the batch/file path (same downstream code).
    """
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
    )
    if group_id:
        reader = reader.option("kafka.group.id", group_id)
    return reader.load().selectExpr(
        "CAST(key AS STRING) AS key", "CAST(value AS STRING) AS value", "timestamp"
    )


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: StructType,
    multiline: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """JSON-lines file(s) -> (clean, dirty) DataFrames — the batch twin of
    ``parse_log_stream`` (T1 dirty side-output semantics, BaseLogApp.java:
    55-71) for corpus ingest, where JSONL is the lingua franca.

    The schema is REQUIRED: runtime inference reads the data twice and
    produces layout-dependent column types — both unacceptable at 100 TB.

    Implementation: text scan + ``parse_log_stream`` (``from_json`` with a
    PERMISSIVE corrupt-record channel) rather than the native json reader —
    Spark's json source refuses plans that touch ONLY its internal corrupt
    column (its suggested workaround is caching the scan, unacceptable at
    100 TB), while the from_json formulation keeps both outputs as plain
    filters over one text scan.
    """
    if multiline:
        raise ValueError(
            "read_jsonl is line-delimited by contract; use "
            "spark.read.json(multiLine=True) for document-per-file JSON"
        )
    raw = spark.read.text(path)
    return parse_log_stream(raw, "value", schema)
