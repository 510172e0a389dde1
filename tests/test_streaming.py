"""Streaming parity tests (SURVEY.md §5.2.4): the same inputs through the
Structured Streaming forms must equal the batch answers.

File sources + Trigger.AvailableNow stand in for Kafka (same downstream
code); maxFilesPerTrigger=1 turns multi-file inputs into multi-micro-batch
runs so cross-batch state (ST1/ST3) is genuinely exercised.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import Row, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from gmall_flink_yb_spark.operators.bounce import detect_bounce_batch
from gmall_flink_yb_spark.operators.routing import route_cdc
from gmall_flink_yb_spark.operators.visitor import (
    correct_is_new_batch,
    unique_visitors_batch,
)
from gmall_flink_yb_spark.schemas import (
    CDC_ENVELOPE_SCHEMA,
    TABLE_PROCESS_SCHEMA,
)
from gmall_flink_yb_spark.sources.readers import parse_log_stream, read_table
from gmall_flink_yb_spark.streaming.pipelines import (
    ensure_sink_table,
    read_file_stream,
    start_cdc_routing,
    start_log_split_fanout,
    unique_visitors_stream,
    order_wide_stream,
)
from gmall_flink_yb_spark.streaming.stateful import (
    correct_is_new_stream,
    detect_bounce_stream,
)

FLAT_EVENT_SCHEMA = StructType(
    [
        StructField("mid", StringType()),
        StructField("ts", TimestampType()),
        StructField("is_new", StringType()),
        StructField("is_entry", BooleanType()),
        StructField("event_id", LongType()),
    ]
)


def _ts(s: float):
    import datetime

    return datetime.datetime.fromtimestamp(s, datetime.timezone.utc).replace(
        tzinfo=None
    )


@pytest.fixture(scope="module")
def flat_events(spark, tmp_path_factory):
    """Two files -> two micro-batches. Device m1 appears in both batches
    (its batch-2 event must be corrected to is_new=0 via state); m2 bounces
    by re-entry; m3 bounces by timeout; m4 has a continuing session."""
    rows_b1 = [
        ("m1", _ts(100.0), "1", True, 1),
        ("m1", _ts(103.0), "1", True, 2),   # re-entry at +3s: ev1 bounced
        ("m2", _ts(100.0), "0", True, 3),
        ("m2", _ts(105.0), "0", True, 4),   # re-entry: ev3 bounced
        ("m4", _ts(100.0), "1", True, 5),
        ("m4", _ts(102.0), "1", False, 6),  # session continued: no bounce
    ]
    rows_b2 = [
        ("m1", _ts(200.0), "1", True, 7),   # state says m1 seen: is_new -> 0
        ("m3", _ts(210.0), "1", True, 8),   # then silence: timeout bounce
        # watermark movers (non-entries far in the future, separate device)
        ("wm", _ts(500.0), "0", False, 9),
    ]
    rows_b3 = [
        ("wm", _ts(900.0), "0", False, 10),  # advances watermark past all timers
    ]
    d = tmp_path_factory.mktemp("flat_events")
    for i, rows in enumerate([rows_b1, rows_b2, rows_b3]):
        spark.createDataFrame(rows, FLAT_EVENT_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(d / f"batch_{i}"))
        # move files into one dir with ordered names so maxFilesPerTrigger=1
        # processes them in event order
        part = [f for f in os.listdir(d / f"batch_{i}") if f.endswith(".parquet")]
        os.rename(d / f"batch_{i}" / part[0], d / f"{i:02d}.parquet")
        # deterministic micro-batch order (FileStreamSource sorts by mtime)
        os.utime(d / f"{i:02d}.parquet",
                 (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))
    all_df = spark.read.schema(FLAT_EVENT_SCHEMA).parquet(str(d))
    return str(d), all_df


def _run_to_memory(stream_df, spark, name, max_wait=120, mode="append"):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(max_wait)
    return spark.table(name)


def test_is_new_correction_stream_matches_batch(spark, flat_events):
    path, all_df = flat_events
    stream = read_file_stream(
        spark, path, FLAT_EVENT_SCHEMA, max_files_per_trigger=1, glob="*.parquet"
    )
    got = _run_to_memory(
        correct_is_new_stream(stream, "mid", "ts", "is_new"), spark, "isnew_s"
    )
    expect = correct_is_new_batch(
        all_df, key_col="mid", ts_col="ts", is_new_col="is_new",
        row_id_col="event_id",
    )
    g = {r["event_id"]: r["is_new_fixed"] for r in got.collect()}
    e = {r["event_id"]: r["is_new_fixed"] for r in expect.collect()}
    assert g == e
    assert g[1] == "1" and g[2] == "0" and g[7] == "0"


def test_bounce_stream_matches_batch(spark, flat_events):
    path, all_df = flat_events
    stream = read_file_stream(
        spark, path, FLAT_EVENT_SCHEMA, max_files_per_trigger=1, glob="*.parquet"
    )
    events = stream.withWatermark("ts", "1 second")  # W1: 1 s lateness
    got = _run_to_memory(
        detect_bounce_stream(events, "mid", "ts", "is_entry", 10),
        spark,
        "bounce_s",
    )
    got_pairs = {(r["mid"], r["ts"]) for r in got.collect()}
    expect = detect_bounce_batch(
        all_df, key_col="mid", ts_col="ts", is_entry=F.col("is_entry"),
        window_seconds=10, order_cols=["event_id"],
    )
    exp_pairs = {(r["mid"], r["ts"]) for r in expect.collect()}
    assert got_pairs == exp_pairs
    mids = {m for m, _ in got_pairs}
    assert mids == {"m1", "m2", "m3"}  # m3 only via event-time timeout


def test_uv_stream_matches_batch_daily_counts(spark, sf_dir):
    raw_schema = StructType(
        [
            StructField("event_id", LongType()),
            # TIMESTAMP(NANOS) loads as TimestampType (ns truncated to us)
            # under the repo read confs — same normalization as read_table
            StructField("ts", TimestampType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )
    stream = (
        read_file_stream(
            spark, sf_dir, raw_schema, glob="events.parquet"
        )
        .withColumn("user_id", F.col("user_id").cast("string"))
    )
    uv = unique_visitors_stream(stream, key_col="user_id", ts_col="ts")
    got = (
        _run_to_memory(uv, spark, "uv_s")
        .groupBy("_uv_date").count().orderBy("_uv_date")
    )
    events = read_table(spark, sf_dir, "events").withColumn(
        "user_id", F.col("user_id").cast("string")
    )
    expect = (
        unique_visitors_batch(events, key_col="user_id", ts_col="ts")
        .groupBy("_uv_date").count().orderBy("_uv_date")
    )
    assert [tuple(r) for r in got.collect()] == [
        tuple(r) for r in expect.collect()
    ]


def test_uv_stream_state_evicted_after_watermark(spark, tmp_path):
    """ST2's TTL analogue: with a 1-hour watermark, a (device, day) key's
    dedup state is evicted once the watermark passes; a duplicate arriving
    WITHIN the window is dropped, and state does not accumulate forever.
    (The reference's 24 h processing-time TTL, UniqueVisitApp.java:64-68,
    has the same re-admit-after-expiry behavior.)"""
    schema = StructType(
        [StructField("mid", StringType()), StructField("ts", TimestampType())]
    )
    b1 = [("m1", _ts(1000.0)), ("m1", _ts(1500.0))]       # dup within window
    b2 = [("wm", _ts(500_000.0))]                          # watermark mover
    b3 = [("m1", _ts(1800.0))]                             # late: beyond wm
    d = tmp_path / "uvsrc"
    d.mkdir()
    for i, rows in enumerate([b1, b2, b3]):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"s{i}"))
        part = [f for f in os.listdir(tmp_path / f"s{i}")
                if f.endswith(".parquet")]
        dst = str(d / f"{i:02d}.parquet")
        os.rename(str(tmp_path / f"s{i}" / part[0]), dst)
        os.utime(dst, (1_700_000_000 + i * 10,) * 2)
    stream = read_file_stream(
        spark, str(d), schema, max_files_per_trigger=1, glob="*.parquet"
    )
    uv = unique_visitors_stream(stream, key_col="mid", ts_col="ts",
                                watermark="1 hour")
    got = _run_to_memory(uv, spark, "uv_evict").collect()
    m1 = [r for r in got if r["mid"] == "m1"]
    # within-window duplicate (1500) dropped; the late 1800 event arrives
    # after the watermark (500000 - 3600) passed its event time, so the
    # dedup layer treats it as expired-state territory: it must NOT crash
    # and must NOT re-count more than once beyond the original emission
    assert len(m1) >= 1
    assert m1[0]["ts"] == _ts(1000.0)


def test_rocksdb_state_store_knob(spark, flat_events):
    """VERDICT r6 #3: session.get_spark(state_store='rocksdb') must set
    the provider on the (possibly pre-existing) session, and the keyed
    stateful operators must produce the same answers under the RocksDB
    backend — the switch the reference carries commented out in every app
    (BaseLogApp.java:38-46) and the one a cluster flips once per-executor
    state crosses a few GB."""
    import pytest as _pytest

    from gmall_flink_yb_spark.session import (
        STATE_STORE_PROVIDERS,
        get_spark,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(key, None)
    s = get_spark("gmall-tests", state_store="rocksdb")
    try:
        assert s is spark  # getOrCreate reuse: knob applied via conf.set
        assert s.conf.get(key) == STATE_STORE_PROVIDERS["rocksdb"]
        path, all_df = flat_events
        stream = read_file_stream(
            s, path, FLAT_EVENT_SCHEMA, max_files_per_trigger=1,
            glob="*.parquet",
        )
        got = _run_to_memory(
            correct_is_new_stream(stream, "mid", "ts", "is_new"),
            s, "isnew_rocksdb",
        )
        expect = correct_is_new_batch(
            all_df, key_col="mid", ts_col="ts", is_new_col="is_new",
            row_id_col="event_id",
        )
        g = {r["event_id"]: r["is_new_fixed"] for r in got.collect()}
        e = {r["event_id"]: r["is_new_fixed"] for r in expect.collect()}
        assert g == e and g[7] == "0"  # cross-batch state under RocksDB
        with _pytest.raises(ValueError):
            get_spark("gmall-tests", state_store="memcached")
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def test_tumbling_window_stream_matches_batch(spark, sf_dir):
    """§2.9 DWS rollups: the same tumbling_agg code under readStream with a
    watermark must produce the batch answer once all data is processed."""
    from gmall_flink_yb_spark.operators.windows import tumbling_agg

    raw_schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )
    stream = read_file_stream(
        spark, sf_dir, raw_schema, glob="events.parquet"
    )
    aggs = [F.count(F.lit(1)).alias("n"), F.sum("value").alias("sv")]
    # complete mode: append would withhold windows the watermark hasn't
    # closed yet (the last hour of data would be missing at end-of-input)
    got = _run_to_memory(
        tumbling_agg(stream, "ts", "1 hour", ["event_type"], aggs,
                     watermark="1 minute"),
        spark,
        "win_s",
        mode="complete",
    )
    events = read_table(spark, sf_dir, "events")
    expect = tumbling_agg(events, "ts", "1 hour", ["event_type"], aggs)
    key = ["window_start", "event_type"]
    g = {tuple(r[k] for k in key): (r["n"], round(r["sv"], 6))
         for r in got.collect()}
    e = {tuple(r[k] for k in key): (r["n"], round(r["sv"], 6))
         for r in expect.collect()}
    assert g == e


def test_uv_approx_within_error_bound(spark, sf_dir):
    from gmall_flink_yb_spark.queries import q_uv_daily, q_uv_daily_approx

    exact = {r["dt"]: r["uv"] for r in q_uv_daily(spark, sf_dir).collect()}
    rows = q_uv_daily_approx(spark, sf_dir).collect()
    assert set(exact) == {r["dt"] for r in rows}
    for r in rows:
        assert r["uv_exact"] == exact[r["dt"]]
        assert r["approx_ok"], (r["dt"], r["uv_exact"])


def test_order_wide_stream_matches_batch(spark, tmp_path):
    info_rows = [
        Row(id=1, user_id=10, create_ts=_ts(1000.0)),
        Row(id=2, user_id=20, create_ts=_ts(2000.0)),
    ]
    detail_rows = [
        Row(detail_id=100, order_id=1, sku_id=7, create_ts=_ts(1003.0)),  # +3s
        Row(detail_id=101, order_id=1, sku_id=8, create_ts=_ts(1008.0)),  # +8s out
        Row(detail_id=102, order_id=2, sku_id=9, create_ts=_ts(1996.0)),  # -4s in
    ]
    info_dir, detail_dir = str(tmp_path / "info"), str(tmp_path / "detail")
    spark.createDataFrame(info_rows).write.parquet(info_dir)
    spark.createDataFrame(detail_rows).write.parquet(detail_dir)
    info_s = read_file_stream(
        spark, info_dir, spark.read.parquet(info_dir).schema
    )
    detail_s = read_file_stream(
        spark, detail_dir, spark.read.parquet(detail_dir).schema
    )
    wide = order_wide_stream(info_s, detail_s).select(
        "id", "detail_id", "sku_id"
    )
    got = {tuple(r) for r in _run_to_memory(wide, spark, "ow_s").collect()}
    assert got == {(1, 100, 7), (2, 102, 9)}


def test_serving_table_partitioned_and_pruned(spark, tmp_path):
    """DWS serving tables: streamed output lands partitioned by create_date,
    and a date-filtered read prunes to that partition (PartitionFilters)."""
    from gmall_flink_yb_spark.plans.inspect import formatted_plan
    from gmall_flink_yb_spark.streaming.pipelines import (
        start_serving_table_writer,
    )

    rows = [
        Row(id=1, amount=10.0, create_ts=_ts(1000.0),
            create_date="2024-01-01"),
        Row(id=2, amount=20.0, create_ts=_ts(90000.0),
            create_date="2024-01-02"),
    ]
    src = str(tmp_path / "src")
    spark.createDataFrame(rows).write.parquet(src)
    stream = read_file_stream(spark, src, spark.read.parquet(src).schema)
    out = str(tmp_path / "serving")
    q = start_serving_table_writer(stream, out, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    served = spark.read.parquet(out)
    assert served.count() == 2
    day = served.filter(F.col("create_date") == "2024-01-01")
    assert day.count() == 1
    plan = formatted_plan(day)
    assert "PartitionFilters" in plan and "create_date" in plan.split(
        "PartitionFilters", 1
    )[1][:200]


def test_log_split_fanout_single_read(spark, tmp_path):
    events = [
        {"common": {"mid": "m1", "is_new": "1"}, "start": {"entry": "icon"},
         "ts": 1000},
        {"common": {"mid": "m1", "is_new": "0"},
         "page": {"page_id": "home", "last_page_id": None},
         "displays": [{"item": "sku1", "item_type": "sku_id", "order": 1},
                      {"item": "sku2", "item_type": "sku_id", "order": 2}],
         "ts": 2000},
    ]
    src = str(tmp_path / "src")
    os.makedirs(src)
    with open(os.path.join(src, "a.json"), "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")
    raw = (
        spark.readStream.schema("value string").format("text").load(src)
    )
    clean, _dirty = parse_log_stream(raw)
    out = str(tmp_path / "out")
    q = start_log_split_fanout(clean, out, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    start = spark.read.parquet(os.path.join(out, "dwd_start_log"))
    page = spark.read.parquet(os.path.join(out, "dwd_page_log"))
    display = spark.read.parquet(os.path.join(out, "dwd_display_log"))
    assert start.count() == 1
    assert page.count() == 1
    assert display.count() == 2  # explode over displays, page_id attached
    assert display.select("page_id").distinct().first()[0] == "home"


def test_order_wide_stream_static_dim_join(spark, tmp_path):
    """Entry point 3 end-to-end (OrderWideApp): streaming facts interval-join
    + STREAM-STATIC broadcast dim enrichment — the planned-join replacement
    for DimAsyncFunction's per-row RPCs. The static side is re-read per
    micro-batch, giving the same freshness as the reference's cache dance."""
    from gmall_flink_yb_spark.operators.order_wide import enrich_dims

    info_rows = [Row(id=1, user_id=10, create_ts=_ts(1000.0)),
                 Row(id=2, user_id=99, create_ts=_ts(2000.0))]  # 99: no dim row
    detail_rows = [Row(detail_id=100, order_id=1, create_ts=_ts(1002.0)),
                   Row(detail_id=101, order_id=2, create_ts=_ts(1998.0))]
    dim_rows = [Row(uid=10, user_name="ann", age=30)]
    info_dir, detail_dir = str(tmp_path / "i"), str(tmp_path / "d")
    spark.createDataFrame(info_rows).write.parquet(info_dir)
    spark.createDataFrame(detail_rows).write.parquet(detail_dir)
    user_dim = spark.createDataFrame(dim_rows)

    info_s = read_file_stream(spark, info_dir, spark.read.parquet(info_dir).schema)
    detail_s = read_file_stream(
        spark, detail_dir, spark.read.parquet(detail_dir).schema
    )
    wide = order_wide_stream(info_s, detail_s)
    enriched = enrich_dims(
        wide, [(user_dim, "user_id", "uid", ["user_name", "age"])]
    ).select("id", "detail_id", "user_name", "age")
    got = {r["id"]: r for r in _run_to_memory(enriched, spark, "ows_dim").collect()}
    assert got[1]["user_name"] == "ann" and got[1]["age"] == 30
    assert got[2]["user_name"] is None  # left join: missing dim -> nulls


def test_base_log_pipeline_end_to_end(spark, tmp_path):
    """Entry point 1 end-to-end (BaseLogApp): raw JSON stream -> T1 parse
    with dirty channel -> ST1 stateful is_new correction -> P1 fan-out,
    all in one run across two micro-batches."""
    b1 = [
        {"common": {"mid": "m1", "is_new": "1"}, "start": {"entry": "icon"},
         "ts": 1_000_000},
        {"common": {"mid": "m1", "is_new": "1"},
         "page": {"page_id": "home", "last_page_id": None},
         "displays": [{"item": "sku1", "item_type": "sku_id", "order": 1}],
         "ts": 2_000_000},
        "this is not json",
    ]
    b2 = [
        {"common": {"mid": "m1", "is_new": "1"}, "start": {"entry": "icon"},
         "ts": 90_000_000},  # m1 again: state must rewrite is_new
        {"common": {"mid": "m2", "is_new": "1"}, "start": {"entry": "n"},
         "ts": 91_000_000},
    ]
    src = str(tmp_path / "raw")
    os.makedirs(src)
    for i, batch in enumerate([b1, b2]):
        p = os.path.join(src, f"{i:02d}.json")
        with open(p, "w") as f:
            for e in batch:
                f.write((e if isinstance(e, str) else json.dumps(e)) + "\n")
        # FileStreamSource orders batches by modification time — make it
        # explicit so batch order is deterministic
        os.utime(p, (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))

    raw = (
        spark.readStream.schema("value string")
        .option("maxFilesPerTrigger", 1)
        .format("text")
        .load(src)
    )
    clean, dirty = parse_log_stream(raw)
    flat = clean.select(
        F.col("common.mid").alias("mid"),
        F.timestamp_millis(F.col("ts")).alias("ts"),
        F.col("common.is_new").alias("is_new"),
        F.to_json(F.struct("start", "page", "displays")).alias("payload"),
    )
    corrected = correct_is_new_stream(flat, "mid", "ts", "is_new")
    got = _run_to_memory(corrected, spark, "baselog_s").collect()
    by_mid_ts = {(r["mid"], r["ts"].timestamp()): r["is_new_fixed"] for r in got}
    assert by_mid_ts[("m1", 1000.0)] == "1"   # first ever event for m1
    assert by_mid_ts[("m1", 2000.0)] == "0"   # same batch, later event
    assert by_mid_ts[("m1", 90000.0)] == "0"  # later batch: state remembers
    assert by_mid_ts[("m2", 91000.0)] == "1"
    # dirty channel catches the non-JSON line (batch check of same logic)
    _clean_b, dirty_b = parse_log_stream(
        spark.read.text(src).withColumnRenamed("value", "value")
    )
    assert dirty_b.count() == 1


def test_cdc_routing_stream_refreshes_config(spark, tmp_path):
    """Config re-read per micro-batch: a table routed nowhere in batch 1 is
    routed after the config gains its row (ST4 'latest config wins')."""
    env_rows_1 = [
        Row(database="gmall", tableName="order_info",
            before=None, after={"id": "1", "amount": "10"}, type="insert"),
        Row(database="gmall", tableName="user_info",
            before=None, after={"id": "7", "name": "ann"}, type="insert"),
    ]
    env_rows_2 = [
        Row(database="gmall", tableName="user_info",
            before=None, after={"id": "7", "name": "bob"}, type="update"),
    ]
    src = str(tmp_path / "cdc_src")
    os.makedirs(src)
    for i, rows in enumerate([env_rows_1, env_rows_2]):
        spark.createDataFrame(rows, CDC_ENVELOPE_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"stage{i}"))
        part = [
            f
            for f in os.listdir(tmp_path / f"stage{i}")
            if f.endswith(".parquet")
        ]
        dst = os.path.join(src, f"{i:02d}.parquet")
        os.rename(tmp_path / f"stage{i}" / part[0], dst)
        os.utime(dst, (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))

    cfg_rows = [
        Row(sourceTable="order_info", operateType="insert", sinkType="kafka",
            sinkTable="dwd_order_info", sinkColumns="id,amount",
            sinkPk="id", sinkExtend=None),
        Row(sourceTable="user_info", operateType="insert", sinkType="hbase",
            sinkTable="dim_user_info", sinkColumns="id,name",
            sinkPk="id", sinkExtend=None),
        Row(sourceTable="user_info", operateType="update", sinkType="hbase",
            sinkTable="dim_user_info", sinkColumns="id,name",
            sinkPk="id", sinkExtend=None),
    ]
    cfg = spark.createDataFrame(cfg_rows, TABLE_PROCESS_SCHEMA)

    stream = read_file_stream(
        spark, src, CDC_ENVELOPE_SCHEMA, max_files_per_trigger=1,
        glob="*.parquet",
    )
    out = str(tmp_path / "routed")
    q = start_cdc_routing(
        stream, lambda: cfg, out, str(tmp_path / "cdc_ckpt")
    )
    q.awaitTermination(120)

    kafka_out = spark.read.parquet(os.path.join(out, "kafka_out"))
    assert kafka_out.count() == 1
    r = kafka_out.first()
    assert r["topic"] == "dwd_order_info"
    assert json.loads(r["value"]) == {"id": "1", "amount": "10"}

    from gmall_flink_yb_spark.streaming.pipelines import read_dim_parquet

    dim = read_dim_parquet(spark, os.path.join(out, "dim_dim_user_info"))
    assert dim.count() == 1  # insert then update upserted by pk
    assert json.loads(dim.first()["payload"])["name"] == "bob"

    # exactly-once across restart (K2 EOS intent, MyKafkaUtil.java:29): a
    # second run over the SAME checkpoint reprocesses nothing — no duplicate
    # kafka payloads, dim state unchanged
    stream2 = read_file_stream(
        spark, src, CDC_ENVELOPE_SCHEMA, max_files_per_trigger=1,
        glob="*.parquet",
    )
    q2 = start_cdc_routing(
        stream2, lambda: cfg, out, str(tmp_path / "cdc_ckpt")
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(os.path.join(out, "kafka_out")).count() == 1
    assert read_dim_parquet(
        spark, os.path.join(out, "dim_dim_user_info")
    ).count() == 1


def test_cdc_sink_releases_cache_on_failed_upsert(spark, tmp_path, monkeypatch):
    """A dim upsert that raises fails the batch without leaving its
    persisted frames cached, the upsert runs on the query's own session,
    and a restart on the same checkpoint replays the batch."""
    from gmall_flink_yb_spark.streaming import pipelines

    src = str(tmp_path / "cdc_src")
    os.makedirs(src)
    spark.createDataFrame(
        [Row(database="gmall", tableName="user_info", before=None,
             after={"id": "7", "name": "ann"}, type="insert")],
        CDC_ENVELOPE_SCHEMA,
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "stage"))
    part = [
        f for f in os.listdir(tmp_path / "stage") if f.endswith(".parquet")
    ]
    os.rename(tmp_path / "stage" / part[0], os.path.join(src, "00.parquet"))
    cfg = spark.createDataFrame(
        [Row(sourceTable="user_info", operateType="insert", sinkType="hbase",
             sinkTable="dim_user_info", sinkColumns="id,name", sinkPk="id",
             sinkExtend=None)],
        TABLE_PROCESS_SCHEMA,
    )
    real = pipelines.upsert_dim_parquet
    sessions = []

    def flaky(session, *args, **kwargs):
        sessions.append(session._jsparkSession)
        if len(sessions) == 1:
            raise RuntimeError("injected upsert failure")
        return real(session, *args, **kwargs)

    monkeypatch.setattr(pipelines, "upsert_dim_parquet", flaky)
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = {int(i) for i in persistent().keySet().toArray()}
    out, ckpt = str(tmp_path / "routed"), str(tmp_path / "ckpt")

    def run():
        stream = read_file_stream(
            spark, src, CDC_ENVELOPE_SCHEMA, glob="*.parquet"
        )
        return start_cdc_routing(stream, lambda: cfg, out, ckpt)

    q = run()
    with pytest.raises(Exception, match="injected upsert failure"):
        q.awaitTermination(120)
    leaked = {int(i) for i in persistent().keySet().toArray()} - before
    assert not leaked, f"failed CDC batch left cached RDDs: {sorted(leaked)}"
    assert not sessions[0].equals(spark._jsparkSession)

    run().awaitTermination(120)
    from gmall_flink_yb_spark.streaming.pipelines import read_dim_parquet

    dim = read_dim_parquet(spark, os.path.join(out, "dim_dim_user_info"))
    assert json.loads(dim.first()["payload"])["name"] == "ann"


_CDC_CRASH_BATCHES = [
    [
        Row(database="gmall", tableName="order_info", before=None,
            after={"id": "1", "amount": "10"}, type="insert"),
        Row(database="gmall", tableName="user_info", before=None,
            after={"id": "7", "name": "ann"}, type="insert"),
        Row(database="gmall", tableName="base_province", before=None,
            after={"id": "1", "name": "north"}, type="insert"),
    ],
    [
        Row(database="gmall", tableName="order_info", before=None,
            after={"id": "2", "amount": "20"}, type="insert"),
        Row(database="gmall", tableName="user_info", before=None,
            after={"id": "7", "name": "bob"}, type="update"),
        Row(database="gmall", tableName="user_info", before=None,
            after={"id": "8", "name": "cy"}, type="insert"),
        Row(database="gmall", tableName="base_province", before=None,
            after={"id": "1", "name": "south"}, type="update"),
    ],
]
_CDC_CRASH_DIMS = ("dim_user_info", "dim_base_province")
# crash point -> the pipelines function that raises instead of running on
# its first call in batch 1 (batch 0 calls each once per dim)
_CDC_CRASH_POINTS = {
    "after_kafka_out": "upsert_dim_parquet",
    "after_gen_rename": "_write_dim_manifest",
    "after_manifest": "_vacuum_dim",
}


def _run_cdc_sink(spark, src, out):
    from gmall_flink_yb_spark.streaming import pipelines

    cfg = spark.createDataFrame(
        [
            Row(sourceTable="order_info", operateType="insert",
                sinkType="kafka", sinkTable="dwd_order_info",
                sinkColumns="id,amount", sinkPk="id", sinkExtend=None),
        ]
        + [
            Row(sourceTable=tbl[4:], operateType=op, sinkType="hbase",
                sinkTable=tbl, sinkColumns="id,name", sinkPk="id",
                sinkExtend=None)
            for tbl in _CDC_CRASH_DIMS
            for op in ("insert", "update")
        ],
        TABLE_PROCESS_SCHEMA,
    )
    stream = read_file_stream(
        spark, src, CDC_ENVELOPE_SCHEMA, max_files_per_trigger=1,
        glob="*.parquet",
    )
    return pipelines.start_cdc_routing(
        stream, lambda: cfg, out, os.path.join(out, "_ckpt")
    )


def _cdc_sink_rows(spark, out):
    from gmall_flink_yb_spark.streaming.pipelines import read_dim_parquet

    kafka = sorted(
        tuple(r) for r in spark.read.parquet(
            os.path.join(out, "kafka_out")
        ).collect()
    )
    dims = {
        tbl: sorted(
            tuple(r) for r in read_dim_parquet(
                spark, os.path.join(out, f"dim_{tbl}")
            ).collect()
        )
        for tbl in _CDC_CRASH_DIMS
    }
    return kafka, dims


@pytest.fixture(scope="module")
def uninterrupted_cdc(spark, tmp_path_factory):
    """(staged CDC source dir, kafka_out rows, dim rows) of a run with no
    crash."""
    root = tmp_path_factory.mktemp("cdc_crash")
    src = str(root / "src")
    os.makedirs(src)
    for i, rows in enumerate(_CDC_CRASH_BATCHES):
        stage = str(root / f"stage{i}")
        spark.createDataFrame(rows, CDC_ENVELOPE_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(stage)
        part = [f for f in os.listdir(stage) if f.endswith(".parquet")]
        dst = os.path.join(src, f"{i:02d}.parquet")
        os.rename(os.path.join(stage, part[0]), dst)
        os.utime(dst, (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))
    out = str(root / "out")
    q = _run_cdc_sink(spark, src, out)
    q.awaitTermination(180)
    assert q.exception() is None
    return (src, *_cdc_sink_rows(spark, out))


@pytest.mark.parametrize("point", list(_CDC_CRASH_POINTS))
def test_cdc_sink_replays_crash_at_every_write_point(
    spark, tmp_path, monkeypatch, uninterrupted_cdc, point
):
    """Exactly-once under replay for the CDC sink: kill batch 1 after its
    kafka_out write, after a dim upsert renamed its generation dir into
    place but before the manifest, or after the manifest but before the
    vacuum; restart on the same checkpoint, and kafka_out and every dim
    read equal an uninterrupted run's. The middle case leaves an orphan
    ``gen=`` dir that the replayed upsert must skip, not collide with."""
    from pyspark.errors import StreamingQueryException

    from gmall_flink_yb_spark.streaming import pipelines

    src, want_kafka, want_dims = uninterrupted_cdc
    name = _CDC_CRASH_POINTS[point]
    real = getattr(pipelines, name)
    calls = []

    def flaky(*args, **kwargs):
        calls.append(name)
        if len(calls) == len(_CDC_CRASH_DIMS) + 1:
            raise RuntimeError(f"injected crash {point}")
        return real(*args, **kwargs)

    monkeypatch.setattr(pipelines, name, flaky)
    out = str(tmp_path / "out")
    q = _run_cdc_sink(spark, src, out)
    with pytest.raises(StreamingQueryException, match="injected crash"):
        q.awaitTermination(180)
    monkeypatch.setattr(pipelines, name, real)
    q = _run_cdc_sink(spark, src, out)  # same checkpoint
    q.awaitTermination(180)
    assert q.exception() is None
    kafka, dims = _cdc_sink_rows(spark, out)
    assert kafka == want_kafka
    assert dims == want_dims


_FANOUT_TABLES = ("dwd_start_log", "dwd_page_log", "dwd_display_log")
# crash point -> batch-1 part writes (start, page, display in that order)
# that complete before the injected raise
_FANOUT_CRASH_POINTS = {
    "before_start": 0,
    "before_page": 1,
    "before_display": 2,
    "after_display": 3,
}


def _stage_log_file(staged: str, src: str, i: int) -> None:
    """Move staged log file ``i`` into the source dir, 10 s apart in
    mtime so it is micro-batch ``i``."""
    dst = os.path.join(src, f"{i:02d}.json")
    os.rename(os.path.join(staged, f"{i:02d}.json"), dst)
    os.utime(dst, (1_700_000_000 + i * 10,) * 2)


def _stage_log_files(root, n: int) -> str:
    """Write ``n`` log files, each one start event and one page event
    with two displays, into ``root/staged``."""
    staged = str(root / "staged")
    os.makedirs(staged)
    for i in range(n):
        events = [
            {"common": {"mid": f"m{i}", "is_new": "1"},
             "start": {"entry": "icon"}, "ts": 1000 * i},
            {"common": {"mid": f"m{i}", "is_new": "0"},
             "page": {"page_id": f"p{i}", "last_page_id": None},
             "displays": [
                 {"item": f"sku{i}{k}", "item_type": "sku_id", "order": k}
                 for k in (1, 2)
             ],
             "ts": 1000 * i + 500},
        ]
        with open(os.path.join(staged, f"{i:02d}.json"), "w") as f:
            f.writelines(json.dumps(e) + "\n" for e in events)
    return staged


def _run_log_fanout(spark, src, out):
    raw = (
        spark.readStream.schema("value string").format("text")
        .option("maxFilesPerTrigger", 1).load(src)
    )
    clean, _dirty = parse_log_stream(raw)
    return start_log_split_fanout(clean, out, os.path.join(out, "_ckpt"))


def _fanout_rows(spark, out) -> dict:
    return {
        t: sorted(
            json.dumps(r.asDict(recursive=True), sort_keys=True, default=str)
            for r in spark.read.parquet(os.path.join(out, t)).collect()
        )
        for t in _FANOUT_TABLES
    }


@pytest.fixture(scope="module")
def uninterrupted_fanout(spark, tmp_path_factory):
    """The three DWD tables of a three-batch log fan-out with no crash."""
    root = tmp_path_factory.mktemp("fanout_crash")
    staged = _stage_log_files(root, 3)
    src = str(root / "src")
    os.makedirs(src)
    for i in range(3):
        _stage_log_file(staged, src, i)
    out = str(root / "out")
    q = _run_log_fanout(spark, src, out)
    q.awaitTermination(180)
    assert q.exception() is None
    return _fanout_rows(spark, out)


@pytest.mark.parametrize("point", list(_FANOUT_CRASH_POINTS))
def test_log_fanout_replays_crash_at_every_write_point(
    spark, tmp_path, monkeypatch, uninterrupted_fanout, point
):
    """Exactly-once under replay for the log fan-out sink: kill batch 1
    before its first part write, between two of them, or after the last;
    restart on the same checkpoint with a third input file, and each DWD
    table equals an uninterrupted run's. The replayed batch overwrites
    its ``batch_id=1`` dirs, so a half-written batch leaves no rows
    behind and a fully written one is not appended twice."""
    from pyspark.errors import StreamingQueryException
    from pyspark.sql.readwriter import DataFrameWriter

    staged = _stage_log_files(tmp_path, 3)
    src = str(tmp_path / "src")
    os.makedirs(src)
    for i in range(2):
        _stage_log_file(staged, src, i)
    crash_after = _FANOUT_CRASH_POINTS[point]
    real = DataFrameWriter.parquet
    done = []

    def flaky(self, path, *args, **kwargs):
        if "batch_id=1" not in path:
            return real(self, path, *args, **kwargs)
        if len(done) == crash_after:
            raise RuntimeError(f"injected crash {point}")
        real(self, path, *args, **kwargs)
        done.append(path)
        if len(done) == crash_after:
            raise RuntimeError(f"injected crash {point}")

    monkeypatch.setattr(DataFrameWriter, "parquet", flaky)
    out = str(tmp_path / "out")
    q = _run_log_fanout(spark, src, out)
    with pytest.raises(StreamingQueryException, match="injected crash"):
        q.awaitTermination(180)
    assert len(done) == crash_after
    monkeypatch.setattr(DataFrameWriter, "parquet", real)
    _stage_log_file(staged, src, 2)
    q = _run_log_fanout(spark, src, out)  # same checkpoint
    q.awaitTermination(180)
    assert q.exception() is None
    assert _fanout_rows(spark, out) == uninterrupted_fanout


_INFO_SCHEMA = StructType([
    StructField("id", LongType()),
    StructField("user_id", LongType()),
    StructField("create_ts", TimestampType()),
])
_DETAIL_SCHEMA = StructType([
    StructField("detail_id", LongType()),
    StructField("order_id", LongType()),
    StructField("sku_id", LongType()),
    StructField("create_ts", TimestampType()),
])


def _keyed_inputs(tick: int) -> dict:
    """The rows each keyed app's sources receive on ``tick`` (0-2). Devices
    recur across ticks, so is_new reads state a batch earlier wrote; each
    order's second detail lands a tick after its order, so the join
    matches it against buffered state or, once the watermark has passed,
    drops it as late."""
    t0 = 1000.0 + 20 * tick
    events = [
        (f"m{(tick * 5 + j) % 16}", _ts(t0 + j * 0.5), "1", j % 3 == 0,
         tick * 100 + j)
        for j in range(24)
    ]
    info = [(tick * 10 + k, k, _ts(t0 + 2 * k)) for k in range(6)]
    detail = [
        (tick * 100 + k, tick * 10 + k, k, _ts(t0 + 2 * k + 1))
        for k in range(6)
    ]
    if tick:  # the previous tick's orders, second line
        detail += [
            (tick * 100 + 50 + k, (tick - 1) * 10 + k, 7,
             _ts(t0 - 20 + 2 * k + 3))
            for k in range(6)
        ]
    return {
        "dwm_is_new": {"events": (events, FLAT_EVENT_SCHEMA)},
        "dwm_order_wide": {
            "info": (info, _INFO_SCHEMA),
            "detail": (detail, _DETAIL_SCHEMA),
        },
    }


def _keyed_app(spark, app: str, src: str):
    def source(name, schema):
        return read_file_stream(
            spark, os.path.join(src, name), schema, glob="*.parquet"
        )

    if app == "dwm_is_new":
        return correct_is_new_stream(
            source("events", FLAT_EVENT_SCHEMA), "mid", "ts", "is_new"
        )
    return order_wide_stream(
        source("info", _INFO_SCHEMA), source("detail", _DETAIL_SCHEMA)
    ).select("id", "detail_id", "sku_id")


def _keyed_tick(spark, app: str, root: str, tick: int) -> None:
    """Stage ``tick``'s input files, then run the app availableNow into a
    parquet sink on ``root``'s checkpoint."""
    for name, (rows, schema) in _keyed_inputs(tick)[app].items():
        stage = os.path.join(root, "stage", f"{name}{tick}")
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(stage)
        part = [f for f in os.listdir(stage) if f.endswith(".parquet")]
        dst = os.path.join(root, "src", name, f"{tick:02d}.parquet")
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        os.rename(os.path.join(stage, part[0]), dst)
        os.utime(dst, (1_700_000_000 + tick * 10,) * 2)
    q = (
        _keyed_app(spark, app, os.path.join(root, "src"))
        .writeStream.format("parquet")
        .option("path", os.path.join(root, "sink"))
        .option("checkpointLocation", os.path.join(root, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert q.exception() is None


def _sink_rows(spark, root: str) -> list:
    return sorted(
        tuple(r) for r in spark.read.parquet(os.path.join(root, "sink"))
        .collect()
    )


@pytest.fixture(scope="module")
def uninterrupted_keyed(spark, tmp_path_factory):
    """app -> sink rows of three ticks with no crash."""
    out = {}
    for app in ("dwm_is_new", "dwm_order_wide"):
        root = str(tmp_path_factory.mktemp(f"keyed_{app}"))
        for tick in range(3):
            _keyed_tick(spark, app, root, tick)
        out[app] = _sink_rows(spark, root)
    return out


@pytest.mark.parametrize("lost", ["commit", "commit_and_state_checksums"])
@pytest.mark.parametrize("app", ["dwm_is_new", "dwm_order_wide"])
def test_keyed_state_replays_crash_after_state_commit(
    spark, tmp_path, uninterrupted_keyed, app, lost
):
    """Exactly-once under replay for keyed state: after two ticks, the
    last batch's commit-log entry is deleted, as if the driver died after
    the executors committed the batch's state and before it logged the
    commit. The second case also loses that state version's checksum
    sidecars. A restarted tick replays the batch over state already
    written, then takes a third file; the sink equals an uninterrupted
    run's and no checkpoint temp file is left behind."""
    want = uninterrupted_keyed[app]
    if app == "dwm_is_new":  # devices seen in batch 0 are not new later
        seen = {r[0] for r in want if r[4] < 100}
        later = {r[-1] for r in want if r[4] >= 100 and r[0] in seen}
        assert later == {"0"}
    else:  # a detail matched an order buffered a batch earlier
        assert {(5, 155, 7), (15, 255, 7)} <= set(want)
    root = str(tmp_path)
    ckpt = os.path.join(root, "ckpt")
    for tick in range(2):
        _keyed_tick(spark, app, root, tick)
    commits = os.path.join(ckpt, "commits")
    last = max(int(f) for f in os.listdir(commits) if f.isdigit())
    doomed = [os.path.join(commits, n) for n in (f"{last}", f".{last}.crc")]
    if lost == "commit_and_state_checksums":
        sidecar = f"{last + 1}.delta.crc"
        doomed += [
            os.path.join(d, n)
            for d, _, files in os.walk(os.path.join(ckpt, "state"))
            for n in files
            if n in (sidecar, f".{sidecar}.crc")
        ]
        assert any(p.endswith(f"/{sidecar}") for p in doomed)
    for p in doomed:
        os.remove(p)
    _keyed_tick(spark, app, root, 2)
    assert _sink_rows(spark, root) == want
    left = [
        os.path.join(d, n)
        for d, _, files in os.walk(ckpt)
        for n in files
        if n.endswith(".tmp")
    ]
    assert left == []


def test_ensure_sink_table_catalog_ddl(spark):
    """K4 dynamic DDL (TableProcessFunction.java:116-176): a config row
    creates a catalog table with sinkColumns in CSV order, pk default 'id'
    recorded as a table property, idempotent re-issue, and identifier
    validation."""
    import pytest as _pytest

    db = "gmall_test_ddl"
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    try:
        fqn = ensure_sink_table(
            spark, "dim_base_trademark", "id,tm_name,logo_url",
            sink_pk=None, sink_extend="SALT_BUCKETS = 4", database=db,
        )
        assert fqn == f"`{db}`.`dim_base_trademark`"
        cols = spark.table(fqn).columns
        assert cols == ["id", "tm_name", "logo_url"]  # CSV order preserved
        props = {
            r["key"]: r["value"]
            for r in spark.sql(f"SHOW TBLPROPERTIES {fqn}").collect()
        }
        assert props["primaryKey"] == "id"  # default pk, :121-123
        assert props["sinkExtend"] == "SALT_BUCKETS = 4"
        # idempotent (IF NOT EXISTS) — same call again is a no-op
        ensure_sink_table(
            spark, "dim_base_trademark", "id,tm_name,logo_url", database=db
        )
        # pk must appear in sinkColumns
        with _pytest.raises(ValueError, match="not in sinkColumns"):
            ensure_sink_table(spark, "dim_x", "tm_name", database=db)
        # identifier validation blocks injection
        with _pytest.raises(ValueError, match="illegal identifier"):
            ensure_sink_table(spark, "dim_y; DROP TABLE t", "id", database=db)
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_cdc_routing_registers_catalog_tables(spark, tmp_path):
    """start_cdc_routing(catalog_db=...) registers each hbase sinkTable in
    the catalog on first sight (K4 wired into the P2/ST4 routing loop)."""
    db = "gmall_test_route_ddl"
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    env_rows = [
        Row(database="gmall", tableName="user_info",
            before=None, after={"id": "7", "name": "ann"}, type="insert"),
    ]
    src = str(tmp_path / "cdc_src")
    os.makedirs(src)
    spark.createDataFrame(env_rows, CDC_ENVELOPE_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "stage"))
    part = [
        f for f in os.listdir(tmp_path / "stage") if f.endswith(".parquet")
    ]
    os.rename(tmp_path / "stage" / part[0], os.path.join(src, "00.parquet"))

    cfg = spark.createDataFrame(
        [
            Row(sourceTable="user_info", operateType="insert",
                sinkType="hbase", sinkTable="dim_user_info",
                sinkColumns="id,name", sinkPk="id", sinkExtend=None),
        ],
        TABLE_PROCESS_SCHEMA,
    )
    stream = read_file_stream(
        spark, src, CDC_ENVELOPE_SCHEMA, glob="*.parquet"
    )
    try:
        q = start_cdc_routing(
            stream, lambda: cfg, str(tmp_path / "routed"),
            str(tmp_path / "ckpt"), catalog_db=db,
        )
        q.awaitTermination(120)
        assert spark.catalog.tableExists(f"{db}.dim_user_info")
        assert spark.table(f"`{db}`.`dim_user_info`").columns == ["id", "name"]
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_incremental_dedup_stream(spark, tmp_path):
    """Streaming corpus ingestion: batch-2 near-dups of batch-1 docs are
    rejected; within-batch dups keep the smallest id; the final corpus
    matches the batch-mode incremental audit run batch by batch."""
    from gmall_flink_yb_spark.streaming.pipelines import (
        read_file_stream,
        start_incremental_dedup_stream,
    )

    base = (
        "the quick brown fox jumps over the lazy dog again and again "
        "while the farmer watches from the old wooden fence nearby"
    )
    uniq = (
        "completely different content about distributed query engines "
        "and columnar storage formats for large scale analytics"
    )
    b1 = [(1, base), (2, uniq)]
    # 3 dups b1's doc 1 (near-identical); 4 is new; 5 dups 4 in-batch
    b2 = [
        (3, base + " extra"),
        (4, "a third totally unrelated piece of text about sailing ships "
            "crossing the atlantic with cargo and passengers aboard"),
        (5, "a third totally unrelated piece of text about sailing ships "
            "crossing the atlantic with cargo and passengers onboard"),
    ]
    src = tmp_path / "incoming"
    src.mkdir()
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    for i, rows in enumerate([b1, b2]):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"stage_{i}"))
        part = [
            f
            for f in os.listdir(tmp_path / f"stage_{i}")
            if f.endswith(".parquet")
        ]
        os.rename(tmp_path / f"stage_{i}" / part[0], src / f"{i:02d}.parquet")
        os.utime(
            src / f"{i:02d}.parquet",
            (1_700_000_000 + i * 10, 1_700_000_000 + i * 10),
        )
    stream = read_file_stream(
        spark, str(src), schema, max_files_per_trigger=1, glob="*.parquet"
    )
    q = start_incremental_dedup_stream(
        spark,
        stream,
        str(tmp_path / "corpus"),
        str(tmp_path / "ckpt"),
        threshold=0.5,
        index_dir=str(tmp_path / "index"),
    )
    q.awaitTermination(180)
    admitted = sorted(
        r["doc_id"]
        for r in spark.read.parquet(str(tmp_path / "corpus")).collect()
    )
    assert admitted == [1, 2, 4]


FUNNEL_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("event_type", StringType()),
    ]
)


@pytest.fixture(scope="module")
def funnel_events(spark, tmp_path_factory):
    """Three time-ordered files -> three micro-batches; chains that span
    batch boundaries, a window-expired step, and an out-of-window user."""
    steps_rows_b1 = [
        (1, _ts(100.0), "view"),
        (1, _ts(110.0), "click"),      # u1 advances to step2 in batch 1
        (2, _ts(120.0), "view"),
        (3, _ts(130.0), "click"),      # no view yet: never qualifies
        (4, _ts(140.0), "view"),
        (5, _ts(150.0), "other"),      # noise
    ]
    steps_rows_b2 = [
        (1, _ts(200.0), "purchase"),   # u1 completes across batches
        (2, _ts(210.0), "click"),      # u2 advances across batches
        (4, _ts(999.0), "click"),      # past u4's 500s window: no advance
        (5, _ts(220.0), "view"),
    ]
    steps_rows_b3 = [
        (2, _ts(300.0), "purchase"),   # u2 completes
        (5, _ts(230.0), "click"),
        (5, _ts(231.0), "click"),      # second qualifying click: ignored
    ]
    d = tmp_path_factory.mktemp("funnel_events")
    for i, rows in enumerate([steps_rows_b1, steps_rows_b2, steps_rows_b3]):
        spark.createDataFrame(rows, FUNNEL_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(d / f"b{i}"))
        part = [f for f in os.listdir(d / f"b{i}") if f.endswith(".parquet")]
        os.rename(d / f"b{i}" / part[0], d / f"{i:02d}.parquet")
        os.utime(d / f"{i:02d}.parquet",
                 (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))
    all_df = spark.read.schema(FUNNEL_SCHEMA).parquet(str(d))
    return str(d), all_df


def test_funnel_stream_matches_batch(spark, funnel_events):
    from gmall_flink_yb_spark.operators.funnel import funnel_conversion
    from gmall_flink_yb_spark.streaming.stateful import funnel_steps_stream

    path, all_df = funnel_events
    steps = ["view", "click", "purchase"]
    stream = read_file_stream(
        spark, path, FUNNEL_SCHEMA, max_files_per_trigger=1, glob="*.parquet"
    )
    got = _run_to_memory(
        funnel_steps_stream(stream, steps, window_seconds=500),
        spark,
        "funnel_s",
    )
    stream_counts = {
        r["step_index"]: r["users"]
        for r in got.groupBy("step_index")
        .agg(F.countDistinct("user_id").alias("users"))
        .collect()
    }
    batch = {
        r["step_index"]: r["users"]
        for r in funnel_conversion(all_df, steps, window_seconds=500).collect()
    }
    # batch emits every step_index (zero-filled); stream only emits reached
    # steps — compare on the batch's support
    assert batch == {1: 4, 2: 3, 3: 2}
    for i, n in batch.items():
        assert stream_counts.get(i, 0) == n, (i, stream_counts, batch)
    # the per-user advance rows carry the SAME first-qualifying timestamps
    # the batch min-propagation computes
    u1 = {
        r["step_index"]: r["step_ts"].timestamp()
        for r in got.filter(F.col("user_id") == 1).collect()
    }
    assert u1 == {1: 100.0, 2: 110.0, 3: 200.0}


def test_retention_stream_matches_batch(spark, funnel_events):
    """Retention over multi-day activity: reuse the funnel fixture's users
    plus day-spanning timestamps written as a fourth time-ordered file."""
    from gmall_flink_yb_spark.operators.funnel import retention_cohorts
    from gmall_flink_yb_spark.streaming.stateful import retention_stream

    rows_day0 = [
        (1, _ts(100.0), "view"),
        (2, _ts(200.0), "view"),
        (3, _ts(300.0), "view"),
    ]
    rows_day1 = [
        (1, _ts(86400.0 + 100), "click"),      # u1 back on day 1
        (3, _ts(86400.0 + 200), "view"),
        (4, _ts(86400.0 + 300), "view"),       # u4's cohort is day 1
    ]
    rows_day3 = [
        (1, _ts(3 * 86400.0 + 50), "view"),    # u1 back on day 3
        (4, _ts(3 * 86400.0 + 60), "view"),    # u4 offset 2
        (4, _ts(3 * 86400.0 + 61), "view"),    # same-day dup: one emission
    ]
    import tempfile

    d = tempfile.mkdtemp(prefix="retention_events")
    for i, rows in enumerate([rows_day0, rows_day1, rows_day3]):
        spark.createDataFrame(rows, FUNNEL_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(d, f"b{i}"))
        part = [
            f
            for f in os.listdir(os.path.join(d, f"b{i}"))
            if f.endswith(".parquet")
        ]
        os.rename(
            os.path.join(d, f"b{i}", part[0]),
            os.path.join(d, f"{i:02d}.parquet"),
        )
        os.utime(
            os.path.join(d, f"{i:02d}.parquet"),
            (1_700_000_000 + i * 10, 1_700_000_000 + i * 10),
        )
    all_df = spark.read.schema(FUNNEL_SCHEMA).parquet(d)
    stream = read_file_stream(
        spark, d, FUNNEL_SCHEMA, max_files_per_trigger=1, glob="*.parquet"
    )
    got = _run_to_memory(
        retention_stream(stream, max_offset_days=30), spark, "retention_s"
    )
    stream_counts = {
        (r["cohort_date"], r["day_offset"]): r["active_users"]
        for r in got.groupBy("cohort_date", "day_offset")
        .agg(F.countDistinct("user_id").alias("active_users"))
        .collect()
    }
    batch_counts = {
        (r["cohort_date"], r["day_offset"]): r["active_users"]
        for r in retention_cohorts(all_df, max_offset_days=30).collect()
    }
    assert stream_counts == batch_counts
    assert batch_counts[("1970-01-01", 0)] == 3  # cohort day-0 size
    assert batch_counts[("1970-01-01", 3)] == 1  # u1 back on day 3


def test_keyword_window_stream_matches_batch(spark, sf_dir):
    """§2.9 keyword DWS intent: the same keyword_window_counts code under
    readStream with a watermark must produce the batch answer once all
    data is processed."""
    from gmall_flink_yb_spark.operators.keywords import keyword_window_counts

    raw_schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )
    txt = F.concat_ws(" ", "event_type", "props")
    stream = read_file_stream(
        spark, sf_dir, raw_schema, glob="events.parquet"
    ).select("ts", txt.alias("txt"))
    got = _run_to_memory(
        keyword_window_counts(
            stream, "txt", "ts", "1 hour", watermark="1 minute", min_count=3
        ),
        spark,
        "kw_win_s",
        mode="complete",
    )
    events = read_table(spark, sf_dir, "events").select(
        "ts", txt.alias("txt")
    )
    expect = keyword_window_counts(events, "txt", "ts", "1 hour", min_count=3)
    key = ["window_start", "token"]
    g = {tuple(r[k] for k in key): r["token_count"] for r in got.collect()}
    e = {tuple(r[k] for k in key): r["token_count"] for r in expect.collect()}
    assert g == e


def test_session_window_stream_matches_batch(spark, tmp_path):
    """§2.9 session-window DWS intent: session_agg under readStream in
    APPEND mode with a watermark must emit exactly the batch sessions once
    the watermark passes them. A far-future sentinel event advances the
    watermark past every real session (append mode only emits FINALIZED
    session windows); the sentinel's own session is excluded from the
    comparison on both sides."""
    from gmall_flink_yb_spark.operators.windows import session_agg

    schema = StructType(
        [
            StructField("ts", TimestampType()),
            StructField("user_id", LongType()),
        ]
    )
    base = 1_700_000_000

    def _ts(s):
        import datetime

        return datetime.datetime.utcfromtimestamp(base + s)

    # u1: two sessions (gap > 30 s); u2: one session spanning two files
    batch0 = [(_ts(0.0), 1), (_ts(10.0), 1), (_ts(20.0), 2)]
    batch1 = [(_ts(45.0), 2), (_ts(120.0), 1), (_ts(130.0), 1)]
    sentinel = [(_ts(86_400.0), 999)]
    d = str(tmp_path / "sessions")
    os.makedirs(d)
    for i, rows in enumerate([batch0, batch1, sentinel]):
        bdir = str(tmp_path / f"b{i}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(bdir)
        part = [f for f in os.listdir(bdir) if f.endswith(".parquet")]
        os.rename(
            os.path.join(bdir, part[0]), os.path.join(d, f"{i:02d}.parquet")
        )
        os.utime(
            os.path.join(d, f"{i:02d}.parquet"),
            (1_700_000_000 + i * 10, 1_700_000_000 + i * 10),
        )
    aggs = [F.count(F.lit(1)).alias("n_events")]
    stream = read_file_stream(
        spark, d, schema, max_files_per_trigger=1, glob="*.parquet"
    )
    got = _run_to_memory(
        session_agg(
            stream, "ts", "30 seconds", ["user_id"], aggs,
            watermark="1 second",
        ),
        spark,
        "session_s",
    ).filter(F.col("user_id") != 999)
    all_df = spark.read.schema(schema).parquet(d).filter(
        F.col("user_id") != 999
    )
    expect = session_agg(all_df, "ts", "30 seconds", ["user_id"], aggs)
    key = ["user_id", "window_start", "window_end"]
    g = {tuple(r[k] for k in key): r["n_events"] for r in got.collect()}
    e = {tuple(r[k] for k in key): r["n_events"] for r in expect.collect()}
    assert g == e
    assert len(e) == 3  # u1 x2 sessions, u2 x1 (cross-file session merged)
    assert sum(g.values()) == 6


def test_incremental_dedup_stream_survives_restart(spark, tmp_path):
    """Crash/restart discipline: stop the ingest stream after batch 1,
    start a NEW query on the SAME checkpoint with more files present —
    the restarted query must pick up where the checkpoint left off (no
    reprocessing of batch 1, no duplicate partitions) and the final
    corpus must equal the single-run answer."""
    from gmall_flink_yb_spark.streaming.pipelines import (
        read_file_stream,
        start_incremental_dedup_stream,
    )

    base = (
        "the quick brown fox jumps over the lazy dog again and again "
        "while the farmer watches from the old wooden fence nearby"
    )
    b1 = [(1, base), (2, "completely different content about distributed "
                         "query engines and columnar storage formats")]
    b2 = [(3, base + " extra"),      # near-dup of admitted doc 1: reject
          (4, "a third totally unrelated piece of text about sailing "
              "ships crossing the atlantic with cargo aboard")]
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    src = tmp_path / "incoming"
    src.mkdir()

    def _drop(i, rows):
        stage = tmp_path / f"stage_{i}"
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(stage))
        part = [f for f in os.listdir(stage) if f.endswith(".parquet")]
        os.rename(stage / part[0], src / f"{i:02d}.parquet")
        os.utime(
            src / f"{i:02d}.parquet",
            (1_700_000_000 + i * 10, 1_700_000_000 + i * 10),
        )

    corpus, ckpt = str(tmp_path / "corpus"), str(tmp_path / "ckpt")
    index = str(tmp_path / "index")
    _drop(0, b1)
    q1 = start_incremental_dedup_stream(
        spark,
        read_file_stream(spark, str(src), schema, max_files_per_trigger=1,
                         glob="*.parquet"),
        corpus, ckpt, threshold=0.5, index_dir=index,
    )
    q1.awaitTermination(120)  # availableNow: terminates after file 00
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(corpus).collect()
    ) == [1, 2]

    _drop(1, b2)
    q2 = start_incremental_dedup_stream(
        spark,
        read_file_stream(spark, str(src), schema, max_files_per_trigger=1,
                         glob="*.parquet"),
        corpus, ckpt, threshold=0.5, index_dir=index,
    )
    q2.awaitTermination(120)
    out = spark.read.parquet(corpus)
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 2, 4]
    # batch-1's partition untouched by the restart: docs 1,2 still live in
    # the partition written before the stop, 4 in a later one
    parts = {
        r["doc_id"]: r["ingest_batch"]
        for r in out.select("doc_id", "ingest_batch").collect()
    }
    assert parts[1] == parts[2] < parts[4]


def test_count_min_stream_merge_equals_batch_sketch(spark, tmp_path):
    """Mergeable-sketch property, end to end: the element-wise sum of the
    per-micro-batch count-min sketches equals the batch sketch of ALL the
    data bit for bit (count-min is linear), and estimates off the merged
    sketch keep the overestimate guarantee."""
    from gmall_flink_yb_spark.functions.sketch import (
        count_min_build,
        count_min_estimate,
    )
    from gmall_flink_yb_spark.streaming.pipelines import (
        merged_count_min,
        read_file_stream,
        start_count_min_stream,
    )

    schema = StructType([StructField("w", StringType())])
    b1 = [("spark",)] * 5 + [("flink",)] * 2 + [("duck",)]
    b2 = [("spark",)] * 3 + [("arrow",)] * 4
    src = tmp_path / "words"
    src.mkdir()
    for i, rows in enumerate([b1, b2]):
        stage = tmp_path / f"stage_{i}"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(stage)
        )
        part = [f for f in os.listdir(stage) if f.endswith(".parquet")]
        os.rename(stage / part[0], src / f"{i:02d}.parquet")
        os.utime(
            src / f"{i:02d}.parquet",
            (1_700_000_000 + i * 10, 1_700_000_000 + i * 10),
        )
    q = start_count_min_stream(
        spark,
        read_file_stream(spark, str(src), schema, max_files_per_trigger=1,
                         glob="*.parquet"),
        "w",
        str(tmp_path / "sketch"),
        str(tmp_path / "ckpt"),
        depth=3,
        width=64,
    )
    q.awaitTermination(120)
    # two micro-batches -> two sketch partitions
    import glob as _glob

    parts = _glob.glob(str(tmp_path / "sketch" / "sketch_batch=*"))
    assert len(parts) == 2
    merged = merged_count_min(spark, str(tmp_path / "sketch"))
    all_df = spark.read.schema(schema).parquet(str(src))
    batch_sketch = count_min_build(all_df, "w", depth=3, width=64)
    m = {(r["j"], r["bucket"]): r["cnt"] for r in merged.collect()}
    b = {(r["j"], r["bucket"]): r["cnt"] for r in batch_sketch.collect()}
    assert m == b  # linearity: sum of per-batch sketches == batch sketch
    est = {
        r["w"]: r["est_count"]
        for r in count_min_estimate(
            all_df.distinct(), merged, "w", depth=3, width=64
        ).collect()
    }
    exact = {r["w"]: r["n"] for r in
             all_df.groupBy("w").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert all(est[w] >= exact[w] for w in exact)
    assert est["spark"] >= 8


def test_hll_uv_stream_merge_equals_batch_estimate(spark, tmp_path):
    """HLL union exactness over sketch states: the per-day UV estimated
    from unioned per-micro-batch sketches equals the single-pass batch
    sketch estimate of the same events, and sits within 3-sigma of exact.
    Late events need no watermark: they land in a later batch's sketch
    and union in."""
    from gmall_flink_yb_spark.streaming.pipelines import (
        merged_hll_uv,
        read_file_stream,
        start_hll_uv_stream,
    )

    schema = StructType(
        [
            StructField("ts", TimestampType()),
            StructField("user_id", LongType()),
        ]
    )
    import datetime

    def _t(day, i):
        return datetime.datetime(2024, 1, day, 8, 0, i)

    b1 = [(_t(1, i), i % 7) for i in range(30)]
    # batch 2: day-2 traffic PLUS late day-1 events from new users
    b2 = [(_t(2, i), 100 + i % 5) for i in range(20)] + [
        (_t(1, 40 + i), 50 + i) for i in range(3)
    ]
    src = tmp_path / "ev"
    src.mkdir()
    for i, rows in enumerate([b1, b2]):
        stage = tmp_path / f"stage_{i}"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(stage)
        )
        part = [f for f in os.listdir(stage) if f.endswith(".parquet")]
        os.rename(stage / part[0], src / f"{i:02d}.parquet")
        os.utime(
            src / f"{i:02d}.parquet",
            (1_700_000_000 + i * 10, 1_700_000_000 + i * 10),
        )
    q = start_hll_uv_stream(
        spark,
        read_file_stream(spark, str(src), schema, max_files_per_trigger=1,
                         glob="*.parquet"),
        "user_id",
        "ts",
        str(tmp_path / "hll"),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    got = {
        r["dt"]: r["uv_estimate"]
        for r in merged_hll_uv(spark, str(tmp_path / "hll")).collect()
    }
    all_df = spark.read.schema(schema).parquet(str(src))
    batch = {
        r["dt"]: r["est"]
        for r in all_df.groupBy(
            F.date_format("ts", "yyyy-MM-dd").alias("dt")
        )
        .agg(
            F.hll_sketch_estimate(
                F.hll_sketch_agg(F.col("user_id"), F.lit(12))
            ).alias("est")
        )
        .collect()
    }
    assert got == batch  # union of per-batch sketches == sketch of union
    exact = {
        r["dt"]: r["n"]
        for r in all_df.groupBy(
            F.date_format("ts", "yyyy-MM-dd").alias("dt")
        )
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert exact["2024-01-01"] == 10  # 7 on-time + 3 late users
    for dt, n in exact.items():
        assert abs(got[dt] - n) <= max(1.0, 0.15 * n)


def test_count_min_stream_replay_does_not_double_count(spark, tmp_path):
    """batchId-keyed partition discipline under restart: re-running the
    sketch stream over the SAME checkpoint with no new files must leave
    the merged sketch unchanged (a replayed batch overwrites its own
    partition instead of summing into a global table)."""
    from gmall_flink_yb_spark.functions.sketch import count_min_build
    from gmall_flink_yb_spark.streaming.pipelines import (
        merged_count_min,
        read_file_stream,
        start_count_min_stream,
    )

    schema = StructType([StructField("w", StringType())])
    rows = [("alpha",)] * 4 + [("beta",)] * 2
    src = tmp_path / "w2"
    src.mkdir()
    stage = tmp_path / "s0"
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(stage))
    part = [f for f in os.listdir(stage) if f.endswith(".parquet")]
    os.rename(stage / part[0], src / "00.parquet")

    def _run():
        q = start_count_min_stream(
            spark,
            read_file_stream(spark, str(src), schema, glob="*.parquet"),
            "w",
            str(tmp_path / "sk"),
            str(tmp_path / "ck"),
            depth=3,
            width=32,
        )
        q.awaitTermination(120)

    _run()
    first = {
        (r["j"], r["bucket"]): r["cnt"]
        for r in merged_count_min(spark, str(tmp_path / "sk")).collect()
    }
    _run()  # restart on same checkpoint: nothing new to process
    second = {
        (r["j"], r["bucket"]): r["cnt"]
        for r in merged_count_min(spark, str(tmp_path / "sk")).collect()
    }
    assert first == second
    batch = {
        (r["j"], r["bucket"]): r["cnt"]
        for r in count_min_build(
            spark.createDataFrame(rows, schema), "w", depth=3, width=32
        ).collect()
    }
    assert second == batch


def test_dim_upsert_rewrites_only_touched_buckets(spark, tmp_path):
    """K3 at scale (VERDICT r3/r4): the dim is pk-hash-bucketed under
    versioned ``gen=`` dirs; an upsert writes ONLY the buckets its pks
    land in into a NEW generation — every previously published file stays
    byte-identical (never rewritten in place), so per-batch write cost is
    bounded by touched_buckets/n_buckets of the dim, not the whole
    table."""
    import hashlib

    from pyspark.sql import Row

    from gmall_flink_yb_spark.streaming.pipelines import (
        read_dim_parquet,
        upsert_dim_parquet,
    )

    path = str(tmp_path / "dim_user")
    rows1 = [Row(id=str(i), payload=f"v{i}") for i in range(40)]
    upsert_dim_parquet(
        spark, spark.createDataFrame(rows1), path, "id", n_buckets=8
    )
    gen1 = os.path.join(path, "gen=1")
    buckets = sorted(
        d for d in os.listdir(gen1) if d.startswith("_pk_bucket=")
    )
    assert len(buckets) > 1  # 40 pks spread over several buckets

    def dir_digest(base):
        h = hashlib.sha256()
        for root, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                if f.endswith(".parquet"):
                    h.update(os.path.relpath(
                        os.path.join(root, f), base).encode())
                    h.update(open(os.path.join(root, f), "rb").read())
        return h.hexdigest()

    before = dir_digest(gen1)

    # update ONE pk -> a new generation holding exactly one bucket dir;
    # generation 1's files are untouched bytes
    upsert_dim_parquet(
        spark,
        spark.createDataFrame([Row(id="3", payload="v3-updated")]),
        path,
        "id",
        n_buckets=8,
    )
    assert dir_digest(gen1) == before
    gen2_buckets = [
        d for d in os.listdir(os.path.join(path, "gen=2"))
        if d.startswith("_pk_bucket=")
    ]
    assert len(gen2_buckets) == 1  # the bucket pk "3" hashes into, only

    # merge semantics held: updated pk replaced, the other 39 intact
    got = {
        r["id"]: r["payload"]
        for r in read_dim_parquet(spark, path).collect()
    }
    assert got["3"] == "v3-updated"
    assert len(got) == 40
    assert got["5"] == "v5"


def test_dim_upsert_snapshot_isolated_reader(spark, tmp_path):
    """VERDICT r04 #2 (the round-4 atomicity window): a reader that
    resolved the dim BEFORE an upsert keeps reading a complete, consistent
    pre-upsert snapshot — the upsert publishes a new generation + manifest
    and never rewrites the files the open reader pinned."""
    from pyspark.sql import Row

    from gmall_flink_yb_spark.streaming.pipelines import (
        read_dim_parquet,
        upsert_dim_parquet,
    )

    path = str(tmp_path / "dim_snap")
    upsert_dim_parquet(
        spark,
        spark.createDataFrame(
            [Row(id=str(i), payload=f"v{i}") for i in range(40)]
        ),
        path,
        "id",
        n_buckets=8,
    )
    reader = read_dim_parquet(spark, path)  # opened pre-upsert

    upsert_dim_parquet(
        spark,
        spark.createDataFrame([Row(id="3", payload="v3-updated")]),
        path,
        "id",
        n_buckets=8,
    )
    old = {r["id"]: r["payload"] for r in reader.collect()}
    assert old["3"] == "v3"  # consistent PRE-upsert snapshot
    assert len(old) == 40
    new = {r["id"]: r["payload"] for r in read_dim_parquet(spark, path).collect()}
    assert new["3"] == "v3-updated"
    assert len(new) == 40


def test_dim_upsert_bucket_spec_persisted(spark, tmp_path):
    """ADVICE r04 (medium): the bucket modulus is persisted in the
    manifest, and a later upsert passing a DIFFERENT n_buckets must reuse
    the persisted one — otherwise an existing pk's old row would sit in an
    unloaded bucket and survive the merge as a silent duplicate."""
    from pyspark.sql import Row

    from gmall_flink_yb_spark.streaming.pipelines import (
        _read_dim_manifest,
        read_dim_parquet,
        upsert_dim_parquet,
    )

    path = str(tmp_path / "dim_spec")
    upsert_dim_parquet(
        spark,
        spark.createDataFrame(
            [Row(id=str(i), payload=f"v{i}") for i in range(40)]
        ),
        path,
        "id",
        n_buckets=8,
    )
    # update every pk under a mismatched modulus: with the round-4 layout
    # this duplicated every row whose old/new buckets diverged
    upsert_dim_parquet(
        spark,
        spark.createDataFrame(
            [Row(id=str(i), payload=f"w{i}") for i in range(40)]
        ),
        path,
        "id",
        n_buckets=32,
    )
    got = {r["id"]: r["payload"] for r in read_dim_parquet(spark, path).collect()}
    assert len(got) == 40  # no duplicate/stale pk rows
    assert all(v.startswith("w") for v in got.values())
    assert _read_dim_manifest(spark, path)["n_buckets"] == 8


def test_dim_upsert_vacuums_stale_generations(spark, tmp_path):
    """Superseded generations are retained for ``retain_gens`` manifests
    (open-reader grace) and then vacuumed; the bucket map keeps pointing
    at the newest generation of every bucket."""
    from pyspark.sql import Row

    from gmall_flink_yb_spark.streaming.pipelines import (
        _read_dim_manifest,
        read_dim_parquet,
        upsert_dim_parquet,
    )

    path = str(tmp_path / "dim_vac")
    for gen, payload in enumerate(["a", "b", "c"], start=1):
        upsert_dim_parquet(
            spark,
            spark.createDataFrame([Row(id="1", payload=payload)]),
            path,
            "id",
            n_buckets=4,
        )
    dirs = sorted(d for d in os.listdir(path) if d.startswith("gen="))
    # pk "1" was rewritten every time: gen=1 is referenced by neither the
    # current manifest nor the retained previous one -> vacuumed
    assert dirs == ["gen=2", "gen=3"]
    manifests = sorted(
        d for d in os.listdir(path) if d.startswith("_dim_manifest-")
    )
    assert len(manifests) == 2
    assert _read_dim_manifest(spark, path)["gen"] == 3
    assert {
        r["payload"] for r in read_dim_parquet(spark, path).collect()
    } == {"c"}


def test_dim_upsert_skips_orphan_generation(spark, tmp_path, monkeypatch):
    """An upsert that dies between its gen-dir rename and its manifest
    leaves an orphan ``gen=`` dir. The next upsert numbers past it,
    vacuums it, and keeps the previous manifest by count: the reader
    grace window is one manifest however the numbers skip."""
    from gmall_flink_yb_spark.streaming import pipelines

    path = str(tmp_path / "dim_orphan")

    def upsert(payload):
        pipelines.upsert_dim_parquet(
            spark, spark.createDataFrame([Row(id="1", payload=payload)]),
            path, "id", n_buckets=4,
        )

    upsert("a")
    real = pipelines._write_dim_manifest

    def crash(*args, **kwargs):
        raise RuntimeError("injected crash before manifest")

    monkeypatch.setattr(pipelines, "_write_dim_manifest", crash)
    with pytest.raises(RuntimeError, match="injected crash"):
        upsert("b")
    monkeypatch.setattr(pipelines, "_write_dim_manifest", real)
    assert sorted(d for d in os.listdir(path) if d.startswith("gen=")) == [
        "gen=1", "gen=2",
    ]
    upsert("c")
    assert sorted(d for d in os.listdir(path) if d.startswith("gen=")) == [
        "gen=1", "gen=3",
    ]
    assert pipelines._dim_manifest_gens(spark, path) == [1, 3]
    assert [r["payload"] for r in pipelines.read_dim_parquet(
        spark, path
    ).collect()] == ["c"]


def _stage_doc_batches(spark, tmp_path, name, batches, schema=None):
    schema = schema or StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    src = tmp_path / name
    src.mkdir()
    for i, rows in enumerate(batches):
        stage = tmp_path / f"{name}_stage_{i}"
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(stage))
        part = [f for f in os.listdir(stage) if f.endswith(".parquet")]
        os.rename(stage / part[0], src / f"{i:02d}.parquet")
        os.utime(
            src / f"{i:02d}.parquet",
            (1_700_000_000 + i * 10, 1_700_000_000 + i * 10),
        )
    return str(src), schema


_INGEST_B1 = [
    (1, "the quick brown fox jumps over the lazy dog again and again "
        "while the farmer watches from the old wooden fence nearby"),
    (2, "completely different content about distributed query engines "
        "and columnar storage formats for large scale analytics"),
]
_INGEST_B2 = [
    (3, "the quick brown fox jumps over the lazy dog again and again "
        "while the farmer watches from the old wooden fence nearby extra"),
    (4, "a third totally unrelated piece of text about sailing ships "
        "crossing the atlantic with cargo and passengers aboard"),
    (5, "a third totally unrelated piece of text about sailing ships "
        "crossing the atlantic with cargo and passengers onboard"),
]
_INGEST_B3 = [
    (6, "completely different content about distributed query engines "
        "and columnar storage formats for small scale analytics"),
    (7, "yet another fresh document on gardening tips for growing "
        "tomatoes and cucumbers in a northern climate greenhouse"),
]


def test_incremental_dedup_stream_with_persisted_index(spark, tmp_path):
    """The 100 TB ingest shape: the MinHash band-bucket index is persisted
    per batch and the audit reads IT, not the corpus text. Admissions must
    equal ``incremental_lsh_dedup`` replayed batch by batch over the
    admitted docs' text, and the index must hold exactly the admitted
    docs' band rows."""
    from gmall_flink_yb_spark.functions.dedup import incremental_lsh_dedup
    from gmall_flink_yb_spark.streaming.pipelines import (
        read_file_stream,
        start_incremental_dedup_stream,
    )

    batches = [_INGEST_B1, _INGEST_B2, _INGEST_B3]
    src, schema = _stage_doc_batches(spark, tmp_path, "in", batches)
    q = start_incremental_dedup_stream(
        spark,
        read_file_stream(spark, src, schema, max_files_per_trigger=1,
                         glob="*.parquet"),
        str(tmp_path / "corpus"),
        str(tmp_path / "ckpt"),
        threshold=0.5,
        index_dir=str(tmp_path / "index"),
    )
    q.awaitTermination(180)

    # the batch wrapper rebuilds the reference from the admitted text
    kept: list[tuple] = []
    for rows in batches:
        verdicts = incremental_lsh_dedup(
            spark.createDataFrame(kept, schema),
            spark.createDataFrame(rows, schema),
            "doc_id", "text", threshold=0.5, broadcast_incoming=True,
        )
        keep = {
            r["doc_id"]
            for r in verdicts.filter(F.col("keep") == 1).collect()
        }
        kept.extend(r for r in rows if r[0] in keep)
    admitted = sorted(
        r["doc_id"]
        for r in spark.read.parquet(str(tmp_path / "corpus")).collect()
    )
    # 3,5 dups; 6 near-dups 2
    assert admitted == sorted(r[0] for r in kept) == [1, 2, 4, 7]

    idx = spark.read.parquet(str(tmp_path / "index"))
    # index holds band rows for exactly the admitted docs, batch-keyed
    assert sorted(
        r["doc_id"] for r in idx.select("doc_id").distinct().collect()
    ) == [1, 2, 4, 7]
    assert sorted(
        r["ingest_batch"]
        for r in idx.select("ingest_batch").distinct().collect()
    ) == [0, 1, 2]
    # 8 bands per admitted doc (the stream's num_hashes=32 / bands=8 default)
    per_doc = {
        r["doc_id"]: r["n"]
        for r in idx.groupBy("doc_id").agg(F.count("*").alias("n")).collect()
    }
    assert set(per_doc.values()) == {8}


def test_indexed_ingest_never_rereads_corpus_text(spark, tmp_path):
    """The point of the persisted index: after a corpus exists, further
    batches audit WITHOUT the admitted docs\' text. Proven by replacing the
    corpus partitions with text-free stubs between micro-batch runs (same
    checkpoint, new file arrives) — the indexed ingest still rejects the
    cross-batch near-dup; an audit that re-read the corpus could not have
    (its reference text is gone)."""
    import shutil

    from gmall_flink_yb_spark.streaming.pipelines import (
        read_file_stream,
        start_incremental_dedup_stream,
    )

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    src = tmp_path / "in"
    src.mkdir()

    def add_file(i, rows):
        stage = tmp_path / f"stage_{i}"
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(stage))
        part = [f for f in os.listdir(stage) if f.endswith(".parquet")]
        os.rename(stage / part[0], src / f"{i:02d}.parquet")
        os.utime(
            src / f"{i:02d}.parquet",
            (1_700_000_000 + i * 10, 1_700_000_000 + i * 10),
        )

    corpus = tmp_path / "corpus"
    index = tmp_path / "index"
    ckpt = str(tmp_path / "ck")

    def run():
        q = start_incremental_dedup_stream(
            spark,
            read_file_stream(spark, str(src), schema, max_files_per_trigger=1,
                             glob="*.parquet"),
            str(corpus),
            ckpt,
            threshold=0.5,
            index_dir=str(index),
        )
        q.awaitTermination(180)

    add_file(0, _INGEST_B1)
    run()

    # blank out the admitted text (keep ids + layout): the index alone
    # must carry the reference signal from here on
    for bdir in corpus.iterdir():
        if not bdir.name.startswith("ingest_batch="):
            continue
        blanked = spark.read.parquet(str(bdir)).select(
            "doc_id", F.lit("").alias("text")
        )
        tmp_out = tmp_path / f"_blank_{bdir.name}"
        blanked.coalesce(1).write.mode("overwrite").parquet(str(tmp_out))
        shutil.rmtree(str(bdir))
        os.rename(str(tmp_out), str(bdir))

    add_file(1, _INGEST_B2)
    run()  # same checkpoint: only the new file processes, as batch 1
    admitted = sorted(
        r["doc_id"]
        for r in spark.read.parquet(str(corpus))
        .filter(F.col("ingest_batch") >= 1)
        .collect()
    )
    # doc 3 (near-dup of admitted doc 1) rejected via the index alone;
    # doc 5 rejected as the in-batch dup of 4
    assert admitted == [4]


# sink -> (batch schema, two batches of rows, starter keywords, corpus and
# index id columns for audit_ingest_consistency, or None for the scrub)
_CRASH_SINKS = {
    "dedup": (
        "doc_id long, text string", [_INGEST_B1, _INGEST_B2],
        {"threshold": 0.5}, ("doc_id", "doc_id"),
    ),
    "ann": (
        "vec_id long, embedding array<double>",
        [
            [(1, [1.0, 0.0, 0.0, 0.1]), (2, [0.0, 1.0, 0.2, 0.0])],
            [
                (3, [1.01, 0.0, 0.0, 0.1]),   # dup of 1
                (4, [0.0, 0.0, 1.0, 0.3]),
                (5, [0.0, 0.0, 1.0, 0.31]),   # in-batch dup of 4
            ],
        ],
        {"threshold": 0.95, "dim": 4}, ("vec_id", "id"),
    ),
    "span": (
        "doc_id long, text string",
        [
            [(1, "alpha beta gamma delta epsilon zeta eta theta"),
             (2, "one two three four five six")],
            [(3, "x y alpha beta gamma delta epsilon z"),
             (4, "seven eight nine ten eleven twelve")],
        ],
        {"n": 4}, None,
    ),
}
# crash point -> (which of batch 1's two writes, raise after writing it)
_CRASH_POINTS = {
    "before_first_write": (1, False),
    "between_writes": (2, False),
    "after_second_write": (2, True),
}


def _ingest_rows(spark, path):
    return sorted(
        (
            tuple(tuple(v) if isinstance(v, list) else v for v in r)
            for r in spark.read.parquet(path).collect()
        ),
        key=repr,
    )


def _run_ingest_sink(spark, sink, src, out):
    from gmall_flink_yb_spark.streaming import pipelines

    schema, _, kwargs, _ = _CRASH_SINKS[sink]
    starter = {
        "dedup": pipelines.start_incremental_dedup_stream,
        "ann": pipelines.start_incremental_ann_stream,
        "span": pipelines.start_incremental_span_scrub_stream,
    }[sink]
    return starter(
        spark,
        pipelines.read_file_stream(
            spark, src, schema, max_files_per_trigger=1, glob="*.parquet"
        ),
        os.path.join(out, "corpus"),
        os.path.join(out, "ckpt"),
        index_dir=os.path.join(out, "index"),
        **kwargs,
    )


@pytest.fixture(scope="module")
def uninterrupted_ingest(spark, tmp_path_factory):
    """sink -> (staged source dir, corpus rows, index rows) of a run with
    no crash, computed once per sink."""
    done = {}

    def get(sink):
        if sink not in done:
            root = tmp_path_factory.mktemp(f"ingest_{sink}")
            schema, batches, _, _ = _CRASH_SINKS[sink]
            src, _ = _stage_doc_batches(spark, root, "src", batches, schema)
            out = str(root / "out")
            q = _run_ingest_sink(spark, sink, src, out)
            q.awaitTermination(180)
            assert q.exception() is None
            done[sink] = (
                src,
                _ingest_rows(spark, os.path.join(out, "corpus")),
                _ingest_rows(spark, os.path.join(out, "index")),
            )
        return done[sink]

    return get


@pytest.mark.parametrize("point", list(_CRASH_POINTS))
@pytest.mark.parametrize("sink", list(_CRASH_SINKS))
def test_ingest_sink_replays_crash_at_every_write_point(
    spark, tmp_path, monkeypatch, uninterrupted_ingest, sink, point
):
    """Exactly-once under replay: kill batch 1 of an ingest sink before,
    between or after its two partition writes, restart the query on the
    same checkpoint, and the corpus and the index equal an uninterrupted
    run's; for the admission sinks the corpus<->index audit is empty."""
    from pyspark.errors import StreamingQueryException

    from gmall_flink_yb_spark.streaming import pipelines

    src, want_corpus, want_index = uninterrupted_ingest(sink)
    real = pipelines._write_ingest_partition
    crash_at, after = _CRASH_POINTS[point]
    writes = []

    def flaky(df, base_dir, batch_id):
        if batch_id == 1:
            writes.append(base_dir)
            if len(writes) == crash_at:
                if after:
                    real(df, base_dir, batch_id)
                raise RuntimeError(f"injected crash {point}")
        real(df, base_dir, batch_id)

    monkeypatch.setattr(pipelines, "_write_ingest_partition", flaky)
    out = str(tmp_path / "out")
    q = _run_ingest_sink(spark, sink, src, out)
    with pytest.raises(StreamingQueryException, match="injected crash"):
        q.awaitTermination(180)
    assert len(writes) == crash_at
    q = _run_ingest_sink(spark, sink, src, out)  # same checkpoint
    q.awaitTermination(180)
    assert q.exception() is None
    assert _ingest_rows(spark, os.path.join(out, "corpus")) == want_corpus
    assert _ingest_rows(spark, os.path.join(out, "index")) == want_index
    ids = _CRASH_SINKS[sink][3]
    if ids is not None:
        audit = pipelines.audit_ingest_consistency(
            spark, os.path.join(out, "corpus"), os.path.join(out, "index"),
            corpus_id_col=ids[0], index_id_col=ids[1],
        )
        assert audit.count() == 0


def test_keyword_zh_segmenter_stream_matches_batch(spark, tmp_path):
    """The bundled FMM segmenter (an Arrow-batched pandas UDF) through the
    SAME keyword_window_counts code path under readStream: streamed
    windowed token counts over unsegmented Chinese text must equal the
    batch answer — the real-segmentation analogue of the regex keyword
    parity test."""
    from gmall_flink_yb_spark.operators.keywords import (
        keyword_window_counts,
        make_fmm_segmenter_udf,
    )

    schema = StructType(
        [StructField("ts", TimestampType()), StructField("txt", StringType())]
    )
    rows = [
        (_ts(100.0), "手机壳苹果"),
        (_ts(200.0), "苹果电脑华为"),
        (_ts(4000.0), "买手机壳了"),       # second hour window
        (_ts(4100.0), "小米手机耳机"),
    ]
    src = tmp_path / "zh_src"
    src.mkdir()
    for i, r in enumerate(rows):
        stage = tmp_path / f"zh_stage_{i}"
        spark.createDataFrame([r], schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(stage))
        part = [f for f in os.listdir(stage) if f.endswith(".parquet")]
        os.rename(stage / part[0], src / f"{i:02d}.parquet")
        os.utime(src / f"{i:02d}.parquet",
                 (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))

    seg = make_fmm_segmenter_udf()
    stream = read_file_stream(
        spark, str(src), schema, max_files_per_trigger=2, glob="*.parquet"
    )
    got = _run_to_memory(
        keyword_window_counts(
            stream, "txt", "ts", "1 hour", watermark="1 minute",
            tokenizer=seg,
        ),
        spark,
        "kw_zh_s",
        mode="complete",
    )
    batch = spark.createDataFrame(rows, schema)
    expect = keyword_window_counts(batch, "txt", "ts", "1 hour", tokenizer=seg)
    key = ["window_start", "token"]
    g = {tuple(r[k] for k in key): r["token_count"] for r in got.collect()}
    e = {tuple(r[k] for k in key): r["token_count"] for r in expect.collect()}
    assert g == e
    # segmentation really happened: multi-char dictionary words counted
    assert sum(n for (_, tok), n in e.items() if tok == "手机壳") == 2


def test_dim_upsert_empty_first_batch_reads_typed_empty(spark, tmp_path):
    """ADVICE r5: a table whose only upserts carried zero rows has a
    manifest with an empty bucket map and a gen dir with no parquet files.
    The reader must return a typed EMPTY frame (schema from the manifest),
    not fail schema inference — and a later real upsert must work."""
    from pyspark.sql import Row

    from gmall_flink_yb_spark.streaming.pipelines import (
        read_dim_parquet,
        upsert_dim_parquet,
    )

    path = str(tmp_path / "dim_empty")
    empty = spark.createDataFrame([], "id string, payload string")
    upsert_dim_parquet(spark, empty, path, "id", n_buckets=4)

    df = read_dim_parquet(spark, path)
    assert df.count() == 0
    assert set(df.columns) >= {"id", "payload"}

    upsert_dim_parquet(
        spark, spark.createDataFrame([Row(id="1", payload="v1")]), path,
        "id", n_buckets=4,
    )
    got = {r["id"]: r["payload"] for r in read_dim_parquet(spark, path).collect()}
    assert got == {"1": "v1"}


def test_incremental_span_scrub_stream(spark, tmp_path):
    """Streaming substring scrub: batch-2 text repeating batch-1 grams is
    cut, within-batch repeats are cut from ALL positions, unique text
    passes through untouched; the cleaned corpus and the gram index are
    both ingest_batch-partitioned."""
    from gmall_flink_yb_spark.streaming.pipelines import (
        read_file_stream,
        start_incremental_span_scrub_stream,
    )

    b1 = [(1, "a b c d e f"), (2, "p q r s t u")]
    b2 = [
        (3, "a b c d z9 z8"),      # grams "a b c"/"b c d" seen in batch 1
        (4, "m n o m n o"),        # within-batch repeat: both copies cut
        (5, "fresh words only here now yes"),  # untouched
    ]
    src = tmp_path / "incoming"
    src.mkdir()
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    for i, rows in enumerate([b1, b2]):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"stage_{i}"))
        part = [
            f
            for f in os.listdir(tmp_path / f"stage_{i}")
            if f.endswith(".parquet")
        ]
        os.rename(tmp_path / f"stage_{i}" / part[0], src / f"{i:02d}.parquet")
        os.utime(
            src / f"{i:02d}.parquet",
            (1_700_000_000 + i * 10, 1_700_000_000 + i * 10),
        )
    stream = read_file_stream(
        spark, str(src), schema, max_files_per_trigger=1, glob="*.parquet"
    )
    q = start_incremental_span_scrub_stream(
        spark,
        stream,
        str(tmp_path / "corpus"),
        str(tmp_path / "ckpt"),
        str(tmp_path / "gram_index"),
        n=3,
    )
    q.awaitTermination(180)
    corpus = {
        r["doc_id"]: (r["ingest_batch"], r["clean_text"], r["kept_tokens"])
        for r in spark.read.parquet(str(tmp_path / "corpus")).collect()
    }
    assert corpus == {
        1: (0, "a b c d e f", 6),
        2: (0, "p q r s t u", 6),
        3: (1, "z9 z8", 2),
        4: (1, "", 0),
        5: (1, "fresh words only here now yes", 6),
    }
    # the index holds each batch's DISTINCT original-text gram hashes:
    # batch 1: 4 + 4; batch 2: 4 + 3 ("m n o" repeats collapse) + 4
    idx = spark.read.parquet(str(tmp_path / "gram_index"))
    per_batch = {
        r["ingest_batch"]: r["n"]
        for r in idx.groupBy("ingest_batch").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    assert per_batch == {0: 8, 1: 11}
    assert idx.count() == idx.select("ingest_batch", "gh").distinct().count()


def test_compact_ingest_index_folds_and_preserves_membership(spark, tmp_path):
    """Compaction folds committed partitions (and prior bases) into one
    negative-id base; gram-set membership — the only thing correctness
    needs — is preserved, and later partitions are untouched."""
    from gmall_flink_yb_spark.streaming.pipelines import compact_ingest_index

    idx = str(tmp_path / "gram_index")
    batches = {0: ["g1", "g2"], 1: ["g2", "g3"], 2: ["g4"]}
    for b, ghs in batches.items():
        spark.createDataFrame([(g,) for g in ghs], "gh string").write.parquet(
            os.path.join(idx, f"ingest_batch={b}")
        )
    n = compact_ingest_index(spark, idx, upto_batch=1)
    assert n == 3  # g1, g2, g3 distinct
    parts = sorted(
        d for d in os.listdir(idx) if d.startswith("ingest_batch=")
    )
    assert parts == ["ingest_batch=-1", "ingest_batch=2"]
    whole = spark.read.option("basePath", idx).parquet(idx)
    assert {r["gh"] for r in whole.collect()} == {"g1", "g2", "g3", "g4"}
    # second compaction folds the old base too, onto the next negative id
    n2 = compact_ingest_index(spark, idx, upto_batch=2)
    assert n2 == 4
    parts = sorted(d for d in os.listdir(idx) if d.startswith("ingest_batch="))
    assert parts == ["ingest_batch=-2"]
    # only the base remains eligible -> no-op, base untouched
    assert compact_ingest_index(spark, idx, upto_batch=99) == 0
    assert sorted(
        d for d in os.listdir(idx) if d.startswith("ingest_batch=")
    ) == ["ingest_batch=-2"]


def test_compact_ingest_index_cleans_orphaned_staging(spark, tmp_path):
    """ADVICE r7: a crash between the staging write and the rename leaves
    an orphaned _compact_staging-* dir (invisible to readers, so it would
    silently accumulate). The next compaction run deletes leftovers first
    — and still folds correctly."""
    from gmall_flink_yb_spark.streaming.pipelines import compact_ingest_index

    idx = str(tmp_path / "gram_index")
    for b, ghs in {0: ["g1", "g2"], 1: ["g2", "g3"]}.items():
        spark.createDataFrame([(g,) for g in ghs], "gh string").write.parquet(
            os.path.join(idx, f"ingest_batch={b}")
        )
    # simulate the crashed prior compaction's leftover staging dir
    orphan = os.path.join(idx, "_compact_staging-deadbeef")
    spark.createDataFrame([("junk",)], "gh string").write.parquet(orphan)
    assert os.path.isdir(orphan)
    n = compact_ingest_index(spark, idx, upto_batch=1)
    assert n == 3
    assert not os.path.isdir(orphan)
    leftovers = [
        d for d in os.listdir(idx) if d.startswith("_compact_staging-")
    ]
    assert leftovers == []
    whole = spark.read.option("basePath", idx).parquet(idx)
    assert {r["gh"] for r in whole.collect()} == {"g1", "g2", "g3"}


def test_compact_ingest_index_scrub_results_unchanged(spark, tmp_path):
    """The scrub verdicts for a next batch are identical against the
    compacted index, and also when a crash left folded partitions behind
    as duplicates of the base (the index is a set)."""
    from gmall_flink_yb_spark.functions.ngrams import (
        gram_rows,
        incremental_span_scrub,
    )
    from gmall_flink_yb_spark.streaming.pipelines import (
        _read_ingest_ref,
        compact_ingest_index,
    )
    import shutil

    idx = str(tmp_path / "gram_index")
    earlier = spark.createDataFrame(
        [(1, "w x y z"), (2, "k l m n")], "doc_id long, text string"
    )
    for b in (0, 1):
        one = earlier.filter(F.col("doc_id") == b + 1)
        gram_rows(one, "doc_id", "text", 2).select(
            F.md5(F.col("g")).alias("gh")
        ).distinct().write.parquet(os.path.join(idx, f"ingest_batch={b}"))
    batch = spark.createDataFrame(
        [(10, "w x y z t1 t2"), (11, "k l fresh stuff")],
        "doc_id long, text string",
    )

    def scrub():
        seen = _read_ingest_ref(spark, idx, 2, ["gh"], "gh string")
        cleaned, _ = incremental_span_scrub(
            seen, batch, "doc_id", "text", n=2
        )
        return sorted(
            (r["doc_id"], r["clean_text"]) for r in cleaned.collect()
        )

    before = scrub()
    # simulate the crash window: base written, folds not yet deleted
    shutil.copytree(
        os.path.join(idx, "ingest_batch=0"),
        os.path.join(idx, "_keep_batch0"),
    )
    compact_ingest_index(spark, idx, upto_batch=1)
    os.rename(
        os.path.join(idx, "_keep_batch0"),
        os.path.join(idx, "ingest_batch=0"),
    )
    with_duplicates = scrub()
    # then the re-run converges and results still hold
    compact_ingest_index(spark, idx, upto_batch=1)
    after = scrub()
    assert before == with_duplicates == after
    assert before[0] == (10, "t1 t2")
    assert before[1][1] == "fresh stuff"


def test_span_scrub_compaction_between_restarts(spark, tmp_path):
    """Compaction under the real checkpoint discipline: stop the scrub
    stream after batch 0, compact the index up to the last COMMITTED
    batch, restart with a new file — the restarted batch must scrub
    against the compacted base exactly as it would against the original
    partitions."""
    from gmall_flink_yb_spark.streaming.pipelines import (
        compact_ingest_index,
        read_file_stream,
        start_incremental_span_scrub_stream,
    )

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    src = tmp_path / "incoming"
    src.mkdir()

    def _drop(i, rows):
        stage = tmp_path / f"stage_{i}"
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(stage))
        part = [f for f in os.listdir(stage) if f.endswith(".parquet")]
        os.rename(stage / part[0], src / f"{i:02d}.parquet")
        os.utime(
            src / f"{i:02d}.parquet",
            (1_700_000_000 + i * 10, 1_700_000_000 + i * 10),
        )

    corpus, ckpt = str(tmp_path / "corpus"), str(tmp_path / "ckpt")
    index = str(tmp_path / "gram_index")

    def _run():
        q = start_incremental_span_scrub_stream(
            spark,
            read_file_stream(
                spark, str(src), schema, max_files_per_trigger=1,
                glob="*.parquet",
            ),
            corpus, ckpt, index, n=3,
        )
        q.awaitTermination(120)

    _drop(0, [(1, "a b c d e f"), (2, "p q r s t u")])
    _run()
    # batch 0 committed -> its partition is compactable
    assert compact_ingest_index(spark, index, upto_batch=0) == 8
    assert sorted(
        d for d in os.listdir(index) if d.startswith("ingest_batch=")
    ) == ["ingest_batch=-1"]

    _drop(1, [(3, "a b c d z9 z8"), (4, "fresh words only here now yes")])
    _run()
    got = {
        r["doc_id"]: r["clean_text"]
        for r in spark.read.parquet(corpus).collect()
    }
    assert got == {
        1: "a b c d e f",
        2: "p q r s t u",
        3: "z9 z8",             # scrubbed against the compacted base
        4: "fresh words only here now yes",
    }


def test_span_scrub_stream_hot_gram_guard_same_answer(spark, tmp_path):
    """hot_gram_guard=True on the stream (the giant-backfill knob): with
    a batch-universal gram frequent enough to clear the tiny-sample guard
    (min_sampled_count=8), the hatch fires inside the batch, the cleaned
    corpus matches the guard-off contract byte-for-byte, and the
    per-batch persisted gram stream is released (SQL cache ends empty)."""
    from gmall_flink_yb_spark.streaming.pipelines import (
        read_file_stream,
        start_incremental_span_scrub_stream,
    )

    spark.catalog.clearCache()  # isolate the end-state cache assertion
    # batch 1: gram "a b c" opens all 8 docs (count 8 >= the sample
    # floor, share 50% >> 1/parts) -> the hatch fires within the batch
    b1 = [(i, f"a b c d{i}") for i in range(1, 9)]
    b2 = [(11, "a b c z1 z2"), (12, "m n p q r")]
    src = tmp_path / "incoming"
    src.mkdir()
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    for i, rows in enumerate([b1, b2]):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"stage_{i}"))
        part = [
            f for f in os.listdir(tmp_path / f"stage_{i}")
            if f.endswith(".parquet")
        ]
        os.rename(tmp_path / f"stage_{i}" / part[0], src / f"{i:02d}.parquet")
        os.utime(
            src / f"{i:02d}.parquet",
            (1_700_000_000 + i * 10, 1_700_000_000 + i * 10),
        )
    stream = read_file_stream(
        spark, str(src), schema, max_files_per_trigger=1, glob="*.parquet"
    )
    q = start_incremental_span_scrub_stream(
        spark,
        stream,
        str(tmp_path / "corpus"),
        str(tmp_path / "ckpt"),
        str(tmp_path / "gram_index"),
        n=3,
        hot_gram_guard=True,
    )
    q.awaitTermination(180)
    corpus = {
        r["doc_id"]: (r["clean_text"], r["kept_tokens"])
        for r in spark.read.parquet(str(tmp_path / "corpus")).collect()
    }
    expected = {i: (f"d{i}", 1) for i in range(1, 9)}   # [0,2] span cut
    expected[11] = ("z1 z2", 2)   # "a b c" is in the index from batch 1
    expected[12] = ("m n p q r", 5)   # untouched
    assert corpus == expected
    # release happened: nothing left in the SQL cache manager
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_span_scrub_stream_failed_batch_releases_cache(spark, tmp_path):
    """ADVICE r8: with hot_gram_guard=True, a batch whose WRITE fails must
    still release the batch's persisted gram stream — release_cache moved
    into the finally block — or a long-lived stream leaks one cache per
    retried batch. Fail the corpus write, let the query die, assert the
    SQL cache manager ends empty."""
    from pyspark.sql.readwriter import DataFrameWriter

    from gmall_flink_yb_spark.streaming.pipelines import (
        read_file_stream,
        start_incremental_span_scrub_stream,
    )

    spark.catalog.clearCache()
    src = tmp_path / "incoming"
    src.mkdir()
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    rows = [(i, f"a b c d{i}") for i in range(1, 9)]  # hatch fires
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "stage_0"))
    part = [
        f for f in os.listdir(tmp_path / "stage_0") if f.endswith(".parquet")
    ]
    os.rename(tmp_path / "stage_0" / part[0], src / "00.parquet")

    orig_parquet = DataFrameWriter.parquet

    def failing_parquet(self, path, *a, **kw):
        if "corpus" in path:
            raise RuntimeError("injected corpus-write failure")
        return orig_parquet(self, path, *a, **kw)

    DataFrameWriter.parquet = failing_parquet
    try:
        stream = read_file_stream(
            spark, str(src), schema, max_files_per_trigger=1,
            glob="*.parquet",
        )
        q = start_incremental_span_scrub_stream(
            spark,
            stream,
            str(tmp_path / "corpus"),
            str(tmp_path / "ckpt"),
            str(tmp_path / "gram_index"),
            n=3,
            hot_gram_guard=True,
        )
        with pytest.raises(Exception, match="injected corpus-write failure"):
            q.awaitTermination(180)
            raise AssertionError("query should have failed")
    finally:
        DataFrameWriter.parquet = orig_parquet
    # the failed batch's persisted gram stream was still released
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _write_backfill_files(spark, tmp_path, n_files=6):
    """A multi-file backlog where every dup gram pair is INTRA-file and
    cross-file grams are unique, so ANY chunking of the drain yields the
    same cleaned corpus — the test isolates the helper's batching from
    the stream's (documented) chunk-boundary keep-first semantics."""
    src = tmp_path / "backlog"
    src.mkdir()
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    for i in range(n_files):
        rows = [
            # within-file repeat: both spans cut in every chunking
            (i * 10 + 1, f"a{i} b{i} c{i} x{i} a{i} b{i} c{i}"),
            # file-unique text: survives in every chunking
            (i * 10 + 2, f"p{i} q{i} r{i} s{i} t{i} u{i}"),
        ]
        stage = tmp_path / f"bf_stage_{i}"
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(stage))
        part = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
        os.rename(stage / part, src / f"{i:02d}.parquet")
        os.utime(
            src / f"{i:02d}.parquet",
            (1_700_000_000 + i * 10, 1_700_000_000 + i * 10),
        )
    return src, schema


def test_backfill_corpus_chunks_match_single_batch(spark, tmp_path):
    """VERDICT r9 #6: backfill_corpus derives a bounded maxFilesPerTrigger
    and drains the backlog in multiple availableNow chunks, producing the
    SAME kept tokens as the one-batch drain (on a backlog whose dup pairs
    are intra-file, where chunking provably cannot change the answer)."""
    from gmall_flink_yb_spark.streaming.pipelines import (
        backfill_corpus,
        start_incremental_span_scrub_stream,
    )

    src, schema = _write_backfill_files(spark, tmp_path)

    # chunked drain: max_bytes_per_batch below one file's size -> 1 file
    # per trigger -> 6 ingest batches
    q = backfill_corpus(
        spark,
        str(src),
        schema,
        start_incremental_span_scrub_stream,
        glob="*.parquet",
        max_bytes_per_batch=1,
        corpus_dir=str(tmp_path / "corpus_chunked"),
        checkpoint_dir=str(tmp_path / "ckpt_chunked"),
        index_dir=str(tmp_path / "idx_chunked"),
        n=3,
    )
    q.awaitTermination(300)

    # single-batch drain of the same backlog (the pre-helper form)
    from gmall_flink_yb_spark.streaming.pipelines import read_file_stream

    q2 = start_incremental_span_scrub_stream(
        spark,
        read_file_stream(spark, str(src), schema, glob="*.parquet"),
        str(tmp_path / "corpus_single"),
        str(tmp_path / "ckpt_single"),
        str(tmp_path / "idx_single"),
        n=3,
    )
    q2.awaitTermination(300)

    chunked = spark.read.parquet(str(tmp_path / "corpus_chunked"))
    single = spark.read.parquet(str(tmp_path / "corpus_single"))
    got_chunked = {
        r["doc_id"]: (r["clean_text"], r["kept_tokens"])
        for r in chunked.collect()
    }
    got_single = {
        r["doc_id"]: (r["clean_text"], r["kept_tokens"])
        for r in single.collect()
    }
    assert got_chunked == got_single
    # the chunked drain really ran as MULTIPLE ingest batches, the single
    # as one
    assert chunked.select("ingest_batch").distinct().count() == 6
    assert single.select("ingest_batch").distinct().count() == 1
    # spot-check the semantics: repeats cut, unique text kept
    assert got_single[1] == ("x0", 1)
    assert got_single[2] == ("p0 q0 r0 s0 t0 u0", 6)


def test_backfill_chunk_count_monotone_kept_tokens(spark, tmp_path):
    """The chunk-invariance contract (VERDICT r11 #5, option b):
    ``backfill_corpus`` output DOES depend on chunk count when dup pairs
    cross chunk boundaries — within a chunk the batch rule is remove-all
    (every occurrence cut), across chunks it is keep-first (the earlier
    chunk's copy is already written) — and the dependence is pinned, not
    papered over: kept_tokens is MONOTONE NON-DECREASING in chunk count,
    and the spread is exactly the first-copy tokens the keep-first
    boundary semantics preserve. (At the 5M-doc tier the measured spread
    is ~2.2%, monotone: BASELINE.md round-11/12.)

    Fixture: 4 files; files 0, 2, 3 share one trigram phrase (3 tokens),
    each file carries 3 unique tokens besides.
    - 1 chunk: remove-all cuts all 3 occurrences -> kept 6+3+3+3 = 15
    - 2 chunks ({0,1}, {2,3}): file 0's copy is alone in its chunk and
      survives; files 2,3 cut (within-batch + index) -> 18
    - 4 chunks: file 0's copy survives; 2,3 cut via the index -> 18
    """
    from gmall_flink_yb_spark.streaming.pipelines import backfill_corpus
    from gmall_flink_yb_spark.streaming.pipelines import (
        start_incremental_span_scrub_stream,
    )

    src = tmp_path / "mono_backlog"
    src.mkdir()
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    shared = "s1 s2 s3"
    for i in range(4):
        text = (
            f"{shared} u{i}a u{i}b u{i}c" if i != 1
            else f"v1a v1b v1c u1a u1b u1c"
        )
        stage = tmp_path / f"mono_stage_{i}"
        spark.createDataFrame([(i + 1, text)], schema).coalesce(
            1
        ).write.mode("overwrite").parquet(str(stage))
        part = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
        os.rename(stage / part, src / f"{i:02d}.parquet")
        os.utime(
            src / f"{i:02d}.parquet",
            (1_700_000_000 + i * 10, 1_700_000_000 + i * 10),
        )
    total = sum(
        os.path.getsize(src / f) for f in os.listdir(src)
    )
    kept = {}
    for label, max_bytes in (
        ("c1", total * 2), ("c2", total // 2), ("c4", 1)
    ):
        q = backfill_corpus(
            spark,
            str(src),
            schema,
            start_incremental_span_scrub_stream,
            glob="*.parquet",
            max_bytes_per_batch=max_bytes,
            corpus_dir=str(tmp_path / f"mono_corpus_{label}"),
            checkpoint_dir=str(tmp_path / f"mono_ckpt_{label}"),
            index_dir=str(tmp_path / f"mono_idx_{label}"),
            n=3,
        )
        q.awaitTermination(300)
        corpus = spark.read.parquet(str(tmp_path / f"mono_corpus_{label}"))
        kept[label] = corpus.agg(F.sum("kept_tokens")).first()[0]
    # monotone non-decreasing in chunk count
    assert kept["c1"] <= kept["c2"] <= kept["c4"], kept
    # the exact fixture arithmetic from the docstring
    assert kept["c1"] == 15 and kept["c2"] == 18 and kept["c4"] == 18, kept
    # spread = exactly one surviving copy of the shared 3-token span
    assert kept["c4"] - kept["c1"] == 3


def test_span_bcast_gate_inside_measured_band():
    """The broadcast-probe gate must stay inside the r12 measured band
    (BASELINE.md round-12 crossover table): broadcast clearly wins at
    4.1 MB, parity at 7.6 MB, loses from 11.8 MB, OOM-capable at
    68.6 MB — the constant belongs in [measured-win, parity]."""
    from gmall_flink_yb_spark.streaming.pipelines import (
        SPAN_BCAST_MAX_BATCH_BYTES,
    )

    assert (1 << 20) <= SPAN_BCAST_MAX_BATCH_BYTES <= (8 << 20)


def test_backfill_chunk_derivation(spark, tmp_path):
    """The default chunk size derives from the configured JVM heap
    (min of driver/executor) over BACKFILL_HEAP_PER_CHUNK_BYTE, and the
    byte budget converts to maxFilesPerTrigger via mean file size."""
    from gmall_flink_yb_spark.streaming.pipelines import (
        BACKFILL_HEAP_PER_CHUNK_BYTE,
        _jvm_heap_bytes,
    )

    heap = _jvm_heap_bytes(spark)
    assert heap >= 1 << 30  # the test session configures >= 1g
    # the r11 calibration grid (BASELINE.md): heap/16..heap/64 all drain
    # the 5M-doc / 899 MB / 8 g regime, one-batch (heap/9.4) OOMs; the
    # constant must stay INSIDE the measured-safe band with margin from
    # the OOM boundary
    assert 16 <= BACKFILL_HEAP_PER_CHUNK_BYTE <= 64
    # the measured-OOM regime stays excluded: a 5M-doc ~0.9 GB backlog
    # on an 8 GB heap derives chunks that split the drain into several
    # batches, never the one-batch shape that OOMed
    chunk = (8 << 30) // BACKFILL_HEAP_PER_CHUNK_BYTE
    assert 2 <= -(-(899 << 20) // chunk) <= 16


def test_backlog_stats_glob_and_relative_path(spark, tmp_path):
    """ADVICE r10: backfill_corpus's chunk derivation must size ONLY the
    files the stream will read — basename-glob-filtered (sidecar files
    next to the parquet would skew the mean-file-size estimate) — and
    must qualify the directory before slicing rel paths (a relative
    src_dir misaligned the slice, so the hidden-dir filter inspected
    garbage components and could exclude everything)."""
    import os

    from gmall_flink_yb_spark.streaming.pipelines import _backlog_stats

    src = tmp_path / "mixed"
    src.mkdir()
    spark.range(10).selectExpr("id", "concat('t', id) AS text").coalesce(
        1
    ).write.parquet(str(src / "part0"))
    # a big sidecar that the stream (glob=*.parquet) will never read
    (src / "sidecar.bin").write_bytes(b"x" * 1_000_000)
    # hidden dirs/files stay excluded
    meta = src / "_spark_metadata"
    meta.mkdir()
    (meta / "0").write_bytes(b"y" * 500)

    total_all, n_all = _backlog_stats(spark, str(src))
    total_pq, n_pq = _backlog_stats(spark, str(src), glob="*.parquet")
    assert n_pq >= 1 and n_pq < n_all
    assert total_pq < 100_000  # the 1 MB sidecar is not counted
    assert total_all >= 1_000_000  # unfiltered sees it (but never hidden)

    # relative path (resolved against the JVM's working directory, which
    # is what a relative Hadoop Path resolves against): same answer as
    # the absolute form — pre-fix, the misaligned rel slice made the
    # hidden-dir filter inspect garbage components
    user_dir = spark._jvm.System.getProperty("user.dir")
    rel = os.path.relpath(str(src), user_dir)
    assert not os.path.isabs(rel)
    rel_total, rel_n = _backlog_stats(spark, rel, glob="*.parquet")
    assert (rel_total, rel_n) == (total_pq, n_pq)

    # src_dir pointing at a SINGLE FILE (ADVICE r11): the rel slice is
    # empty there, and the pre-fix `and parts` guard skipped the glob —
    # counting a file the stream's pathGlobFilter would exclude
    sidecar = str(src / "sidecar.bin")
    t_match, n_match = _backlog_stats(spark, sidecar, glob="*.bin")
    assert (t_match, n_match) == (1_000_000, 1)
    t_miss, n_miss = _backlog_stats(spark, sidecar, glob="*.parquet")
    assert (t_miss, n_miss) == (0, 0)


def test_exact_span_backfill_chunk_invariant(spark, tmp_path):
    """The chunk-INVARIANT drain (VERDICT r11 #5, option a):
    ``exact_span_backfill`` equals the batch operator
    ``remove_dup_spans`` over the whole corpus at EVERY chunking — on
    the same cross-chunk fixture whose normal-drain output provably
    varies with chunk count (the monotone test above: 15 vs 18 kept).

    Fixture: 4 files; files 0, 2, 3 share one trigram phrase, each file
    carries 3 unique tokens besides. remove-all cuts all three copies:
    kept = 6 + 3 + 3 + 3 = 15 regardless of chunk count."""
    from gmall_flink_yb_spark.functions.ngrams import remove_dup_spans
    from gmall_flink_yb_spark.streaming.pipelines import exact_span_backfill

    src = tmp_path / "exact_backlog"
    src.mkdir()
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    shared = "s1 s2 s3"
    for i in range(4):
        text = (
            f"{shared} u{i}a u{i}b u{i}c" if i != 1
            else "v1a v1b v1c u1a u1b u1c"
        )
        stage = tmp_path / f"exact_stage_{i}"
        spark.createDataFrame([(i + 1, text)], schema).coalesce(
            1
        ).write.mode("overwrite").parquet(str(stage))
        part = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
        os.rename(stage / part, src / f"{i:02d}.parquet")
        os.utime(
            src / f"{i:02d}.parquet",
            (1_700_000_000 + i * 10, 1_700_000_000 + i * 10),
        )
    total = sum(os.path.getsize(src / f) for f in os.listdir(src))

    expected = {
        r["doc_id"]: (r["clean_text"], r["kept_tokens"])
        for r in remove_dup_spans(
            spark.read.schema(schema).parquet(str(src)),
            "doc_id", "text", n=3,
        ).collect()
    }
    assert sum(v[1] for v in expected.values()) == 15

    for label, max_bytes in (
        ("e1", total * 2), ("e2", total // 2), ("e4", 1)
    ):
        q = exact_span_backfill(
            spark,
            str(src),
            schema,
            corpus_dir=str(tmp_path / f"exact_corpus_{label}"),
            checkpoint_dir=str(tmp_path / f"exact_ckpt_{label}"),
            dup_gram_dir=str(tmp_path / f"exact_dupg_{label}"),
            glob="*.parquet",
            max_bytes_per_batch=max_bytes,
            n=3,
        )
        q.awaitTermination(300)
        corpus = spark.read.parquet(str(tmp_path / f"exact_corpus_{label}"))
        got = {
            r["doc_id"]: (r["clean_text"], r["kept_tokens"])
            for r in corpus.collect()
        }
        assert got == expected, (label, got)
    # the e4 drain really ran chunked
    assert (
        spark.read.parquet(str(tmp_path / "exact_corpus_e4"))
        .select("ingest_batch").distinct().count() == 4
    )


def test_exact_span_backfill_no_dups(spark, tmp_path):
    """Empty dup-gram set round-trip: a corpus with no repeated n-gram
    writes a ZERO-ROW frozen reference (no parquet part files) — the
    pinned-schema read must come back empty, not error, and every
    document survives untouched."""
    from gmall_flink_yb_spark.streaming.pipelines import exact_span_backfill

    src = tmp_path / "nodup_backlog"
    src.mkdir()
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    for i in range(2):
        stage = tmp_path / f"nodup_stage_{i}"
        spark.createDataFrame(
            [(i + 1, f"w{i}a w{i}b w{i}c w{i}d")], schema
        ).coalesce(1).write.mode("overwrite").parquet(str(stage))
        part = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
        os.rename(stage / part, src / f"{i:02d}.parquet")
        os.utime(
            src / f"{i:02d}.parquet",
            (1_700_000_000 + i * 10, 1_700_000_000 + i * 10),
        )
    q = exact_span_backfill(
        spark,
        str(src),
        schema,
        corpus_dir=str(tmp_path / "nodup_corpus"),
        checkpoint_dir=str(tmp_path / "nodup_ckpt"),
        dup_gram_dir=str(tmp_path / "nodup_dupg"),
        glob="*.parquet",
        max_bytes_per_batch=1,
        n=3,
    )
    q.awaitTermination(300)
    corpus = spark.read.parquet(str(tmp_path / "nodup_corpus"))
    rows = {r["doc_id"]: r["kept_tokens"] for r in corpus.collect()}
    assert rows == {1: 4, 2: 4}
    assert corpus.agg(F.sum("dup_tokens")).first()[0] == 0
