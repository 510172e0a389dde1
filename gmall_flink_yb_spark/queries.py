"""Query registry: every operator from SURVEY.md §2 (plus the LLM-pipeline
surface) expressed as a (spark_fn, oracle_sql) pair over the driver testdata.

Conventions for cross-engine hash equality (driver compares row count, schema,
and an order-insensitive value hash against DuckDB):
- dates/times are emitted as formatted strings;
- money/ratio aggregates are cast to DECIMAL before SUM (exact, associative,
  order-insensitive) and only the FINAL value is cast to double;
- per-row doubles are rounded to 6 dp at the output boundary;
- counts are BIGINT on both sides (DuckDB integer SUMs are cast from HUGEINT);
- every computed column is aliased identically in Spark and SQL.

The Spark side always routes through the engine's operator modules — these
queries are the driver-facing proof that the operators work.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType

from gmall_flink_yb_spark.functions.cacheutil import carry_cache, owns_cache
from gmall_flink_yb_spark.functions.dedup import (
    connected_components,
    exact_dedup,
    incremental_lsh_dedup,
    jaccard_prefix_pairs,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    recommended_minhash_bands,
    select_canonical,
    simhash_pairs,
)
from gmall_flink_yb_spark.functions.similarity import (
    _srp_plane,
    brute_force_topk,
    cosine_near_dup_pairs,
    incremental_cosine_dedup,
    ivf_topk,
    label_centroid_outliers,
    lsh_bucket_topk,
    recommended_n_bands,
    semantic_dedup,
)
from gmall_flink_yb_spark.functions.multimodal import (
    decode_media,
    decode_media_headers_sql,
    extract_features,
    sample_frames,
    scan_audio_metadata,
    synthesize_media,
    synthesize_wav,
)
from gmall_flink_yb_spark.functions.text import (
    LANG_MARKERS,
    PII_EMAIL_PATTERN,
    PII_PHONE_PATTERN,
    doc_fingerprint,
    language_id,
    pii_counts,
    pii_redact,
    QUALITY_WEIGHTS,
    quality_features,
    quality_score,
    repetition_features,
    unigram_lm_score,
    token_count,
)
from gmall_flink_yb_spark.functions.sampling import (
    domain_mix_sample,
    hash_sample,
    sample_threshold,
    shard_assign,
    stratified_sample,
    token_budget_cap,
    weighted_sample,
)
from gmall_flink_yb_spark.functions.quantize import (
    quantize_embeddings,
    quantized_topk,
)
from gmall_flink_yb_spark.functions.chunking import (
    chunk_dedup,
    chunk_documents,
    pack_sequences,
)
from gmall_flink_yb_spark.functions.ngrams import (
    decontaminate,
    distinctive_terms,
    dup_span_rows,
    gram_rows,
    hashed_ngram_affinity,
    incremental_span_scrub,
    remove_dup_spans,
    source_overlap,
    span_dup_stats,
)
from gmall_flink_yb_spark.functions.bpe import (
    apply_bpe,
    char_pair_counts,
    learn_bpe,
)
from gmall_flink_yb_spark.functions.winnow import winnow_overlap_pairs
from gmall_flink_yb_spark.functions.bloom import bloom_build, bloom_probe
from gmall_flink_yb_spark.functions.layout import zcell_stats
from gmall_flink_yb_spark.functions.clustering import kmeans_fit_assign
from gmall_flink_yb_spark.functions.profile import profile_columns
from gmall_flink_yb_spark.functions.sketch import (
    CM_WIDTH,
    count_min_build,
    count_min_estimate,
)
from gmall_flink_yb_spark.operators.asof import asof_join
from gmall_flink_yb_spark.operators.funnel import (
    funnel_conversion,
    retention_cohorts,
)
from gmall_flink_yb_spark.operators.bounce import flag_bounce_batch
from gmall_flink_yb_spark.operators.keywords import (
    keyword_counts,
    keyword_window_counts,
)
from gmall_flink_yb_spark.operators.merge_wide import merge_wide
from gmall_flink_yb_spark.operators.order_wide import enrich_dims, interval_join
from gmall_flink_yb_spark.operators.routing import route_cdc
from gmall_flink_yb_spark.operators.visitor import unique_visitors_batch
from gmall_flink_yb_spark.operators.windows import (
    session_agg,
    sliding_agg,
    tumbling_agg,
)
from gmall_flink_yb_spark.schemas import TABLE_PROCESS_SCHEMA
from gmall_flink_yb_spark.sources.readers import read_table

QueryFn = Callable[[SparkSession, str], DataFrame]

DEC = DecimalType(18, 2)
DEC4 = DecimalType(18, 4)
DEC6 = DecimalType(18, 6)
RATIO_DEC = DecimalType(12, 6)

# revenue per TPC-H: extendedprice * (1 - discount); the double product is
# bit-identical across engines, the DECIMAL(18,4) cast makes the SUM exact
# and order-insensitive.
_REV = "CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))"


def _dt(col: str = "ts") -> F.Column:
    return F.date_format(col, "yyyy-MM-dd")


# ---------------------------------------------------------------------------
# DWM: daily unique visitors (ST2 — UniqueVisitApp.java:53-102)
# ---------------------------------------------------------------------------

def q_uv_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    uv = unique_visitors_batch(
        ev, key_col="user_id", ts_col="ts", order_cols=["event_id"]
    )
    return (
        uv.groupBy(F.date_format("_uv_date", "yyyy-MM-dd").alias("dt"))
        .agg(F.count(F.lit(1)).alias("uv"))
    )


SQL_UV_DAILY = """
SELECT strftime(CAST(date_trunc('day', ts) AS DATE), '%Y-%m-%d') AS dt,
       CAST(count(DISTINCT user_id) AS BIGINT) AS uv
FROM events GROUP BY 1
"""

# ---------------------------------------------------------------------------
# DWD: new-visitor correction (ST1 — BaseLogApp.java:73-101): an event is
# genuinely "new" iff it is the first ever for its device/user.
# ---------------------------------------------------------------------------

def q_new_visitor_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("_rn", F.row_number().over(w))
        .groupBy(_dt().alias("dt"))
        .agg(
            F.sum(F.when(F.col("_rn") == 1, 1).otherwise(0))
            .cast("long")
            .alias("new_visitors"),
            F.count(F.lit(1)).alias("total_events"),
        )
    )


SQL_NEW_VISITOR_DAILY = """
WITH r AS (
  SELECT ts, row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
)
SELECT strftime(CAST(date_trunc('day', ts) AS DATE), '%Y-%m-%d') AS dt,
       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS new_visitors,
       CAST(count(*) AS BIGINT) AS total_events
FROM r GROUP BY 1
"""

# ---------------------------------------------------------------------------
# DWM: bounce detection (ST3 — UserJumpDetailApp.java:58-120). Session entry
# := event_type='view'; bounce := entry followed by nothing within 10 s
# (timeout) or by another entry (matched pattern).
# ---------------------------------------------------------------------------

def q_bounce_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    flagged = flag_bounce_batch(
        ev,
        key_col="user_id",
        ts_col="ts",
        is_entry=F.col("event_type") == "view",
        window_seconds=10,
        order_cols=["event_id"],
    )
    return flagged.groupBy(_dt().alias("dt")).agg(
        F.sum(F.col("is_entry").cast("int")).cast("long").alias("entries"),
        F.sum(F.col("is_bounce").cast("int")).cast("long").alias("bounces"),
    )


SQL_BOUNCE_DAILY = """
WITH e AS (
  SELECT user_id, event_id, make_timestamp(epoch_ns(ts)//1000) AS ts,
         (event_type = 'view') AS is_entry
  FROM events
), o AS (
  SELECT ts, is_entry,
         lead(ts) OVER w AS nts,
         lead(is_entry) OVER w AS nentry
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT strftime(CAST(date_trunc('day', ts) AS DATE), '%Y-%m-%d') AS dt,
       CAST(SUM(CASE WHEN is_entry THEN 1 ELSE 0 END) AS BIGINT) AS entries,
       CAST(SUM(CASE WHEN is_entry AND (nts IS NULL
                 OR epoch(nts) - epoch(ts) > 10.0
                 OR nentry) THEN 1 ELSE 0 END) AS BIGINT) AS bounces
FROM o GROUP BY 1
"""

# ---------------------------------------------------------------------------
# DWD: per-type split counts (P1 fan-out accounting — BaseLogApp.java:149-151)
# ---------------------------------------------------------------------------

def q_events_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast(DEC)).cast("double").alias("sum_value"),
    )


SQL_EVENTS_SPLIT_COUNTS = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1
"""

# ---------------------------------------------------------------------------
# DWD: JSON props extraction (T2 — fastjson parse, BaseDBLog.java:59)
# ---------------------------------------------------------------------------

def q_events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.withColumn("k_bucket", k % 10)
        .groupBy("k_bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("sum_value"),
        )
    )


SQL_EVENTS_JSON_EXTRACT = """
SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1
"""

# ---------------------------------------------------------------------------
# DWS: tumbling-window aggregation (§2.9 intended ClickHouse rollups)
# ---------------------------------------------------------------------------

def q_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    agg = tumbling_agg(
        ev,
        ts_col="ts",
        window_duration="1 hour",
        group_cols=["event_type"],
        aggs=[
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("sum_value"),
        ],
    )
    return agg.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("wstart"),
        "event_type",
        "n",
        "sum_value",
    )


SQL_TUMBLING_HOURLY = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS wstart,
       event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
"""

# ---------------------------------------------------------------------------
# TPC-H-style pricing summary (SQL surface the reference intended via the
# unused Blink planner dep — SURVEY.md §2.8/§2.9)
# ---------------------------------------------------------------------------

def q_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gmall_flink_yb_spark import tuning as _tuning

    # q1 aggregates eight decimal columns over every lineitem row — the
    # heaviest per-row map work of the TPC-H set; spreading a starved
    # single-row-group scan measured min 2.41->2.00 s / med 5.67->2.99 s
    # at sf0.1 (no-op on any multi-split layout). The lighter scans (q6,
    # q14, q19) measured flat-to-slower with the same spread and stay
    # unwired — see OPTIMIZATION_r12.md.
    li = _tuning.spread_file_scan(read_table(spark, sf_dir, "lineitem"))
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc * (1 + F.col("l_tax"))
    # charge's true value has 6 decimal digits (2dp price x 2dp disc x 2dp
    # tax) — cast at (18,6) so no rounding happens and engines agree; a 4dp
    # cast would hit exact .xxxx50 ties that Spark (HALF_UP) and DuckDB
    # (HALF_EVEN) round differently.
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast(DEC)).cast("double").alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast(DEC))
            .cast("double")
            .alias("sum_base_price"),
            F.sum(disc.cast(DEC6)).cast("double").alias("sum_disc_price"),
            F.sum(charge.cast(DEC6)).cast("double").alias("sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


SQL_Q1_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem GROUP BY 1, 2
"""

# ---------------------------------------------------------------------------
# TPC-H Q3/Q5 analogs over the driver tables: the canonical selective-dim ->
# fact join-agg shapes. Both plans keep the ONE unavoidable fact shuffle
# (lineitem x orders on orderkey — orders stays fact-sized even filtered,
# so it is never broadcast) and broadcast only the true dims; decimal-
# before-SUM keeps revenue exact so the Q3 top-10 cut is tie-stable across
# engines (ties broken by l_orderkey).
# ---------------------------------------------------------------------------

_Q3_CUTOFF = "1998-06-15"


def q_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < _Q3_CUTOFF
    )
    li = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > _Q3_CUTOFF
    )
    disc = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC6)
    return (
        li.join(
            orders.join(
                F.broadcast(cust),
                F.col("o_custkey") == F.col("c_custkey"),
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
        )
        .agg(F.sum(disc).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


SQL_Q3_SHIPPING_PRIORITY = f"""
SELECT l_orderkey,
       strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS o_orderdate,
       o_orderpriority,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
            AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '{_Q3_CUTOFF} 00:00:00'
  AND l_shipdate > TIMESTAMP '{_Q3_CUTOFF} 00:00:00'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


def q_q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 shape: the fact (lineitem) shuffle-joins its one fact partner
    (orders, also fact-sized even after the one-year cut) on orderkey;
    customer/supplier/nation/region are the true dims and are broadcast.
    The same-nation predicate (c_nationkey = s_nationkey) runs as a cheap
    post-join filter on broadcast columns."""
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1997-01-01")
    )
    cust = read_table(spark, sf_dir, "customer")
    supp = read_table(spark, sf_dir, "supplier")
    nat = read_table(spark, sf_dir, "nation")
    reg = read_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "ASIA"
    )
    disc = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC6)
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(
            F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey")
        )
        .join(
            F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey")
        )
        .groupBy("n_name")
        .agg(F.sum(disc).cast("double").alias("revenue"))
    )


SQL_Q5_LOCAL_SUPPLIER = """
SELECT n_name,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
            AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE c_nationkey = s_nationkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY 1
"""

# ---------------------------------------------------------------------------
# Equi-width histogram (codegen'd width_bucket-style binning — the profiling
# primitive behind every data-quality dashboard) and CUBE grouping sets
# (all 2^k subtotal combinations in ONE pass — Spark expands the cube
# map-side, so the fact scans once, not 2^k times).
# ---------------------------------------------------------------------------

_HIST_LO, _HIST_HI, _HIST_BINS = 0.0, 500.0, 20


def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    width = (_HIST_HI - _HIST_LO) / _HIST_BINS
    bin_ = F.least(
        F.lit(_HIST_BINS - 1),
        F.greatest(
            F.lit(0),
            F.floor((F.col("value") - F.lit(_HIST_LO)) / F.lit(width)).cast(
                "int"
            ),
        ),
    )
    return (
        ev.groupBy("event_type", bin_.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "event_type",
            "bin",
            (F.lit(_HIST_LO) + F.col("bin") * F.lit(width)).alias("bin_lo"),
            "n",
        )
    )


SQL_VALUE_HISTOGRAM = f"""
WITH b AS (
  SELECT event_type,
         LEAST({_HIST_BINS - 1},
               GREATEST(0, CAST(floor((value - {_HIST_LO!r})
                                      / {(_HIST_HI - _HIST_LO) / _HIST_BINS!r})
                               AS INTEGER))) AS bin
  FROM events
)
SELECT event_type, bin,
       {_HIST_LO!r} + bin * {(_HIST_HI - _HIST_LO) / _HIST_BINS!r} AS bin_lo,
       CAST(count(*) AS BIGINT) AS n
FROM b GROUP BY 1, 2
"""


def q_revenue_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (region, order year): every subtotal combination — the
    serving-layer rollup family the reference's ADS layer intended. One
    fact pass; Spark's Expand operator emits the 4 grouping combinations
    map-side before the single aggregate shuffle."""
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    nat = read_table(spark, sf_dir, "nation")
    reg = read_table(spark, sf_dir, "region")
    joined = (
        orders.join(
            F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey")
        )
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return (
        joined.cube("r_name", F.year("o_orderdate").alias("order_year"))
        .agg(
            F.sum(F.col("o_totalprice").cast(DEC))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


SQL_REVENUE_CUBE = """
SELECT r_name, CAST(year(o_orderdate) AS INTEGER) AS order_year,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       CAST(count(*) AS BIGINT) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY CUBE (1, 2)
"""


# ---------------------------------------------------------------------------
# Windowed top-k per group and anti-join — the two remaining canonical join/
# window shapes. Top-k: rank() over cluster-sized partitions (ties keep both
# rows — rank, not row_number — so the cut is deterministic without a
# tiebreak column). Anti-join: the "orphans" audit every referential
# pipeline needs; Spark compiles left_anti + broadcast to a probe-only pass.
# ---------------------------------------------------------------------------


def q_top_orders_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    nat = read_table(spark, sf_dir, "nation")
    joined = orders.join(
        F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey")
    ).join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
    w = Window.partitionBy("n_name").orderBy(
        F.desc("o_totalprice"), F.col("o_orderkey")
    )
    return (
        joined.withColumn("rnk", F.rank().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            "n_name",
            F.col("rnk").cast("int").alias("rnk"),
            "o_orderkey",
            "o_totalprice",
        )
    )


SQL_TOP_ORDERS_PER_NATION = """
SELECT n_name, CAST(rnk AS INTEGER) AS rnk, o_orderkey, o_totalprice
FROM (
  SELECT n_name, o_orderkey, o_totalprice,
         rank() OVER (PARTITION BY n_name
                      ORDER BY o_totalprice DESC, o_orderkey) AS rnk
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
)
WHERE rnk <= 3
"""


def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential coverage audit: per segment, total customers, customers
    WITH orders (semi), and orphans WITHOUT (anti). One broadcast of the
    distinct order-key set; both the semi and anti verdicts come from the
    SAME probe-only pass over customer (a left join against keys-only,
    aggregated twice) — no shuffle of the probed table, no second scan."""
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    keys = orders.select("o_custkey").distinct()
    probed = cust.join(
        F.broadcast(keys),
        F.col("c_custkey") == F.col("o_custkey"),
        "left",
    )
    has = F.col("o_custkey").isNotNull().cast("long")
    return probed.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(has).alias("n_with_orders"),
        F.sum(1 - has).alias("n_orphans"),
    )


SQL_CUSTOMERS_WITHOUT_ORDERS = """
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(SUM(CASE WHEN EXISTS (SELECT 1 FROM orders
                                  WHERE o_custkey = c_custkey)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_with_orders,
       CAST(SUM(CASE WHEN EXISTS (SELECT 1 FROM orders
                                  WHERE o_custkey = c_custkey)
                     THEN 0 ELSE 1 END) AS BIGINT) AS n_orphans
FROM customer
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Running totals (cumulative window): per-nation daily revenue accumulated
# over time — the serving-layer "growth curve" shape. The window runs over
# the PRE-AGGREGATED daily frame (one row per nation-day), so the sort is
# tiny; never window over raw facts when an aggregate can come first.
# ---------------------------------------------------------------------------


def q_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    nat = read_table(spark, sf_dir, "nation")
    daily = (
        orders.join(
            F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey")
        )
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(
            "n_name",
            F.date_format("o_orderdate", "yyyy-MM").alias("order_month"),
        )
        .agg(F.sum(F.col("o_totalprice").cast(DEC)).alias("_rev"))
    )
    w = (
        Window.partitionBy("n_name")
        .orderBy("order_month")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return daily.select(
        "n_name",
        "order_month",
        F.col("_rev").cast("double").alias("revenue"),
        F.sum("_rev").over(w).cast("double").alias("running_revenue"),
    )


SQL_RUNNING_REVENUE = """
WITH daily AS (
  SELECT n_name, strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS order_month,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
  GROUP BY 1, 2
)
SELECT n_name, order_month,
       CAST(rev AS DOUBLE) AS revenue,
       CAST(SUM(rev) OVER (PARTITION BY n_name ORDER BY order_month
                           ROWS UNBOUNDED PRECEDING) AS DOUBLE)
           AS running_revenue
FROM daily
"""


def q_revenue_trailing_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day revenue via a RANGE interval frame — the frame shape
    `running_revenue`'s ROWS frame can't express: with gaps in the date
    axis, RANGE over a day number bounds the window by TIME, not by row
    count, so a segment with missing days still averages over exactly 7
    calendar days. Scale shape: pre-aggregate to (segment, day) FIRST —
    the window then runs over day-level rows (thousands per partition,
    not millions), partitioned by mktsegment so no single-task global
    sort. The frame key is an epoch day number (exact integer arithmetic
    in both engines)."""
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    daily = (
        orders.join(
            F.broadcast(cust.select("c_custkey", "c_mktsegment")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(
            "c_mktsegment",
            F.datediff(F.col("o_orderdate"), F.lit("1970-01-01")).alias(
                "day_num"
            ),
        )
        .agg(F.sum(F.col("o_totalprice").cast(DEC)).alias("_rev"))
    )
    w = (
        Window.partitionBy("c_mktsegment")
        .orderBy("day_num")
        .rangeBetween(-6, 0)
    )
    return daily.select(
        F.col("c_mktsegment").alias("mktsegment"),
        F.date_format(
            F.date_add(F.lit("1970-01-01"), F.col("day_num")), "yyyy-MM-dd"
        ).alias("d"),
        F.col("_rev").cast("double").alias("day_revenue"),
        F.sum("_rev").over(w).cast("double").alias("trailing_7d_revenue"),
    )


SQL_REVENUE_TRAILING_7D = """
WITH daily AS (
  SELECT c_mktsegment AS mktsegment,
         datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
             AS day_num,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2
)
SELECT mktsegment,
       strftime(DATE '1970-01-01' + INTERVAL (day_num) DAY, '%Y-%m-%d')
           AS d,
       CAST(rev AS DOUBLE) AS day_revenue,
       CAST(SUM(rev) OVER (PARTITION BY mktsegment ORDER BY day_num
                           RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
            AS DOUBLE) AS trailing_7d_revenue
FROM daily
"""


def q_revenue_mom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue change per nation — the lag/lead half of
    the window surface (running_revenue covers the frame-sum half). The
    window partitions by nation, so at 100 TB it distributes across
    nations after a months-per-nation-sized aggregate; no global sort.
    The pct change divides two exact DECIMAL sums in double and rounds —
    the same determinism contract as the other ratio queries."""
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    nat = read_table(spark, sf_dir, "nation")
    monthly = (
        orders.join(
            F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey")
        )
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(
            "n_name",
            F.date_format("o_orderdate", "yyyy-MM").alias("order_month"),
        )
        .agg(F.sum(F.col("o_totalprice").cast(DEC)).alias("_rev"))
    )
    w = Window.partitionBy("n_name").orderBy("order_month")
    prev = F.lag("_rev").over(w)
    return monthly.select(
        "n_name",
        "order_month",
        F.col("_rev").cast("double").alias("revenue"),
        prev.cast("double").alias("prev_revenue"),
        F.round(
            (F.col("_rev") - prev).cast("double") / prev.cast("double") * 100.0,
            6,
        ).alias("mom_pct"),
    )


SQL_REVENUE_MOM = """
WITH monthly AS (
  SELECT n_name, strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS order_month,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
  GROUP BY 1, 2
)
SELECT n_name, order_month,
       CAST(rev AS DOUBLE) AS revenue,
       CAST(lag(rev) OVER w AS DOUBLE) AS prev_revenue,
       round(CAST(rev - lag(rev) OVER w AS DOUBLE)
             / CAST(lag(rev) OVER w AS DOUBLE) * 100.0, 6) AS mom_pct
FROM monthly
WINDOW w AS (PARTITION BY n_name ORDER BY order_month)
"""


_Q18_MIN_QTY = 150


def q_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 shape — aggregate-derived HAVING filter feeding a fact-fact join.
    The per-order quantity aggregate IS the semi-join (only qualifying
    orderkeys survive it), so lineitem shuffles once on orderkey, joins
    orders on the same key (orders is a fact at scale — no broadcast), and
    only customer broadcasts."""
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    per_order = (
        li.groupBy("l_orderkey")
        .agg(
            F.sum(F.col("l_quantity").cast(DEC))
            .cast("double")
            .alias("total_qty")
        )
        .filter(F.col("total_qty") > _Q18_MIN_QTY)
    )
    return (
        per_order.join(
            orders, F.col("l_orderkey") == F.col("o_orderkey")
        )
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_totalprice",
            "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


SQL_Q18_LARGE_ORDERS = f"""
WITH big AS (
  SELECT l_orderkey,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
  FROM lineitem GROUP BY 1
  HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
         > {_Q18_MIN_QTY}
)
SELECT c_name, c_custkey, o_orderkey,
       strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS o_orderdate,
       o_totalprice, total_qty
FROM big
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


_Q4_LATE_DAYS = 60


def q_q4_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 shape — EXISTS decorrelated to a LEFT SEMI join. orders ⋉ lineitem
    on orderkey with the lateness range predicate attached to the join:
    each side shuffles once on the key, the semi join keeps at most one
    match per order (no fan-out), and the priority roll-up is a tiny
    post-agg. At 100 TB both sides are facts — shuffled-hash/SMJ semi on
    the join key is exactly the plan that survives; no broadcast wanted."""
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    late = orders.join(
        li,
        (F.col("o_orderkey") == F.col("l_orderkey"))
        & (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr(f"INTERVAL {_Q4_LATE_DAYS} DAYS")
        ),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("o_orderpriority")
    )


SQL_Q4_LATE_ORDERS = f"""
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
FROM orders
WHERE EXISTS (
  SELECT 1 FROM lineitem
  WHERE l_orderkey = o_orderkey
    AND l_shipdate > o_orderdate + INTERVAL {_Q4_LATE_DAYS} DAY
)
GROUP BY 1 ORDER BY 1
"""


def q_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 shape — conditional aggregation over a broadcast dim join:
    part broadcasts into the lineitem scan (one pass, no fact shuffle
    before the monthly roll-up), promo and total revenue come out of the
    SAME aggregate so the share needs no second job."""
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", disc).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"))
        .agg(
            F.sum(promo.cast(DEC6)).alias("_p"),
            F.sum(disc.cast(DEC6)).alias("_t"),
        )
        .select(
            "ship_month",
            F.round(
                F.lit(100.0)
                * F.col("_p").cast("double")
                / F.col("_t").cast("double"),
                6,
            ).alias("promo_share"),
        )
        .orderBy("ship_month")
    )


SQL_Q14_PROMO_REVENUE = """
SELECT strftime(CAST(l_shipdate AS DATE), '%Y-%m') AS ship_month,
       round(100.0 * CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
                                        THEN l_extendedprice * (1 - l_discount)
                                        ELSE 0 END AS DECIMAL(18,6)))
                          AS DOUBLE)
                   / CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                                   AS DECIMAL(18,6))) AS DOUBLE), 6)
           AS promo_share
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY 1 ORDER BY 1
"""

# ---------------------------------------------------------------------------
# Remaining expressible TPC-H shapes (the synthetic star schema has no
# partsupp/commitdate, so Q2/Q11/Q12/Q16/Q20/Q21 are out of reach): Q6
# (pure scan — every predicate pushes to parquet), Q7 (two roles of the
# same dim), Q10 (returned-items ranking), Q13 (agg-before-join outer-join
# distribution), Q15 (exact-decimal argmax, no window), Q19 (OR-of-ANDs
# pushdown), Q22 (scalar-subquery threshold + anti join). Thresholds sit
# strictly between the data's value-grid points (discounts are an 11-point
# 0.00..0.10 grid, quantities integral) so float boundary behavior can
# never differ between engines.
# ---------------------------------------------------------------------------


def q_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6 shape — the canonical pushdown showcase: a single fact scan where
    ALL predicates (date range, discount band, quantity cap) reach the
    parquet reader as PushedFilters and only 4 columns survive pruning. At
    100 TB this is the difference between reading the year's row groups
    and reading everything; no shuffle at all except the final 1-row agg."""
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount") >= 0.045)
            & (F.col("l_discount") <= 0.075)
            & (F.col("l_quantity") < 23.5)
        )
        .agg(
            F.sum(
                (F.col("l_extendedprice") * F.col("l_discount")).cast(DEC6)
            )
            .cast("double")
            .alias("revenue")
        )
    )


SQL_Q6_FORECAST_REVENUE = """
SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6)))
            AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount >= 0.045 AND l_discount <= 0.075
  AND l_quantity < 23.5
"""


# chosen so the pair has traffic at EVERY test scale factor (62 rows even
# at sf0.001) — a pair that only co-occurs at sf0.01+ would make the
# sf0.001 parity test vacuously pass on 0 rows
_Q7_NATIONS = ("NATION_11", "NATION_20")


def q_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 shape — one dim in two roles: nation broadcasts twice (supplier
    side and customer side) under different aliases, so the pair filter
    ((n1,n2) or (n2,n1)) is a post-broadcast filter, never a join of two
    facts. lineitem x orders stays the single fact shuffle on orderkey."""
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    supp = read_table(spark, sf_dir, "supplier")
    nat = read_table(spark, sf_dir, "nation")
    n1 = nat.select(
        F.col("n_nationkey").alias("n1_key"),
        F.col("n_name").alias("supp_nation"),
    )
    n2 = nat.select(
        F.col("n_nationkey").alias("n2_key"),
        F.col("n_name").alias("cust_nation"),
    )
    a, b = _Q7_NATIONS
    pair_ok = (
        (F.col("supp_nation") == a) & (F.col("cust_nation") == b)
    ) | ((F.col("supp_nation") == b) & (F.col("cust_nation") == a))
    disc = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC6)
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair_ok)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("ship_year"),
        )
        .agg(F.sum(disc).cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "ship_year")
    )


SQL_Q7_VOLUME_SHIPPING = f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INT) AS ship_year,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
            AS DOUBLE) AS revenue
FROM lineitem
JOIN orders    ON l_orderkey = o_orderkey
JOIN supplier  ON l_suppkey = s_suppkey
JOIN customer  ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE (n1.n_name = '{_Q7_NATIONS[0]}' AND n2.n_name = '{_Q7_NATIONS[1]}')
   OR (n1.n_name = '{_Q7_NATIONS[1]}' AND n2.n_name = '{_Q7_NATIONS[0]}')
GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
"""


def q_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 shape — returned-revenue ranking: the quarter cut on orders and
    the R-flag cut on lineitem both push to the scans, the fact pair
    shuffles once on orderkey, customer/nation broadcast, and the top-20
    is a partial-top-k per partition folded into one tiny final sort."""
    li = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    orders = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01")
        & (F.col("o_orderdate") < "1997-04-01")
    )
    cust = read_table(spark, sf_dir, "customer")
    nat = read_table(spark, sf_dir, "nation")
    disc = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC6)
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey")
        )
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(disc).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


SQL_Q10_RETURNED_ITEMS = """
SELECT c_custkey, c_name, c_acctbal, n_name,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
            AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
GROUP BY 1, 2, 3, 4
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def q_q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 shape — distribution of orders-per-customer including the
    zero-order tail. Orders pre-aggregates to per-custkey counts BEFORE
    the outer join (the classic agg-below-join rewrite: the join input
    shrinks from fact-sized to customer-sized), then a left join keeps
    order-less customers and a second tiny agg builds the histogram. At
    100 TB both inputs of the outer join are customer-cardinality — the
    only fact-sized work is the first partial-agg shuffle."""
    orders = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    cust = read_table(spark, sf_dir, "customer")
    per_cust = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("_n")
    )
    return (
        cust.join(
            per_cust, F.col("c_custkey") == F.col("o_custkey"), "left"
        )
        .select(F.coalesce(F.col("_n"), F.lit(0)).alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


SQL_Q13_ORDER_DISTRIBUTION = """
WITH per_cust AS (
  SELECT o_custkey, CAST(count(*) AS BIGINT) AS _n
  FROM orders
  WHERE o_orderpriority <> '1-URGENT'
  GROUP BY 1
)
SELECT COALESCE(_n, 0) AS c_count, CAST(count(*) AS BIGINT) AS custdist
FROM customer LEFT JOIN per_cust ON c_custkey = o_custkey
GROUP BY 1 ORDER BY custdist DESC, c_count DESC
"""


def q_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 shape — argmax WITHOUT a global window: per-supplier quarter
    revenue (one fact shuffle), then the max is a 1-row aggregate that
    broadcast-joins back by exact DECIMAL equality. The textbook
    Window.partitionBy() over everything would funnel all suppliers
    through one task; the 1-row broadcast keeps the plan flat. Decimal
    (not double) comparison makes the tie-set deterministic."""
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1996-04-01")
    )
    supp = read_table(spark, sf_dir, "supplier")
    rev = li.groupBy("l_suppkey").agg(
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                DEC6
            )
        ).alias("_rev")
    )
    mx = rev.agg(F.max("_rev").alias("_mx"))
    return (
        rev.join(F.broadcast(mx), F.col("_rev") == F.col("_mx"))
        .join(
            F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey")
        )
        .select(
            F.col("s_suppkey"),
            "s_name",
            F.col("_rev").cast("double").alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


SQL_Q15_TOP_SUPPLIER = """
WITH rev AS (
  SELECT l_suppkey,
         SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
           AS _rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY 1
)
SELECT s_suppkey, s_name, CAST(_rev AS DOUBLE) AS total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE _rev = (SELECT max(_rev) FROM rev)
ORDER BY s_suppkey
"""


def q_q19_discount_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 shape — OR-of-ANDs across the fact and a broadcast dim. The
    lineitem-only conjuncts (quantity bands) and the part-only conjuncts
    (type/size) each push into their own scan as a disjunction; the mixed
    residual evaluates after the broadcast hash join, so the fact never
    shuffles at all."""
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    qty = F.col("l_quantity")
    branch = (
        (
            (F.col("p_type") == "SMALL")
            & (F.col("p_size") <= 10)
            & (qty >= 1)
            & (qty <= 11)
        )
        | (
            (F.col("p_type") == "MEDIUM")
            & (F.col("p_size") <= 20)
            & (qty >= 10)
            & (qty <= 20)
        )
        | (
            (F.col("p_type") == "LARGE")
            & (F.col("p_size") <= 30)
            & (qty >= 20)
            & (qty <= 30)
        )
    )
    disc = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC6)
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .filter(branch)
        .agg(F.sum(disc).cast("double").alias("revenue"))
    )


SQL_Q19_DISCOUNT_REVENUE = """
SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
            AS DOUBLE) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_type = 'SMALL'  AND p_size <= 10
       AND l_quantity >= 1  AND l_quantity <= 11)
   OR (p_type = 'MEDIUM' AND p_size <= 20
       AND l_quantity >= 10 AND l_quantity <= 20)
   OR (p_type = 'LARGE'  AND p_size <= 30
       AND l_quantity >= 20 AND l_quantity <= 30)
"""


def q_q22_global_sales_opportunity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Q22 shape — scalar-subquery threshold + NOT EXISTS. The positive-
    balance average is a 1-row aggregate computed as exact-DECIMAL sum /
    exact count, THEN divided in double — both engines divide the same two
    exact numbers, so the threshold is bit-identical (a distributed double
    avg would be partition-order dependent). NOT EXISTS decorrelates to a
    left_anti join on custkey: customer shuffles once against the
    recent-orders side (the date cut pushes to the orders scan); nothing
    broadcasts because at scale both sides are fact-sized. The cut makes
    the semantics "dormant high-balance customers" — the synthetic data
    gives every customer at least one lifetime order, so the uncut NOT
    EXISTS would be vacuously empty."""
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= "2000-01-01"
    )
    thr = cust.filter(F.col("c_acctbal") > 0.0).agg(
        (
            F.sum(F.col("c_acctbal").cast(DEC)).cast("double")
            / F.count(F.lit(1))
        ).alias("_thr")
    )
    return (
        cust.join(F.broadcast(thr))
        .filter(F.col("c_acctbal") > F.col("_thr"))
        .join(
            orders.select("o_custkey"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left_anti",
        )
        .join(
            F.broadcast(read_table(spark, sf_dir, "nation")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(F.col("c_acctbal").cast(DEC))
            .cast("double")
            .alias("totacctbal"),
        )
        .orderBy("n_name")
    )


SQL_Q22_GLOBAL_SALES_OPPORTUNITY = """
WITH thr AS (
  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
         / COUNT(*) AS _thr
  FROM customer WHERE c_acctbal > 0.0
)
SELECT n_name, CAST(count(*) AS BIGINT) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
FROM customer, thr
JOIN nation ON c_nationkey = n_nationkey
WHERE c_acctbal > _thr
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
GROUP BY 1 ORDER BY 1
"""


def q_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 shape — share-of-total with the nation dim in TWO roles: within
    one region's customer market, the fraction of yearly revenue delivered
    by suppliers of one nation. Scale shape: lineitem x orders is the only
    fact shuffle; customer->nation->region (market filter) and
    supplier->nation (share numerator) are both broadcast chains; the
    share division happens on the year-cardinality aggregate. Numerator
    and denominator are exact DECIMAL sums divided once in double —
    bit-stable across engines (Q22 discipline)."""
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    supp = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region")
    market_cust = (
        cust.join(
            F.broadcast(nation),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(region.filter(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("c_custkey")
    )
    target_supp = supp.join(
        F.broadcast(nation.filter(F.col("n_nationkey") == 0)),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select(F.col("s_suppkey").alias("_tsk"))
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC6)
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(market_cust),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(target_supp),
            F.col("l_suppkey") == F.col("_tsk"),
            "left",
        )
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.sum(F.when(F.col("_tsk").isNotNull(), rev)).alias("_num"),
            F.sum(rev).alias("_den"),
        )
        .select(
            "o_year",
            F.round(
                F.col("_num").cast("double") / F.col("_den").cast("double"),
                6,
            ).alias("mkt_share"),
        )
        .orderBy("o_year")
    )


SQL_Q8_MARKET_SHARE = """
WITH market AS (
  SELECT c_custkey
  FROM customer
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'ASIA'
), tsupp AS (
  SELECT s_suppkey AS _tsk FROM supplier WHERE s_nationkey = 0
)
SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
       round(
         CAST(SUM(CASE WHEN _tsk IS NOT NULL THEN
               CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))
             END) AS DOUBLE)
         / CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(18,6))) AS DOUBLE),
         6) AS mkt_share
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN market ON o_custkey = c_custkey
LEFT JOIN tsupp ON l_suppkey = _tsk
GROUP BY 1 ORDER BY 1
"""


def q_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 shape — computed profit across fact and dim columns, two-level
    rollup (supplier nation x order year). No partsupp table in this
    schema, so unit cost is the part's retail price at a fixed margin
    (0.6 * p_retailprice), keeping Q9's structure: profit = revenue -
    cost*qty needs columns from lineitem AND part in one expression.
    Scale shape: part and the supplier->nation chain broadcast; the only
    fact shuffles are lineitem x orders and the final (nation, year)
    aggregate. Exact DECIMAL profit, cast double only for display."""
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    part = read_table(spark, sf_dir, "part")
    supp = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.lit(0.6) * F.col("p_retailprice") * F.col("l_quantity")
    ).cast(DEC6)
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            F.broadcast(nation),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            orders.select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(F.sum(profit).cast("double").alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


SQL_Q9_PRODUCT_PROFIT = """
SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                     - 0.6 * p_retailprice * l_quantity
                AS DECIMAL(18,6))) AS DOUBLE) AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1, 2 ORDER BY nation, o_year DESC
"""


def q_q17_small_quantity_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Q17 shape — correlated scalar subquery: revenue from orders of a
    brand's parts whose quantity is below 20% of that PART's average
    quantity. The correlation decorrelates into a per-part aggregate that
    joins back to the fact on partkey. Scale shape: the brand filter
    broadcasts into BOTH the avg build and the probe, so the per-part
    aggregate runs over the brand's slice only (not all of lineitem), and
    the avg side is then part-cardinality — it broadcasts back. Threshold
    arithmetic is exact-DECIMAL sum / exact count then double, so both
    engines compare the same two numbers (Q22's determinism discipline)."""
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part").filter(
        F.col("p_brand") == "Brand#4"
    )
    branded = li.join(
        F.broadcast(part.select("p_partkey")),
        F.col("l_partkey") == F.col("p_partkey"),
    )
    avg_qty = branded.groupBy("l_partkey").agg(
        (
            F.sum(F.col("l_quantity").cast(DEC)).cast("double")
            / F.count(F.lit(1))
        ).alias("_avg_qty")
    )
    return (
        branded.join(
            F.broadcast(
                avg_qty.select(
                    F.col("l_partkey").alias("_pk"), "_avg_qty"
                )
            ),
            F.col("l_partkey") == F.col("_pk"),
        )
        .filter(F.col("l_quantity") < 0.2 * F.col("_avg_qty"))
        .agg(
            (
                F.sum(F.col("l_extendedprice").cast(DEC6)).cast("double")
                / F.lit(7.0)
            ).alias("avg_yearly")
        )
    )


SQL_Q17_SMALL_QUANTITY_REVENUE = """
WITH branded AS (
  SELECT l_partkey, l_quantity, l_extendedprice
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand = 'Brand#4'
), avg_qty AS (
  SELECT l_partkey AS _pk,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
         / COUNT(*) AS _avg_qty
  FROM branded GROUP BY 1
)
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / 7.0
         AS avg_yearly
FROM branded JOIN avg_qty ON l_partkey = _pk
WHERE l_quantity < 0.2 * _avg_qty
"""


def q_q20_excess_shipments_suppliers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Q20 shape — nested semi-join chain (TPC-H Q20's partsupp availqty
    correlate has no partsupp table here, so the inner predicate is
    re-based on shipped volume): suppliers in low-key nations who shipped
    > 100 units of some 'small ...' part. part-filter -> (supp, part)
    volume HAVING -> DISTINCT suppkeys -> LEFT SEMI into supplier. Scale
    shape: the part filter broadcasts into the fact scan; the HAVING
    aggregate shuffles (supp, part) pairs once; the surviving supplier-key
    set is dim-sized, so the final semi-join broadcasts — supplier never
    shuffles. Exercises LeftSemi planning end-to-end."""
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part").filter(
        F.col("p_name").startswith("small")
    )
    supp = read_table(spark, sf_dir, "supplier").filter(
        F.col("s_nationkey") < 10
    )
    heavy = (
        li.join(
            F.broadcast(part.select("p_partkey")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.col("l_quantity").cast(DEC)).alias("_vol"))
        .filter(F.col("_vol") > 100)
        .select("l_suppkey")
        .distinct()
    )
    return (
        supp.join(
            F.broadcast(heavy),
            F.col("s_suppkey") == F.col("l_suppkey"),
            "left_semi",
        )
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


SQL_Q20_EXCESS_SHIPMENTS_SUPPLIERS = """
SELECT s_suppkey, s_name
FROM supplier
WHERE s_nationkey < 10
  AND s_suppkey IN (
    SELECT l_suppkey
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_name LIKE 'small%'
    GROUP BY l_suppkey, l_partkey
    HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 100
  )
ORDER BY s_suppkey
"""


def q_q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 shape — EXISTS + NOT EXISTS against the same fact: suppliers
    who were the SOLE late shipper on a finished multi-supplier order
    ("late" = shipped > 90 days after order date; the reference schema's
    commit/receipt dates don't exist here). l1 = late lines of 'F' orders;
    EXISTS(other supplier in same order) -> left_semi; NOT EXISTS(other
    LATE supplier in same order) -> left_anti. Scale shape: all three
    sides are the same lineitem scan keyed by orderkey, so the semi and
    anti joins reuse one hash-partitioning of the fact; per-supplier
    count + top-100 is the only further shuffle. Exercises semi- and
    anti-join planning in one plan."""
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    lo = li.join(
        orders.select("o_orderkey", "o_orderdate"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    # persisted: ``late`` feeds BOTH the outer side and the anti side, and
    # Catalyst's join reordering de-duplicates neither (verified: without
    # this the li⋈orders join plans twice) — the same self-join persist
    # discipline as the dedup family; released via release_cache
    late = (
        lo.filter(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
        )
        .select("l_orderkey", "l_suppkey")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    l1 = late.alias("l1")
    others = li.select("l_orderkey", "l_suppkey").alias("l2")
    late_others = late.alias("l3")
    return owns_cache(
        l1.join(
            others,
            (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
            & (F.col("l1.l_suppkey") != F.col("l2.l_suppkey")),
            "left_semi",
        )
        .join(
            late_others,
            (F.col("l1.l_orderkey") == F.col("l3.l_orderkey"))
            & (F.col("l1.l_suppkey") != F.col("l3.l_suppkey")),
            "left_anti",
        )
        .groupBy(F.col("l1.l_suppkey").alias("s_suppkey"))
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_suppkey")
        .limit(100),
        late,  # caller releases via cacheutil.release_cache
    )


SQL_Q21_WAITING_SUPPLIERS = """
WITH late AS (
  SELECT l_orderkey, l_suppkey
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
    AND l_shipdate > o_orderdate + INTERVAL 90 DAY
)
SELECT l1.l_suppkey AS s_suppkey, CAST(count(*) AS BIGINT) AS numwait
FROM late l1
WHERE EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM late l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey)
GROUP BY 1 ORDER BY numwait DESC, s_suppkey LIMIT 100
"""


def q_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 shape — correlated MIN subquery over a snowflake chain (TPC-H Q2
    re-based: no partsupp table here, so "supply cost" is the minimum
    observed line price a supplier ever charged for the part): for
    STANDARD parts of size < 10, the EUROPE supplier(s) whose observed
    price for that part equals the part's minimum across EUROPE. Scale
    shape: region->nation->supplier is a broadcast chain; the part filter
    broadcasts into the fact scan, so the (part, supplier) cost aggregate
    runs over the filtered slice only; the per-part MIN is
    part-cardinality and broadcasts back for the correlate — lineitem
    shuffles once, on (partkey, suppkey). Cost equality compares raw
    stored l_extendedprice values (no derived arithmetic), so the
    correlated equality is exact in both engines. Ordering is totalized
    by (s_acctbal DESC, p_partkey, s_suppkey) — (part, supp) is unique —
    so LIMIT 100 is deterministic."""
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part").filter(
        (F.col("p_type") == "STANDARD") & (F.col("p_size") < 10)
    )
    supp = read_table(spark, sf_dir, "supplier")
    nat = read_table(spark, sf_dir, "nation")
    reg = read_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "EUROPE"
    )
    eu_supp = (
        supp.join(
            F.broadcast(
                nat.join(
                    F.broadcast(reg.select("r_regionkey")),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                ).select("n_nationkey", "n_name")
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    cost = (
        li.join(
            F.broadcast(part.select("p_partkey", "p_name")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(
            F.broadcast(eu_supp),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy(
            "p_partkey", "p_name", "s_suppkey", "s_name",
            "s_acctbal", "n_name",
        )
        .agg(F.min("l_extendedprice").alias("supply_cost"))
    )
    min_cost = cost.groupBy(F.col("p_partkey").alias("_pk")).agg(
        F.min("supply_cost").alias("_min_cost")
    )
    return (
        cost.join(
            F.broadcast(min_cost),
            (F.col("p_partkey") == F.col("_pk"))
            & (F.col("supply_cost") == F.col("_min_cost")),
        )
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey", "p_name",
            "s_suppkey", "supply_cost",
        )
        .orderBy(F.desc("s_acctbal"), "p_partkey", "s_suppkey")
        .limit(100)
    )


SQL_Q2_MIN_COST_SUPPLIER = """
WITH cost AS (
  SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal, n_name,
         MIN(l_extendedprice) AS supply_cost
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE p_type = 'STANDARD' AND p_size < 10 AND r_name = 'EUROPE'
  GROUP BY 1, 2, 3, 4, 5, 6
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_name, s_suppkey,
       supply_cost
FROM cost c
WHERE supply_cost = (SELECT MIN(supply_cost) FROM cost m
                     WHERE m.p_partkey = c.p_partkey)
ORDER BY s_acctbal DESC, p_partkey, s_suppkey LIMIT 100
"""


def q_q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 shape — HAVING against a global scalar subquery (TPC-H Q11
    re-based from partsupp onto shipped revenue): parts whose revenue from
    NATION_3 suppliers exceeds 0.1% of that nation-slice's total. Scale
    shape: the nation's supplier keys broadcast into the fact scan; the
    per-part aggregate shuffles partkeys once; the grand total is a 1-row
    aggregate of the per-part frame that broadcasts back via crossJoin —
    no second pass over lineitem. Both engines derive value and total from
    the same exact-DECIMAL sums cast to double, and the 0.001 multiplier
    is IEEE-exact on both, so the threshold comparison is deterministic.
    Output order totalized by (value DESC, partkey)."""
    li = read_table(spark, sf_dir, "lineitem")
    supp = read_table(spark, sf_dir, "supplier").filter(
        F.col("s_nationkey") == 3
    )
    value = (
        li.join(
            F.broadcast(supp.select("s_suppkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy("l_partkey")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount")))
                .cast(DEC6)
            ).alias("_value_dec")
        )
        # _value_dec feeds both the grand total and the output filter;
        # persist so lineitem is scanned once (q21's late-set discipline)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # the grand total sums the DECIMAL column — a distributed double sum
    # is partition-order dependent in its last ulp, which could flip a
    # borderline threshold row between runs/engines; the decimal sum is
    # exact and order-invariant, cast to double only for the comparison
    total = value.agg(
        F.sum(F.col("_value_dec")).cast("double").alias("_total")
    )
    return owns_cache(
        value.crossJoin(F.broadcast(total))
        .select(
            "l_partkey",
            F.col("_value_dec").cast("double").alias("value"),
            "_total",
        )
        .filter(F.col("value") > F.col("_total") * 0.001)
        .select("l_partkey", "value")
        .orderBy(F.desc("value"), "l_partkey"),
        value,  # caller releases via cacheutil.release_cache
    )


SQL_Q11_IMPORTANT_PARTS = """
WITH value AS (
  SELECT l_partkey,
         SUM(CAST(l_extendedprice * (1 - l_discount)
                  AS DECIMAL(18,6))) AS value_dec
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
  WHERE s_nationkey = 3
  GROUP BY 1
)
SELECT l_partkey, CAST(value_dec AS DOUBLE) AS value
FROM value
WHERE CAST(value_dec AS DOUBLE)
      > CAST((SELECT SUM(value_dec) FROM value) AS DOUBLE) * 0.001
ORDER BY value DESC, l_partkey
"""


def q_q12_late_priority_lines(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Q12 shape — conditional two-way CASE aggregation over a fact-fact
    join (TPC-H Q12 re-based: no l_shipmode column, so the grouping axis
    is l_returnflag and "late receipt" is shipping > 60 days after the
    order date): per return flag, how many late lines belong to
    high-priority (1-URGENT / 2-HIGH) vs lower-priority orders. Scale
    shape: lineitem ⋈ orders is the one shuffle (orderkey-bucketed tables
    make it exchange-free — functions/bucketing.py); the CASE counters
    are map-side partial aggregates into a 3-row result. Counts are exact
    integers — no FP in the output."""
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.filter(
            F.col("l_shipdate").isNotNull()
        )
        .join(
            orders.select("o_orderkey", "o_orderdate", "o_orderpriority"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .filter(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        )
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0))
            .cast("long").alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1))
            .cast("long").alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


SQL_Q12_LATE_PRIORITY_LINES = """
SELECT l_returnflag,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate IS NOT NULL
  AND l_shipdate > o_orderdate + INTERVAL 60 DAY
GROUP BY 1 ORDER BY 1
"""


def q_q16_supplier_part_distribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Q16 shape — COUNT(DISTINCT) per attribute group with a NOT IN
    exclusion (TPC-H Q16 re-based from partsupp onto observed shipping
    pairs; the "complaints" exclusion becomes negative-balance
    suppliers): for non-PROMO parts of selected sizes, how many distinct
    suppliers (excluding s_acctbal < 0) have shipped each
    (brand, type, size). Scale shape: the part filter broadcasts into the
    fact scan; the excluded-supplier list is dim-sized and broadcasts as
    a null-safe anti-join (Spark plans NOT IN on a non-null key as
    BroadcastHashJoin LeftAnti); distinct (part, supp) pairs shuffle
    once, then the count-distinct re-aggregates onto the small
    (brand, type, size) group space. Output order totalized by all four
    columns."""
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part").filter(
        (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 49)
    )
    bad_supp = read_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    )
    return (
        li.select("l_partkey", "l_suppkey")
        .join(
            F.broadcast(
                part.select("p_partkey", "p_brand", "p_type", "p_size")
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(
            F.broadcast(bad_supp.select("s_suppkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(
            F.countDistinct("l_suppkey").cast("long").alias("supplier_cnt")
        )
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


SQL_Q16_SUPPLIER_PART_DISTRIBUTION = """
SELECT p_brand, p_type, p_size,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_type <> 'PROMO'
  AND p_size IN (1, 4, 9, 14, 19, 23, 36, 49)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                        WHERE s_acctbal < 0)
GROUP BY 1, 2, 3
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""

# ---------------------------------------------------------------------------
# DWM order-wide (J1 equi-part + J2 chained broadcast dim enrichment —
# OrderWideApp.java:89-121; dims snowflake customer->nation->region plays
# user/province/... from OrderWide.java:40-53)
# ---------------------------------------------------------------------------

def _lineitem_nation_wide(
    spark: SparkSession,
    sf_dir: str,
    customer_cols: list[str],
    how: str = "left",
) -> DataFrame:
    """Shared J1+J2 spine for the order-wide family: lineitem ⋈ orders fact
    join, then the customer->nation->region broadcast dim chain. One
    definition keeps the three queries built on it in sync with their
    oracles."""
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region")
    facts = li.join(o, li["l_orderkey"] == o["o_orderkey"])
    return enrich_dims(
        facts,
        [
            (c, "o_custkey", "c_custkey", customer_cols),
            (n, "c_nationkey", "n_nationkey", ["n_name", "n_regionkey"]),
            (r, "n_regionkey", "r_regionkey", ["r_name"]),
        ],
        how=how,
    )


def q_order_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    wide = _lineitem_nation_wide(
        spark, sf_dir, ["c_name", "c_nationkey"], how="left"
    )
    return wide.select(
        F.col("o_orderkey").alias("orderkey"),
        F.col("l_linenumber").cast("long").alias("linenumber"),
        F.col("o_orderstatus").alias("orderstatus"),
        F.col("c_name").alias("customer_name"),
        F.col("n_name").alias("nation_name"),
        F.col("r_name").alias("region_name"),
        F.expr(_REV).cast("double").alias("revenue"),
        F.date_format("l_shipdate", "yyyy-MM-dd").alias("ship_date"),
    )


SQL_ORDER_WIDE = f"""
SELECT o.o_orderkey AS orderkey,
       CAST(l.l_linenumber AS BIGINT) AS linenumber,
       o.o_orderstatus AS orderstatus,
       c.c_name AS customer_name,
       n.n_name AS nation_name,
       r.r_name AS region_name,
       CAST({_REV} AS DOUBLE) AS revenue,
       strftime(CAST(l.l_shipdate AS DATE), '%Y-%m-%d') AS ship_date
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
LEFT JOIN customer c ON o.o_custkey = c.c_custkey
LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
"""

# ---------------------------------------------------------------------------
# Session windows (DWS intended surface): data-driven windows closing after
# 2 h of per-user silence. Spark F.session_window; the oracle is the batch
# gaps-and-islands form (lag + running sum), proving the two agree.
# ---------------------------------------------------------------------------

_SESSION_GAP_S = 7200


def q_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    s = session_agg(
        ev,
        "ts",
        f"{_SESSION_GAP_S} seconds",
        ["user_id"],
        [F.count(F.lit(1)).alias("n_events")],
    )
    return s.select(
        "user_id",
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "session_start"
        ),
        F.date_format("window_end", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "session_end"
        ),
        "n_events",
    )


SQL_SESSION_STATS = f"""
WITH e AS (
  SELECT user_id, make_timestamp(epoch_ns(ts)//1000) AS ts FROM events
), flags AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w >= INTERVAL {_SESSION_GAP_S} SECOND
              THEN 1 ELSE 0 END AS new_s
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sess AS (
  SELECT user_id, ts,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM flags
)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
       strftime(max(ts) + INTERVAL {_SESSION_GAP_S} SECOND,
                '%Y-%m-%d %H:%M:%S.%f') AS session_end,
       CAST(count(*) AS BIGINT) AS n_events
FROM sess GROUP BY user_id, sid
"""

# ---------------------------------------------------------------------------
# Exact percentiles per event type (aggregation surface): Spark F.percentile
# and DuckDB quantile_cont both use continuous interpolation, so exact
# quantiles are oracle-checkable. (approx_percentile/t-digest would be the
# 100 TB path; it's estimation-only and engine-specific, like the HLL UV.)
# ---------------------------------------------------------------------------

def q_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    pct = F.percentile(F.col("value"), F.array(F.lit(0.5), F.lit(0.95)))
    return ev.groupBy("event_type").agg(
        F.round(F.element_at(pct, 1), 6).alias("p50"),
        F.round(F.element_at(pct, 2), 6).alias("p95"),
        F.count(F.lit(1)).alias("n"),
    )


SQL_VALUE_PERCENTILES = """
SELECT event_type,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.95), 6) AS p95,
       CAST(count(*) AS BIGINT) AS n
FROM events GROUP BY 1
"""

# ---------------------------------------------------------------------------
# The 100 TB quantile path: percentile_approx (Greenwald-Khanna sketch) —
# mergeable partial state, so the shuffle carries one sketch per group
# instead of the values. Like the HLL UV query, the estimate itself is
# engine-internal, so the registered form emits the CONTRACT: the observed
# rank of each estimate, which must sit within the sketch's rank-error bound
# of the target quantile. The oracle asserts the booleans TRUE — a sketch
# that drifts out of its published bound hash-fails the round.
# ---------------------------------------------------------------------------

_PCT_ACCURACY = 10_000          # GK bound: rank error <= n / accuracy
_PCT_EPS = 1.0 / _PCT_ACCURACY  # as a rank fraction


def q_value_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").select("event_type", "value")
    ap = ev.groupBy("event_type").agg(
        F.percentile_approx(
            "value", F.array(F.lit(0.5), F.lit(0.95)), F.lit(_PCT_ACCURACY)
        ).alias("ap")
    )
    # rank-check join: ap is k rows (one per group) — broadcast, no shuffle
    # beyond the one groupBy the exact ranks need anyway
    j = ev.join(F.broadcast(ap), "event_type")
    ranks = j.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            agg
            for idx, tag in ((1, "50"), (2, "95"))
            for agg in (
                F.sum(
                    (F.col("value") < F.element_at("ap", idx)).cast("long")
                ).alias(f"lo{tag}"),
                F.sum(
                    (F.col("value") <= F.element_at("ap", idx)).cast("long")
                ).alias(f"hi{tag}"),
            )
        ],
    )
    # GK guarantees the estimate is an actual sample with SOME rank in
    # [count(<est)+1, count(<=est)] within eps*n of the target — with
    # duplicate-heavy data the max rank alone can exceed the bound even
    # when the sketch honors its contract, so check interval overlap
    # (plus one rank of slack for the <= / < boundary).
    tol = F.lit(_PCT_EPS) * F.col("n") + F.lit(1.0)

    def _ok(tag: str, p: float):
        target = F.lit(p) * F.col("n")
        return (
            (F.col(f"lo{tag}") + 1 <= target + tol)
            & (F.col(f"hi{tag}") >= target - tol)
        ).alias(f"p{tag}_ok")

    return ranks.select("event_type", "n", _ok("50", 0.5), _ok("95", 0.95))


SQL_VALUE_PERCENTILES_APPROX = """
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       TRUE AS p50_ok, TRUE AS p95_ok
FROM events GROUP BY 1
"""

# ---------------------------------------------------------------------------
# Pivot (wide serving tables): day x event-type count matrix — the shape the
# reference's ClickHouse visitor-stats table serves (VisitorStatsApp intent,
# SURVEY.md §2.9). Explicit value list: at 100 TB an unpinned pivot needs a
# distinct-scan planning pass AND produces an unstable schema; serving
# tables pin their columns.
# ---------------------------------------------------------------------------

_PIVOT_TYPES = ["click", "error", "purchase", "signup", "view"]


def q_events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    p = (
        ev.groupBy(_dt().alias("dt"))
        .pivot("event_type", _PIVOT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    return p.select(
        "dt",
        *[
            F.coalesce(F.col(t), F.lit(0)).cast("long").alias(t)
            for t in _PIVOT_TYPES
        ],
    )


SQL_EVENTS_PIVOT = """
SELECT strftime(CAST(date_trunc('day', ts) AS DATE), '%Y-%m-%d') AS dt,
       CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT)
           AS click,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
           AS error,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
           AS purchase,
       CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT)
           AS signup,
       CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT)
           AS view
FROM events GROUP BY 1
"""

# ---------------------------------------------------------------------------
# Sliding windows: 2 h windows advancing hourly. The oracle mirrors Spark's
# window assignment exactly — an event at t belongs to every window start in
# (t - width, t] on the slide grid, enumerated with generate_series.
# ---------------------------------------------------------------------------

def q_sliding_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    s = sliding_agg(
        ev,
        "ts",
        "2 hours",
        "1 hour",
        ["event_type"],
        [
            F.count(F.lit(1)).alias("n"),
            # decimal-before-SUM (file convention): double addition is
            # order-dependent, which would make the oracle hash flaky
            F.sum(F.col("value").cast(DEC)).cast("double").alias("sum_value"),
        ],
    )
    return s.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("ws"),
        "event_type",
        "n",
        "sum_value",
    )


SQL_SLIDING_HOURLY = """
WITH e AS (
  SELECT event_type, value, make_timestamp(epoch_ns(ts)//1000) AS ts
  FROM events
), assigned AS (
  SELECT event_type, value,
         to_timestamp(ws) AS window_start
  FROM e, unnest(generate_series(
           CAST(floor(epoch(ts)/3600) AS BIGINT)*3600 - 3600,
           CAST(floor(epoch(ts)/3600) AS BIGINT)*3600,
           3600)) AS t(ws)
)
SELECT strftime(window_start, '%Y-%m-%d %H:%M:%S') AS ws,
       event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM assigned GROUP BY 1, 2
"""

# ---------------------------------------------------------------------------
# Rollup (grouping sets surface): region/nation hierarchy with subtotals and
# grand total, as the DWS serving layer would materialize it.
# ---------------------------------------------------------------------------

def q_revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    wide = (
        _lineitem_nation_wide(spark, sf_dir, ["c_nationkey"], how="inner")
        .withColumn("region_name", F.col("r_name"))
        .withColumn("nation_name", F.col("n_name"))
    )
    return wide.rollup("region_name", "nation_name").agg(
        F.sum(F.expr(_REV)).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


SQL_REVENUE_ROLLUP = f"""
SELECT r.r_name AS region_name, n.n_name AS nation_name,
       CAST(SUM({_REV}) AS DOUBLE) AS revenue,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY ROLLUP (region_name, nation_name)
"""

# ---------------------------------------------------------------------------
# PaymentWide-style merge (§2.9 — bean/OrderWide.java:90-107
# mergeOtherOrderWide): null-coalescing combination of partial wide records.
# The payment partial derives deterministically from orders (status F =
# paid), so the merge is fully oracle-checked.
# ---------------------------------------------------------------------------

def q_payment_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    ow = o.select(
        F.col("o_orderkey").alias("orderkey"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").cast("double").alias("total"),
        # urgent orders arrive with the customer ref unset -> patched from
        # the payment side (the per-field null-coalescing the reference's
        # mergeOtherOrderWide exists for)
        F.when(F.col("o_orderpriority").startswith("1"), None)
        .otherwise(F.col("o_custkey").cast("string"))
        .alias("payer"),
    )
    pay = o.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_orderkey").alias("orderkey"),
        F.col("o_custkey").cast("string").alias("payer"),
        F.concat(F.lit("PAY-"), F.col("o_orderpriority").substr(1, 1)).alias(
            "payment_type"
        ),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("payment_date"),
    )
    return merge_wide(ow, pay, ["orderkey"])


SQL_PAYMENT_WIDE = """
WITH ow AS (
  SELECT o_orderkey AS orderkey, o_orderstatus AS status,
         CAST(o_totalprice AS DOUBLE) AS total,
         CASE WHEN o_orderpriority LIKE '1%' THEN NULL
              ELSE CAST(o_custkey AS VARCHAR) END AS payer
  FROM orders
), pay AS (
  SELECT o_orderkey AS orderkey, CAST(o_custkey AS VARCHAR) AS payer,
         'PAY-' || substr(o_orderpriority, 1, 1) AS payment_type,
         strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS payment_date
  FROM orders WHERE o_orderstatus = 'F'
)
SELECT coalesce(l.orderkey, r.orderkey) AS orderkey,
       l.status AS status, l.total AS total,
       coalesce(l.payer, r.payer) AS payer,
       r.payment_type AS payment_type, r.payment_date AS payment_date
FROM ow l FULL OUTER JOIN pay r ON l.orderkey = r.orderkey
"""

# ---------------------------------------------------------------------------
# Revenue by nation (q5-style multi-join rollup)
# ---------------------------------------------------------------------------

def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    wide = _lineitem_nation_wide(spark, sf_dir, ["c_nationkey"], how="inner")
    return wide.groupBy(
        F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name")
    ).agg(
        F.sum(F.expr(_REV)).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


SQL_REVENUE_BY_NATION = f"""
SELECT r.r_name AS region_name, n.n_name AS nation_name,
       CAST(SUM({_REV}) AS DOUBLE) AS revenue,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY 1, 2
"""

# ---------------------------------------------------------------------------
# Top-k: brand revenue leaderboard (sort/limit surface; deterministic ranks)
# ---------------------------------------------------------------------------

def q_top_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part")
    joined = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
    agg = joined.groupBy("p_brand").agg(
        F.sum(F.expr(_REV)).alias("_rev_dec"),
        F.count(F.lit(1)).alias("n_items"),
    )
    # top-k via distributed TakeOrdered (orderBy+limit), THEN rank the k
    # survivors — a global row_number window over the full aggregate would
    # single-partition-sort every group at scale; this sorts k rows
    top = agg.orderBy(F.col("_rev_dec").desc(), F.col("p_brand").asc()).limit(10)
    w = Window.orderBy(F.col("_rev_dec").desc(), F.col("p_brand").asc())
    return top.withColumn("rnk", F.row_number().over(w)).select(
        "p_brand",
        F.col("_rev_dec").cast("double").alias("revenue"),
        "n_items",
        "rnk",
    )


SQL_TOP_BRANDS = f"""
WITH a AS (
  SELECT p.p_brand, SUM({_REV}) AS rev_dec, CAST(count(*) AS BIGINT) AS n_items
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY 1
)
SELECT p_brand, CAST(rev_dec AS DOUBLE) AS revenue, n_items,
       CAST(row_number() OVER (ORDER BY rev_dec DESC, p_brand) AS INTEGER) AS rnk
FROM a QUALIFY rnk <= 10
"""

# ---------------------------------------------------------------------------
# J1 proper interval join: lineitems shipped within 30 days of order date
# (the ±5 s Flink interval join, OrderWideApp.java:89-97, at analytics scale)
# ---------------------------------------------------------------------------

def q_interval_join_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    j = interval_join(
        o,
        li,
        left_key="o_orderkey",
        right_key="l_orderkey",
        left_ts="o_orderdate",
        right_ts="l_shipdate",
        lower_seconds=0.0,
        upper_seconds=30 * 24 * 3600.0,
    )
    return j.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("order_month")
    ).agg(
        F.count(F.lit(1)).alias("n_shipped_30d"),
        F.sum(F.expr(_REV)).cast("double").alias("revenue"),
    )


SQL_INTERVAL_JOIN_SHIPMENTS = f"""
SELECT strftime(o.o_orderdate, '%Y-%m') AS order_month,
       CAST(count(*) AS BIGINT) AS n_shipped_30d,
       CAST(SUM({_REV}) AS DOUBLE) AS revenue
FROM orders o JOIN lineitem l
  ON o.o_orderkey = l.l_orderkey
 AND epoch(l.l_shipdate) >= epoch(o.o_orderdate)
 AND epoch(l.l_shipdate) <= epoch(o.o_orderdate) + 2592000.0
GROUP BY 1
"""

# ---------------------------------------------------------------------------
# CDC routing engine (S3+T4+T5+P2+K2 — TableProcessFunction.java:55-82,
# 183-195; BaseDBLog.java:60-66,100-105). The orders table plays the binlog:
# status O->insert, F->update, P->delete (delete dropped per :63-64).
# ---------------------------------------------------------------------------

_CDC_CONFIG_ROWS = [
    ("order_info", "insert", "kafka", "dwd_order_info", "id,custkey,total", "id", None),
    ("order_info", "update", "hbase", "dim_order_info", "id,status", "id", None),
]


def _orders_as_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    return o.select(
        F.lit("gmall2021").alias("database"),
        F.lit("order_info").alias("tableName"),
        F.lit(None).cast("map<string,string>").alias("before"),
        F.create_map(
            F.lit("id"), F.col("o_orderkey").cast("string"),
            F.lit("custkey"), F.col("o_custkey").cast("string"),
            F.lit("status"), F.col("o_orderstatus"),
            F.lit("total"), F.col("o_totalprice").cast(DEC).cast("string"),
            F.lit("priority"), F.col("o_orderpriority"),
        ).alias("after"),
        F.when(F.col("o_orderstatus") == "O", "insert")
        .when(F.col("o_orderstatus") == "F", "update")
        .otherwise("delete")
        .alias("type"),
    )


def q_cdc_route_kafka(spark: SparkSession, sf_dir: str) -> DataFrame:
    env = _orders_as_cdc(spark, sf_dir)
    config = spark.createDataFrame(_CDC_CONFIG_ROWS, TABLE_PROCESS_SCHEMA)
    kafka = route_cdc(env, config)["kafka"]
    return kafka.select(
        F.col("sinkTable").alias("sink_table"),
        F.element_at("after", "id").cast("long").alias("id"),
        F.element_at("after", "custkey").cast("long").alias("custkey"),
        F.element_at("after", "total").alias("total"),
        F.element_at("after", "status").alias("status"),  # pruned -> NULL
    )


SQL_CDC_ROUTE_KAFKA = """
SELECT 'dwd_order_info' AS sink_table,
       o_orderkey AS id,
       o_custkey AS custkey,
       CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS total,
       CAST(NULL AS VARCHAR) AS status
FROM orders WHERE o_orderstatus = 'O'
"""


def q_cdc_route_hbase(spark: SparkSession, sf_dir: str) -> DataFrame:
    env = _orders_as_cdc(spark, sf_dir)
    config = spark.createDataFrame(_CDC_CONFIG_ROWS, TABLE_PROCESS_SCHEMA)
    hbase = route_cdc(env, config)["hbase"]
    return hbase.select(
        F.col("sinkTable").alias("sink_table"),
        F.element_at("after", "id").cast("long").alias("id"),
        F.element_at("after", "status").alias("status"),
        F.element_at("after", "total").alias("total"),  # pruned -> NULL
    )


SQL_CDC_ROUTE_HBASE = """
SELECT 'dim_order_info' AS sink_table,
       o_orderkey AS id,
       o_orderstatus AS status,
       CAST(NULL AS VARCHAR) AS total
FROM orders WHERE o_orderstatus = 'F'
"""

# ---------------------------------------------------------------------------
# Keyword analysis (§2.9 — tokenizer + explode + count)
# ---------------------------------------------------------------------------

def q_keyword_top100(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    counts = keyword_counts(docs, "text")
    # TakeOrdered-then-rank: the limit(100) runs as a distributed top-k
    # (per-partition heads + merge), so the row_number window only ever
    # sorts 100 rows — a global window over the full vocabulary would be a
    # single-partition sort of millions of tokens at 100 TB
    top = counts.orderBy(
        F.col("token_count").desc(), F.col("token").asc()
    ).limit(100)
    w = Window.orderBy(F.col("token_count").desc(), F.col("token").asc())
    return (
        top.withColumn("rnk", F.row_number().over(w))
        .select("token", "token_count", "rnk")
    )


_KEYWORD_MIN_COUNT = 3


def q_keyword_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed keyword counts (§2.9 DWS keyword intent): tokenize the
    event stream's type+props text, tumbling 1-hour count per token. The
    SAME operator runs under readStream with a watermark — parity-tested
    in tests/test_streaming.py."""
    ev = read_table(spark, sf_dir, "events").select(
        "ts", F.concat_ws(" ", "event_type", "props").alias("txt")
    )
    out = keyword_window_counts(
        ev, "txt", "ts", "1 hour", min_count=_KEYWORD_MIN_COUNT
    )
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("wstart"),
        "token",
        "token_count",
    )


SQL_KEYWORD_HOURLY = f"""
WITH t AS (
  SELECT date_trunc('hour', ts) AS w,
         -- COALESCE matches Spark's concat_ws, which SKIPS null props
         -- instead of nullifying the whole string ('||' would drop every
         -- token of a null-props row)
         unnest(list_filter(
             string_split_regex(lower(event_type || ' '
                                      || COALESCE(props, '')),
                                '[^a-z0-9]+'),
             x -> length(x) > 0)) AS token
  FROM events
)
SELECT strftime(w, '%Y-%m-%d %H:%M:%S') AS wstart, token,
       CAST(count(*) AS BIGINT) AS token_count
FROM t GROUP BY 1, 2
HAVING count(*) >= {_KEYWORD_MIN_COUNT}
"""


SQL_KEYWORD_TOP100 = """
WITH t AS (
  SELECT unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS token
  FROM documents
), c AS (
  SELECT token, CAST(count(*) AS BIGINT) AS token_count
  FROM t WHERE length(token) >= 1 GROUP BY token
)
SELECT token, token_count,
       CAST(row_number() OVER (ORDER BY token_count DESC, token) AS INTEGER) AS rnk
FROM c QUALIFY rnk <= 100
"""


_ZH_WORDS_PER_DOC = 6


def q_keyword_top100_zh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chinese keyword top-100 through the REAL segmenter slot: each doc_id
    deterministically selects 6 dictionary words (md5-indexed) and
    concatenates them into an UNSEGMENTED Chinese string — the regex
    tokenizer would return it whole — then the bundled forward-maximum-
    matching segmenter (operators/keywords.py::make_fmm_segmenter_udf,
    the shipped stand-in for the reference's IK analyzer,
    gmall-realtime/pom.xml:179-183) recovers word tokens. The DuckDB
    oracle replays the SAME greedy longest-match as a recursive CTE, so
    this checks segmentation semantics, not just counts. Scale shape:
    Arrow-batched segmentation (dictionary rides the closure, one
    deserialize per task), then the vocabulary-sized count shuffle."""
    from gmall_flink_yb_spark.operators.keywords import (
        ZH_ECOMMERCE_DICT,
        keyword_counts,
        make_fmm_segmenter_udf,
    )

    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    dict_arr = F.array(*[F.lit(w) for w in ZH_ECOMMERCE_DICT])
    n = len(ZH_ECOMMERCE_DICT)
    parts = [
        F.element_at(
            dict_arr,
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.lit(f"zhw{k}:"),
                                F.col("doc_id").cast("string"),
                            )
                        ),
                        1,
                        4,
                    ),
                    16,
                    10,
                ).cast("long")
                % n
                + 1
            ).cast("int"),
        )
        for k in range(_ZH_WORDS_PER_DOC)
    ]
    zh = docs.select(F.concat(*parts).alias("txt"))
    counts = keyword_counts(zh, "txt", tokenizer=make_fmm_segmenter_udf())
    top = counts.orderBy(
        F.col("token_count").desc(), F.col("token").asc()
    ).limit(100)
    w = Window.orderBy(F.col("token_count").desc(), F.col("token").asc())
    return (
        top.withColumn("rnk", F.row_number().over(w))
        .select("token", "token_count", "rnk")
    )


def _zh_sql() -> str:
    from gmall_flink_yb_spark.operators.keywords import ZH_ECOMMERCE_DICT

    n = len(ZH_ECOMMERCE_DICT)
    vals = ", ".join(f"({i}, '{w}')" for i, w in enumerate(ZH_ECOMMERCE_DICT))
    word = (
        "(SELECT w FROM words WHERE idx = "
        "CAST(('0x' || substr(md5('zhw{k}:' || CAST(doc_id AS VARCHAR)), 1, 4)) "
        f"AS BIGINT) % {n})"
    )
    txt = " || ".join(word.format(k=k) for k in range(_ZH_WORDS_PER_DOC))
    return f"""
WITH RECURSIVE words(idx, w) AS (VALUES {vals}),
zh AS (
  SELECT doc_id, {txt} AS txt FROM documents
),
seg AS (
  SELECT doc_id, txt, 1 AS pos, CAST(NULL AS VARCHAR) AS token FROM zh
  UNION ALL
  SELECT doc_id, txt, pos + length(tok) AS pos, tok AS token FROM (
    SELECT doc_id, txt, pos,
      coalesce(
        (SELECT w FROM words
          WHERE substr(txt, pos, length(w)) = w
          ORDER BY length(w) DESC LIMIT 1),
        substr(txt, pos, 1)) AS tok
    FROM seg WHERE pos <= length(txt)) s
), c AS (
  SELECT token, CAST(count(*) AS BIGINT) AS token_count
  FROM seg WHERE token IS NOT NULL GROUP BY 1
)
SELECT token, token_count,
       CAST(row_number() OVER (ORDER BY token_count DESC, token) AS INTEGER) AS rnk
FROM c QUALIFY rnk <= 100
"""


SQL_KEYWORD_TOP100_ZH = _zh_sql()

# ---------------------------------------------------------------------------
# Text quality scoring (LLM-pipeline surface)
# ---------------------------------------------------------------------------

_ALL_MARKERS = sorted({w for ms in LANG_MARKERS.values() for w in ms})
_MARKER_SQL_LIST = ", ".join(f"'{w}'" for w in _ALL_MARKERS)


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    feat = quality_features(docs, "text")
    return feat.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("sum_tokens"),
        F.sum(F.col("punct_ratio").cast(RATIO_DEC))
        .cast("double")
        .alias("sum_punct_ratio"),
        F.sum(F.col("stopword_ratio").cast(RATIO_DEC))
        .cast("double")
        .alias("sum_stopword_ratio"),
        F.sum("quality_ok").cast("long").alias("n_quality_ok"),
    )


SQL_TEXT_QUALITY = f"""
WITH feat AS (
  SELECT lang, source,
         len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> length(x) > 0)) AS n_tokens,
         length(text) AS n_chars_m,
         length(regexp_replace(text, '[^.,;:!?''"()\\[\\]{{}}-]', '', 'g')) AS n_punct,
         len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x IN ({_MARKER_SQL_LIST}))) AS stop_hits
  FROM documents
), scored AS (
  SELECT lang, source, n_tokens,
         round(CAST(n_punct AS DOUBLE) / greatest(n_chars_m, 1), 6) AS punct_ratio,
         round(CAST(stop_hits AS DOUBLE) / greatest(n_tokens, 1), 6) AS stopword_ratio
  FROM feat
)
SELECT lang, source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
       CAST(SUM(CAST(punct_ratio AS DECIMAL(12,6))) AS DOUBLE) AS sum_punct_ratio,
       CAST(SUM(CAST(stopword_ratio AS DECIMAL(12,6))) AS DOUBLE) AS sum_stopword_ratio,
       CAST(SUM(CASE WHEN n_tokens >= 5 AND punct_ratio < 0.3 THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_ok
FROM scored GROUP BY 1, 2
"""

# ---------------------------------------------------------------------------
# Soft quality classifier (fastText-style linear model, rational squash)
# ---------------------------------------------------------------------------


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document soft quality score — linear model over the quality
    features with an IEEE-exact rational squash (see
    functions/text.py:quality_score for why not exp-sigmoid)."""
    docs = read_table(spark, sf_dir, "documents")
    return quality_score(docs, "text").select(
        "doc_id", "n_tokens", "punct_ratio", "stopword_ratio",
        "quality_score", "quality_label",
    )


_QW = QUALITY_WEIGHTS

SQL_QUALITY_CLASSIFIER = f"""
WITH feat AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> length(x) > 0)) AS n_tokens,
         length(text) AS n_chars_m,
         length(regexp_replace(text, '[^.,;:!?''"()\\[\\]{{}}-]', '', 'g')) AS n_punct,
         len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x IN ({_MARKER_SQL_LIST}))) AS stop_hits
  FROM documents
), r AS (
  SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         round(CAST(n_punct AS DOUBLE) / greatest(n_chars_m, 1), 6) AS punct_ratio,
         round(CAST(stop_hits AS DOUBLE) / greatest(n_tokens, 1), 6) AS stopword_ratio
  FROM feat
), z AS (
  SELECT *,
         {_QW["bias"]} + {_QW["len_norm"]}
             * (CAST(least(n_tokens, 100) AS DOUBLE) / 100.0)
           + {_QW["punct_ratio"]} * punct_ratio
           + {_QW["stopword_ratio"]} * stopword_ratio AS zv
  FROM r
)
SELECT doc_id, n_tokens, punct_ratio, stopword_ratio,
       round(0.5 + 0.5 * zv / (1.0 + abs(zv)), 6) AS quality_score,
       CAST(CASE WHEN round(0.5 + 0.5 * zv / (1.0 + abs(zv)), 6) >= 0.5
                 THEN 1 ELSE 0 END AS INTEGER) AS quality_label
FROM z
"""


# ---------------------------------------------------------------------------
# Repetition scoring (Gopher-style rules) + PII redaction (LLM-pipeline
# surface): both pure codegen'd column/aggregate plans, both hash-checked.
# ---------------------------------------------------------------------------

def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return repetition_features(docs, "doc_id", "text")


SQL_TEXT_REPETITION = """
WITH tok AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> length(x) > 0) AS ts
  FROM documents
), grams AS (
  SELECT doc_id, 1 AS kind, unnest(ts) AS g FROM tok
  UNION ALL
  SELECT doc_id, 2 AS kind,
         unnest(list_transform(range(1, len(ts)),
                               i -> ts[i] || ' ' || ts[i+1])) AS g
  FROM tok
), counts AS (
  SELECT doc_id, kind, g, count(*) AS c FROM grams GROUP BY 1, 2, 3
), per_doc AS (
  SELECT doc_id,
         sum(CASE WHEN kind = 1 THEN c END) AS n_tok,
         max(CASE WHEN kind = 1 THEN c END) AS max_tok,
         sum(CASE WHEN kind = 1 THEN c * length(g) END) AS char_mass,
         sum(CASE WHEN kind = 2 THEN c END) AS n_big,
         max(CASE WHEN kind = 2 THEN c END) AS max_big
  FROM counts GROUP BY 1
)
SELECT doc_id,
       CAST(n_tok AS BIGINT) AS n_tokens_total,
       round(CAST(max_tok AS DOUBLE) / n_tok, 6) AS top_token_frac,
       coalesce(round(CAST(max_big AS DOUBLE) / greatest(n_big, 1), 6), 0.0)
         AS top_bigram_frac,
       round(CAST(char_mass AS DOUBLE) / n_tok, 6) AS mean_token_len,
       CAST(CASE WHEN n_tok >= 30
                  AND round(CAST(max_tok AS DOUBLE) / n_tok, 6) <= 0.12
                  AND round(CAST(char_mass AS DOUBLE) / n_tok, 6)
                      BETWEEN 3.0 AND 10.0
             THEN 1 ELSE 0 END AS INTEGER) AS repetition_ok
FROM per_doc
"""


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The fixture corpus carries no real PII, so a deterministic synthetic
    # contact suffix is appended first (same expression in the oracle) —
    # the redaction operator itself is what's under test.
    docs = read_table(spark, sf_dir, "documents")
    with_pii = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit("-2024"),
        ).alias("text"),
    )
    n_emails, n_phones = pii_counts(F.col("text"))
    return with_pii.select(
        "doc_id",
        n_emails.alias("n_emails"),
        n_phones.alias("n_phones"),
        pii_redact(F.col("text")).alias("scrubbed"),
    )


SQL_PII_SCRUB = f"""
WITH p AS (
  SELECT doc_id,
         text || ' contact user' || doc_id || '@example.com or +1-555-' ||
         lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || '-2024' AS text
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{PII_EMAIL_PATTERN}')) AS INTEGER)
         AS n_emails,
       CAST(len(regexp_extract_all(text, '{PII_PHONE_PATTERN}')) AS INTEGER)
         AS n_phones,
       regexp_replace(
         regexp_replace(text, '{PII_EMAIL_PATTERN}', '[EMAIL]', 'g'),
         '{PII_PHONE_PATTERN}', '[PHONE]', 'g') AS scrubbed
FROM p
"""

# ---------------------------------------------------------------------------
# Language ID (LLM-pipeline surface): heuristic prediction vs labeled lang
# ---------------------------------------------------------------------------

def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return (
        docs.withColumn("pred_lang", language_id(F.col("text")))
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _lang_hits_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in LANG_MARKERS[lang])
    return (
        f"len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), "
        f"x -> x IN ({words})))"
    )


SQL_LANG_ID = f"""
WITH h AS (
  SELECT lang,
         regexp_matches(text, '[一-鿿]') AS has_cjk,
         {_lang_hits_sql('de')} AS h_de,
         {_lang_hits_sql('en')} AS h_en,
         {_lang_hits_sql('es')} AS h_es,
         {_lang_hits_sql('fr')} AS h_fr
  FROM documents
), p AS (
  SELECT lang,
         CASE WHEN has_cjk THEN 'zh'
              WHEN h_de > 0 AND h_de >= h_en AND h_de >= h_es AND h_de >= h_fr THEN 'de'
              WHEN h_en > 0 AND h_en >= h_de AND h_en >= h_es AND h_en >= h_fr THEN 'en'
              WHEN h_es > 0 AND h_es >= h_de AND h_es >= h_en AND h_es >= h_fr THEN 'es'
              WHEN h_fr > 0 AND h_fr >= h_de AND h_fr >= h_en AND h_fr >= h_es THEN 'fr'
              ELSE 'und' END AS pred_lang
  FROM h
)
SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n
FROM p GROUP BY 1, 2
"""

# ---------------------------------------------------------------------------
# Dedup: exact (md5 fingerprint)
# ---------------------------------------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return exact_dedup(docs, "doc_id", "text")


SQL_DEDUP_EXACT = r"""
SELECT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fingerprint,
       CAST(MIN(doc_id) AS BIGINT) AS keep_id,
       CAST(count(*) AS BIGINT) AS dup_count
FROM documents GROUP BY 1
"""

# ---------------------------------------------------------------------------
# Dedup: word-set Jaccard near-dup pairs (exact inverted-index variant)
# ---------------------------------------------------------------------------

_JACCARD_THRESHOLD = 0.1


def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        docs, "doc_id", "text", threshold=_JACCARD_THRESHOLD, n=3
    )


# word 3-gram shingles: generate_series over token positions, 1-based
# inclusive list slice — mirrors dedup.shingle_rows exactly (short docs yield
# one truncated shingle on both sides; docs with zero tokens yield no rows)
_SHINGLES_SQL = """
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           generate_series(1, greatest(len(toks) - 2, 1)),
           i -> array_to_string(toks[i:i+2], ' ')))) AS token
  FROM (
    SELECT doc_id,
           list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                       x -> length(x) > 0) AS toks
    FROM documents
  )
  WHERE len(toks) > 0
"""

def _sql_dedup_jaccard(threshold: float) -> str:
    return f"""
WITH toks_f AS (
{_SHINGLES_SQL}
), sizes AS (
  SELECT doc_id, count(*) AS set_size FROM toks_f GROUP BY 1
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
  FROM toks_f a JOIN toks_f b ON a.token = b.token AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(CAST(i AS DOUBLE) / (sa.set_size + sb.set_size - i), 6) AS jaccard
FROM inter
JOIN sizes sa ON id_a = sa.doc_id
JOIN sizes sb ON id_b = sb.doc_id
WHERE round(CAST(i AS DOUBLE) / (sa.set_size + sb.set_size - i), 6) >= {threshold}
"""


SQL_DEDUP_JACCARD = _sql_dedup_jaccard(_JACCARD_THRESHOLD)

# ---------------------------------------------------------------------------
# Dedup: prefix-filtered exact Jaccard (SSJoin/PPJoin) — identical semantics
# to dedup_jaccard at its own threshold, so the oracle is the SAME exact SQL;
# the point of the variant is the plan, not the answer: candidate generation
# joins only the rarest-shingle prefixes (hot-shingle skew immunity at scale)
# ---------------------------------------------------------------------------

# 0.8 is the prefix filter's design regime: prefix size is
# |A| - ceil(t|A|) + 1, so t=0.8 indexes only the rarest ~20% of each doc's
# shingles (t=0.4 would index 60% and generate ~40x the candidate pairs for
# the identical final answer — this corpus's true near-dups all sit at
# J >= 0.8, verified against the oracle at 0.4/0.6/0.8)
_JACCARD_PREFIX_THRESHOLD = 0.8


def q_dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return jaccard_prefix_pairs(
        docs, "doc_id", "text", threshold=_JACCARD_PREFIX_THRESHOLD, n=3
    )


SQL_DEDUP_JACCARD_PREFIX = _sql_dedup_jaccard(_JACCARD_PREFIX_THRESHOLD)

# ---------------------------------------------------------------------------
# Similarity search: exact brute-force cosine top-k (oracle via DuckDB
# list_cosine_similarity on DOUBLE[], bit-identical to the sequential
# double fold — verified)
# ---------------------------------------------------------------------------

def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    return brute_force_topk(emb, queries, k=5)


SQL_SIMILARITY_TOPK = """
WITH q AS (
  SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id % 50 = 0
), c AS (
  SELECT vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS nv FROM embeddings
), s AS (
  SELECT q_id, n_id, list_cosine_similarity(qv, nv) AS cs
  FROM q CROSS JOIN c WHERE q_id <> n_id
)
SELECT q_id, n_id,
       CAST(row_number() OVER (PARTITION BY q_id ORDER BY cs DESC, n_id) AS INTEGER) AS rnk,
       round(cs, 6) AS cos_sim
FROM s QUALIFY rnk <= 5
"""

# ---------------------------------------------------------------------------
# Embedding-cosine near-dup pairs
# ---------------------------------------------------------------------------

# testdata embeddings are near-random (max pairwise cosine ~0.48 at sf0.001)
# — 0.35 keeps the output non-trivial but bounded
_COS_THRESHOLD = 0.35


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    # n_blocks="auto" (r7): block count sized from the corpus so every
    # GEMM task's score matrix stays ~target_block_rows^2 at ANY sf
    return cosine_near_dup_pairs(
        emb, threshold=_COS_THRESHOLD, n_blocks="auto"
    )


SQL_EMBEDDING_NEAR_DUP = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.v, b.v), 6) >= {_COS_THRESHOLD}
"""

# ---------------------------------------------------------------------------
# uv_daily_approx: HyperLogLog++ sketch estimates are engine-internal and not
# bit-reproducible in DuckDB, so the raw estimate can never hash-match. The
# registered query instead emits a CHECKABLE contract: the exact count plus a
# boolean asserting the sketch landed within its published error bound
# (3 standard deviations of rsd). The oracle recomputes the exact count and
# asserts TRUE — the hash matches iff the HLL estimate honored its contract.
# ---------------------------------------------------------------------------

_UV_RSD = 0.02


def q_uv_daily_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB UV path is approx_count_distinct (HyperLogLog++) alone —
    sketch states merge map-side, so the shuffle carries one sketch per group
    instead of the distinct keys themselves. This verification query runs the
    sketch NEXT TO the exact aggregate (one shuffle — both aggregates share
    the groupBy) and emits whether the estimate sits within 3*rsd of exact,
    making the approximate operator oracle-checkable: the DuckDB side asserts
    approx_ok = TRUE, so a sketch that drifts out of tolerance hash-fails."""
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy(_dt().alias("dt"))
        .agg(
            F.countDistinct("user_id").alias("uv_exact"),
            F.approx_count_distinct("user_id", rsd=_UV_RSD).alias("_approx"),
        )
        .select(
            "dt",
            "uv_exact",
            (
                F.abs(F.col("_approx") - F.col("uv_exact"))
                <= F.greatest(
                    F.lit(1.0), F.lit(3.0 * _UV_RSD) * F.col("uv_exact")
                )
            ).alias("approx_ok"),
        )
    )


SQL_UV_DAILY_APPROX = """
SELECT strftime(CAST(date_trunc('day', ts) AS DATE), '%Y-%m-%d') AS dt,
       CAST(count(DISTINCT user_id) AS BIGINT) AS uv_exact,
       TRUE AS approx_ok
FROM events GROUP BY 1
"""


_MINHASH_N = 32
_MINHASH_BANDS = 8
_MINHASH_THRESHOLD = 0.5


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # portable=True: md5-family hashes + md5 band buckets, bit-identical in
    # DuckDB — the whole LSH pipeline (signatures, banding, candidate set,
    # agreement estimate) is oracle-checked, not just row counts
    docs = read_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(
        docs,
        "doc_id",
        "text",
        num_hashes=_MINHASH_N,
        bands=_MINHASH_BANDS,
        threshold=_MINHASH_THRESHOLD,
        portable=True,
    )


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # max_hamming=3 is the exact-recall bound of the 4x16-bit pigeonhole
    # blocking (any pair at hamming <= 3 must agree on one chunk).
    # portable=True: 60-bit md5 token hashes — the oracle recomputes every
    # simhash and brute-forces the hamming join, so the blocked candidate
    # generation is verified recall-exact, not just plausible.
    docs = read_table(spark, sf_dir, "documents")
    return simhash_pairs(docs, "doc_id", "text", max_hamming=3, portable=True)


# ---------------------------------------------------------------------------
# Dedup clustering: near-dup PAIRS -> duplicate CLUSTERS via distributed
# connected components (iterative min-label propagation; see
# functions/dedup.connected_components). The oracle computes the same
# components with a DuckDB recursive CTE — an iterative Spark algorithm
# checked against declarative recursion.
# ---------------------------------------------------------------------------

_CLUSTER_THRESHOLD = 0.8


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    pairs = jaccard_prefix_pairs(
        docs, "doc_id", "text", threshold=_CLUSTER_THRESHOLD, n=3
    )
    return connected_components(pairs)


SQL_DEDUP_CLUSTERS = f"""
WITH RECURSIVE pairs AS (
  SELECT id_a, id_b FROM ({_sql_dedup_jaccard(_CLUSTER_THRESHOLD)})
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
), nodes AS (
  SELECT DISTINCT src AS node FROM edges
), reach(node, label) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.src, r.label FROM reach r JOIN edges e ON e.dst = r.node
)
SELECT node, CAST(min(label) AS BIGINT) AS component
FROM reach GROUP BY node
"""


def q_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full dedup pipeline end-to-end: exact-Jaccard pairs -> connected
    components -> keep the LONGEST doc per cluster (ties to smallest id).
    Singleton docs (no near-dup) are their own cluster and always kept."""
    docs = read_table(spark, sf_dir, "documents")
    pairs = jaccard_prefix_pairs(
        docs, "doc_id", "text", threshold=_CLUSTER_THRESHOLD, n=3
    )
    comps = connected_components(pairs)
    return select_canonical(docs, comps, "doc_id", "n_chars")


SQL_DEDUP_CANONICAL = f"""
WITH RECURSIVE pairs AS (
  SELECT id_a, id_b FROM ({_sql_dedup_jaccard(_CLUSTER_THRESHOLD)})
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
), nodes AS (
  SELECT DISTINCT src AS node FROM edges
), reach(node, label) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.src, r.label FROM reach r JOIN edges e ON e.dst = r.node
), comp AS (
  SELECT node, CAST(min(label) AS BIGINT) AS component
  FROM reach GROUP BY node
)
SELECT d.doc_id,
       CAST(COALESCE(c.component, d.doc_id) AS BIGINT) AS component,
       CAST(CASE WHEN row_number() OVER (
             PARTITION BY COALESCE(c.component, d.doc_id)
             ORDER BY d.n_chars DESC, d.doc_id) = 1
            THEN 1 ELSE 0 END AS INTEGER) AS keep
FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
"""


_SPLIT_VALID_FRACTION = 0.10


def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/valid split: near-dup CLUSTERS (not documents)
    are the split unit, so two near-duplicate documents can never land on
    opposite sides of the split — the standard guard against train/valid
    contamination when corpora carry near-dups (the failure mode
    benchmark decontamination catches after the fact, prevented here at
    split time). Assignment hashes the cluster id with the same md5
    convention as hash_sample, so the split is deterministic, layout-
    independent, and ~cluster-weighted (a big dup cluster moves as one).
    Returns (doc_id, component, split) for every document; singletons are
    their own cluster."""
    docs = read_table(spark, sf_dir, "documents")
    pairs = jaccard_prefix_pairs(
        docs, "doc_id", "text", threshold=_CLUSTER_THRESHOLD, n=3
    )
    comps = connected_components(pairs)
    comp = F.coalesce(F.col("component"), F.col("doc_id"))
    is_valid = F.substring(
        F.md5(comp.cast("string")), 1, 8
    ) < sample_threshold(_SPLIT_VALID_FRACTION)
    return carry_cache(
        docs.select("doc_id")
        .join(
            comps.select(
                F.col("node").alias("doc_id"), F.col("component")
            ),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            comp.alias("component"),
            F.when(is_valid, F.lit("valid"))
            .otherwise(F.lit("train"))
            .alias("split"),
        ),
        comps,  # CC checkpoint blocks, releasable after materialization
    )


SQL_LEAKAGE_SAFE_SPLIT = f"""
WITH RECURSIVE pairs AS (
  SELECT id_a, id_b FROM ({_sql_dedup_jaccard(_CLUSTER_THRESHOLD)})
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
), nodes AS (
  SELECT DISTINCT src AS node FROM edges
), reach(node, label) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.src, r.label FROM reach r JOIN edges e ON e.dst = r.node
), comp AS (
  SELECT node, CAST(min(label) AS BIGINT) AS component
  FROM reach GROUP BY node
)
SELECT d.doc_id,
       CAST(COALESCE(c.component, d.doc_id) AS BIGINT) AS component,
       CASE WHEN substr(md5(CAST(COALESCE(c.component, d.doc_id)
                               AS VARCHAR)), 1, 8)
                 < '{sample_threshold(_SPLIT_VALID_FRACTION)}'
            THEN 'valid' ELSE 'train' END AS split
FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
"""


# The 60-bit md5 hash, identical to dedup._md5_long (parity-tested Spark
# conv(substr(md5(x),1,15),16,10) == DuckDB ('0x'||substr(md5(x),1,15))::BIGINT)
def _sql_md5_long(expr: str) -> str:
    return f"('0x' || substr(md5({expr}), 1, 15))::BIGINT"


_MINHASH_R = _MINHASH_N // _MINHASH_BANDS


def _sql_dedup_minhash_lsh(bands: int) -> str:
    """Faithful SQL re-implementation of the portable MinHash+LSH pipeline
    under an explicit band count: signatures (min over shingles per family
    member), md5 band buckets, distinct same-bucket candidates,
    slot-agreement estimate. Shared by the fixed-banding query and the
    auto-banding query (whose band count the Python side derives with the
    SAME pure function the operator uses)."""
    r = _MINHASH_N // bands
    return f"""
WITH toks_f AS (
{_SHINGLES_SQL}
), members AS (
  SELECT unnest(generate_series(0, {_MINHASH_N - 1})) AS i
), hashes AS (
  -- one-pass family: ONE md5 digest per shingle sliced into two 60-bit
  -- base hashes, member i =
  -- h1 XOR rotl60(h2, i) as overflow-safe arithmetic (dedup._portable_mix)
  SELECT doc_id, i,
         min(CASE WHEN i = 0 THEN xor(h1, h2)
                  ELSE xor(h1, (h2 % (1::BIGINT << (60 - i))) * (1::BIGINT << i)
                               + h2 // (1::BIGINT << (60 - i)))
             END) AS sig
  FROM (
    SELECT doc_id, {_sql_md5_long("token")} AS h1,
           ('0x' || substr(md5(token), 16, 15))::BIGINT AS h2
    FROM toks_f
  ) CROSS JOIN members
  GROUP BY doc_id, i
), bands AS (
  SELECT doc_id, i // {r} AS band,
         md5(string_agg(CAST(sig AS VARCHAR), ',' ORDER BY i)) AS bucket
  FROM hashes GROUP BY doc_id, i // {r}
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
              AND a.doc_id < b.doc_id
), agree AS (
  SELECT c.id_a, c.id_b,
         sum(CASE WHEN ha.sig = hb.sig THEN 1 ELSE 0 END) AS n_agree
  FROM cand c
  JOIN hashes ha ON ha.doc_id = c.id_a
  JOIN hashes hb ON hb.doc_id = c.id_b AND hb.i = ha.i
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(CAST(n_agree AS DOUBLE) / {_MINHASH_N}, 6) AS est_jaccard
FROM agree
WHERE round(CAST(n_agree AS DOUBLE) / {_MINHASH_N}, 6) >= {_MINHASH_THRESHOLD}
"""


SQL_DEDUP_MINHASH_LSH = _sql_dedup_minhash_lsh(_MINHASH_BANDS)

# Auto-banding operating point for the Jaccard family: at the registered
# (num_hashes=32, threshold=0.5) the smallest divisor holding 0.9
# candidate recall is 16 bands (recall at b=8 is only ~0.40) — derived at
# import by the SAME pure function the operator resolves "auto" with, and
# mirrored band-for-band in the oracle.
_MINHASH_AB_RECALL = 0.9
_MINHASH_AB_BANDS = recommended_minhash_bands(
    _MINHASH_N, _MINHASH_THRESHOLD, _MINHASH_AB_RECALL
)

SQL_DEDUP_MINHASH_AUTO = _sql_dedup_minhash_lsh(_MINHASH_AB_BANDS)


def q_dedup_minhash_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`q_dedup_minhash_lsh` under RECALL-TARGETED auto-banding
    (bands="auto"): the operator derives the smallest num_hashes divisor
    holding 0.9 candidate recall for pairs at the 0.5 threshold —
    dedup.recommended_minhash_bands, the Jaccard twin of the SRP family's
    derived banding. The oracle hard-codes the same derived count through
    the same pure function, so the driver hash-checks the derived banding
    geometry (a drift in the divisor search shifts candidate sets and the
    value hash)."""
    docs = read_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(
        docs,
        "doc_id",
        "text",
        num_hashes=_MINHASH_N,
        bands="auto",
        threshold=_MINHASH_THRESHOLD,
        portable=True,
        band_recall=_MINHASH_AB_RECALL,
    )

# SimHash oracle: recompute every 60-bit simhash, then BRUTE-FORCE the
# hamming join over all pairs — verifying that the engine's pigeonhole
# blocking is recall-exact, not merely internally consistent.
_SIMHASH_BITS_SQL = " + ".join(
    f"(CASE WHEN 2 * sum((h >> {i}) & 1) > count(*) "
    f"THEN (CAST(1 AS BIGINT) << {i}) ELSE 0 END)"
    for i in range(60)
)

SQL_DEDUP_SIMHASH = f"""
WITH tok AS (
  SELECT doc_id, {_sql_md5_long("t")} AS h
  FROM (
    SELECT doc_id,
           unnest(list_distinct(list_filter(
             string_split_regex(lower(text), '[^a-z0-9]+'),
             x -> length(x) > 0))) AS t
    FROM documents
  )
), sh AS (
  SELECT doc_id, {_SIMHASH_BITS_SQL} AS sh
  FROM tok GROUP BY doc_id
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sh, b.sh)) <= 3
"""


_LSH_PLANES = 8
_LSH_DIM = 64


def q_similarity_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The SRP hyperplanes are md5-derived (similarity._srp_plane; shipped
    # Spark-side as one broadcast data row since r10), so the whole
    # approximate pipeline — bucket assignment, candidate restriction,
    # within-bucket exact cosine, top-k — is deterministic and reproduced
    # bit-for-bit by the SQL oracle below (whose literals come from the
    # same function). The oracle checks the APPROXIMATION ITSELF (which
    # neighbors the buckets admit), not a brute-force relaxation of it.
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    return lsh_bucket_topk(emb, queries, k=5, n_planes=_LSH_PLANES, dim=_LSH_DIM)


def _sql_srp_bucket(
    vec: str,
    n_planes: int = _LSH_PLANES,
    dim: int = _LSH_DIM,
    plane_offset: int = 0,
) -> str:
    """SRP bucket id as a SQL expression over a DOUBLE[] column.

    Mirrors similarity._srp_bucket exactly: per plane, the projection is the
    left-to-right sum of v[i]*coeff (same order as Spark's sequential
    F.aggregate fold; identical decimal literals parse to identical
    doubles), and the bucket ORs together sign bits (disjoint bits, so SUM
    == bitwise OR). ``plane_offset`` selects the plane family — band b of
    the banded index (similarity._srp_band_bucket) is
    ``plane_offset = b * n_planes``."""
    terms = []
    for p in range(n_planes):
        coeffs = _srp_plane(plane_offset + p, dim)
        proj = " + ".join(
            f"{vec}[{j + 1}]*({c!r})" for j, c in enumerate(coeffs)
        )
        terms.append(f"(CASE WHEN ({proj}) >= 0 THEN {1 << p} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


SQL_SIMILARITY_LSH_TOPK = f"""
WITH q AS (
  SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id % 50 = 0
), c AS (
  SELECT vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS nv FROM embeddings
), qb AS (
  SELECT q_id, qv, {_sql_srp_bucket('qv')} AS bucket FROM q
), cb AS (
  SELECT n_id, nv, {_sql_srp_bucket('nv')} AS bucket FROM c
), s AS (
  SELECT q_id, n_id, list_cosine_similarity(qv, nv) AS cs
  FROM qb JOIN cb USING (bucket) WHERE q_id <> n_id
)
SELECT q_id, n_id,
       CAST(row_number() OVER (PARTITION BY q_id ORDER BY cs DESC, n_id) AS INTEGER) AS rnk,
       round(cs, 6) AS cos_sim
FROM s QUALIFY rnk <= 5
"""


_ANN_INC_BANDS = 4
_ANN_INC_PLANES = 8
_ANN_INC_THRESHOLD = 0.35


def q_ann_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-level incremental near-dup admission (the vector-space
    twin of `dedup_incremental`): the id-older half of the embeddings
    table plays the already-admitted corpus, the id-newer half the
    incoming batch; every incoming vector gets a keep/dup verdict with
    its best match by exact cosine. Candidates come from a 4-band x
    8-plane SRP band index (similarity.srp_band_buckets) — the oracle
    reproduces the banding bit-for-bit (md5-derived hyperplane literals),
    so the driver hash-checks the APPROXIMATION itself, not a brute-force
    relaxation. The streaming ingest (start_incremental_ann_stream)
    persists this exact index per batch."""
    emb = read_table(spark, sf_dir, "embeddings")
    half = emb.agg((F.max("vec_id") / 2).cast("long").alias("_half"))
    ex = (
        emb.crossJoin(F.broadcast(half))
        .filter(F.col("vec_id") <= F.col("_half"))
        .drop("_half")
    )
    inc = (
        emb.crossJoin(F.broadcast(half))
        .filter(F.col("vec_id") > F.col("_half"))
        .drop("_half")
    )
    verdicts = incremental_cosine_dedup(
        ex,
        inc,
        "vec_id",
        "embedding",
        threshold=_ANN_INC_THRESHOLD,
        n_bands=_ANN_INC_BANDS,
        n_planes=_ANN_INC_PLANES,
        dim=_LSH_DIM,
    )
    # carry the cache-ownership tag through the rename so release_cache on
    # the registered result actually frees the builder's persists (ADVICE r4)
    return carry_cache(
        verdicts.select(
            F.col("id").alias("vec_id"), "keep", "dup_of", "cos_sim"
        ),
        verdicts,
    )


def _sql_srp_band_rows(
    src: str,
    n_bands: int | None = None,
    n_planes: int | None = None,
) -> str:
    """UNION ALL of one SELECT per band over ``src`` (an (id, v) relation),
    each computing that band's bucket with its own plane family — mirrors
    similarity.srp_band_buckets."""
    n_bands = _ANN_INC_BANDS if n_bands is None else n_bands
    n_planes = _ANN_INC_PLANES if n_planes is None else n_planes
    return "\n  UNION ALL ".join(
        f"SELECT id, v, {b} AS band, "
        + _sql_srp_bucket(
            "v", n_planes, _LSH_DIM, plane_offset=b * n_planes
        )
        + f" AS bucket FROM {src}"
        for b in range(n_bands)
    )


def _sql_ann_incremental(n_bands: int, n_planes: int) -> str:
    """Full incremental-admission oracle under an explicit (B, P) banding
    — shared by the fixed-banding query and the auto-banding query (whose
    B the Python side derives with the SAME pure function the operator
    uses, so the driver hash-checks the derived geometry bit-for-bit)."""
    return f"""
WITH e AS (
  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), half AS (
  SELECT max(id) // 2 AS h FROM e
), ex AS (
  SELECT id, v FROM e, half WHERE id <= h
), inc AS (
  SELECT id, v FROM e, half WHERE id > h
), bx AS (
  {_sql_srp_band_rows('ex', n_bands, n_planes)}
), bi AS (
  {_sql_srp_band_rows('inc', n_bands, n_planes)}
), cand AS (
  SELECT DISTINCT a.id AS id, b.id AS m_id, a.v AS va, b.v AS vb
  FROM bi a
  JOIN (SELECT *, FALSE AS is_inc FROM bx
        UNION ALL SELECT *, TRUE AS is_inc FROM bi) b
    ON a.band = b.band AND a.bucket = b.bucket
   AND (NOT b.is_inc OR b.id < a.id)
), m AS (
  SELECT id, m_id, round(list_cosine_similarity(va, vb), 6) AS cos
  FROM cand
  WHERE round(list_cosine_similarity(va, vb), 6) >= {_ANN_INC_THRESHOLD}
), best AS (
  SELECT id, m_id, cos,
         row_number() OVER (PARTITION BY id ORDER BY cos DESC, m_id) AS rn
  FROM m
)
SELECT i.id AS vec_id,
       CAST(CASE WHEN b.m_id IS NULL THEN 1 ELSE 0 END AS INT) AS keep,
       b.m_id AS dup_of, b.cos AS cos_sim
FROM inc i LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (id)
"""


SQL_ANN_INCREMENTAL = _sql_ann_incremental(_ANN_INC_BANDS, _ANN_INC_PLANES)

# Auto-banding operating point: a deliberately narrow P (4 planes) so the
# recall formula demands MORE than the default 4 bands at the registered
# threshold — the derived B is a pure function of (P, threshold, recall),
# computable here at import time and mirrored band-for-band in the oracle.
_ANN_AB_PLANES = 4
_ANN_AB_RECALL = 0.9
_ANN_AB_BANDS = recommended_n_bands(
    _ANN_AB_PLANES, _ANN_INC_THRESHOLD, _ANN_AB_RECALL
)

SQL_ANN_AUTO_BANDS = _sql_ann_incremental(_ANN_AB_BANDS, _ANN_AB_PLANES)


def q_ann_auto_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`q_ann_incremental` under RECALL-TARGETED auto-banding
    (n_bands="auto", the round-9 operator wiring of BASELINE.md's
    raise-bands remedy): P is pinned narrow (4 planes) so holding 0.9
    candidate recall at the 0.35 threshold forces the operator to derive
    B = recommended_n_bands(4, 0.35, 0.9) > 4 inside the plan. The oracle
    reproduces that exact B (same pure function at module import), so the
    driver hash-checks the derived banding geometry itself — a wrong B on
    either side shifts candidate sets and the value hash."""
    emb = read_table(spark, sf_dir, "embeddings")
    half = emb.agg((F.max("vec_id") / 2).cast("long").alias("_half"))
    ex = (
        emb.crossJoin(F.broadcast(half))
        .filter(F.col("vec_id") <= F.col("_half"))
        .drop("_half")
    )
    inc = (
        emb.crossJoin(F.broadcast(half))
        .filter(F.col("vec_id") > F.col("_half"))
        .drop("_half")
    )
    verdicts = incremental_cosine_dedup(
        ex,
        inc,
        "vec_id",
        "embedding",
        threshold=_ANN_INC_THRESHOLD,
        n_bands="auto",
        n_planes=_ANN_AB_PLANES,
        dim=_LSH_DIM,
        band_recall=_ANN_AB_RECALL,
    )
    return carry_cache(
        verdicts.select(
            F.col("id").alias("vec_id"), "keep", "dup_of", "cos_sim"
        ),
        verdicts,
    )


def q_similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Registered with n_probe == n_centroids: every cell is probed, so IVF
    # degrades provably to exact brute force and the brute-force SQL oracle
    # applies — the driver hash-checks the full IVF machinery (centroid
    # selection, cell assignment, probe routing, per-cell GEMM, global
    # merge) instead of recording a rows-only result. The approximate
    # operating point (n_probe < n_centroids) is the same code path,
    # recall-tested in tests/test_llm_pipeline.py.
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    return ivf_topk(emb, queries, k=5, n_centroids=16, n_probe=16)


# ---------------------------------------------------------------------------
# Multimodal plumbing (functions/multimodal.py): synthesize a deterministic
# fake media table from documents, then decode / frame-sample / feature-dedup
# through the real binary-column mapInPandas path. Metadata derives
# arithmetically from doc_id + byte lengths, and the feature extractor is an
# exact integer byte-histogram projection (md5-derived weights), so ALL three
# multimodal queries are fully oracle-checked.
# ---------------------------------------------------------------------------

def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return decode_media(synthesize_media(docs)).select(
        "media_id", "media_type", "width", "height", "body_bytes"
    )


SQL_MULTIMODAL_DECODE = """
SELECT doc_id AS media_id,
       (['image','audio','video'])[(doc_id % 3) + 1] AS media_type,
       CAST(64 + (doc_id % 32) * 16 AS INTEGER) AS width,
       CAST(64 + (doc_id % 24) * 16 AS INTEGER) AS height,
       CAST(octet_length(encode(text)) AS BIGINT) AS body_bytes
FROM documents
"""


def q_multimodal_header_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only media scan, zero Python workers: the header parse is
    pure codegen'd column expressions (functions/multimodal.py::
    decode_media_headers_sql), so unlike `multimodal_decode` the plan has
    no Arrow/pandas stage at all — the shape a 100 TB routing/stats pass
    over a media corpus should take when it never touches payload bytes.
    Plan-asserted Python-free in tests/test_multimodal.py."""
    docs = read_table(spark, sf_dir, "documents")
    return (
        decode_media_headers_sql(synthesize_media(docs))
        .groupBy("media_type")
        .agg(
            F.count(F.lit(1)).alias("n_media"),
            F.sum("width").cast("long").alias("sum_width"),
            F.sum("height").cast("long").alias("sum_height"),
            F.sum("body_bytes").cast("long").alias("sum_body_bytes"),
        )
        .orderBy("media_type")
    )


SQL_MULTIMODAL_HEADER_SCAN = """
SELECT (['image','audio','video'])[(doc_id % 3) + 1] AS media_type,
       CAST(COUNT(*) AS BIGINT) AS n_media,
       CAST(SUM(64 + (doc_id % 32) * 16) AS BIGINT) AS sum_width,
       CAST(SUM(64 + (doc_id % 24) * 16) AS BIGINT) AS sum_height,
       CAST(SUM(octet_length(encode(text))) AS BIGINT) AS sum_body_bytes
FROM documents GROUP BY 1 ORDER BY 1
"""


def q_audio_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real audio-codec path (VERDICT r05 #8): ``synthesize_wav`` writes
    genuine RIFF/PCM16 payloads whose parameters derive arithmetically
    from (doc_id, text); ``scan_audio_metadata`` (VERDICT r6 #7) parses
    them back two-tier — canonical 44-byte headers entirely in
    whole-stage codegen, anything else through the pure-stdlib WAV chunk
    walker (functions/wav.py). The oracle recomputes the expected
    metadata directly from the documents table, so hash equality proves
    the encode -> header-parse round trip — sample rate, channel count,
    frame count, and floor-division duration all survive the binary
    container."""
    docs = read_table(spark, sf_dir, "documents")
    # persist_input measured and declined (r7): the router's two branches
    # re-run the synth stage, but re-synthesizing costs ~0.13 s at sf0.1
    # while persisting 5k binary payloads costs ~0.6 s (min-of-5: 0.68 s
    # recompute vs 1.30 s persisted) — the knob is for genuinely
    # expensive derived upstreams, which this arithmetic synth is not
    meta = scan_audio_metadata(synthesize_wav(docs))
    return (
        meta.groupBy("sample_rate", "n_channels")
        .agg(
            F.count(F.lit(1)).alias("n_media"),
            F.sum("n_frames").alias("sum_frames"),
            F.sum("duration_ms").alias("sum_duration_ms"),
            F.sum("bits_per_sample").cast("long").alias("sum_bits"),
        )
        .orderBy("sample_rate", "n_channels")
    )


SQL_AUDIO_METADATA = """
-- COALESCE matches the engine's 0-frame contract for NULL text (ADVICE
-- r6): synthesize_wav writes a 0-frame WAV for NULL, while a bare
-- SUM(length(text)) would skip the row and go NULL on an all-NULL group.
SELECT CAST(8000 + (doc_id % 4) * 4000 AS INTEGER) AS sample_rate,
       CAST(1 + (doc_id // 4) % 2 AS INTEGER) AS n_channels,
       CAST(COUNT(*) AS BIGINT) AS n_media,
       CAST(SUM(COALESCE(length(text), 0)) AS BIGINT) AS sum_frames,
       CAST(SUM((1000 * COALESCE(length(text), 0))
                // (8000 + (doc_id % 4) * 4000))
            AS BIGINT) AS sum_duration_ms,
       CAST(SUM(16) AS BIGINT) AS sum_bits
FROM documents GROUP BY 1, 2 ORDER BY 1, 2
"""


_FRAME_STRIDE = 32


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    frames = sample_frames(synthesize_media(docs), frame_stride=_FRAME_STRIDE)
    return frames.groupBy("media_id").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.sum(F.length("frame")).alias("frame_bytes"),
    )


SQL_MULTIMODAL_FRAMES = f"""
SELECT doc_id AS media_id,
       CAST(ceil(greatest(octet_length(encode(text)), 1) / {_FRAME_STRIDE}.0)
            AS BIGINT) AS n_frames,
       CAST(octet_length(encode(text)) AS BIGINT) AS frame_bytes
FROM documents WHERE doc_id % 3 = 2
"""


_FEATURE_DEDUP_THRESHOLD = 0.999


def q_multimodal_feature_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # media -> byte-histogram feature (exact int64 arithmetic, md5-derived
    # weights) -> blocked-GEMM cosine pairs. Because the feature vectors are
    # integer-valued, both engines score IDENTICAL vectors and the pair set
    # hash-matches; the oracle rebuilds the histogram, the projection matrix,
    # and the cosine join in SQL.
    docs = read_table(spark, sf_dir, "documents")
    feats = extract_features(synthesize_media(docs), dim=64)
    return cosine_near_dup_pairs(
        feats,
        threshold=_FEATURE_DEDUP_THRESHOLD,
        id_col="media_id",
        vec_col="embedding",
        # auto block sizing (r7): 5k docs at sf0.1 -> 3 blocks / 6 GEMM
        # groups instead of a fixed 8 -> 36; same O(n^2) dot products,
        # bounded score-matrix memory at any sf
        n_blocks="auto",
    )


SQL_MULTIMODAL_FEATURE_DEDUP = f"""
WITH hx AS (
  SELECT doc_id, hex(encode(text)) AS h, octet_length(encode(text)) AS n
  FROM documents
), bytes AS (
  SELECT doc_id, ('0x' || substr(h, 2*i + 1, 2))::BIGINT AS b
  FROM (SELECT doc_id, h, unnest(range(n)) AS i FROM hx)
), hist AS (
  SELECT doc_id, b, count(*) AS cnt FROM bytes GROUP BY doc_id, b
), w AS (
  SELECT bb.b, jj.j,
         (('0x' || substr(md5('feat:' || bb.b || ':' || jj.j), 1, 15))::BIGINT
          % 2001 - 1000) AS wt
  FROM (SELECT unnest(range(256)) AS b) bb
  CROSS JOIN (SELECT unnest(range(64)) AS j) jj
), feat AS (
  SELECT h.doc_id, w.j, CAST(sum(h.cnt * w.wt) AS DOUBLE) AS fv
  FROM hist h JOIN w ON h.b = w.b GROUP BY h.doc_id, w.j
), vecs AS (
  SELECT doc_id, list(fv ORDER BY j) AS v FROM feat GROUP BY doc_id
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
FROM vecs a JOIN vecs b ON a.doc_id < b.doc_id
WHERE round(list_cosine_similarity(a.v, b.v), 6) >= {_FEATURE_DEDUP_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# As-of join: each event enriched with the customer's most recent order as of
# the event time (extended surface — the versioned-dim analogue of J2's
# point lookup, DimAsyncFunction.java:46-72; see operators/asof.py).
# Union-and-window formulation: one shuffle, no range-join explosion.
# DuckDB has a native ASOF JOIN, which is the oracle.
# ---------------------------------------------------------------------------

def q_asof_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    orders = read_table(spark, sf_dir, "orders")
    joined = asof_join(
        ev,
        orders,
        left_key="user_id",
        right_key="o_custkey",
        left_ts="ts",
        right_ts="o_orderdate",
        payload_cols=["o_orderkey", "o_totalprice", "o_orderstatus"],
        tiebreak_col="o_orderkey",
    )
    return joined.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("event_ts"),
        "o_orderkey",
        F.round("o_totalprice", 2).alias("o_totalprice"),
        "o_orderstatus",
    )


SQL_ASOF_LATEST_ORDER = """
WITH o AS (
    SELECT * FROM orders
    QUALIFY row_number() OVER (
        PARTITION BY o_custkey, o_orderdate ORDER BY o_orderkey DESC) = 1
)
SELECT e.event_id,
       e.user_id,
       strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS event_ts,
       o.o_orderkey,
       round(o.o_totalprice, 2) AS o_totalprice,
       o.o_orderstatus
FROM events e
ASOF LEFT JOIN o ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
"""

# ---------------------------------------------------------------------------
# Deterministic hash sampling (extended surface — functions/sampling.py):
# reproducible 10% corpus sample keyed on the business key; the sampling
# predicate is the identical md5 expression in both engines.
# ---------------------------------------------------------------------------

_SAMPLE_FRACTION = 0.1


def q_sample_hash_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    sampled = hash_sample(
        li,
        F.concat_ws("-", "l_orderkey", "l_linenumber"),
        _SAMPLE_FRACTION,
    )
    return sampled.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.expr(_REV)).cast("double").alias("revenue"),
    )


SQL_SAMPLE_HASH_REVENUE = f"""
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
            AS DOUBLE) AS revenue
FROM lineitem
WHERE substr(md5(l_orderkey || '-' || l_linenumber), 1, 8)
      < '{sample_threshold(_SAMPLE_FRACTION)}'
GROUP BY 1
"""

# ---------------------------------------------------------------------------
# Stratified sampling: exactly k docs per language, deterministic md5 order.
# ---------------------------------------------------------------------------

_STRATUM_K = 20


def q_sample_stratified_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return stratified_sample(
        docs, stratum_col="lang", key_col="doc_id", k=_STRATUM_K
    ).select("doc_id", "lang", "source")


SQL_SAMPLE_STRATIFIED_DOCS = f"""
SELECT doc_id, lang, source
FROM documents
QUALIFY row_number() OVER (
    PARTITION BY lang
    ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id
) <= {_STRATUM_K}
"""


_WEIGHTED_K = 20


def q_weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-proportional sampling without replacement (Efraimidis &
    Spirakis A-ES): 20 documents per source, inclusion probability
    proportional to token count — the curation move for 'prefer long
    documents but keep the draw unbiased and reproducible'."""
    docs = read_table(spark, sf_dir, "documents")
    cand = docs.select(
        "doc_id",
        "source",
        token_count(F.col("text")).cast("long").alias("n_tokens"),
    )
    return weighted_sample(
        cand, "doc_id", "n_tokens", k=_WEIGHTED_K, stratum_col="source"
    )


SQL_WEIGHTED_SAMPLE_DOCS = f"""
WITH t AS (
  SELECT doc_id, source,
         CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                              x -> length(x) > 0)) AS BIGINT) AS n_tokens
  FROM documents
), s AS (
  SELECT doc_id, source, n_tokens,
         -ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
               AS BIGINT) + 0.5) / 4294967296.0) / n_tokens AS score
  FROM t WHERE n_tokens IS NOT NULL AND n_tokens > 0
)
SELECT doc_id, source, n_tokens
FROM s
QUALIFY row_number() OVER (
    PARTITION BY source ORDER BY score, doc_id
) <= {_WEIGHTED_K}
"""

# ---------------------------------------------------------------------------
# Corpus curation: the canonical LLM training-data pipeline as ONE composed
# query — quality filter -> language-agreement filter -> exact dedup ->
# deterministic 50% sample. Each stage is an engine operator; the whole
# composition stays one declarative plan (Catalyst fuses the narrow stages;
# the only shuffle is the dedup window on fingerprint).
# ---------------------------------------------------------------------------

_CURATION_FRACTION = 0.5


def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    feat = quality_features(docs, "text").filter(F.col("quality_ok") == 1)
    lang_ok = feat.withColumn("pred_lang", language_id(F.col("text"))).filter(
        F.col("pred_lang") == F.col("lang")
    )
    deduped = lang_ok.withColumn(
        "fingerprint", doc_fingerprint(F.col("text"))
    ).withColumn(
        "_rn",
        F.row_number().over(
            Window.partitionBy("fingerprint").orderBy("doc_id")
        ),
    ).filter(F.col("_rn") == 1)
    sampled = hash_sample(deduped, "doc_id", _CURATION_FRACTION)
    return sampled.select(
        "doc_id", "lang", "source", F.col("n_tokens").cast("long").alias("n_tokens")
    )


SQL_CORPUS_CURATION = f"""
WITH feat AS (
  SELECT doc_id, lang, source, text,
         len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> length(x) > 0)) AS n_tokens,
         length(text) AS n_chars_m,
         length(regexp_replace(text, '[^.,;:!?''"()\\[\\]{{}}-]', '', 'g')) AS n_punct,
         regexp_matches(text, '[一-鿿]') AS has_cjk,
         {_lang_hits_sql('de')} AS h_de,
         {_lang_hits_sql('en')} AS h_en,
         {_lang_hits_sql('es')} AS h_es,
         {_lang_hits_sql('fr')} AS h_fr
  FROM documents
), q AS (
  SELECT * FROM feat
  WHERE n_tokens >= 5
    AND round(CAST(n_punct AS DOUBLE) / greatest(n_chars_m, 1), 6) < 0.3
), l AS (
  SELECT *,
         CASE WHEN has_cjk THEN 'zh'
              WHEN h_de > 0 AND h_de >= h_en AND h_de >= h_es AND h_de >= h_fr THEN 'de'
              WHEN h_en > 0 AND h_en >= h_de AND h_en >= h_es AND h_en >= h_fr THEN 'en'
              WHEN h_es > 0 AND h_es >= h_de AND h_es >= h_en AND h_es >= h_fr THEN 'es'
              WHEN h_fr > 0 AND h_fr >= h_de AND h_fr >= h_en AND h_fr >= h_es THEN 'fr'
              ELSE 'und' END AS pred_lang
  FROM q
), d AS (
  SELECT * FROM l WHERE pred_lang = lang
  QUALIFY row_number() OVER (
      PARTITION BY md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))
      ORDER BY doc_id) = 1
)
SELECT doc_id, lang, source, CAST(n_tokens AS BIGINT) AS n_tokens
FROM d
WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
      < '{sample_threshold(_CURATION_FRACTION)}'
"""

# ---------------------------------------------------------------------------
# Token n-gram curation: decontamination, span-duplication, chunking
# (LLM-pipeline surface; no reference counterpart)
# ---------------------------------------------------------------------------

_DECONTAM_N = 8
_DECONTAM_EVAL_FRACTION = 0.10

# shared DuckDB prelude: tokenized documents + the deterministic eval split
_SQL_TOKS = f"""
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> length(x) > 0) AS t,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
             < '{sample_threshold(_DECONTAM_EVAL_FRACTION)}' AS is_eval
  FROM documents
"""


def q_decontam_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: a deterministic md5 split carves ~10% of
    documents off as the "benchmark" set; every remaining training doc is
    audited for 8-gram overlap with it (broadcast the benchmark grams —
    benchmarks are MBs even when the corpus is 100 TB)."""
    docs = read_table(spark, sf_dir, "documents")
    eval_df = hash_sample(docs, "doc_id", _DECONTAM_EVAL_FRACTION)
    train = docs.join(
        F.broadcast(eval_df.select("doc_id")), "doc_id", "left_anti"
    )
    return decontaminate(train, eval_df, "doc_id", "text", n=_DECONTAM_N)


SQL_DECONTAM_OVERLAP = f"""
WITH toks AS ({_SQL_TOKS}
), grams AS (
  SELECT doc_id, is_eval, array_to_string(t[i:i+{_DECONTAM_N - 1}], ' ') AS g
  FROM toks, unnest(range(1, CAST(len(t) AS BIGINT) - {_DECONTAM_N} + 2)) AS u(i)
), eg AS (
  SELECT DISTINCT g FROM grams WHERE is_eval
), hits AS (
  SELECT grams.doc_id, CAST(count(DISTINCT grams.g) AS BIGINT) AS n_overlap_grams
  FROM grams JOIN eg USING (g)
  WHERE NOT grams.is_eval
  GROUP BY grams.doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(h.n_overlap_grams, 0) AS BIGINT) AS n_overlap_grams,
       CAST(CASE WHEN COALESCE(h.n_overlap_grams, 0) > 0
                 THEN 1 ELSE 0 END AS INTEGER) AS contaminated
FROM toks d LEFT JOIN hits h USING (doc_id)
WHERE NOT d.is_eval
"""


def q_span_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-span fraction (Lee et al. 2022 metric,
    inverted-gram-index formulation)."""
    docs = read_table(spark, sf_dir, "documents")
    return span_dup_stats(docs, "doc_id", "text", n=_DECONTAM_N)


SQL_SPAN_DUP = f"""
WITH toks AS ({_SQL_TOKS}
), grams AS (
  SELECT DISTINCT doc_id,
         md5(array_to_string(t[i:i+{_DECONTAM_N - 1}], ' ')) AS gh
  FROM toks, unnest(range(1, CAST(len(t) AS BIGINT) - {_DECONTAM_N} + 2)) AS u(i)
), f AS (
  SELECT doc_id, count(*) OVER (PARTITION BY gh) AS n_docs FROM grams
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_grams,
       round(CAST(sum(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS dup_frac
FROM f GROUP BY doc_id
"""


def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal duplicated token spans (Lee et al. 2022 removal targets):
    every corpus-duplicated n-gram occurrence, interval-merged per document
    into its maximal [span_start, span_end] token range."""
    docs = read_table(spark, sf_dir, "documents")
    spans = dup_span_rows(docs, "doc_id", "text", n=_DECONTAM_N)
    # carry_cache: if the hot-gram guard fires organically the builder
    # persists the gram stream and tags `spans`; .orderBy would drop the
    # Python-side tag and the harness's release_cache would no-op (ADVICE r8)
    return carry_cache(spans.orderBy("doc_id", "span_start"), spans)


# Island merge mirrors the Spark window: a new span starts when the gap
# between consecutive duplicated-gram start positions exceeds n (intervals
# of length n overlap or touch up to a gap of exactly n).
SQL_DUP_SPANS = f"""
WITH toks AS ({_SQL_TOKS}
), grams AS (
  SELECT doc_id, i - 1 AS pos,
         md5(array_to_string(t[i:i+{_DECONTAM_N - 1}], ' ')) AS gh
  FROM toks, unnest(range(1, CAST(len(t) AS BIGINT) - {_DECONTAM_N} + 2)) AS u(i)
), dup AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos, count(*) OVER (PARTITION BY gh) AS n_occ FROM grams
  ) WHERE n_occ > 1
), brk AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                   > {_DECONTAM_N} THEN 1 ELSE 0 END AS b
  FROM dup
), isl AS (
  SELECT doc_id, pos,
         sum(b) OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM brk
)
SELECT doc_id,
       CAST(min(pos) AS INT) AS span_start,
       CAST(max(pos) + {_DECONTAM_N - 1} AS INT) AS span_end
FROM isl GROUP BY doc_id, island
ORDER BY doc_id, span_start
"""


def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring dedup (the REMOVAL half of Lee et al. 2022): cut
    every maximal duplicated span out of its document; emit per-doc token
    accounting plus an md5 of the cleaned text so the oracle verifies the
    surviving CONTENT, not just the counts."""
    docs = read_table(spark, sf_dir, "documents")
    out = remove_dup_spans(docs, "doc_id", "text", n=_DECONTAM_N)
    # carry_cache: organic hot-gram guard firing tags `out` with the
    # persisted gram stream; .select drops Python attrs (ADVICE r8)
    return carry_cache(
        out.select(
            "doc_id",
            "total_tokens",
            "n_spans",
            "dup_tokens",
            "kept_tokens",
            F.md5("clean_text").alias("clean_md5"),
        ),
        out,
    )


SQL_SUBSTRING_DEDUP = f"""
WITH toks AS ({_SQL_TOKS}
), grams AS (
  SELECT doc_id, i - 1 AS pos,
         md5(array_to_string(t[i:i+{_DECONTAM_N - 1}], ' ')) AS gh
  FROM toks, unnest(range(1, CAST(len(t) AS BIGINT) - {_DECONTAM_N} + 2)) AS u(i)
), dup AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos, count(*) OVER (PARTITION BY gh) AS n_occ FROM grams
  ) WHERE n_occ > 1
), brk AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                   > {_DECONTAM_N} THEN 1 ELSE 0 END AS b
  FROM dup
), isl AS (
  SELECT doc_id, pos,
         sum(b) OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM brk
), spans AS (
  SELECT doc_id, min(pos) AS s, max(pos) + {_DECONTAM_N - 1} AS e
  FROM isl GROUP BY doc_id, island
), toks_pos AS (
  SELECT doc_id, t[i] AS tok, i - 1 AS p
  FROM toks, unnest(range(1, CAST(len(t) AS BIGINT) + 1)) AS u(i)
), kept AS (
  SELECT tp.doc_id, tp.tok, tp.p
  FROM toks_pos tp
  WHERE NOT EXISTS (
    SELECT 1 FROM spans s
    WHERE s.doc_id = tp.doc_id AND tp.p BETWEEN s.s AND s.e
  )
), kept_agg AS (
  SELECT doc_id, count(*) AS kept,
         string_agg(tok, ' ' ORDER BY p) AS txt
  FROM kept GROUP BY doc_id
), span_agg AS (
  SELECT doc_id, count(*) AS n_spans, sum(e - s + 1) AS dup_tokens
  FROM spans GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(coalesce(len(t.t), 0) AS BIGINT) AS total_tokens,
       CAST(coalesce(sa.n_spans, 0) AS BIGINT) AS n_spans,
       CAST(coalesce(sa.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       CAST(coalesce(ka.kept, 0) AS BIGINT) AS kept_tokens,
       md5(coalesce(ka.txt, '')) AS clean_md5
FROM toks t
LEFT JOIN span_agg sa USING (doc_id)
LEFT JOIN kept_agg ka USING (doc_id)
"""


# 12 lowercase-alnum tokens -> 5 pure-boilerplate grams at n=8, each with
# row share ~1/(avg_doc_tokens + 12) ~= 1.5% on the driver testdata — far
# over the forced 0.5% threshold, far under broadcast concern
_HOTGRAM_BOILER = (
    "all rights reserved by the original author and publisher of this work"
)


def q_substring_dedup_hotgram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring dedup THROUGH the hot-gram escape hatch (VERDICT
    r7 #1): every document is prefixed with the same boilerplate sentence
    — the universal-gram scenario whose occurrence count the plain window
    funnels through one sort task — and the guard is forced deterministic
    (profile over every doc, threshold 0.5% < the ~1.5% boilerplate-gram
    share) so those grams take the salted-count + broadcast-probe path at
    every sf. The oracle is the same full-content SQL as
    ``substring_dedup`` over the prefixed corpus: the hatch must not
    change a single byte of the cleaned text (clean_md5 compared)."""
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.lit(_HOTGRAM_BOILER + " "), F.col("text")).alias("text"),
    )
    out = remove_dup_spans(
        docs, "doc_id", "text", n=_DECONTAM_N,
        gram_sample_fraction=1.0, gram_share_threshold=0.005,
    )
    # The forced-hot hatch ALWAYS persists the gram stream and tags `out`;
    # .select drops the Python-side tag, so without carry_cache the
    # harness's release_cache(sdf) no-ops and the MEMORY_AND_DISK cache
    # leaks for the session on every oracle/driver run (ADVICE r8).
    return carry_cache(
        out.select(
            "doc_id",
            "total_tokens",
            "n_spans",
            "dup_tokens",
            "kept_tokens",
            F.md5("clean_text").alias("clean_md5"),
        ),
        out,
    )


_SQL_TOKS_HOTGRAM = f"""
  SELECT doc_id,
         list_filter(string_split_regex(lower('{_HOTGRAM_BOILER} ' || text),
                                        '[^a-z0-9]+'),
                     x -> length(x) > 0) AS t,
         FALSE AS is_eval
  FROM documents
"""

# identical span/cut logic, swapped token source — the hatch is a plan
# choice, so the oracle is literally substring_dedup's SQL on the
# prefixed corpus
SQL_SUBSTRING_DEDUP_HOTGRAM = SQL_SUBSTRING_DEDUP.replace(
    _SQL_TOKS, _SQL_TOKS_HOTGRAM
)


def q_substring_scrub_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental substring scrub: the id-older half of the corpus plays
    the already-ingested reference (its distinct gram hashes = the
    persisted index), the id-newer half the incoming batch — every span of
    the batch whose grams repeat within the batch or appear anywhere in
    the reference is cut (streaming twin:
    ``streaming.pipelines.start_incremental_span_scrub_stream``)."""
    docs = read_table(spark, sf_dir, "documents")
    half = docs.agg((F.max("doc_id") / 2).cast("long").alias("_half"))
    seen_docs = (
        docs.crossJoin(F.broadcast(half))
        .filter(F.col("doc_id") <= F.col("_half"))
        .drop("_half")
    )
    inc = (
        docs.crossJoin(F.broadcast(half))
        .filter(F.col("doc_id") > F.col("_half"))
        .drop("_half")
    )
    seen_grams = gram_rows(seen_docs, "doc_id", "text", _DECONTAM_N).select(
        F.md5(F.col("g")).alias("gh")
    )
    cleaned, _grams = incremental_span_scrub(
        seen_grams, inc, "doc_id", "text", n=_DECONTAM_N
    )
    return cleaned.select(
        "doc_id",
        "total_tokens",
        "n_spans",
        "dup_tokens",
        "kept_tokens",
        F.md5("clean_text").alias("clean_md5"),
    )


SQL_SUBSTRING_SCRUB_INCREMENTAL = f"""
WITH toks AS ({_SQL_TOKS}
), half AS (
  -- floor, not bare CAST: DuckDB ROUNDS double->bigint casts while Spark
  -- cast(double as long) truncates; an odd max(doc_id) would shift the
  -- boundary doc across the seen/incoming split
  SELECT CAST(floor(max(doc_id) / 2) AS BIGINT) AS h FROM documents
), seen AS (
  SELECT DISTINCT md5(array_to_string(t[i:i+{_DECONTAM_N - 1}], ' ')) AS gh
  FROM toks, half,
       unnest(range(1, CAST(len(t) AS BIGINT) - {_DECONTAM_N} + 2)) AS u(i)
  WHERE doc_id <= h
), inc AS (
  SELECT doc_id, t FROM toks, half WHERE doc_id > h
), grams AS (
  SELECT doc_id, i - 1 AS pos,
         md5(array_to_string(t[i:i+{_DECONTAM_N - 1}], ' ')) AS gh
  FROM inc, unnest(range(1, CAST(len(t) AS BIGINT) - {_DECONTAM_N} + 2)) AS u(i)
), dup AS (
  SELECT doc_id, pos FROM (
    SELECT g.doc_id, g.pos,
           count(*) OVER (PARTITION BY g.gh) AS n_occ,
           s.gh IS NOT NULL AS in_seen
    FROM grams g LEFT JOIN seen s USING (gh)
  ) WHERE n_occ > 1 OR in_seen
), brk AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                   > {_DECONTAM_N} THEN 1 ELSE 0 END AS b
  FROM dup
), isl AS (
  SELECT doc_id, pos,
         sum(b) OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM brk
), spans AS (
  SELECT doc_id, min(pos) AS s, max(pos) + {_DECONTAM_N - 1} AS e
  FROM isl GROUP BY doc_id, island
), toks_pos AS (
  SELECT doc_id, t[i] AS tok, i - 1 AS p
  FROM inc, unnest(range(1, CAST(len(t) AS BIGINT) + 1)) AS u(i)
), kept AS (
  SELECT tp.doc_id, tp.tok, tp.p
  FROM toks_pos tp
  WHERE NOT EXISTS (
    SELECT 1 FROM spans s
    WHERE s.doc_id = tp.doc_id AND tp.p BETWEEN s.s AND s.e
  )
), kept_agg AS (
  SELECT doc_id, count(*) AS kept,
         string_agg(tok, ' ' ORDER BY p) AS txt
  FROM kept GROUP BY doc_id
), span_agg AS (
  SELECT doc_id, count(*) AS n_spans, sum(e - s + 1) AS dup_tokens
  FROM spans GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(coalesce(len(t.t), 0) AS BIGINT) AS total_tokens,
       CAST(coalesce(sa.n_spans, 0) AS BIGINT) AS n_spans,
       CAST(coalesce(sa.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       CAST(coalesce(ka.kept, 0) AS BIGINT) AS kept_tokens,
       md5(coalesce(ka.txt, '')) AS clean_md5
FROM inc t
LEFT JOIN span_agg sa USING (doc_id)
LEFT JOIN kept_agg ka USING (doc_id)
"""


def q_decontam_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surgical benchmark decontamination: instead of DROPPING a
    contaminated training document (``decontam_overlap`` flags them), cut
    ONLY the spans whose 8-grams appear in the benchmark set and keep the
    rest — ``incremental_span_scrub`` with the within-batch rule off, so
    the plan is a gram semi-join against the broadcast-sized benchmark
    grams plus the island/cut machinery."""
    docs = read_table(spark, sf_dir, "documents")
    eval_df = hash_sample(docs, "doc_id", _DECONTAM_EVAL_FRACTION)
    train = docs.join(
        F.broadcast(eval_df.select("doc_id")), "doc_id", "left_anti"
    )
    eval_grams = gram_rows(eval_df, "doc_id", "text", _DECONTAM_N).select(
        F.md5(F.col("g")).alias("gh")
    )
    cleaned, _grams = incremental_span_scrub(
        eval_grams, train, "doc_id", "text", n=_DECONTAM_N,
        within_batch=False,
    )
    return cleaned.select(
        "doc_id",
        "total_tokens",
        "n_spans",
        "dup_tokens",
        "kept_tokens",
        F.md5("clean_text").alias("clean_md5"),
    )


SQL_DECONTAM_SCRUB = f"""
WITH toks AS ({_SQL_TOKS}
), seen AS (
  SELECT DISTINCT md5(array_to_string(t[i:i+{_DECONTAM_N - 1}], ' ')) AS gh
  FROM toks, unnest(range(1, CAST(len(t) AS BIGINT) - {_DECONTAM_N} + 2)) AS u(i)
  WHERE is_eval
), tr AS (
  SELECT doc_id, t FROM toks WHERE NOT is_eval
), grams AS (
  SELECT doc_id, i - 1 AS pos,
         md5(array_to_string(t[i:i+{_DECONTAM_N - 1}], ' ')) AS gh
  FROM tr, unnest(range(1, CAST(len(t) AS BIGINT) - {_DECONTAM_N} + 2)) AS u(i)
), dup AS (
  SELECT DISTINCT g.doc_id, g.pos FROM grams g JOIN seen USING (gh)
), brk AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                   > {_DECONTAM_N} THEN 1 ELSE 0 END AS b
  FROM dup
), isl AS (
  SELECT doc_id, pos,
         sum(b) OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM brk
), spans AS (
  SELECT doc_id, min(pos) AS s, max(pos) + {_DECONTAM_N - 1} AS e
  FROM isl GROUP BY doc_id, island
), toks_pos AS (
  SELECT doc_id, t[i] AS tok, i - 1 AS p
  FROM tr, unnest(range(1, CAST(len(t) AS BIGINT) + 1)) AS u(i)
), kept AS (
  SELECT tp.doc_id, tp.tok, tp.p
  FROM toks_pos tp
  WHERE NOT EXISTS (
    SELECT 1 FROM spans s
    WHERE s.doc_id = tp.doc_id AND tp.p BETWEEN s.s AND s.e
  )
), kept_agg AS (
  SELECT doc_id, count(*) AS kept,
         string_agg(tok, ' ' ORDER BY p) AS txt
  FROM kept GROUP BY doc_id
), span_agg AS (
  SELECT doc_id, count(*) AS n_spans, sum(e - s + 1) AS dup_tokens
  FROM spans GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(coalesce(len(t.t), 0) AS BIGINT) AS total_tokens,
       CAST(coalesce(sa.n_spans, 0) AS BIGINT) AS n_spans,
       CAST(coalesce(sa.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       CAST(coalesce(ka.kept, 0) AS BIGINT) AS kept_tokens,
       md5(coalesce(ka.txt, '')) AS clean_md5
FROM tr t
LEFT JOIN span_agg sa USING (doc_id)
LEFT JOIN kept_agg ka USING (doc_id)
"""


_BPE_TOP_N = 50


def q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE training step (Sennrich et al. 2016): adjacent character
    pairs weighted by word frequency, top-50 merge candidates. Iterates
    on the vocabulary-sized word-count table, never the corpus — the
    property that makes tokenizer training tractable at 100 TB."""
    docs = read_table(spark, sf_dir, "documents")
    return char_pair_counts(docs, "text", top_n=_BPE_TOP_N)


SQL_BPE_PAIR_COUNTS = f"""
WITH toks AS ({_SQL_TOKS}
), w AS (
  SELECT tok AS word, CAST(count(*) AS BIGINT) AS n
  FROM toks, unnest(t) AS u(tok)
  GROUP BY 1
), p AS (
  SELECT substr(word, CAST(i AS INTEGER), 1) || ' ' ||
         substr(word, CAST(i AS INTEGER) + 1, 1) AS pair,
         n
  FROM w, unnest(range(1, length(word))) AS u(i)
  WHERE length(word) >= 2
)
SELECT pair, CAST(sum(n) AS BIGINT) AS n_occurrences
FROM p GROUP BY 1
ORDER BY 2 DESC, 1
LIMIT {_BPE_TOP_N}
"""


_BPE_MERGES = 6
_BPE_PASSES = 3


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full BPE training loop: 6 merge steps learned distributed, one
    1-row model-state collect per step (the k-means pattern). The oracle
    replays the whole trajectory — pair counts, argmax, and every
    merge-application regex pass — so the training loop itself is
    hash-gated, not just its first iteration."""
    docs = read_table(spark, sf_dir, "documents")
    return learn_bpe(
        docs, "text", n_merges=_BPE_MERGES, passes_per_merge=_BPE_PASSES
    )


def _bpe_apply_expr(base: str, step: int, passes: int) -> str:
    """``passes`` nested global regexp_replace calls whose pattern and
    replacement come from step ``step``'s argmax CTE."""
    expr = base
    for _ in range(passes):
        expr = (
            f"regexp_replace({expr},"
            f" (SELECT ' ' || pair || ' ' FROM b{step}),"
            f" (SELECT ' ' || replace(pair, ' ', '') || ' ' FROM b{step}),"
            f" 'g')"
        )
    return expr


def _bpe_cte_prefix(n_merges: int, passes: int) -> list[str]:
    """Unrolled DuckDB replay of ``learn_bpe``: per step, a pair-count CTE,
    a 1-row argmax CTE, and the merge applied to the vocabulary — the exact
    same leftmost non-overlapping semantics Java's replaceAll applies.
    MATERIALIZED throughout: inlined CTEs would re-expand the whole chain
    at every reference (6 references per step) — exponential blowup."""
    ctes = [
        f"toks AS ({_SQL_TOKS}\n)",
        """w0 AS MATERIALIZED (
  SELECT ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') AS r, n
  FROM (SELECT tok AS word, CAST(count(*) AS BIGINT) AS n
        FROM toks, unnest(t) AS u(tok) GROUP BY 1)
)""",
    ]
    for i in range(n_merges):
        ctes.append(
            f"""p{i} AS MATERIALIZED (
  SELECT s[j] || ' ' || s[j + 1] AS pair, n
  FROM (SELECT string_split(trim(r), ' ') AS s, n FROM w{i}) t,
       unnest(range(1, len(s))) AS u(j)
  WHERE len(s) >= 2
)"""
        )
        ctes.append(
            f"""b{i} AS MATERIALIZED (
  SELECT pair, CAST(sum(n) AS BIGINT) AS cnt FROM p{i}
  GROUP BY 1 ORDER BY cnt DESC, pair LIMIT 1
)"""
        )
        ctes.append(
            f"w{i + 1} AS MATERIALIZED (\n"
            f"  SELECT {_bpe_apply_expr('r', i, passes)} AS r, n FROM w{i}\n)"
        )
    return ctes


def _bpe_merges_sql(n_merges: int, passes: int) -> str:
    unions = "\nUNION ALL ".join(
        f"SELECT CAST({i} AS INTEGER) AS step, pair, cnt AS n_occurrences"
        f" FROM b{i}"
        for i in range(n_merges)
    )
    return (
        "WITH " + ",\n".join(_bpe_cte_prefix(n_merges, passes)) + "\n" + unions
    )


def _bpe_encode_sql(n_merges: int, passes: int) -> str:
    """Doc-side replay: the same learned argmax CTEs drive the same nested
    replaces over every document's spaced-symbol string (`|` word
    boundaries can never merge — learned pairs are [a-z0-9] only)."""
    ctes = _bpe_cte_prefix(n_merges, passes)
    ctes.append(
        """d0 AS MATERIALIZED (
  SELECT doc_id, t,
         ' ' || array_to_string(
             list_transform(t, w -> regexp_replace(w, '(.)', '\\1 ', 'g')),
             '| ') AS r
  FROM toks
)"""
    )
    for i in range(n_merges):
        ctes.append(
            f"d{i + 1} AS MATERIALIZED (\n"
            f"  SELECT doc_id, t, {_bpe_apply_expr('r', i, passes)} AS r"
            f" FROM d{i}\n)"
        )
    final = f"""SELECT doc_id,
       CAST(CASE WHEN len(t) = 0 THEN 0
                 ELSE length(array_to_string(t, '')) END AS BIGINT)
           AS n_symbols_raw,
       CAST(CASE WHEN len(t) = 0 THEN 0
                 ELSE len(list_filter(string_split(trim(r), ' '),
                                      s -> s != '|')) END AS BIGINT)
           AS n_symbols_bpe
FROM d{n_merges}"""
    return "WITH " + ",\n".join(ctes) + "\n" + final


SQL_BPE_MERGES = _bpe_merges_sql(_BPE_MERGES, _BPE_PASSES)
SQL_BPE_ENCODE = _bpe_encode_sql(_BPE_MERGES, _BPE_PASSES)


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer encode: learn the 6-step merge table, then apply it to
    every document and report per-doc symbol counts before/after — the
    compression the learned vocabulary buys. The merge list is the only
    state crossing to the driver (6 rows); the encode pass is entirely
    narrow."""
    docs = read_table(spark, sf_dir, "documents")
    merge_pairs = [
        r["pair"]
        for r in learn_bpe(
            docs, "text", n_merges=_BPE_MERGES, passes_per_merge=_BPE_PASSES
        )
        .orderBy("step")
        .collect()
    ]
    return apply_bpe(
        docs, "doc_id", "text", merge_pairs, passes_per_merge=_BPE_PASSES
    )


_WINNOW_K = 5
_WINNOW_W = 4
_WINNOW_MIN_SHARED = 2


def q_winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint overlap (Schleimer et al. 2003): documents
    sharing >= 2 winnowed k-gram fingerprints — catches PARTIAL copies
    (a lifted paragraph) that whole-document Jaccard misses. Per-doc
    phase is one exchange (gram lead + sliding min share a sort); the
    pair phase is an inverted-index join on the fingerprint value."""
    docs = read_table(spark, sf_dir, "documents")
    return winnow_overlap_pairs(
        docs,
        "doc_id",
        "text",
        k=_WINNOW_K,
        w=_WINNOW_W,
        min_shared=_WINNOW_MIN_SHARED,
    )


SQL_WINNOW_OVERLAP = f"""
WITH toks AS ({_SQL_TOKS}
), g AS (
  SELECT doc_id,
         CAST(i - 1 AS BIGINT) AS pos,
         CAST(('0x' || substr(md5(array_to_string(t[i:i+{_WINNOW_K - 1}],
                                                  ' ')), 1, 15)) AS BIGINT)
             AS gh,
         greatest(CAST(len(t) AS BIGINT) - {_WINNOW_K - 1}, 1) AS n_grams
  FROM toks,
       unnest(range(1, greatest(CAST(len(t) AS BIGINT) - {_WINNOW_K - 1}, 1)
                       + 1)) AS u(i)
  WHERE len(t) > 0
), wm AS (
  SELECT doc_id,
         min(gh) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN CURRENT ROW
                       AND {_WINNOW_W - 1} FOLLOWING) AS fp,
         pos, n_grams
  FROM g
), fps AS (
  SELECT DISTINCT doc_id, fp FROM wm
  WHERE pos <= greatest(n_grams - {_WINNOW_W}, 0)
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(count(*) AS BIGINT) AS n_shared
FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING count(*) >= {_WINNOW_MIN_SHARED}
"""


_CHUNK_SIZE = 32
_CHUNK_STRIDE = 24


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (chunk 32, stride 24) — the packing
    step before sequence assembly. Entirely narrow: zero shuffles."""
    docs = read_table(spark, sf_dir, "documents")
    return chunk_documents(
        docs, "doc_id", "text", chunk_size=_CHUNK_SIZE, stride=_CHUNK_STRIDE
    )


SQL_DOC_CHUNKS = f"""
WITH toks AS ({_SQL_TOKS}
)
SELECT doc_id,
       CAST((i - 1) // {_CHUNK_STRIDE} AS INTEGER) AS chunk_id,
       CAST(least({_CHUNK_SIZE}, len(t) - i + 1) AS INTEGER) AS n_chunk_tokens,
       array_to_string(t[i:i+{_CHUNK_SIZE - 1}], ' ') AS chunk_text
FROM toks, unnest(range(1, CAST(len(t) AS BIGINT) + 1, {_CHUNK_STRIDE})) AS u(i)
"""


# ---------------------------------------------------------------------------
# Domain-mix sampling + embedding quantization (LLM-pipeline surface)
# ---------------------------------------------------------------------------


def q_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sqrt-temperature domain mixture over the skewed ``lang`` column:
    every domain downsampled toward the smallest at rate sqrt(n_min/n_d).
    The output is the exact kept membership — the strongest possible
    cross-engine check of the sampler."""
    docs = read_table(spark, sf_dir, "documents")
    kept = domain_mix_sample(docs, "lang", "doc_id", alpha=0.5)
    return kept.select("doc_id", "lang", "source")


SQL_DOMAIN_MIX = """
WITH c AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_d FROM documents GROUP BY lang
), m AS (
  SELECT min(n_d) AS n_min FROM c
), r AS (
  SELECT lang, sqrt(CAST(n_min AS DOUBLE) / n_d) AS rate FROM c, m
)
SELECT d.doc_id, d.lang, d.source
FROM documents d JOIN r USING (lang)
WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
      / 4294967296.0 < r.rate
"""


def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization of the embeddings table;
    the comma-joined int vector makes the value hash element-exact."""
    emb = read_table(spark, sf_dir, "embeddings")
    return quantize_embeddings(emb, "vec_id", "embedding", bits=8)


SQL_EMBED_QUANTIZE = """
WITH s AS (
  SELECT vec_id AS id, embedding AS v,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127
             AS scale
  FROM embeddings
)
SELECT id,
       CAST(len(v) AS INTEGER) AS n_dims,
       round(scale, 6) AS scale,
       array_to_string(list_transform(v, x ->
           CAST(CASE WHEN scale = 0 THEN 0
                ELSE greatest(-127, least(127,
                     floor(CAST(x AS DOUBLE) / scale + 0.5)))
           END AS INTEGER)), ',') AS q
FROM s
"""


def q_distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-5 distinctive tokens by tf/df (log-free TF-IDF
    core — identical ranking, exactly-reproducible values)."""
    docs = read_table(spark, sf_dir, "documents")
    return distinctive_terms(docs, "doc_id", "text", k=5)


SQL_DISTINCTIVE_TERMS = """
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                            x -> length(x) > 0)) AS token
  FROM documents
), tf AS (
  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
  FROM toks GROUP BY doc_id, token
), dfreq AS (
  SELECT token, CAST(count(*) AS BIGINT) AS doc_freq FROM tf GROUP BY token
)
SELECT doc_id, token, tf, doc_freq,
       CAST(row_number() OVER (
            PARTITION BY doc_id
            ORDER BY CAST(tf AS DOUBLE) / doc_freq DESC, token)
            AS INTEGER) AS rnk,
       round(CAST(tf AS DOUBLE) / doc_freq, 6) AS score
FROM tf JOIN dfreq USING (token)
QUALIFY rnk <= 5
"""


def q_similarity_topk_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k inner-product search over int8-quantized vectors — the
    compressed-corpus variant of ``similarity_topk``. Integer dot products
    make the approximation itself exactly reproducible cross-engine."""
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    return quantized_topk(emb, queries, k=5)


SQL_SIMILARITY_TOPK_INT8 = """
WITH s AS (
  SELECT vec_id AS id, embedding AS v,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127
             AS scale
  FROM embeddings
), qz AS (
  SELECT id, scale,
         list_transform(v, x ->
             CASE WHEN scale = 0 THEN 0.0
                  ELSE greatest(-127, least(127,
                       floor(CAST(x AS DOUBLE) / scale + 0.5)))
             END) AS q
  FROM s
), sc AS (
  SELECT a.id AS q_id, b.id AS n_id,
         (a.scale * b.scale) * list_dot_product(a.q, b.q) AS score
  FROM qz a JOIN qz b ON a.id % 50 = 0 AND a.id <> b.id
)
SELECT q_id, n_id,
       CAST(row_number() OVER (PARTITION BY q_id ORDER BY score DESC, n_id)
            AS INTEGER) AS rnk,
       round(score, 6) AS score
FROM sc QUALIFY rnk <= 5
"""


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental LSH dedup: the id-older half of the corpus plays the
    already-curated index, the id-newer half the incoming batch. Every
    incoming doc gets a keep/dup verdict with its best match."""
    docs = read_table(spark, sf_dir, "documents")
    half = docs.agg((F.max("doc_id") / 2).cast("long").alias("_half"))
    ex = (
        docs.crossJoin(F.broadcast(half))
        .filter(F.col("doc_id") <= F.col("_half"))
        .drop("_half")
    )
    inc = (
        docs.crossJoin(F.broadcast(half))
        .filter(F.col("doc_id") > F.col("_half"))
        .drop("_half")
    )
    return incremental_lsh_dedup(
        ex, inc, "doc_id", "text",
        num_hashes=_MINHASH_N,
        bands=_MINHASH_BANDS,
        threshold=_MINHASH_THRESHOLD,
        portable=True,
    )


SQL_DEDUP_INCREMENTAL = f"""
WITH toks_f AS (
{_SHINGLES_SQL}
), members AS (
  SELECT unnest(generate_series(0, {_MINHASH_N - 1})) AS i
), hashes AS (
  SELECT doc_id, i,
         min(CASE WHEN i = 0 THEN xor(h1, h2)
                  ELSE xor(h1, (h2 % (1::BIGINT << (60 - i))) * (1::BIGINT << i)
                               + h2 // (1::BIGINT << (60 - i)))
             END) AS sig
  FROM (
    SELECT doc_id, {_sql_md5_long("token")} AS h1,
           ('0x' || substr(md5(token), 16, 15))::BIGINT AS h2
    FROM toks_f
  ) CROSS JOIN members
  GROUP BY doc_id, i
), bands AS (
  SELECT doc_id, i // {_MINHASH_R} AS band,
         md5(string_agg(CAST(sig AS VARCHAR), ',' ORDER BY i)) AS bucket
  FROM hashes GROUP BY doc_id, i // {_MINHASH_R}
), half AS (
  SELECT max(doc_id) // 2 AS h FROM documents
), cand AS (
  SELECT DISTINCT a.doc_id AS did, b.doc_id AS mid
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
  CROSS JOIN half
  WHERE a.doc_id > half.h
    AND (b.doc_id <= half.h OR b.doc_id < a.doc_id)
), agree AS (
  SELECT c.did, c.mid,
         sum(CASE WHEN ha.sig = hb.sig THEN 1 ELSE 0 END) AS n_agree
  FROM cand c
  JOIN hashes ha ON ha.doc_id = c.did
  JOIN hashes hb ON hb.doc_id = c.mid AND hb.i = ha.i
  GROUP BY 1, 2
), m AS (
  SELECT did, mid, round(CAST(n_agree AS DOUBLE) / {_MINHASH_N}, 6) AS est
  FROM agree
  WHERE round(CAST(n_agree AS DOUBLE) / {_MINHASH_N}, 6) >= {_MINHASH_THRESHOLD}
), best AS (
  SELECT did, mid, est,
         row_number() OVER (PARTITION BY did ORDER BY est DESC, mid) AS rn
  FROM m
)
SELECT d.doc_id,
       CAST(CASE WHEN b.mid IS NULL THEN 1 ELSE 0 END AS INTEGER) AS keep,
       b.mid AS dup_of,
       b.est AS est_jaccard
FROM (SELECT doc_id FROM documents CROSS JOIN half WHERE doc_id > half.h) d
LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON b.did = d.doc_id
"""


# ---------------------------------------------------------------------------
# CCNet-style shared-chunk removal (LLM-pipeline surface)
# ---------------------------------------------------------------------------

_CHUNK_DEDUP_SIZE = 8


def q_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drop any disjoint 8-token chunk that occurs in >= 2 distinct
    documents (cross-document boilerplate), reassemble the survivors."""
    docs = read_table(spark, sf_dir, "documents")
    return chunk_dedup(
        docs, "doc_id", "text", chunk_size=_CHUNK_DEDUP_SIZE, min_docs=2
    )


SQL_CHUNK_DEDUP = f"""
WITH toks AS ({_SQL_TOKS}
), chunks AS (
  SELECT doc_id, CAST((i - 1) // {_CHUNK_DEDUP_SIZE} AS INTEGER) AS chunk_id,
         array_to_string(t[i:i+{_CHUNK_DEDUP_SIZE - 1}], ' ') AS chunk_text
  FROM toks,
       unnest(range(1, CAST(len(t) AS BIGINT) + 1, {_CHUNK_DEDUP_SIZE})) AS u(i)
), counts AS (
  SELECT chunk_text, count(DISTINCT doc_id) AS n_docs
  FROM chunks GROUP BY chunk_text
), m AS (
  SELECT ch.doc_id, ch.chunk_id, ch.chunk_text, counts.n_docs
  FROM chunks ch JOIN counts USING (chunk_text)
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dropped_chunks,
       coalesce(string_agg(CASE WHEN n_docs < 2 THEN chunk_text END,
                           ' ' ORDER BY chunk_id), '') AS clean_text
FROM m GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup, Abbas et al. 2023): cluster the embedding space,
# near-dup search only within clusters (LLM-pipeline surface)
# ---------------------------------------------------------------------------

_SEMDEDUP_CLUSTERS = 8
# testdata embeddings are near-random (max pairwise cosine ~0.48); 0.35
# keeps the dup verdict non-trivial at every sf (same regime as
# embedding_near_dup)
_SEMDEDUP_THRESHOLD = 0.35


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: per-vector (cluster_id, is_dup) verdict — nearest-centroid
    assignment is a narrow codegen'd expression, the quadratic pair search
    is bounded to one GEMM per cluster."""
    emb = read_table(spark, sf_dir, "embeddings")
    return semantic_dedup(
        emb,
        n_clusters=_SEMDEDUP_CLUSTERS,
        threshold=_SEMDEDUP_THRESHOLD,
    )


SQL_SEMANTIC_DEDUP = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cents AS (
  SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT {_SEMDEDUP_CLUSTERS}
), assign AS (
  SELECT e.vec_id, e.v, cents.cid
  FROM e CROSS JOIN cents
  QUALIFY row_number() OVER (
      PARTITION BY e.vec_id
      ORDER BY list_cosine_similarity(e.v, cents.cv) DESC, cents.cid) = 1
), dups AS (
  SELECT DISTINCT b.vec_id
  FROM assign a JOIN assign b ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE round(list_cosine_similarity(a.v, b.v), 6) >= {_SEMDEDUP_THRESHOLD}
)
SELECT a.vec_id, CAST(a.cid AS BIGINT) AS cluster_id,
       CAST(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END AS INTEGER) AS is_dup
FROM assign a LEFT JOIN dups d USING (vec_id)
"""


# ---------------------------------------------------------------------------
# Distributed spherical k-means (functions/clustering.py): Lloyd iterations
# where the only thing that ever moves is the k x dim centroid state. The
# oracle replays the ENTIRE deterministic trajectory — md5 init, iteration-1
# assignment (cosine argmax, cid tie-break), mean update, iteration-2
# assignment — and compares the final per-(cluster, dim) state, so the
# trained model itself is hash-checked, not just row counts.
# ---------------------------------------------------------------------------

_KMEANS_K = 8
_KMEANS_DIM = 64  # embeddings table vector width (TESTDATA.md)


def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    state = kmeans_fit_assign(
        emb, n_clusters=_KMEANS_K, n_iterations=2
    )
    return carry_cache(
        state.select(
            "cluster_id",
            "n_members",
            "dim",
            F.round("c", 6).alias("c"),
        ),
        state,  # large-k path tags its final checkpoint blocks
    )


SQL_KMEANS_CLUSTERS = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
c0 AS (
  SELECT vec_id AS cid, v AS cv FROM e
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {_KMEANS_K}
), a1 AS (
  SELECT e.vec_id, e.v, c0.cid
  FROM e CROSS JOIN c0
  QUALIFY row_number() OVER (
      PARTITION BY e.vec_id
      ORDER BY list_cosine_similarity(e.v, c0.cv) DESC, c0.cid) = 1
), s1 AS (
  -- 12dp round matches the Spark loop's trajectory rounding: distributed
  -- double avg differs from sequential avg in the last ulp, which unrounded
  -- could flip a near-tie assignment in a2
  SELECT cid, dims.i AS i, round(avg(v[dims.i]), 12) AS c
  FROM a1, (SELECT unnest(range(1, {_KMEANS_DIM + 1})) AS i) dims
  GROUP BY 1, 2
), c1 AS (
  SELECT cid, list(c ORDER BY i) AS cv FROM s1 GROUP BY cid
), a2 AS (
  SELECT e.vec_id, e.v, c1.cid
  FROM e CROSS JOIN c1
  QUALIFY row_number() OVER (
      PARTITION BY e.vec_id
      ORDER BY list_cosine_similarity(e.v, c1.cv) DESC, c1.cid) = 1
)
SELECT CAST(cid AS BIGINT) AS cluster_id,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(dims.i AS INTEGER) AS dim,
       round(avg(v[dims.i]), 6) AS c
FROM a2, (SELECT unnest(range(1, {_KMEANS_DIM + 1})) AS i) dims
GROUP BY cid, dims.i
"""


# ---------------------------------------------------------------------------
# Hash-sharded training-data delivery (functions/sampling.py::shard_assign /
# write_shards): the manifest below is the audit surface a training loader
# reads — per-shard doc/token/source counts. md5 keying makes membership
# engine-portable, so the oracle reproduces the exact shard of every doc.
# ---------------------------------------------------------------------------

_N_SHARDS = 16


def q_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    sharded = shard_assign(
        docs.withColumn("n_tokens", token_count(F.col("text"))),
        "doc_id",
        _N_SHARDS,
    )
    return sharded.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.countDistinct("source").alias("n_sources"),
    )


SQL_SHARD_MANIFEST = f"""
WITH s AS (
  SELECT CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) % {_N_SHARDS} AS INTEGER) AS shard,
         source,
         CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                              x -> length(x) > 0)) AS BIGINT) AS n_tokens
  FROM documents
)
SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       CAST(count(DISTINCT source) AS BIGINT) AS n_sources
FROM s GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# ADS-layer analytics the reference's warehouse layering points at (its
# dws/ads packages are empty — SURVEY.md §2.9): funnel + retention cohorts.
# ---------------------------------------------------------------------------

_FUNNEL_STEPS = ["view", "click", "purchase"]
_FUNNEL_WINDOW_S = 7 * 24 * 3600


def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-order view->click->purchase funnel within 7 days of the first
    view (min-timestamp propagation; ONE shuffle on user_id — the chained
    per-user window mins reuse a single Exchange)."""
    ev = read_table(spark, sf_dir, "events")
    return funnel_conversion(
        ev, _FUNNEL_STEPS, window_seconds=_FUNNEL_WINDOW_S
    )


SQL_FUNNEL_CONVERSION = f"""
WITH e AS (
  SELECT user_id, event_type, make_timestamp(epoch_ns(ts)//1000) AS ts
  FROM events
), t1 AS (
  SELECT user_id, min(ts) AS t1 FROM e
  WHERE event_type = '{_FUNNEL_STEPS[0]}' GROUP BY user_id
), t2 AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM e JOIN t1 USING (user_id)
  WHERE e.event_type = '{_FUNNEL_STEPS[1]}' AND e.ts > t1.t1
    AND e.ts <= t1.t1 + INTERVAL {_FUNNEL_WINDOW_S} SECOND
  GROUP BY e.user_id
), t3 AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM e JOIN t2 USING (user_id) JOIN t1 USING (user_id)
  WHERE e.event_type = '{_FUNNEL_STEPS[2]}' AND e.ts > t2.t2
    AND e.ts <= t1.t1 + INTERVAL {_FUNNEL_WINDOW_S} SECOND
  GROUP BY e.user_id
)
SELECT CAST(1 AS INTEGER) AS step_index, '{_FUNNEL_STEPS[0]}' AS step_name,
       CAST((SELECT count(*) FROM t1) AS BIGINT) AS users
UNION ALL
SELECT 2, '{_FUNNEL_STEPS[1]}', CAST((SELECT count(*) FROM t2) AS BIGINT)
UNION ALL
SELECT 3, '{_FUNNEL_STEPS[2]}', CAST((SELECT count(*) FROM t3) AS BIGINT)
"""

_RETENTION_MAX_OFFSET = 30


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first active date,
    counted on each later active day (offset <= 30)."""
    ev = read_table(spark, sf_dir, "events")
    return retention_cohorts(ev, max_offset_days=_RETENTION_MAX_OFFSET)


SQL_RETENTION_COHORTS = f"""
WITH a AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
  FROM events
), f AS (
  SELECT user_id, min(d) AS cohort FROM a GROUP BY user_id
)
SELECT strftime(f.cohort, '%Y-%m-%d') AS cohort_date,
       CAST(a.d - f.cohort AS INTEGER) AS day_offset,
       CAST(count(DISTINCT a.user_id) AS BIGINT) AS active_users
FROM a JOIN f USING (user_id)
WHERE a.d - f.cohort <= {_RETENTION_MAX_OFFSET}
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Sequence packing + per-source token budgets + DSIR affinity
# (LLM-pipeline surface)
# ---------------------------------------------------------------------------

_SEQ_LEN = 512


def q_seq_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous-fill sequence packing at seq_len=512: the oracle is the
    single-partition global window; the Spark plan is the two-phase
    distributed prefix scan (see functions/chunking.pack_sequences)."""
    docs = read_table(spark, sf_dir, "documents")
    return pack_sequences(docs, "doc_id", "text", seq_len=_SEQ_LEN)


SQL_SEQ_PACK = f"""
WITH toks AS ({_SQL_TOKS}
), n AS (
  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens
  FROM toks WHERE len(t) > 0
), c AS (
  SELECT doc_id, n_tokens,
         sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
  FROM n
)
SELECT doc_id, n_tokens,
       CAST((cum - n_tokens) // {_SEQ_LEN} AS BIGINT) AS pack_id,
       CAST((cum - n_tokens) % {_SEQ_LEN} AS BIGINT) AS pack_offset
FROM c
"""

_SOURCE_TOKEN_BUDGET = 1000


def q_source_token_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-budget cap: admit docs per source in deterministic
    md5(doc_id) order until 1000 tokens (first doc always kept)."""
    docs = read_table(spark, sf_dir, "documents")
    with_n = docs.withColumn("n_tokens", token_count(F.col("text")))
    capped = token_budget_cap(
        with_n, "source", "doc_id", "n_tokens", budget=_SOURCE_TOKEN_BUDGET
    )
    return capped.select(
        "doc_id", "source", F.col("n_tokens").cast("long").alias("n_tokens")
    )


SQL_SOURCE_TOKEN_CAPS = f"""
WITH n AS (
  SELECT doc_id, source,
         CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                              x -> length(x) > 0)) AS BIGINT) AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, source, n_tokens,
         sum(n_tokens) OVER (
             PARTITION BY source
             ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id
             ROWS UNBOUNDED PRECEDING) AS cum
  FROM n
)
SELECT doc_id, source, n_tokens
FROM c WHERE cum <= {_SOURCE_TOKEN_BUDGET} OR cum = n_tokens
"""

_DSIR_BUCKETS = 256


def q_dsir_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style hashed-unigram affinity of every document toward the
    lang='en' slice (integer-exact signed divergence — see
    functions/ngrams.hashed_ngram_affinity)."""
    docs = read_table(spark, sf_dir, "documents")
    target = docs.filter(F.col("lang") == "en")
    return hashed_ngram_affinity(
        docs, target, "doc_id", "text", n=1, n_buckets=_DSIR_BUCKETS
    )


SQL_DSIR_AFFINITY = f"""
WITH toks AS ({_SQL_TOKS}
), g AS (
  SELECT doc_id, u.x AS g FROM toks, unnest(t) AS u(x)
), b AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) % {_DSIR_BUCKETS} AS b
  FROM g
), tb AS (
  SELECT b.b FROM b JOIN documents d USING (doc_id) WHERE d.lang = 'en'
), rc AS (
  SELECT b, CAST(count(*) AS BIGINT) AS cr FROM b GROUP BY b
), tc AS (
  SELECT b, CAST(count(*) AS BIGINT) AS ct FROM tb GROUP BY b
), model AS (
  SELECT rc.b,
         (COALESCE(tc.ct, 0) * (SELECT count(*) FROM b)
          - rc.cr * (SELECT count(*) FROM tb)) AS w
  FROM rc LEFT JOIN tc USING (b)
)
SELECT b.doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(m.w) AS BIGINT) AS affinity
FROM b JOIN model m USING (b)
GROUP BY b.doc_id
"""


# ---------------------------------------------------------------------------
# Count-min heavy hitters + one-pass profiling
# ---------------------------------------------------------------------------


def q_cm_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 tokens by COUNT-MIN estimated frequency, with the exact count
    alongside — the oracle checks the sketch itself (including the
    overestimate property), not just the ranking."""
    from gmall_flink_yb_spark import tuning as _tuning

    docs = read_table(spark, sf_dir, "documents")
    # spread the starved scan before the tokenize/explode map side
    # (r13): the persisted gram stream has THREE consumers (sketch
    # build, distinct estimate, exact counts), so its one materialization
    # pass is on the critical path — interleaved A/B 2.04 -> 1.58 s min,
    # 2.27 -> 1.67 s med (the r12 blanket-spread loss does not apply: a
    # cached 32-partition stream re-reads in parallel too)
    docs = _tuning.spread_file_scan(docs)
    grams = gram_rows(docs, "doc_id", "text", 1).select(
        F.col("g").alias("token")
    )
    grams = grams.persist(StorageLevel.MEMORY_AND_DISK)
    sketch = count_min_build(grams, "token")
    est = count_min_estimate(grams.distinct(), sketch, "token")
    exact = grams.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("exact_count")
    )
    return owns_cache(
        est.join(exact, "token")
        .orderBy(F.desc("est_count"), "token")
        .limit(20),
        grams,  # caller releases via cacheutil.release_cache
    )


SQL_CM_HEAVY_HITTERS = f"""
WITH toks AS ({_SQL_TOKS}
), g AS (
  SELECT u.x AS token FROM toks, unnest(t) AS u(x)
), jb AS (
  SELECT token, j,
         CAST(('0x' || substr(md5(token), 1 + 8 * j, 8))
              AS BIGINT) % {CM_WIDTH} AS bucket
  FROM g, unnest([0, 1, 2, 3]) AS _j(j)
), sk AS (
  SELECT j, bucket, CAST(count(*) AS BIGINT) AS cnt FROM jb GROUP BY 1, 2
), est AS (
  SELECT token, min(cnt) AS est_count
  FROM (SELECT DISTINCT token, j, bucket FROM jb) i JOIN sk USING (j, bucket)
  GROUP BY token
), exact AS (
  SELECT token, CAST(count(*) AS BIGINT) AS exact_count FROM g GROUP BY token
)
SELECT est.token, CAST(est.est_count AS BIGINT) AS est_count,
       exact.exact_count
FROM est JOIN exact USING (token)
ORDER BY est_count DESC, token
LIMIT 20
"""


def q_profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-scan profile of every non-float documents column: counts, nulls,
    exact ndv, cast min/max, total cast length."""
    docs = read_table(spark, sf_dir, "documents")
    return profile_columns(docs)


def _profile_col_sql(c: str) -> str:
    return f"""
  SELECT '{c}' AS column, CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_nulls,
         CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
         min(CAST({c} AS VARCHAR)) AS min_repr,
         max(CAST({c} AS VARCHAR)) AS max_repr,
         CAST(sum(COALESCE(length(CAST({c} AS VARCHAR)), 0)) AS BIGINT)
             AS sum_len
  FROM documents"""


SQL_PROFILE_DOCUMENTS = " UNION ALL ".join(
    _profile_col_sql(c) for c in ["doc_id", "text", "lang", "source", "n_chars"]
)


# ---------------------------------------------------------------------------
# Bloom runtime filter: high-value order keys -> lineitem pruning
# ---------------------------------------------------------------------------

_BLOOM_PRICE_MIN = 490000
_BLOOM_BITS = 4096
_BLOOM_K = 3


def q_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prune lineitem order keys through a bloom filter of high-value
    orders, then flag which candidates are true matches — the oracle
    reproduces the exact false-positive set, proving the filter
    bit-for-bit. Probe side never shuffles (k broadcast joins)."""
    orders = read_table(spark, sf_dir, "orders")
    line = read_table(spark, sf_dir, "lineitem")
    hi = orders.filter(F.col("o_totalprice") > _BLOOM_PRICE_MIN).select(
        F.col("o_orderkey").alias("key")
    )
    bloom = bloom_build(hi, "key", n_bits=_BLOOM_BITS, k=_BLOOM_K)
    probe = line.select(F.col("l_orderkey").alias("key")).distinct()
    cand = bloom_probe(probe, bloom, "key", n_bits=_BLOOM_BITS, k=_BLOOM_K)
    return cand.join(
        F.broadcast(hi.withColumn("_true", F.lit(1))), "key", "left"
    ).select(
        F.col("key").alias("l_orderkey"),
        F.coalesce(F.col("_true"), F.lit(0)).cast("int").alias("is_true"),
    )


SQL_BLOOM_SEMI_JOIN = f"""
WITH hi AS (
  SELECT o_orderkey AS key FROM orders WHERE o_totalprice > {_BLOOM_PRICE_MIN}
), pos AS (
  SELECT key, j,
         CAST(('0x' || substr(md5(CAST(key AS VARCHAR)), 1 + 8 * j, 8))
              AS BIGINT) % {_BLOOM_BITS} AS p
  FROM hi, unnest([0, 1, 2]) AS _j(j)
), bloom AS (
  SELECT p // 32 AS w, bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INTEGER))
             AS bits
  FROM pos GROUP BY 1
), probe AS (
  SELECT DISTINCT l_orderkey AS key FROM lineitem
), ppos AS (
  SELECT key, j,
         CAST(('0x' || substr(md5(CAST(key AS VARCHAR)), 1 + 8 * j, 8))
              AS BIGINT) % {_BLOOM_BITS} AS p
  FROM probe, unnest([0, 1, 2]) AS _j(j)
), hit AS (
  SELECT ppos.key
  FROM ppos JOIN bloom ON bloom.w = ppos.p // 32
  WHERE (bloom.bits & (CAST(1 AS BIGINT) << CAST(ppos.p % 32 AS INTEGER)))
        = (CAST(1 AS BIGINT) << CAST(ppos.p % 32 AS INTEGER))
  GROUP BY ppos.key HAVING count(*) = {_BLOOM_K}
)
SELECT hit.key AS l_orderkey,
       CAST(CASE WHEN hi.key IS NOT NULL THEN 1 ELSE 0 END AS INTEGER)
           AS is_true
FROM hit LEFT JOIN hi ON hi.key = hit.key
"""


# ---------------------------------------------------------------------------
# Z-order layout (functions/layout.py): multi-dimensional clustering so
# parquet min/max footers prune files on EVERY curve dimension. The cell
# report below is the deterministic surface: the oracle re-derives the whole
# quantize + bit-interleave pipeline in SQL, so the curve is proven bit-exact,
# and the per-cell min/max spans are exactly what a file-skipping planner
# would read from footers after `zorder_layout(...).write`.
# ---------------------------------------------------------------------------

_Z_BITS = 16
_Z_SHIFT = 26  # 32-bit z -> 64 coarse cells
_Z_QTY_LO, _Z_QTY_HI = 1.0, 50.0
_Z_PRICE_LO, _Z_PRICE_HI = 0.0, 200_000.0


def q_zorder_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    line = read_table(spark, sf_dir, "lineitem")
    return zcell_stats(
        line,
        cols=[F.col("l_quantity"), F.col("l_extendedprice")],
        names=["qty", "price"],
        bounds=[(_Z_QTY_LO, _Z_QTY_HI), (_Z_PRICE_LO, _Z_PRICE_HI)],
        bits_per_dim=_Z_BITS,
        cell_shift=_Z_SHIFT,
    )


def _z_quant_sql(col: str, lo: float, hi: float, bits: int) -> str:
    buckets = (1 << bits) - 1
    return (
        f"GREATEST(0, LEAST({buckets}, CAST(floor("
        f"(CAST({col} AS DOUBLE) - {float(lo)!r}) / {float(hi - lo)!r} "
        f"* {float(buckets + 1)!r}) AS BIGINT)))"
    )


def _z_interleave_sql(qcols: list[str], bits: int) -> str:
    k = len(qcols)
    terms = [
        f"((({q} >> {b}) & 1) << {b * k + d})"
        for d, q in enumerate(qcols)
        for b in range(bits)
    ]
    return " + ".join(terms)


SQL_ZORDER_CELLS = f"""
WITH q AS (
  SELECT {_z_quant_sql('l_quantity', _Z_QTY_LO, _Z_QTY_HI, _Z_BITS)} AS qq,
         {_z_quant_sql('l_extendedprice', _Z_PRICE_LO, _Z_PRICE_HI, _Z_BITS)}
             AS qp,
         l_quantity, l_extendedprice
  FROM lineitem
), z AS (
  SELECT ({_z_interleave_sql(['qq', 'qp'], _Z_BITS)}) >> {_Z_SHIFT} AS zcell,
         l_quantity, l_extendedprice
  FROM q
)
SELECT zcell, CAST(count(*) AS BIGINT) AS n_rows,
       min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
       min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price
FROM z GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Corpus-level curation analytics: quantized unigram LM scoring (CCNet-style
# quality ranking, integer-exact), cross-source contamination matrix
# (pairwise n-gram Jaccard between sources), and per-label embedding
# outliers (label-noise sweep). LLM-pipeline surface; no reference
# counterpart — SURVEY.md §2.9 last paragraph.
# ---------------------------------------------------------------------------


def q_unigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantized unigram LM scoring over the documents corpus — tf-weighted
    mean token surprisal in whole bits (see functions/text.py:
    unigram_lm_score for the integer-exact design)."""
    docs = read_table(spark, sf_dir, "documents")
    return unigram_lm_score(docs, "doc_id", "text")


SQL_UNIGRAM_LM = """
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                            x -> length(x) > 0)) AS w
  FROM documents
), tf AS (
  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2
), vocab AS (
  SELECT w, CAST(sum(tf) AS BIGINT) AS cnt FROM tf GROUP BY 1
), total AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM vocab
)
SELECT doc_id,
       CAST(sum(tf) AS BIGINT) AS n_tokens,
       CAST(sum(tf * (length(bin(n_total)) - length(bin(cnt))))
            AS BIGINT) AS sum_bits,
       round(CAST(sum(tf * (length(bin(n_total)) - length(bin(cnt))))
                  AS DOUBLE) / sum(tf), 6) AS mean_bits
FROM tf JOIN vocab USING (w) CROSS JOIN total
GROUP BY doc_id
"""


_SOURCE_OVERLAP_N = 5


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-level n-gram Jaccard — the corpus contamination
    matrix (all pairs of gram-bearing sources, zero-overlap pairs
    included)."""
    docs = read_table(spark, sf_dir, "documents")
    return source_overlap(docs, "source", "text", n=_SOURCE_OVERLAP_N)


SQL_SOURCE_OVERLAP = f"""
WITH toks AS (
  SELECT source AS src,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> length(x) > 0) AS t
  FROM documents
), grams AS (
  SELECT DISTINCT src,
         md5(array_to_string(t[i:i+{_SOURCE_OVERLAP_N - 1}], ' ')) AS gh
  FROM toks,
       unnest(range(1, CAST(len(t) AS BIGINT) - {_SOURCE_OVERLAP_N} + 2))
         AS u(i)
), sizes AS (
  SELECT src, CAST(count(*) AS BIGINT) AS n_grams FROM grams GROUP BY 1
), inter AS (
  SELECT a.src AS ia, b.src AS ib, CAST(count(*) AS BIGINT) AS n_shared
  FROM grams a JOIN grams b ON a.gh = b.gh AND a.src < b.src
  GROUP BY 1, 2
)
SELECT sa.src AS src_a, sb.src AS src_b,
       sa.n_grams AS grams_a, sb.n_grams AS grams_b,
       CAST(COALESCE(n_shared, 0) AS BIGINT) AS n_shared,
       round(CAST(COALESCE(n_shared, 0) AS DOUBLE)
             / (sa.n_grams + sb.n_grams - COALESCE(n_shared, 0)), 6)
           AS jaccard
FROM sizes sa
JOIN sizes sb ON sa.src < sb.src
LEFT JOIN inter ON sa.src = ia AND sb.src = ib
"""


def q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid outliers over the embeddings table: the 5 least
    centroid-similar members of each label (mislabeled-example sweep)."""
    emb = read_table(spark, sf_dir, "embeddings")
    return label_centroid_outliers(emb, "vec_id", "embedding", "label", k=5)


SQL_EMBEDDING_OUTLIERS = """
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), per_dim AS (
  SELECT label,
         generate_subscripts(v, 1) AS pos,
         unnest(v) AS x
  FROM e
), cent_dim AS (
  SELECT label, pos,
         round(CAST(sum(CAST(x AS DECIMAL(28,12))) AS DOUBLE) / count(*),
               12) AS c
  FROM per_dim GROUP BY 1, 2
), cent AS (
  SELECT label, list(c ORDER BY pos) AS cv FROM cent_dim GROUP BY 1
), scored AS (
  SELECT e.label, e.vec_id,
         list_cosine_similarity(e.v, cent.cv) AS cs
  FROM e JOIN cent USING (label)
)
SELECT label, vec_id,
       CAST(row_number() OVER (
            PARTITION BY label ORDER BY cs ASC, vec_id ASC)
            AS INTEGER) AS rnk,
       round(cs, 6) AS centroid_cos
FROM scored QUALIFY rnk <= 5
"""


# ---------------------------------------------------------------------------
# Time-series motif search (EDBT 2019 distributed-similarity-search shape;
# functions/timeseries.py) — z-normalized subsequence matching over keyed
# series, distributed by key.
# ---------------------------------------------------------------------------

# a 5-day spike: quiet, ramp, peak, ramp-down, quiet (z-normalized before
# matching, so only the SHAPE matters)
_MOTIF_PATTERN = [1.0, 2.0, 8.0, 2.0, 1.0]
_MOTIF_BUCKET_S = 86_400


def q_ts_motif_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 user-day windows whose 5-day spend curve best matches the
    spike pattern, by z-normalized euclidean distance over gap-free
    windows (see functions/timeseries.py for the determinism contract)."""
    from gmall_flink_yb_spark.functions.timeseries import (
        bucket_series,
        motif_search,
    )

    ev = read_table(spark, sf_dir, "events")
    series = bucket_series(
        ev, "user_id", "ts", "value", bucket_seconds=_MOTIF_BUCKET_S
    )
    return motif_search(series, _MOTIF_PATTERN, k=20)


def _sql_ts_windows(w: int) -> str:
    """Shared CTE prelude: day-bucketed series -> gap-free windows with
    mu/sd as the same unrolled chains the Spark expressions build."""
    v = [f"_v{i}" for i in range(w)]
    leads = ",\n         ".join(
        f"lead(v, {i}) OVER win AS _v{i}" for i in range(1, w)
    )
    sum_chain = " + ".join(v)
    sq_chain = " + ".join(f"(({x} - mu) * ({x} - mu))" for x in v)
    return f"""
WITH s AS (
  SELECT user_id AS key,
         CAST(floor(epoch(ts) / {_MOTIF_BUCKET_S}) AS BIGINT) AS bucket,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS v
  FROM events GROUP BY 1, 2
), win_rows AS (
  SELECT key, bucket, v AS _v0,
         {leads},
         lead(bucket, {w - 1}) OVER win AS _last
  FROM s WINDOW win AS (PARTITION BY key ORDER BY bucket)
), full_w AS (
  SELECT * FROM win_rows WHERE _last = bucket + {w - 1}
), mu_t AS (
  SELECT *, ({sum_chain}) / {float(w)!r} AS mu FROM full_w
), sd_t AS (
  SELECT *, sqrt(({sq_chain}) / {float(w)!r}) AS sd FROM mu_t
)"""


def _sql_ts_motif() -> str:
    from gmall_flink_yb_spark.functions.timeseries import znorm_pattern

    p = znorm_pattern(_MOTIF_PATTERN)
    w = len(p)
    dist_chain = " + ".join(
        f"(((_v{i} - mu) / sd - ({p[i]!r})) * ((_v{i} - mu) / sd - ({p[i]!r})))"
        for i in range(w)
    )
    return f"""{_sql_ts_windows(w)}
, scored AS (
  SELECT key, bucket, sqrt({dist_chain}) AS _dist
  FROM sd_t WHERE sd > 0.0
)
SELECT key, bucket AS window_start_bucket, round(_dist, 6) AS dist
FROM scored
ORDER BY _dist, key, bucket
LIMIT 20
"""


SQL_TS_MOTIF_TOPK = _sql_ts_motif()

_SAX_W = 5


def q_sax_motifs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recurring-motif discovery: top-20 SAX words over all users' gap-free
    5-day spend windows (functions/timeseries.py::sax_motifs)."""
    from gmall_flink_yb_spark.functions.timeseries import (
        bucket_series,
        sax_motifs,
    )

    ev = read_table(spark, sf_dir, "events")
    series = bucket_series(
        ev, "user_id", "ts", "value", bucket_seconds=_MOTIF_BUCKET_S
    )
    return sax_motifs(series, _SAX_W, k=20)


def _sql_sax_motifs() -> str:
    from gmall_flink_yb_spark.functions.timeseries import SAX_BREAKPOINTS

    b1, b2, b3 = SAX_BREAKPOINTS
    letter = (
        "(CASE WHEN (_v{i} - mu) / sd < ({b1}) THEN 'a' "
        "WHEN (_v{i} - mu) / sd < ({b2}) THEN 'b' "
        "WHEN (_v{i} - mu) / sd < ({b3}) THEN 'c' ELSE 'd' END)"
    )
    word = " || ".join(
        letter.format(i=i, b1=repr(b1), b2=repr(b2), b3=repr(b3))
        for i in range(_SAX_W)
    )
    return f"""{_sql_ts_windows(_SAX_W)}
, words AS (
  SELECT key, {word} AS sax_word
  FROM sd_t WHERE sd > 0.0
)
SELECT sax_word,
       CAST(count(*) AS BIGINT) AS n_windows,
       CAST(count(DISTINCT key) AS BIGINT) AS n_keys
FROM words
GROUP BY 1
ORDER BY n_windows DESC, sax_word
LIMIT 20
"""


SQL_SAX_MOTIFS = _sql_sax_motifs()


def q_returning_users_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day returning visitors — the DWS visitor-stats companion to
    uv_daily/new_visitor_daily (UniqueVisitApp's intent, SURVEY §2.9): of
    each day's distinct users, how many were also active the PREVIOUS day,
    and the retention ratio. One distinct (day, user) frame self-joined on
    user with a day+1 equi-condition — at 100 TB both sides shuffle once
    on user_id, and the per-day roll-up is day-cardinality."""
    ev = read_table(spark, sf_dir, "events")
    du = ev.select(
        F.to_date("ts").alias("d"), F.col("user_id")
    ).distinct()
    prev = du.select(
        F.date_add("d", 1).alias("d_next"), F.col("user_id").alias("u2")
    )
    uv = du.groupBy("d").agg(F.count(F.lit(1)).alias("uv"))
    ret = (
        du.join(
            prev,
            (F.col("d") == F.col("d_next")) & (F.col("user_id") == F.col("u2")),
            "left_semi",
        )
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("returning"))
    )
    return (
        uv.join(ret, "d", "left")
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("dt"),
            "uv",
            F.coalesce(F.col("returning"), F.lit(0)).alias("returning"),
            F.round(
                F.coalesce(F.col("returning"), F.lit(0)).cast("double")
                / F.col("uv"),
                6,
            ).alias("return_ratio"),
        )
        .orderBy("dt")
    )


SQL_RETURNING_USERS_DAILY = """
WITH du AS (
  SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
), uv AS (
  SELECT d, CAST(count(*) AS BIGINT) AS uv FROM du GROUP BY 1
), ret AS (
  SELECT a.d, CAST(count(*) AS BIGINT) AS returning
  FROM du a
  WHERE EXISTS (SELECT 1 FROM du b
                WHERE b.user_id = a.user_id AND b.d + 1 = a.d)
  GROUP BY 1
)
SELECT strftime(uv.d, '%Y-%m-%d') AS dt, uv.uv,
       CAST(COALESCE(ret.returning, 0) AS BIGINT) AS returning,
       round(CAST(COALESCE(ret.returning, 0) AS DOUBLE) / uv.uv, 6)
           AS return_ratio
FROM uv LEFT JOIN ret ON uv.d = ret.d
ORDER BY dt
"""


def q_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: top-20 part pairs bought in the same
    order, with support count — the recommendation-seed query an
    e-commerce DWS layer serves. Shape:
    distinct (order, part) self-joins on orderkey with p_a < p_b — the
    fan-out per order is (basket size choose 2), bounded by basket size
    (~4 here), NOT corpus size — then one pair aggregate. At 100 TB the
    pair shuffle carries support-weighted pairs; a support-threshold
    pre-filter (a-priori style) would bolt on before the top-k."""
    li = read_table(spark, sf_dir, "lineitem")
    # both sides of the self-join: persist or the distinct recomputes
    op = (
        li.select("l_orderkey", "l_partkey")
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    from gmall_flink_yb_spark.functions.cacheutil import owns_cache

    a = op.alias("a")
    b = op.select(
        F.col("l_orderkey").alias("o2"), F.col("l_partkey").alias("p2")
    )
    return owns_cache(
        a.join(
            b,
            (F.col("l_orderkey") == F.col("o2"))
            & (F.col("l_partkey") < F.col("p2")),
        )
        .groupBy(
            F.col("l_partkey").alias("part_a"), F.col("p2").alias("part_b")
        )
        .agg(F.count(F.lit(1)).alias("support"))
        .orderBy(F.desc("support"), "part_a", "part_b")
        .limit(20),
        op,  # caller releases via cacheutil.release_cache (ADVICE r3)
    )


SQL_BASKET_PAIRS = """
WITH op AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
)
SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
       CAST(count(*) AS BIGINT) AS support
FROM op a JOIN op b
  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY 1, 2
ORDER BY support DESC, part_a, part_b
LIMIT 20
"""


# Registry order is load-bearing: correctness sampling over the
# ``__spark_entry__`` contract takes the HEAD of the registry (first ~50
# entries in insertion order), so the front holds the paths most
# recently rewritten or least recently gated. ORACLES is declared in the same order as
# QUERIES; tests/test_entry_contract.py pins both.
QUERIES: dict[str, QueryFn] = {
    "bpe_encode": q_bpe_encode,
    "bpe_merges": q_bpe_merges,
    "winnow_overlap": q_winnow_overlap,
    "span_dup": q_span_dup,
    "dup_spans": q_dup_spans,
    "substring_dedup": q_substring_dedup,
    "substring_scrub_incremental": q_substring_scrub_incremental,
    "decontam_scrub": q_decontam_scrub,
    "ann_auto_bands": q_ann_auto_bands,
    "q1_pricing_summary": q_q1_pricing_summary,
    "dedup_canonical": q_dedup_canonical,
    "leakage_safe_split": q_leakage_safe_split,
    "chunk_dedup": q_chunk_dedup,
    "dedup_jaccard_prefix": q_dedup_jaccard_prefix,
    "dedup_clusters": q_dedup_clusters,
    "kmeans_clusters": q_kmeans_clusters,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_minhash_auto": q_dedup_minhash_auto,
    "dedup_simhash": q_dedup_simhash,
    "dedup_incremental": q_dedup_incremental,
    "bpe_pair_counts": q_bpe_pair_counts,
    "semantic_dedup": q_semantic_dedup,
    "ann_incremental": q_ann_incremental,
    "dsir_affinity": q_dsir_affinity,
    "cm_heavy_hitters": q_cm_heavy_hitters,
    "uv_daily": q_uv_daily,
    "new_visitor_daily": q_new_visitor_daily,
    "basket_pairs": q_basket_pairs,
    "returning_users_daily": q_returning_users_daily,
    "multimodal_feature_dedup": q_multimodal_feature_dedup,
    "decontam_overlap": q_decontam_overlap,
    "doc_chunks": q_doc_chunks,
    "domain_mix": q_domain_mix,
    "embed_quantize": q_embed_quantize,
    "similarity_topk_int8": q_similarity_topk_int8,
    "distinctive_terms": q_distinctive_terms,
    "quality_classifier": q_quality_classifier,
    "funnel_conversion": q_funnel_conversion,
    "retention_cohorts": q_retention_cohorts,
    "seq_pack": q_seq_pack,
    "source_token_caps": q_source_token_caps,
    "profile_documents": q_profile_documents,
    "bloom_semi_join": q_bloom_semi_join,
    "zorder_cells": q_zorder_cells,
    "shard_manifest": q_shard_manifest,
    "events_pivot": q_events_pivot,
    "value_percentiles_approx": q_value_percentiles_approx,
    "q3_shipping_priority": q_q3_shipping_priority,
    "q5_local_supplier": q_q5_local_supplier,
    "q18_large_orders": q_q18_large_orders,
    "session_stats": q_session_stats,
    "sliding_hourly": q_sliding_hourly,
    "value_percentiles": q_value_percentiles,
    "revenue_rollup": q_revenue_rollup,
    "revenue_by_nation": q_revenue_by_nation,
    "top_brands": q_top_brands,
    "interval_join_shipments": q_interval_join_shipments,
    "cdc_route_kafka": q_cdc_route_kafka,
    "cdc_route_hbase": q_cdc_route_hbase,
    "keyword_top100": q_keyword_top100,
    "keyword_top100_zh": q_keyword_top100_zh,
    "text_quality": q_text_quality,
    "text_repetition": q_text_repetition,
    "pii_scrub": q_pii_scrub,
    "lang_id": q_lang_id,
    "dedup_exact": q_dedup_exact,
    "dedup_jaccard": q_dedup_jaccard,
    "similarity_topk": q_similarity_topk,
    "embedding_near_dup": q_embedding_near_dup,
    "multimodal_decode": q_multimodal_decode,
    "multimodal_frames": q_multimodal_frames,
    "asof_latest_order": q_asof_latest_order,
    "sample_hash_revenue": q_sample_hash_revenue,
    "sample_stratified_docs": q_sample_stratified_docs,
    "corpus_curation": q_corpus_curation,
    "similarity_lsh_topk": q_similarity_lsh_topk,
    "similarity_ivf_topk": q_similarity_ivf_topk,
    "q22_global_sales_opportunity": q_q22_global_sales_opportunity,
    "unigram_lm": q_unigram_lm,
    "source_overlap": q_source_overlap,
    "embedding_outliers": q_embedding_outliers,
    "revenue_mom": q_revenue_mom,
    "ts_motif_topk": q_ts_motif_topk,
    "sax_motifs": q_sax_motifs,
    "substring_dedup_hotgram": q_substring_dedup_hotgram,
    "q17_small_quantity_revenue": q_q17_small_quantity_revenue,
    "q19_discount_revenue": q_q19_discount_revenue,
    "q20_excess_shipments_suppliers": q_q20_excess_shipments_suppliers,
    "q21_waiting_suppliers": q_q21_waiting_suppliers,
    "q2_min_cost_supplier": q_q2_min_cost_supplier,
    "q11_important_parts": q_q11_important_parts,
    "q12_late_priority_lines": q_q12_late_priority_lines,
    "q16_supplier_part_distribution": q_q16_supplier_part_distribution,
    "multimodal_header_scan": q_multimodal_header_scan,
    "revenue_trailing_7d": q_revenue_trailing_7d,
    "value_histogram": q_value_histogram,
    "revenue_cube": q_revenue_cube,
    "running_revenue": q_running_revenue,
    "top_orders_per_nation": q_top_orders_per_nation,
    "audio_metadata": q_audio_metadata,
    "customers_without_orders": q_customers_without_orders,
    "uv_daily_approx": q_uv_daily_approx,
    "q4_late_orders": q_q4_late_orders,
    "q14_promo_revenue": q_q14_promo_revenue,
    "keyword_hourly": q_keyword_hourly,
    "q6_forecast_revenue": q_q6_forecast_revenue,
    "q7_volume_shipping": q_q7_volume_shipping,
    "q10_returned_items": q_q10_returned_items,
    "q13_order_distribution": q_q13_order_distribution,
    "q8_market_share": q_q8_market_share,
    "q9_product_profit": q_q9_product_profit,
    "q15_top_supplier": q_q15_top_supplier,
    "weighted_sample_docs": q_weighted_sample_docs,
    "bounce_daily": q_bounce_daily,
    "events_split_counts": q_events_split_counts,
    "events_json_extract": q_events_json_extract,
    "tumbling_hourly": q_tumbling_hourly,
    "order_wide": q_order_wide,
    "payment_wide": q_payment_wide,
}

ORACLES: dict[str, str] = {
    "bpe_encode": SQL_BPE_ENCODE,
    "bpe_merges": SQL_BPE_MERGES,
    "winnow_overlap": SQL_WINNOW_OVERLAP,
    "span_dup": SQL_SPAN_DUP,
    "dup_spans": SQL_DUP_SPANS,
    "substring_dedup": SQL_SUBSTRING_DEDUP,
    "substring_scrub_incremental": SQL_SUBSTRING_SCRUB_INCREMENTAL,
    "decontam_scrub": SQL_DECONTAM_SCRUB,
    "ann_auto_bands": SQL_ANN_AUTO_BANDS,
    "q1_pricing_summary": SQL_Q1_PRICING_SUMMARY,
    "dedup_canonical": SQL_DEDUP_CANONICAL,
    "leakage_safe_split": SQL_LEAKAGE_SAFE_SPLIT,
    "chunk_dedup": SQL_CHUNK_DEDUP,
    "dedup_jaccard_prefix": SQL_DEDUP_JACCARD_PREFIX,
    "dedup_clusters": SQL_DEDUP_CLUSTERS,
    "kmeans_clusters": SQL_KMEANS_CLUSTERS,
    "dedup_minhash_lsh": SQL_DEDUP_MINHASH_LSH,
    "dedup_minhash_auto": SQL_DEDUP_MINHASH_AUTO,
    "dedup_simhash": SQL_DEDUP_SIMHASH,
    "dedup_incremental": SQL_DEDUP_INCREMENTAL,
    "bpe_pair_counts": SQL_BPE_PAIR_COUNTS,
    "semantic_dedup": SQL_SEMANTIC_DEDUP,
    "ann_incremental": SQL_ANN_INCREMENTAL,
    "dsir_affinity": SQL_DSIR_AFFINITY,
    "cm_heavy_hitters": SQL_CM_HEAVY_HITTERS,
    "uv_daily": SQL_UV_DAILY,
    "new_visitor_daily": SQL_NEW_VISITOR_DAILY,
    "basket_pairs": SQL_BASKET_PAIRS,
    "returning_users_daily": SQL_RETURNING_USERS_DAILY,
    # integer feature vectors → both engines score identical vectors
    "multimodal_feature_dedup": SQL_MULTIMODAL_FEATURE_DEDUP,
    "decontam_overlap": SQL_DECONTAM_OVERLAP,
    "doc_chunks": SQL_DOC_CHUNKS,
    "domain_mix": SQL_DOMAIN_MIX,
    "embed_quantize": SQL_EMBED_QUANTIZE,
    "similarity_topk_int8": SQL_SIMILARITY_TOPK_INT8,
    "distinctive_terms": SQL_DISTINCTIVE_TERMS,
    "quality_classifier": SQL_QUALITY_CLASSIFIER,
    "funnel_conversion": SQL_FUNNEL_CONVERSION,
    "retention_cohorts": SQL_RETENTION_COHORTS,
    "seq_pack": SQL_SEQ_PACK,
    "source_token_caps": SQL_SOURCE_TOKEN_CAPS,
    "profile_documents": SQL_PROFILE_DOCUMENTS,
    "bloom_semi_join": SQL_BLOOM_SEMI_JOIN,
    "zorder_cells": SQL_ZORDER_CELLS,
    "shard_manifest": SQL_SHARD_MANIFEST,
    "events_pivot": SQL_EVENTS_PIVOT,
    "value_percentiles_approx": SQL_VALUE_PERCENTILES_APPROX,
    "q3_shipping_priority": SQL_Q3_SHIPPING_PRIORITY,
    "q5_local_supplier": SQL_Q5_LOCAL_SUPPLIER,
    "q18_large_orders": SQL_Q18_LARGE_ORDERS,
    "session_stats": SQL_SESSION_STATS,
    "sliding_hourly": SQL_SLIDING_HOURLY,
    "value_percentiles": SQL_VALUE_PERCENTILES,
    "revenue_rollup": SQL_REVENUE_ROLLUP,
    "revenue_by_nation": SQL_REVENUE_BY_NATION,
    "top_brands": SQL_TOP_BRANDS,
    "interval_join_shipments": SQL_INTERVAL_JOIN_SHIPMENTS,
    "cdc_route_kafka": SQL_CDC_ROUTE_KAFKA,
    "cdc_route_hbase": SQL_CDC_ROUTE_HBASE,
    "keyword_top100": SQL_KEYWORD_TOP100,
    "keyword_top100_zh": SQL_KEYWORD_TOP100_ZH,
    "text_quality": SQL_TEXT_QUALITY,
    "text_repetition": SQL_TEXT_REPETITION,
    "pii_scrub": SQL_PII_SCRUB,
    "lang_id": SQL_LANG_ID,
    "dedup_exact": SQL_DEDUP_EXACT,
    "dedup_jaccard": SQL_DEDUP_JACCARD,
    "similarity_topk": SQL_SIMILARITY_TOPK,
    "embedding_near_dup": SQL_EMBEDDING_NEAR_DUP,
    "multimodal_decode": SQL_MULTIMODAL_DECODE,
    "multimodal_frames": SQL_MULTIMODAL_FRAMES,
    "asof_latest_order": SQL_ASOF_LATEST_ORDER,
    "sample_hash_revenue": SQL_SAMPLE_HASH_REVENUE,
    "sample_stratified_docs": SQL_SAMPLE_STRATIFIED_DOCS,
    "corpus_curation": SQL_CORPUS_CURATION,
    # the SRP bucketing is md5-derived → the oracle reproduces the
    # approximation itself, bucket-for-bucket
    "similarity_lsh_topk": SQL_SIMILARITY_LSH_TOPK,
    # registered at n_probe == n_centroids, where IVF is provably exact
    "similarity_ivf_topk": SQL_SIMILARITY_TOPK,
    "q22_global_sales_opportunity": SQL_Q22_GLOBAL_SALES_OPPORTUNITY,
    "unigram_lm": SQL_UNIGRAM_LM,
    "source_overlap": SQL_SOURCE_OVERLAP,
    "embedding_outliers": SQL_EMBEDDING_OUTLIERS,
    "revenue_mom": SQL_REVENUE_MOM,
    "ts_motif_topk": SQL_TS_MOTIF_TOPK,
    "sax_motifs": SQL_SAX_MOTIFS,
    "substring_dedup_hotgram": SQL_SUBSTRING_DEDUP_HOTGRAM,
    "q17_small_quantity_revenue": SQL_Q17_SMALL_QUANTITY_REVENUE,
    "q19_discount_revenue": SQL_Q19_DISCOUNT_REVENUE,
    "q20_excess_shipments_suppliers": SQL_Q20_EXCESS_SHIPMENTS_SUPPLIERS,
    "q21_waiting_suppliers": SQL_Q21_WAITING_SUPPLIERS,
    "q2_min_cost_supplier": SQL_Q2_MIN_COST_SUPPLIER,
    "q11_important_parts": SQL_Q11_IMPORTANT_PARTS,
    "q12_late_priority_lines": SQL_Q12_LATE_PRIORITY_LINES,
    "q16_supplier_part_distribution": SQL_Q16_SUPPLIER_PART_DISTRIBUTION,
    "multimodal_header_scan": SQL_MULTIMODAL_HEADER_SCAN,
    "revenue_trailing_7d": SQL_REVENUE_TRAILING_7D,
    "value_histogram": SQL_VALUE_HISTOGRAM,
    "revenue_cube": SQL_REVENUE_CUBE,
    "running_revenue": SQL_RUNNING_REVENUE,
    "top_orders_per_nation": SQL_TOP_ORDERS_PER_NATION,
    "audio_metadata": SQL_AUDIO_METADATA,
    "customers_without_orders": SQL_CUSTOMERS_WITHOUT_ORDERS,
    # the estimate itself is engine-internal; the contract (within 3*rsd of
    # exact) IS deterministic, so even the HLL sketch is oracle-gated
    "uv_daily_approx": SQL_UV_DAILY_APPROX,
    "q4_late_orders": SQL_Q4_LATE_ORDERS,
    "q14_promo_revenue": SQL_Q14_PROMO_REVENUE,
    "keyword_hourly": SQL_KEYWORD_HOURLY,
    "q6_forecast_revenue": SQL_Q6_FORECAST_REVENUE,
    "q7_volume_shipping": SQL_Q7_VOLUME_SHIPPING,
    "q10_returned_items": SQL_Q10_RETURNED_ITEMS,
    "q13_order_distribution": SQL_Q13_ORDER_DISTRIBUTION,
    "q8_market_share": SQL_Q8_MARKET_SHARE,
    "q9_product_profit": SQL_Q9_PRODUCT_PROFIT,
    "q15_top_supplier": SQL_Q15_TOP_SUPPLIER,
    "weighted_sample_docs": SQL_WEIGHTED_SAMPLE_DOCS,
    "bounce_daily": SQL_BOUNCE_DAILY,
    "events_split_counts": SQL_EVENTS_SPLIT_COUNTS,
    "events_json_extract": SQL_EVENTS_JSON_EXTRACT,
    "tumbling_hourly": SQL_TUMBLING_HOURLY,
    "order_wide": SQL_ORDER_WIDE,
    "payment_wide": SQL_PAYMENT_WIDE,
}
