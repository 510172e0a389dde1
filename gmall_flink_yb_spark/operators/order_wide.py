"""J1 interval join + J2 dimension enrichment + T3 order-fact ingest.

Reference (app/dwm/OrderWideApp.java):
- T3 (:49-62,71-79): parse OrderInfo/OrderDetail JSON; split create_time
  "yyyy-MM-dd HH:mm:ss" into create_date / create_hour; parse epoch create_ts.
- J1 (:89-97): keyed event-time interval join —
  ``orderInfo keyBy(id) ⋈ orderDetail keyBy(order_id)`` where
  ``detail.ts ∈ [info.ts - 5 s, info.ts + 5 s]``; merged into OrderWide
  (bean/OrderWide.java:55-88).
- J2 (:117-121 + DimUtil.java:11-37): per-record async Phoenix point lookups
  with a Redis cache. Spark-first replacement: PLANNED broadcast joins — the
  dim lookup becomes part of the query plan, so there is no per-row RPC, no
  cache layer, no thread pool (SURVEY.md §4.1). Intended dims per
  OrderWide.java:40-53 / OrderWideApp.java:102-114: user, province, sku, spu,
  trademark, category3.

Scale note: facts shuffle ONCE on the join key (AQE splits skewed keys); every
dim is broadcast (session.py sets a 64 MB threshold) so dim enrichment adds
zero shuffles regardless of how many dims are chained.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gmall_flink_yb_spark.schemas import ORDER_DETAIL_SCHEMA, ORDER_INFO_SCHEMA


def parse_order_facts(
    info_raw: DataFrame, detail_raw: DataFrame, value_col: str = "value"
) -> tuple[DataFrame, DataFrame]:
    """T3 — JSON strings -> typed order_info / order_detail with derived
    create_date, create_hour, create_ts (OrderWideApp.java:53-59).

    Uses to_timestamp/to_date/date_format instead of the reference's string
    split + SimpleDateFormat — same values, all codegen'd.
    """

    def derive(df: DataFrame) -> DataFrame:
        ct = F.to_timestamp("create_time", "yyyy-MM-dd HH:mm:ss")
        return (
            df.withColumn("create_ts", ct)
            .withColumn("create_date", F.to_date(ct))
            .withColumn("create_hour", F.date_format(ct, "HH"))
        )

    info = derive(
        info_raw.select(
            F.from_json(F.col(value_col), ORDER_INFO_SCHEMA).alias("o")
        ).select("o.*")
    )
    detail = derive(
        detail_raw.select(
            F.from_json(F.col(value_col), ORDER_DETAIL_SCHEMA).alias("d")
        ).select("d.*")
    )
    return info, detail


def interval_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_ts: str,
    right_ts: str,
    lower_seconds: float = -5.0,
    upper_seconds: float = 5.0,
    how: str = "inner",
) -> DataFrame:
    """J1 — equi-join + event-time range predicate
    (right.ts BETWEEN left.ts + lower AND left.ts + upper).

    Matches Flink's ``intervalJoin(...).between(Time.seconds(-5),
    Time.seconds(5))`` (OrderWideApp.java:91). In batch Catalyst plans the
    equi-part as the join condition (hash join, one shuffle each side) and the
    range as a post-join filter; in streaming the same expression with
    watermarks on both sides gives bounded state.

    Key skew is AQE's: a sort-merge join whose partition holds a hot key
    (even ONE key on one side) is split at run time by map-output blocks
    (``SortMergeJoin(skew=true)`` in the final plan), so there is no
    plan-time profile or salted branch here (see ``operators/skew.py``).
    """
    # cast NTZ timestamps through TimestampType first (session TZ is UTC)
    lts = F.col(f"l.{left_ts}").cast("timestamp").cast("double")
    rts = F.col(f"r.{right_ts}").cast("timestamp").cast("double")
    range_cond = (rts >= lts + F.lit(lower_seconds)) & (
        rts <= lts + F.lit(upper_seconds)
    )
    cond = (F.col(f"l.{left_key}") == F.col(f"r.{right_key}")) & range_cond
    return left.alias("l").join(right.alias("r"), cond, how)


def enrich_dims(
    facts: DataFrame,
    dims: list[tuple[DataFrame, str, str, list[str] | None]],
    how: str = "left",
    strategy: str = "broadcast",
) -> DataFrame:
    """J2 — chain dimension joins against the fact stream.

    ``dims``: list of (dim_df, fact_key_col, dim_key_col, keep_cols). The
    planned-join replacement for the reference's DimAsyncFunction + Redis
    cache (DimAsyncFunction.java:46-72, DimUtil.java:11-37). keep_cols=None
    keeps every non-key dim column.

    ``strategy`` is the size-fallback knob (SURVEY §4.2): "broadcast" for
    dims that fit executor memory (every gmall dim does — zero shuffles on
    the fact side, so a hot fact key costs nothing); "shuffle_hash" for
    dims too big to broadcast but small enough to hash (one shuffle each
    side, no sort); "auto" to leave the choice to Catalyst/AQE size
    estimates. A hot fact key on a shuffled join is left to AQE's
    run-time skew-join split; no plan-time job runs here.
    """
    if strategy not in ("broadcast", "shuffle_hash", "auto"):
        raise ValueError(f"unknown join strategy {strategy!r}")
    out = facts
    for dim_df, fact_key, dim_key, keep in dims:
        d = dim_df
        if keep is not None:
            d = d.select(dim_key, *keep)
        d = d.withColumnRenamed(dim_key, f"__dimkey_{fact_key}")
        if strategy == "broadcast":
            d = F.broadcast(d)
        elif strategy == "shuffle_hash":
            d = d.hint("shuffle_hash")
        out = out.join(
            d, out[fact_key] == d[f"__dimkey_{fact_key}"], how
        ).drop(f"__dimkey_{fact_key}")
    return out
