"""As-of (point-in-time) join: enrich each left row with the most recent
right row for the same key at-or-before the left row's timestamp.

No reference counterpart (SURVEY.md §2.5 notes the reference has no as-of
join) — this is part of the engine's extended surface: point-in-time
enrichment is the batch analogue of the reference's dim lookup
(`app/function/DimAsyncFunction.java:46-72`) when the dimension is
*versioned* instead of current-state-only.

Scale design (100 TB): the naive formulation is a range join
(`l.key = r.key AND r.ts <= l.ts` + keep max `r.ts`), which Spark plans as
a broadcast-nested-loop or an exploding equi-join + filter. Instead we use
the union-and-window formulation:

    union(left tagged 1, right tagged 0)
      -> last_value(right payload, ignoreNulls) OVER
           (PARTITION BY key ORDER BY ts, tag ROWS UNBOUNDED PRECEDING)
      -> keep left rows

One hash shuffle on the key, sort within partition, zero row explosion —
the same cost profile as a single groupBy. A dominant key lands on one
window task (AQE splits join skew, not window skew); drop bot keys
upstream with `operators.skew.hot_keys` if one key dominates.

Tie semantics: a right row with ts == left ts IS visible (at-or-before,
i.e. `left.ts >= right.ts`), matching DuckDB's `ASOF JOIN ... ON l.ts >=
r.ts`, because right rows sort before left rows at equal ts (tag 0 < 1).
If several right rows share (key, ts) the caller should pre-dedupe;
`asof_join` does it deterministically by keeping the row with the largest
`tiebreak_col` (remaining payload columns break residual ties).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_TAG = "_asof_is_left"


def asof_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_ts: str,
    right_ts: str,
    payload_cols: list[str] | None = None,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Left as-of join. Every `left` row is kept; `payload_cols` from the
    latest `right` row with `right_key == left_key` and
    `right_ts <= left_ts` are appended (null when no such row exists).

    payload_cols: right columns to carry (default: all except key/ts).
    tiebreak_col: right column used to pick ONE row when several right rows
        share (key, ts); the largest value wins (default: first payload col).
    """
    if payload_cols is None:
        payload_cols = [
            c for c in right.columns if c not in (right_key, right_ts)
        ]
    if not payload_cols:
        raise ValueError(
            "asof_join: the right frame has no payload columns beyond "
            f"key={right_key!r} and ts={right_ts!r} — pass payload_cols "
            "explicitly (an as-of join with nothing to carry is a no-op)"
        )
    if tiebreak_col is None:
        tiebreak_col = payload_cols[0]

    # Deterministic pre-dedupe: one right row per (key, ts). The remaining
    # payload columns are secondary sort keys so the winner is unique even
    # when tiebreak_col itself ties within a (key, ts) group.
    wdup = Window.partitionBy(right_key, right_ts).orderBy(
        F.col(tiebreak_col).desc(),
        *[F.col(c).desc() for c in payload_cols if c != tiebreak_col],
    )
    r = (
        right.select(right_key, right_ts, *payload_cols)
        .withColumn("_rdup", F.row_number().over(wdup))
        .filter(F.col("_rdup") == 1)
        .drop("_rdup")
    )

    rside = r.select(
        F.col(right_key).alias("_asof_key"),
        F.col(right_ts).alias("_asof_ts"),
        F.lit(0).alias(_TAG),
        F.struct(*payload_cols).alias("_asof_payload"),
    )
    lside = left.select(
        F.col(left_key).alias("_asof_key"),
        F.col(left_ts).alias("_asof_ts"),
        F.lit(1).alias(_TAG),
        F.lit(None).cast(rside.schema["_asof_payload"].dataType).alias(
            "_asof_payload"
        ),
        F.struct(*left.columns).alias("_asof_left"),
    )
    rside = rside.withColumn(
        "_asof_left", F.lit(None).cast(lside.schema["_asof_left"].dataType)
    )

    # right rows sort before left rows at equal ts => at-or-before visibility
    w = (
        Window.partitionBy("_asof_key")
        .orderBy("_asof_ts", _TAG)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = lside.unionByName(rside).withColumn(
        "_asof_match", F.last("_asof_payload", ignorenulls=True).over(w)
    )
    out = merged.filter(F.col(_TAG) == 1).select(
        *[F.col(f"_asof_left.{c}").alias(c) for c in left.columns],
        *[F.col(f"_asof_match.{c}").alias(c) for c in payload_cols],
    )
    return out
