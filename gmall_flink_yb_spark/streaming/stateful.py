"""Keyed stateful streaming operators (applyInPandasWithState).

These are the only places the engine needs true per-key streaming state
(visitor correction, CEP bounce, and the ADS funnel/retention forms below);
everything else in the reference maps to declarative Structured Streaming
(SURVEY.md §7.3). All operators take a FLAT event frame (key/ts plus scalar
columns) — flatten nested structs before calling.

Scale notes: state per key is tiny (one flag / one pending timestamp), keys
shard across executors by hash, and the bounce operator's state is
watermark-bounded — every pending entry either resolves on the next event or
is evicted by its event-time timer, so state size is O(active sessions), not
O(history). This is exactly the bounded-state discipline the reference's ST1
lacks (unbounded ValueState per device, BaseLogApp.java:80-82; SURVEY.md §4.2).

Measured (tools/bench_state.py, BASELINE.md "Round-6 streaming state-size
stress"): in-heap state is ~185-205 B/key regardless of payload (UnsafeRow +
versioned-map overhead; ~2x with the store's default two retained versions),
so 10M keys is a few GB — budget ~0.4 GB per 1M resident keys per executor
and move to the RocksDB state store provider past a few GB per executor.
Batch wall-clock is LINEAR in distinct keys (one Python call per key per
micro-batch), so at 10M+ active keys the lever is executor count, or the
batch forms in operators/visitor which run as plain aggregates.

At the few hundred keys a ``dw_stream`` tick carries, the floor is a fixed
cost per Python task, not the group protocol. Every task, a no-data
timer batch's too, runs PySpark's per-task set-up, whose
``importlib.invalidate_caches()`` re-parsed pyspark.zip's directory
through 14 or more zipimporters: 115-120 ms of one core per call (one
interpreter on a busy 4-core box). Sessions from ``session.get_spark`` start their
workers from the engine daemon (``pydaemon``), which parses an unchanged
archive's directory once, so the call takes 0.1 ms. In one warm session
(4 cores, ticks of 480 rows, addBatch after the first tick) a no-op
``applyInPandasWithState`` tick fell from 520-680 to 350-440 ms, against
120-210 ms for the JVM's ``dropDuplicates``. What is left per task is the
worker round trip and the Arrow batches.
"""

from __future__ import annotations

from typing import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)


def correct_is_new_stream(
    events: DataFrame,
    key_col: str = "mid",
    ts_col: str = "ts",
    is_new_col: str = "is_new",
) -> DataFrame:
    """ST1 streaming — per-device new-visitor correction.

    Reference: BaseLogApp.java:73-101 — keyed ValueState per ``common.mid``;
    if ``is_new == "1"`` but state exists, rewrite to "0"; else record state.
    Here: grouped state holds one "seen" flag per device; within a micro-batch
    rows are ordered by event time so only the key's first-ever event may keep
    is_new = "1" (identical to the batch form in operators.visitor).

    Output = input columns + ``is_new_fixed``.
    """
    out_schema = StructType(
        list(events.schema.fields) + [StructField("is_new_fixed", StringType())]
    )
    cols = [f.name for f in out_schema.fields]

    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        # per-GROUP cost is the scale bound at high key cardinality (one
        # call per key per micro-batch — tools/bench_state.py): avoid
        # pandas machinery that a typical 1-row group doesn't need
        chunks = [p for p in pdfs if len(p)]
        if not chunks:
            return
        pdf = chunks[0] if len(chunks) == 1 else pd.concat(
            chunks, ignore_index=True
        )
        if len(pdf) > 1:
            pdf = pdf.sort_values(ts_col, kind="mergesort").reset_index(
                drop=True
            )
        first_new = not state.exists and str(pdf[is_new_col].iloc[0]) == "1"
        fixed = ["0"] * len(pdf)
        if first_new:
            fixed[0] = "1"
        pdf = pdf.assign(is_new_fixed=fixed)
        state.update((1,))
        yield pdf[cols]

    return events.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType="seen integer",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def detect_bounce_stream(
    events: DataFrame,
    key_col: str = "mid",
    ts_col: str = "ts",
    entry_col: str = "is_entry",
    window_seconds: int = 10,
) -> DataFrame:
    """ST3 streaming — CEP bounce detection with event-time timeout.

    Reference (UserJumpDetailApp.java:58-120): keyed by mid, a session-entry
    event bounces if the next event for the key is either another entry
    within 10 s (matched pattern) or silence past 10 s (PatternTimeoutFunction
    side output); matched ∪ timeout is the output, always emitting the FIRST
    entry event. Decision table mirrored from operators.bounce (batch form):

    - next event within window, is entry      -> matched bounce
    - next event within window, not an entry  -> no bounce (session continued)
    - next event past window / no next event  -> timeout bounce

    The timeout case uses a per-key event-time timer at pending_ts + window —
    the exact analogue of Flink CEP's watermark-driven timeout emission. The
    input MUST have ``withWatermark(ts_col, ...)`` applied (the reference uses
    1 s bounded out-of-orderness, UserJumpDetailApp.java:60-67).

    Output: (key, ts) of each bouncing entry event.
    """
    out_schema = StructType(
        [
            StructField(key_col, StringType()),
            StructField(ts_col, TimestampType()),
        ]
    )
    win = float(window_seconds)

    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        mid = key[0]

        def emit(ts_list: list[float]) -> pd.DataFrame:
            return pd.DataFrame(
                {
                    key_col: [mid] * len(ts_list),
                    # round to Spark's microsecond precision: float-seconds
                    # noise below 1 us otherwise makes the ns->us Arrow
                    # cast "unsafe" and fails the task
                    ts_col: pd.to_datetime(ts_list, unit="s").round("us"),
                }
            )

        if state.hasTimedOut:
            # watermark passed pending + window with no newer event: the
            # PatternTimeoutFunction side-output case (:99-111)
            pending = state.get[0] if state.exists else None
            state.remove()
            if pending is not None:
                yield emit([pending])
            return

        chunks = [p for p in pdfs if len(p)]
        if not chunks:
            return
        pdf = chunks[0] if len(chunks) == 1 else pd.concat(
            chunks, ignore_index=True
        )
        if len(pdf) > 1:
            pdf = pdf.sort_values(ts_col, kind="mergesort")
        # vectorized epoch-seconds once per group: per-value
        # Timestamp.timestamp() calls dominate small-group cost
        ts_secs = pdf[ts_col].to_numpy("datetime64[ns]").astype("int64") / 1e9
        pending = state.get[0] if state.exists else None
        bounced: list[float] = []
        for ts_s, entry in zip(ts_secs, pdf[entry_col].to_numpy()):
            if pending is not None:
                gap = ts_s - pending
                if gap > win:
                    bounced.append(pending)  # timeout bounce
                elif entry:
                    bounced.append(pending)  # matched bounce (re-entry)
                pending = None  # non-entry within window: session continued
            if entry and pending is None:
                pending = float(ts_s)  # plain float for state serialization
        if pending is not None:
            state.update((pending,))
            deadline_ms = int(pending * 1000) + int(win * 1000)
            state.setTimeoutTimestamp(
                max(deadline_ms, state.getCurrentWatermarkMs() + 1)
            )
        elif state.exists:
            state.remove()
        if bounced:
            yield emit(bounced)

    return events.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType="pending double",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def funnel_steps_stream(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    window_seconds: int = 7 * 24 * 3600,
) -> DataFrame:
    """Streaming form of ``operators.funnel.funnel_conversion``: emits one
    append row ``(user, step_index, step_ts)`` the moment a user's
    first-qualifying chain ADVANCES to a step — the micro-batch analogue of
    the batch min-timestamp propagation (funnel.py:35), so

        counts-per-step over this output == funnel_conversion's ``users``.

    State per user is ``len(steps)`` timestamps (the achieved chain) —
    constant-size, never the event list.

    Ingest-order contract: within a micro-batch rows are processed in
    event-time order (sorted here); ACROSS micro-batches each user's
    events must arrive in non-decreasing event-time order (the daily/
    hourly-partitioned replay reality, same contract as
    ``start_incremental_dedup_stream``'s increasing doc ids). Under it the
    first qualifying step-k event IS the min-ts qualifying event, so
    streaming == batch exactly; an out-of-order step-1 arrival that would
    re-base a chain batch-side is ignored here (no retraction in append
    mode).
    """
    if len(steps) < 2:
        raise ValueError(f"funnel needs >= 2 steps, got {steps}")
    user_field = events.schema[user_col]
    out_schema = StructType(
        [
            StructField(user_col, user_field.dataType),
            StructField("step_index", IntegerType()),
            StructField("step_ts", TimestampType()),
        ]
    )
    step_idx = {s: i for i, s in enumerate(steps)}
    n = len(steps)
    win = float(window_seconds)

    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf[pdf[type_col].isin(step_idx)]
        if len(pdf) == 0:
            return
        pdf = pdf.sort_values(ts_col, kind="mergesort")
        t = list(state.get) if state.exists else [-1.0] * n
        hit_steps: list[int] = []
        hit_ts: list[float] = []
        for ts_val, typ in zip(pdf[ts_col], pdf[type_col]):
            ts_s = ts_val.timestamp()
            i = step_idx[typ]
            if i == 0:
                qualifies = t[0] < 0
            else:
                qualifies = (
                    t[i] < 0
                    and t[i - 1] >= 0
                    and ts_s > t[i - 1]
                    and ts_s <= t[0] + win
                )
            if qualifies:
                t[i] = ts_s
                hit_steps.append(i + 1)
                hit_ts.append(ts_s)
        state.update(tuple(t))
        if hit_steps:
            yield pd.DataFrame(
                {
                    user_col: [key[0]] * len(hit_steps),
                    "step_index": pd.Series(hit_steps, dtype="int32"),
                    "step_ts": pd.to_datetime(hit_ts, unit="s"),
                }
            )

    state_schema = ", ".join(f"t{i} double" for i in range(n))
    return events.groupBy(user_col).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def retention_stream(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    max_offset_days: int = 30,
) -> DataFrame:
    """Streaming form of ``operators.funnel.retention_cohorts``: emits one
    append row ``(user, cohort_date, day_offset)`` the FIRST time a user is
    seen active ``day_offset`` days after their cohort (first-active) date,
    so ``countDistinct(user)`` per (cohort_date, day_offset) over this
    output equals the batch query's ``active_users``.

    State per user: the cohort date (epoch days) plus one int64 BITMASK of
    already-emitted offsets — which is why ``max_offset_days`` must be < 63.
    Constant-size state per user, no event history.

    Same cross-batch ingest-order contract as ``funnel_steps_stream``: a
    user's first-ever event must not arrive after a later-dated one in a
    previous micro-batch (within-batch disorder is sorted away); negative
    offsets from contract violations are dropped, not retracted.
    """
    if not 0 < max_offset_days < 63:
        raise ValueError("max_offset_days must be in [1, 62] (bitmask state)")
    user_field = events.schema[user_col]
    out_schema = StructType(
        [
            StructField(user_col, user_field.dataType),
            StructField("cohort_date", StringType()),
            StructField("day_offset", IntegerType()),
        ]
    )

    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        pdf = pd.concat(list(pdfs), ignore_index=True)
        if len(pdf) == 0:
            return
        days = sorted(
            {int(ts_val.timestamp() // 86400) for ts_val in pdf[ts_col]}
        )
        cohort, emitted = state.get if state.exists else (-1, 0)
        out_off: list[int] = []
        for d in days:
            if cohort < 0:
                cohort = d
            off = d - cohort
            if 0 <= off <= max_offset_days and not (emitted >> off) & 1:
                emitted |= 1 << off
                out_off.append(off)
        state.update((cohort, emitted))
        if out_off:
            cohort_str = pd.Timestamp(cohort * 86400, unit="s").strftime(
                "%Y-%m-%d"
            )
            yield pd.DataFrame(
                {
                    user_col: [key[0]] * len(out_off),
                    "cohort_date": [cohort_str] * len(out_off),
                    "day_offset": pd.Series(out_off, dtype="int32"),
                }
            )

    return events.groupBy(user_col).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType="cohort long, emitted long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
