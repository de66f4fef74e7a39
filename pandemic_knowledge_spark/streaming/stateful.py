"""Custom stateful streaming operators via applyInPandasWithState.

The reference has no per-key streaming state at all (its "live" dashboards
recompute from ES on read). These operators are the engine's answer for
semantics the built-in windowed aggs can't express: state that survives
across micro-batches per key, with explicit timeout policy. Arrow moves
each key-group's batch rows into Python as pandas frames; state is a tiny
typed tuple — the supported, bounded-memory shape for custom streaming
logic at scale (state lives in the state store, partitioned by key, NOT on
the driver).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# near_dup_verdicts: the one mark-stream rollup (near_dup_mark uses it
# too, so the pinned stream == batch equivalence cannot drift), re-exported
# beside the stream it rolls up
from pandemic_knowledge_spark.operators.dedup import (  # noqa: F401
    band_rows_rowlocal,
    near_dup_verdicts,
)

RUNNING_TOTALS_OUTPUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("sum_value", DoubleType()),
    ]
)
_RUNNING_TOTALS_STATE = StructType(
    [StructField("n", LongType()), StructField("s", DoubleType())]
)


def running_totals_stateful(
    events: DataFrame,
    key: str = "user_id",
    value_col: str = "value",
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Per-key LIFETIME running totals, emitted as an update every time the
    key appears in a micro-batch.

    This is what `groupBy(key).agg(...)` cannot do on a stream (complete
    mode rewrites the world; windowed aggs scope state to a window): the
    cumulative 'live counters' panel, maintained incrementally with O(keys)
    state.
    """

    def update(
        key_tuple: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf[value_col].sum())
        state.update((n, s))
        yield pd.DataFrame(
            [{"user_id": key_tuple[0], "n_events": n, "sum_value": s}]
        )

    # Untimed rows cannot participate in time-ordered state: pandas turns
    # a NULL ts into the NaT int64-min sentinel, which would 'advance'
    # state with a fabricated 1677 timestamp — drop them, matching the
    # batch forms (operators.funnel filters ts IS NOT NULL).
    events = events.where(F.col(ts_col).isNotNull())
    stream = events.withWatermark(ts_col, watermark) if events.isStreaming else events
    return stream.groupBy(key).applyInPandasWithState(
        update,
        outputStructType=RUNNING_TOTALS_OUTPUT,
        stateStructType=_RUNNING_TOTALS_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


SESSION_OUTPUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", StringType()),
        StructField("n_events", LongType()),
    ]
)
_SESSION_STATE = StructType(
    [
        StructField("start_ms", LongType()),
        StructField("last_ms", LongType()),
        StructField("n", LongType()),
    ]
)


def sessionize_stateful(
    events: DataFrame,
    gap_seconds: int = 300,
    key: str = "user_id",
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Custom sessionizer with processing-timeout finalization: emits a
    session row when a key goes ``gap_seconds`` without events (the
    session_window built-in emits on watermark only; this variant also
    closes sessions for keys that simply stop arriving — the
    crawler-went-quiet case)."""

    def update(
        key_tuple: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        def emit(start_us: int, n: int) -> dict:
            return {
                "user_id": key_tuple[0],
                "session_start": pd.Timestamp(start_us, unit="us").isoformat(),
                "n_events": n,
            }

        if state.hasTimedOut:
            start_us, _last, n = state.get
            state.remove()
            yield pd.DataFrame([emit(start_us, n)])
            return
        rows = pd.concat(list(pdfs))
        # keep microsecond precision: session_start must equal the batch
        # gaps-and-islands min(ts) exactly
        ts_us = (rows[ts_col].astype("int64") // 1_000).sort_values()
        start_us, last_us, n = state.get if state.exists else (int(ts_us.iloc[0]), 0, 0)
        out = []
        for t in ts_us:
            t = int(t)
            if n > 0 and t - last_us > gap_seconds * 1_000_000:
                out.append(emit(start_us, n))
                start_us, n = t, 0
            last_us = t
            n += 1
        state.update((start_us, last_us, n))
        state.setTimeoutDuration(gap_seconds * 1000)
        if out:
            yield pd.DataFrame(out)

    # Untimed rows cannot participate in time-ordered state: pandas turns
    # a NULL ts into the NaT int64-min sentinel, which would 'advance'
    # state with a fabricated 1677 timestamp — drop them, matching the
    # batch forms (operators.funnel filters ts IS NOT NULL).
    events = events.where(F.col(ts_col).isNotNull())
    stream = events.withWatermark(ts_col, watermark) if events.isStreaming else events
    return stream.groupBy(key).applyInPandasWithState(
        update,
        outputStructType=SESSION_OUTPUT,
        stateStructType=_SESSION_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


FUNNEL_OUTPUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("max_stage", LongType()),
        StructField("stage_ts", StringType()),
    ]
)
_FUNNEL_STATE = StructType(
    [
        StructField("stage", LongType()),
        StructField("t_us", LongType()),
    ]
)


def funnel_stateful(
    events: DataFrame,
    stages: list[str],
    key: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming ordered funnel: per-key furthest stage as persistent state,
    an update row emitted whenever a key advances.

    Same greedy earliest-transition semantics as the batch fold
    (operators.funnel.funnel_stages): an event advances the funnel iff it
    is the NEXT stage and strictly later than the current stage's entry
    time. Rows are sorted by event time WITHIN each micro-batch, so
    in-batch disorder is harmless; across batches the stream matches the
    batch fold whenever per-key event time is non-decreasing batch-to-batch
    (ordered at-least-once ingest). A cross-batch late event older than the
    stored stage time cannot rewind state — it is simply ignored, which is
    the standard streaming-funnel compromise (the batch fold over the full
    log remains the reprocessing truth).

    State per key = (stage, entry ts): O(keys) fixed-size state, never the
    event history.
    """
    stage_of = {s: i for i, s in enumerate(stages)}

    def update(
        key_tuple: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        stage, t_us = state.get if state.exists else (0, None)
        advanced = False
        rows = pd.concat(list(pdfs))
        rows = rows.assign(_us=rows[ts_col].astype("int64") // 1_000).sort_values(
            ["_us", type_col]
        )
        for _, r in rows.iterrows():
            idx = stage_of.get(r[type_col])
            if idx is None or idx != stage:
                continue
            t = int(r["_us"])
            if t_us is not None and t <= t_us:
                continue
            stage, t_us, advanced = stage + 1, t, True
        state.update((stage, t_us))
        if advanced:
            yield pd.DataFrame(
                [
                    {
                        "user_id": key_tuple[0],
                        "max_stage": stage,
                        "stage_ts": pd.Timestamp(t_us, unit="us").isoformat(),
                    }
                ]
            )

    # Untimed rows cannot participate in time-ordered state: pandas turns
    # a NULL ts into the NaT int64-min sentinel, which would 'advance'
    # state with a fabricated 1677 timestamp — drop them, matching the
    # batch forms (operators.funnel filters ts IS NOT NULL).
    events = events.where(F.col(ts_col).isNotNull())
    stream = events.withWatermark(ts_col, watermark) if events.isStreaming else events
    return stream.groupBy(key).applyInPandasWithState(
        update,
        outputStructType=FUNNEL_OUTPUT,
        stateStructType=_FUNNEL_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


NEAR_DUP_MARK_OUTPUT = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("band", IntegerType()),
        StructField("band_ref", LongType()),
    ]
)
_NEAR_DUP_MARK_STATE = StructType([StructField("min_id", LongType())])


def near_dup_mark_stateful(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 2
) -> DataFrame:
    """Incremental near-dup marking at ingest — the streaming companion of
    operators.dedup.near_dup_mark: every arriving doc emits one mark row
    per LSH band, band_ref = the smallest doc id this band bucket has EVER
    seen (itself included). A doc is a near-dup candidate iff
    min(band_ref) over its bands < its own id; `near_dup_verdicts` is that
    rollup (run it over the sink — idempotent, so an at-least-once sink
    still rolls up to the right verdict).

    MinHash signatures and band keys are row-local HOFs
    (operators.dedup.band_rows_rowlocal), so the only stateful step is a
    per-(band, bkey) running MIN: state is ONE long per distinct bucket —
    the smallest possible signature store (a corpus of N docs holds at most
    4N buckets x 16 bytes, hash-partitioned across the state store, never
    on the driver; at 100 TB use the RocksDB state store provider). Within
    a micro-batch rows are processed in doc-id order; across batches
    arrival order wins — identical to the batch form whenever ingest is
    id-ordered, which is exactly stream_dedup_first's (ts, event_id)
    contract with doc_id as the arrival proxy.
    """

    def update(
        key_tuple: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        ids = np.sort(
            np.concatenate([p["doc_id"].to_numpy(np.int64) for p in pdfs])
        )
        if ids.size == 0:  # pragma: no cover - empty group never dispatched
            return
        refs = np.minimum.accumulate(ids)
        if state.exists:
            refs = np.minimum(refs, np.int64(state.get[0]))
        state.update((int(refs[-1]),))
        yield pd.DataFrame(
            {"doc_id": ids, "band": int(key_tuple[0]), "band_ref": refs}
        )

    bands = band_rows_rowlocal(docs, id_col, text_col, k)
    return bands.groupBy("band", "bkey").applyInPandasWithState(
        update,
        outputStructType=NEAR_DUP_MARK_OUTPUT,
        stateStructType=_NEAR_DUP_MARK_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
