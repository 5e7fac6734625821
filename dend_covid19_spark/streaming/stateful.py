"""Custom stateful streaming operator: gap-based sessionization with
``applyInPandasWithState`` (the north-star 'custom stateful operators'
surface).

Semantics mirror the batch operator plans/timeseries.py::events_sessionize
(30-min inactivity gap), with the streaming-native difference that only
*closed* sessions are emitted — a session stays open in the state store
until a later event (or timeout policy) closes it. State per user is a
4-tuple, so the state store scales with |active users|, not event volume.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .daily import drain, read_events_stream

OUTPUT_SCHEMA = "user_id long, session_seq long, n_events long, session_date date"
STATE_SCHEMA = "last_us long, session_seq long, n_events long, start_us long"

GAP_US = 30 * 60 * 1_000_000


def _make_session_fn(gap_us: int):
    """Factory for the per-user state machine — a nested function so
    cloudpickle ships it by value (in local mode the only engine module a
    worker imports is the ``worker_daemon`` shim).

    Events inside a micro-batch are sorted by (ts, event_id) — same total
    order as the batch operator — and folded into
    (last_us, session_seq, n_events, start_us)."""

    def session_fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import pandas as pd  # noqa: PLC0415 — worker-side import

        (user_id,) = key
        rows = pd.concat(list(pdfs))
        rows = rows.sort_values(["ts", "event_id"])
        # Arrow may hand the ts column over as datetime64[ns] or [us]
        # depending on pandas/pyarrow versions — normalize to epoch-us
        # via an explicit unit cast, never a raw int64 reinterpret.
        ts_us = rows["ts"].astype("datetime64[us]").astype("int64")

        if state.exists:
            last_us, seq, n, start_us = state.get
        else:
            last_us, seq, n, start_us = None, 0, 0, None

        closed: list[tuple[Any, ...]] = []
        for t in ts_us:
            t = int(t)
            if last_us is None or t - last_us > gap_us:
                if n > 0:
                    closed.append((user_id, seq, n, start_us))
                seq, n, start_us = seq + 1, 0, t
            n += 1
            last_us = t
        state.update((last_us, seq, n, start_us))

        if closed:
            out = pd.DataFrame(
                closed, columns=["user_id", "session_seq", "n_events", "start_us"]
            )
            out["session_date"] = pd.to_datetime(
                out.pop("start_us"), unit="us"
            ).dt.date
            yield out

    return session_fn


def sessionize_stateful(events: DataFrame) -> DataFrame:
    """events (streaming or batch-tested via availableNow) -> closed
    sessions. Keyed state per user; append output mode."""
    return events.groupBy("user_id").applyInPandasWithState(
        _make_session_fn(GAP_US),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_sessionize_available_now(
    spark, src_dir: str, checkpoint_dir: str, sink_table: str = "sessions_stream"
) -> None:
    events = read_events_stream(spark, src_dir).select("user_id", "ts", "event_id")
    writer = sessionize_stateful(events).writeStream.queryName(sink_table)
    drain(spark, writer.format("memory").outputMode("append"), checkpoint_dir, src_dir)


def run_sessionize_to_parquet(
    spark, src_dir: str, out_dir: str, checkpoint_dir: str
) -> None:
    """availableNow catch-up of the stateful sessionizer into a PARQUET
    sink — restart-safe: re-running with the same checkpoint resumes
    the per-user state store, processes only newly arrived files, and
    appends only the sessions those arrivals closed (the memory sink
    used by the test harness resets per run; the file sink is the shape
    that survives restarts)."""
    events = read_events_stream(spark, src_dir).select("user_id", "ts", "event_id")
    writer = sessionize_stateful(events).writeStream.option("path", out_dir)
    drain(spark, writer.format("parquet").outputMode("append"), checkpoint_dir, src_dir)


# --- ordered-sequence funnel as a custom stateful operator (round 13) -------
# The streaming form funnel_stage_progression's docstring left as
# documentation (r12 verdict item 4): per-user state is ONE (stage,
# stage_ts) pair — the state-store bound that makes the funnel safe for
# users with unbounded history (the batch fold's collect_list grows with
# history; this never does). Emits a row per stage TRANSITION (append
# mode), so the drained sink is the funnel's progression log and the
# deepest stage per user derives from it.

FUNNEL_OUTPUT_SCHEMA = "user_id long, stage int, reached_us long"
FUNNEL_STATE_SCHEMA = "stage int, stage_us long"


def _make_funnel_fn(stages: tuple, window_us: int):
    """Factory for the per-user funnel state machine (nested so
    cloudpickle ships it by value). Events inside a micro-batch sort by
    (ts, event_id) — the batch fold's total order; the window gate and
    first-touch anchoring mirror plans/timeseries.py::funnel_stages_over
    exactly: an expired window is never revived, stage 0 -> 1 on the
    FIRST qualifying stage-1 event, later stages must land strictly
    after the prior stage's event and within window_us of it."""

    def funnel_fn(key, pdfs, state):
        import pandas as pd  # noqa: PLC0415 — worker-side import

        (user_id,) = key
        rows = pd.concat(list(pdfs))
        rows = rows.sort_values(["ts", "event_id"])
        ts_us = rows["ts"].astype("datetime64[us]").astype("int64")
        types = rows["event_type"].tolist()

        if state.exists:
            st, sts = state.get
        else:
            st, sts = 0, 0

        hits: list[tuple[int, int, int]] = []
        for t, et in zip(ts_us, types):
            t = int(t)
            if st == 0 and et == stages[0]:
                st, sts = 1, t
            elif st == 1 and et == stages[1] and t <= sts + window_us:
                st, sts = 2, t
            elif st == 2 and et == stages[2] and t <= sts + window_us:
                st, sts = 3, t
            else:
                continue
            hits.append((user_id, st, t))
        state.update((st, sts))

        if hits:
            yield pd.DataFrame(
                hits, columns=["user_id", "stage", "reached_us"]
            )

    return funnel_fn


def funnel_stateful(events: DataFrame, stages: tuple, window_us: int) -> DataFrame:
    """events (streaming) -> per-user stage-transition rows. Keyed state
    is one (int, long) pair per user; append output mode."""
    return events.groupBy("user_id").applyInPandasWithState(
        _make_funnel_fn(stages, window_us),
        outputStructType=FUNNEL_OUTPUT_SCHEMA,
        stateStructType=FUNNEL_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_funnel_available_now(
    spark,
    src_dir: str,
    checkpoint_dir: str,
    stages: tuple,
    window_us: int,
    sink_table: str = "funnel_stream",
    max_files_per_trigger: int = 1,
) -> None:
    events = read_events_stream(
        spark, src_dir, max_files_per_trigger=max_files_per_trigger
    ).select("user_id", "ts", "event_id", "event_type")
    writer = funnel_stateful(events, stages, window_us).writeStream.queryName(sink_table)
    drain(spark, writer.format("memory").outputMode("append"), checkpoint_dir, src_dir)
