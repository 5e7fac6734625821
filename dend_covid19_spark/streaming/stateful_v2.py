"""Custom stateful streaming operator on the MODERN Spark 4 API:
gap-based sessionization with ``transformWithStateInPandas``
(StatefulProcessor + typed ValueState).

Semantics are identical to streaming/stateful.py (the
``applyInPandasWithState`` first-generation twin): 30-min inactivity
gap, only *closed* sessions emit, per-user state is a 4-tuple. What the
new API adds at scale:

- **Typed, composable state**: named ValueState/ListState/MapState
  handles instead of one opaque tuple — state schema evolves per handle,
  and the RocksDB state store can changelog-checkpoint it incrementally.
- **Timers**: a production sessionizer closes idle sessions with
  ``registerTimer`` instead of waiting for the next event; kept out of
  this availableNow-tested twin so batch-equality stays exact (a timer
  close depends on wall-clock/watermark progress, not input).
- **Initial state / TTL hooks** for bootstrap and GDPR-style eviction.

The processor class is defined inside a factory so cloudpickle ships it
by value — in local mode the only engine module a worker imports is the
``worker_daemon`` shim.

Runtime gate: transformWithState's Python<->JVM state protocol rides on
protobuf (``pyspark.sql.streaming.proto``), which is an optional
dependency not present in every environment (absent in this test
container). ``transform_with_state_available()`` reports it;
``sessionize_tws`` raises a clear error instead of the opaque
driver-worker crash Spark produces otherwise. The first-generation twin
in streaming/stateful.py has no such dependency and carries the
batch-equality test either way.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from .daily import drain, read_events_stream


def transform_with_state_available() -> bool:
    """True when the optional protobuf dependency for the
    transformWithState state-server protocol is importable."""
    try:
        from google.protobuf import descriptor  # noqa: F401, PLC0415

        return True
    except ImportError:
        return False

OUTPUT_SCHEMA = "user_id long, session_seq long, n_events long, session_date date"
STATE_SCHEMA = "last_us long, session_seq long, n_events long, start_us long"

GAP_US = 30 * 60 * 1_000_000


def _make_processor(gap_us: int):
    """Build the StatefulProcessor subclass + instance by value.

    Same fold as stateful.py::_make_session_fn: events sorted by
    (ts, event_id) — the batch operator's total order — update
    (last_us, session_seq, n_events, start_us); a gap > gap_us closes
    the running session and emits it."""
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    class SessionProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("session", STATE_SCHEMA)

        def handleInputRows(
            self, key: tuple, rows: Iterator[pd.DataFrame], timer_values
        ) -> Iterator[pd.DataFrame]:
            import pandas as pd  # noqa: PLC0415 — worker-side import

            (user_id,) = key
            batch = pd.concat(list(rows)).sort_values(["ts", "event_id"])
            # normalize to epoch-us via an explicit unit cast (Arrow may
            # deliver datetime64[ns] or [us] depending on versions)
            ts_us = batch["ts"].astype("datetime64[us]").astype("int64")

            if self._state.exists():
                last_us, seq, n, start_us = self._state.get()
            else:
                last_us, seq, n, start_us = None, 0, 0, None

            closed: list[tuple] = []
            for t in ts_us:
                t = int(t)
                if last_us is None or t - last_us > gap_us:
                    if n > 0:
                        closed.append((user_id, seq, n, start_us))
                    seq, n, start_us = seq + 1, 0, t
                n += 1
                last_us = t
            self._state.update((last_us, seq, n, start_us))

            if closed:
                out = pd.DataFrame(
                    closed,
                    columns=["user_id", "session_seq", "n_events", "start_us"],
                )
                out["session_date"] = pd.to_datetime(
                    out.pop("start_us"), unit="us"
                ).dt.date
                yield out

        def close(self) -> None:
            pass

    return SessionProcessor()


def sessionize_tws(events: DataFrame) -> DataFrame:
    """events (streaming; batch-tested via availableNow) -> closed
    sessions, via the Spark 4 transformWithStateInPandas operator."""
    if not transform_with_state_available():
        raise ImportError(
            "transformWithStateInPandas needs the optional 'protobuf' "
            "package (pyspark.sql.streaming.proto state protocol); use "
            "streaming.stateful.sessionize_stateful as the equivalent "
            "applyInPandasWithState operator instead"
        )
    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_make_processor(GAP_US),
        outputStructType=OUTPUT_SCHEMA,
        outputMode="append",
        timeMode="none",
    )


def run_sessionize_available_now(
    spark, src_dir: str, checkpoint_dir: str, sink_table: str = "sessions_tws"
) -> None:
    events = read_events_stream(spark, src_dir).select("user_id", "ts", "event_id")
    writer = sessionize_tws(events).writeStream.queryName(sink_table)
    drain(spark, writer.format("memory").outputMode("append"), checkpoint_dir, src_dir)
