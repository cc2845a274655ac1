"""Streaming aggregations over the events stream (training-pipeline side).

Two shapes on top of the stateless extraction lift (extract_stream):

* **Watermarked windowed counts** — the built-in path: event-time window
  aggregation with a late-data watermark. Catalyst owns the state store;
  append mode emits a window only once its watermark passes (the canonical
  late-data semantics).
* **Count-bounded sessions** — a custom stateful operator via
  ``applyInPandasWithState``: gap-based sessions that ALSO split after
  ``max_events`` rows. The split-on-count rule is not expressible with the
  built-in ``session_window`` (which merges on gap only), so this is the
  honest use case for user-managed state. State is one small tuple per user
  (epoch seconds + count) — bounded, rescale-safe, persisted in the
  streaming checkpoint (a second ``availableNow`` run continues sessions
  where the first stopped).

Scale notes: both operators shuffle once on their grouping key; state per
key is O(1); watermarks bound the window state store. No driver-side
anything.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator, Tuple

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from .. import ship_package

__all__ = ["windowed_event_counts", "count_bounded_sessions", "SESSION_SCHEMA"]

SESSION_SCHEMA = (
    "user_id BIGINT, session_start BIGINT, session_end BIGINT, "
    "n_events INT, closed BOOLEAN"
)
_STATE_SCHEMA = "start BIGINT, last BIGINT, n INT"


def windowed_event_counts(
    events: DataFrame, *, window: str = "1 hour", watermark: str = "30 minutes"
) -> DataFrame:
    """Event-time windowed counts with a late-data watermark (built-in
    stateful agg — SURVEY §2.8's 'if later streamed' path)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n",
        )
    )


def _session_fn(gap_seconds: int, max_events: int):
    def fn(key: Tuple[Any, ...], pdfs: Iterable[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        start: Any
        last: Any
        if state.exists:
            start, last, n = state.get
        else:
            start, last, n = None, None, 0
        closed = []
        # applyInPandasWithState may deliver one key's micro-batch rows as
        # several pandas chunks; a per-chunk sort would let a later chunk
        # carry earlier timestamps and silently mis-split sessions, so all
        # chunks are concatenated and sorted once before the event walk
        chunks = [pdf["ts"] for pdf in pdfs]
        all_ts = (
            pd.concat(chunks, ignore_index=True)
            if chunks else pd.Series([], dtype="datetime64[ns]")
        )
        for ts in all_ts.sort_values():
            t = int(ts.value // 1_000_000_000)  # epoch seconds
            if last is not None and (t - last > gap_seconds or n >= max_events):
                closed.append((user_id, start, last, n, True))
                start, n = None, 0
            if start is None:
                start = t
            last = t
            n += 1
        state.update((start, last, n))
        rows = closed + ([(user_id, start, last, n, False)] if n else [])
        if rows:
            yield pd.DataFrame(
                rows,
                columns=["user_id", "session_start", "session_end", "n_events", "closed"],
            )

    return fn


def count_bounded_sessions(
    events: DataFrame, *, gap_minutes: int = 30, max_events: int = 5
) -> DataFrame:
    """Custom stateful sessionization: a session closes on a time gap >
    ``gap_minutes`` OR after ``max_events`` rows. Emits closed sessions plus
    the currently-open one (``closed = false``) per micro-batch — update
    output semantics. Expects columns (user_id BIGINT, ts TIMESTAMP)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    ship_package(events.sparkSession)  # the state function is package code
    return (
        events.select("user_id", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            _session_fn(gap_minutes * 60, max_events),
            outputStructType=SESSION_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
