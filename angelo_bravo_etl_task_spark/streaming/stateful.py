"""Custom stateful streaming operator via ``applyInPandasWithState``.

The reference is batch-only; this is the engine's "custom operator the
built-ins can't express" streaming surface (SURVEY.md §2.4): per-user
gap-based sessionization with WATERMARK-CORRECT emission — a session is
emitted only once the event-time watermark proves no late event can extend
it (``session_end + gap <= watermark``). ``F.session_window`` gives the
same windows batch-side, but its streaming form cannot, e.g., carry custom
per-session payloads or tiered timeouts; this operator is the template for
those: arbitrary per-key state (here a pending-session list), event-time
timeouts, exact append-mode semantics.

Semantics (deterministic, oracle-checkable):
- events for a user split into sessions wherever consecutive event times
  are more than ``gap`` apart (ties/duplicates allowed; only the time
  multiset matters);
- a session (start = first ts, end = last ts, n = events) is APPENDED to
  the sink exactly when the watermark reaches ``end + gap`` — for a bounded
  run with watermark delay D over data with max event time M, that is
  ``end + gap <= M - D``;
- later sessions stay buffered in state (bounded by the watermark horizon:
  state per key is one open session plus sessions awaiting finality).

Scale shape: state lives in the state store, partitioned by the grouping
key — size is O(open sessions per key), bounded by the watermark, never by
stream length. The pandas function sees one key's batch rows at a time
(Arrow-transferred), so per-invocation memory is one user's events in the
micro-batch, not the partition.
"""

from __future__ import annotations

import json
from typing import Any, Iterable, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", LongType()),
    ]
)

# pending sessions as JSON [[start_us, end_us, n], ...] — state structs
# cannot hold variable-length session lists as cleanly, and the list is
# small (bounded by the watermark horizon)
STATE_SCHEMA = StructType([StructField("pending", StringType())])

_US_PER_MS = 1_000


def _merge_sessions(
    pending: list[list[int]], ts_us: list[int], gap_us: int
) -> list[list[int]]:
    """Fold sorted new event times (micros) into the pending session list.

    Sessions are [start_us, end_us, n]. New events extend the last session
    when within ``gap_us`` of its end, else open a new one. Input batches
    are per-micro-batch sorted; cross-batch order is handled by the
    watermark (an event older than watermark-final sessions cannot occur,
    and sessions are only finalized past the watermark)."""
    out = [list(s) for s in pending]
    for t in ts_us:
        if out and t - out[-1][1] <= gap_us and t >= out[-1][0]:
            out[-1][1] = max(out[-1][1], t)
            out[-1][2] += 1
        elif out and t < out[-1][0]:
            # late event within an earlier, not-yet-final session: walk back
            for s in out:
                if s[0] - gap_us <= t <= s[1] + gap_us:
                    s[0] = min(s[0], t)
                    s[1] = max(s[1], t)
                    s[2] += 1
                    break
            else:
                out.append([t, t, 1])
                out.sort(key=lambda s: s[0])
        else:
            out.append([t, t, 1])
    out.sort(key=lambda s: s[0])
    return out


def sessionize_stateful(
    events: DataFrame,
    gap: str = "5 minutes",
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Gap-based sessionization as a custom stateful operator.

    ``events`` must be a STREAMING DataFrame already ``withWatermark`` on
    ``ts_col``. Returns the append-mode session stream described in the
    module docstring.
    """
    n, unit = gap.split()
    gap_us = int(n) * {
        "second": 1_000_000,
        "seconds": 1_000_000,
        "minute": 60_000_000,
        "minutes": 60_000_000,
        "hour": 3_600_000_000,
        "hours": 3_600_000_000,
    }[unit]

    def fn(
        key: Tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        pending: list[list[int]] = (
            json.loads(state.get[0]) if state.exists else []
        )
        if not state.hasTimedOut:
            ts_us: list[int] = []
            for pdf in pdfs:
                # Arrow hands event-time as datetime64[us]
                ts_us.extend(
                    int(v) // 1_000
                    for v in pdf[ts_col].values.astype("datetime64[ns]").astype("int64")
                )
            ts_us.sort()
            pending = _merge_sessions(pending, ts_us, gap_us)
        else:
            # timeout invocation consumes no rows; drain the (empty) iterator
            for _ in pdfs:
                pass

        wm_us = state.getCurrentWatermarkMs() * _US_PER_MS
        final = [s for s in pending if s[1] + gap_us <= wm_us]
        pending = [s for s in pending if s[1] + gap_us > wm_us]

        if pending:
            state.update((json.dumps(pending),))
            # wake when the earliest pending session can finalize; must be
            # strictly beyond the current watermark
            wake_ms = max(
                (pending[0][1] + gap_us) // _US_PER_MS,
                state.getCurrentWatermarkMs() + 1,
            )
            state.setTimeoutTimestamp(wake_ms)
        else:
            state.remove()

        if final:
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(final),
                    "session_start": [
                        pd.Timestamp(s[0], unit="us") for s in final
                    ],
                    "session_end": [pd.Timestamp(s[1], unit="us") for s in final],
                    "n_events": [s[2] for s in final],
                }
            )

    return events.groupBy(user_col).applyInPandasWithState(
        fn,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
