"""Custom stateful streaming operator: event-time sessionization via
``applyInPandasWithState`` (round instructions §streaming: "custom
stateful operators"; the batch twin is queries_events.q_events_sessions,
re-expressing the reference's timestamp-DAG incrementality over the
webtext events table), run through the shared drain (drain.py).

Semantics match the batch query exactly **when source dumps are
time-ordered across files** (true for this pipeline's ledger-style
dumps): with ``WATERMARK = '0 seconds'`` an event arriving in a later
micro-batch with ts below the current watermark is dropped before the
stateful operator, so out-of-order-across-files sources would need a
nonzero watermark (accepting correspondingly later session closure) to
keep batch equivalence. A session is a maximal run of a user's events
where each microsecond-exact gap ≤ ``SESSION_GAP_S``. State per user =
the open session (start_us, last_us, n_events). A micro-batch may close
sessions intra-batch (gap inside the batch) — those emit immediately;
the open tail session emits when the EVENT-TIME watermark passes
``last + gap`` (GroupStateTimeout.EventTimeTimeout), so output needs no
rewrites — the append-only contract every sink here follows.

Scale shape: state is O(active users) × 24 bytes, partitioned by the
groupBy key; each micro-batch touches only users present in the batch
plus timed-out keys. No shuffle beyond the keyed exchange Spark already
does for stateful operators.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .drain import drain

SESSION_GAP_S = 600  # keep in sync with queries_events.SESSION_GAP_S
WATERMARK = "0 seconds"
_GAP_US = SESSION_GAP_S * 1_000_000

OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start_us", T.LongType()),
        T.StructField("session_end_us", T.LongType()),
        T.StructField("n_events", T.LongType()),
    ]
)
STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_us", T.LongType()),
        T.StructField("last_us", T.LongType()),
        T.StructField("n", T.LongType()),
    ]
)


def _session_fn(
    key: Tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterable[pd.DataFrame]:
    user_id = key[0]
    if state.hasTimedOut:
        start_us, last_us, n = state.get
        state.remove()
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "session_start_us": [start_us],
                "session_end_us": [last_us],
                "n_events": [n],
            }
        )
        return

    rows = pd.concat(list(pdfs), ignore_index=True)
    rows = rows.sort_values(["ts", "event_id"])
    # pandas datetime64[ns] → exact microseconds
    us = (
        rows["ts"].to_numpy().astype("datetime64[ns]").astype("int64") // 1000
    )

    if state.exists:
        start_us, last_us, n = state.get
    else:
        start_us = last_us = int(us[0])
        n = 0
    closed = []
    for t in us:
        t = int(t)
        if n > 0 and t - last_us > _GAP_US:
            closed.append((start_us, last_us, n))
            start_us = t
            n = 0
        last_us = max(last_us, t)
        n += 1
    state.update((start_us, last_us, n))
    # close the open session once the watermark passes last + gap
    state.setTimeoutTimestamp(last_us // 1000 + SESSION_GAP_S * 1000)
    if closed:
        yield pd.DataFrame(
            {
                "user_id": [user_id] * len(closed),
                "session_start_us": [c[0] for c in closed],
                "session_end_us": [c[1] for c in closed],
                "n_events": [c[2] for c in closed],
            }
        )


def _sessions(ev: DataFrame) -> DataFrame:
    return (
        ev.select("event_id", "ts", "user_id")
        .groupBy("user_id")
        .applyInPandasWithState(
            _session_fn,
            OUT_SCHEMA,
            STATE_SCHEMA,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def stream_sessions(
    spark: SparkSession,
    src_glob: str,
    schema,
    ckpt_dir: str,
    out_dir: str,
    max_files_per_trigger: int | None = 1,
) -> dict | None:
    """Drain available event dumps, maintaining per-user session state
    across micro-batches and runs (checkpointed state store); closed
    sessions append to ``out_dir``. Returns the final progress dict
    (state-store rows, batch metrics) for bench/ops visibility.

    ``max_files_per_trigger=None`` drains everything in ONE data batch
    (plus availableNow's watermark-flush batch): with the 0-second
    watermark nothing is dropped intra-batch regardless of file order,
    so unordered partitioned dumps are safe on this path — the
    time-ordered-files requirement in the module docstring applies only
    to multi-batch drains."""
    return drain(
        spark, src_glob, schema, ckpt_dir, out_dir,
        _sessions, WATERMARK, max_files_per_trigger,
    )
