"""Keyed-state operators for the streaming skin (SURVEY.md §2.6).

Every operator here runs on ``applyInPandasWithState`` — Spark's
Arrow-batched arbitrary-stateful operator, the idiomatic PySpark
stand-in for Flink's ``ValueState`` process functions — and is the one
streaming form of its batch plan:

- :func:`new_visitor_flags` — T1, ``BaseLogApp.java:156-204``:
  per-device first-visit date in state; a later-day record claiming
  ``is_new`` is repaired to 0.
- :func:`transition_pairs` / :func:`first_touch_attribution_pairs` —
  per-user predecessor pairing and earliest-view attribution, the
  streaming forms of ``event_transitions`` and
  ``first_touch_attribution``.

T3 (``UserJumpDetailApp``, bounces) is not here: it needs no Python
state, it is a built-in ``session_window`` aggregate
(``jobs.user_jump_stream``).

State size: O(1) per active key (a date / a timestamp / an event) —
at 1000-executor scale state is hash-partitioned by key, the same
layout Flink uses.

Ordering: every operator CONCATENATES its key's Arrow chunks before
sorting by (ts, event_id) — a key-batch larger than
``maxRecordsPerBatch`` arrives as several chunks in arbitrary order,
and per-chunk sorting would corrupt the first-day/pairing logic
(pinned by the chunked-delivery test). Cross-batch order is arrival
order, exactly like the reference's per-record processing; on
ts-ordered ingest the output equals the batch plan (tests assert
this).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

__all__ = [
    "new_visitor_flags",
    "transition_pairs",
    "first_touch_attribution_pairs",
]

_FLAGS_OUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("is_new", T.IntegerType()),
    ]
)
#: state: first-visit day as epoch days.
_FLAGS_STATE = T.StructType([T.StructField("first_day", T.LongType())])


def _epoch_days(ts: pd.Timestamp) -> int:
    return ts.normalize().value // 86_400_000_000_000


def new_visitor_flags(events: DataFrame) -> DataFrame:
    """T1 — (user_id, ts, is_new) with state-repaired new-visitor flags.

    is_new = 1 iff the record's day equals the key's first-seen day
    (every record of the first day counts new, matching the batch
    ``min(day) over (partition by user_id)`` form in plans/dwm.py).
    """

    def repair(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        first_day = state.get[0] if state.exists else None
        # whole-batch concat: first_day must be the min over the FULL
        # key-batch before any flag is emitted — computing it per
        # Arrow chunk lets an early chunk emit is_new=1 for a day a
        # later chunk proves was not the first (see transition_pairs)
        pdf = pd.concat(list(pdfs), ignore_index=True)
        if len(pdf):
            pdf = pdf.sort_values(["ts", "event_id"])
            days = pdf["ts"].map(_epoch_days)
            if first_day is None:
                first_day = int(days.iloc[0])
            else:
                first_day = min(first_day, int(days.iloc[0]))
            yield pd.DataFrame(
                {
                    "user_id": user_id,
                    "ts": pdf["ts"],
                    "is_new": (days == first_day).astype("int32"),
                }
            )
        if first_day is not None:
            state.update((first_day,))

    return (
        events.select("user_id", "ts", "event_id")
        .groupBy("user_id")
        .applyInPandasWithState(
            repair, _FLAGS_OUT, _FLAGS_STATE, "append", GroupStateTimeout.NoTimeout
        )
    )


_TRANS_OUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("prev_type", T.StringType()),
        T.StructField("next_type", T.StringType()),
    ]
)
#: state: the key's last-seen event as (epoch_us, event_id, type).
_TRANS_STATE = T.StructType(
    [
        T.StructField("last_us", T.LongType()),
        T.StructField("last_id", T.LongType()),
        T.StructField("last_type", T.StringType()),
    ]
)


def transition_pairs(events: DataFrame) -> DataFrame:
    """Streaming twin of the ``event_transitions`` batch plan's lag
    step: per user, each event pairs with its predecessor — including
    ACROSS micro-batches, which is exactly what the keyed state holds
    (the last event seen per user: 3 scalars, O(1) per key, the same
    ValueState shape as the reference's keyed process functions).

    Rows sort (ts, event_id) within a batch, mirroring the batch
    window's order; on ts-ordered ingest the emitted pair multiset
    equals the batch plan (pinned in test_streaming.py). Downstream
    the pairs feed any grouped count; raw pairs are emitted here so
    the query stays a single stateful operator.
    """

    def pair(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        last = state.get if state.exists else None
        last_us, last_id, last_type = last if last else (None, None, None)
        # a key's micro-batch arrives as MULTIPLE Arrow chunks once it
        # exceeds maxRecordsPerBatch — concatenate before sorting so
        # the (ts, event_id) order is global over the batch, not
        # per-chunk (per-chunk sorting silently mis-pairs large keys)
        pdf = pd.concat(list(pdfs), ignore_index=True)
        if len(pdf):
            pdf = pdf.sort_values(["ts", "event_id"])
            types = pdf["event_type"].tolist()
            prevs = ([last_type] if last_type is not None else [None]) + types[:-1]
            out = pd.DataFrame(
                {"user_id": user_id, "prev_type": prevs, "next_type": types}
            )
            yield out[out["prev_type"].notna()]
            last_us = int(pdf["ts"].iloc[-1].value // 1000)
            last_id = int(pdf["event_id"].iloc[-1])
            last_type = types[-1]
        if last_type is not None:
            state.update((last_us, last_id, last_type))

    return (
        events.select("user_id", "ts", "event_id", "event_type")
        .groupBy("user_id")
        .applyInPandasWithState(
            pair, _TRANS_OUT, _TRANS_STATE, "append", GroupStateTimeout.NoTimeout
        )
    )



_FT_OUT = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("purchase_ts", T.TimestampType()),
        T.StructField("first_view_id", T.LongType()),
        T.StructField("gap_us", T.LongType()),
    ]
)
#: state: the key's earliest view as (epoch_us, event_id).
_FT_STATE = T.StructType(
    [
        T.StructField("first_us", T.LongType()),
        T.StructField("first_id", T.LongType()),
    ]
)


def first_touch_attribution_pairs(events: DataFrame) -> DataFrame:
    """Streaming twin of the ``first_touch_attribution`` batch plan:
    per user, hold the EARLIEST view seen (two scalars of state —
    strictly smaller than last-touch's buffered-window state, the
    operational argument for first-touch at scale) and stamp every
    purchase with it. A view can only move the state EARLIER, so on
    ts-ordered ingest the state at each purchase equals the batch
    plan's struct-min, and emitted rows match exactly (pinned).
    Unmatched purchases emit the -1 sentinel per the batch plan's
    NULL-free convention.
    """

    def attribute(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        first_us, first_id = state.get if state.exists else (None, None)
        # concatenate chunks: one global (ts, event_id) order per
        # key-batch (see transition_pairs); then process per DISTINCT
        # ts — all views of a timestamp update state BEFORE purchases
        # of that timestamp emit, matching the batch plan's inclusive
        # ``fv_ts <= p.ts`` regardless of event_id order within ties
        pdf = pd.concat(list(pdfs), ignore_index=True)
        out_rows = []
        if len(pdf):
            pdf = pdf.sort_values(["ts", "event_id"])
            for _ts, grp in pdf.groupby("ts", sort=True):
                for eid, etype in zip(grp["event_id"], grp["event_type"]):
                    if etype == "view":
                        us = int(_ts.value // 1000)
                        if first_us is None or (us, int(eid)) < (first_us, first_id):
                            first_us, first_id = us, int(eid)
                for ts, eid, etype in zip(grp["ts"], grp["event_id"], grp["event_type"]):
                    if etype == "purchase":
                        us = int(ts.value // 1000)
                        matched = first_us is not None and first_us <= us
                        out_rows.append(
                            (
                                int(eid),
                                user_id,
                                ts,
                                first_id if matched else -1,
                                us - first_us if matched else -1,
                            )
                        )
        yield pd.DataFrame(
            out_rows,
            columns=["event_id", "user_id", "purchase_ts", "first_view_id", "gap_us"],
        )
        if first_us is not None:
            state.update((first_us, first_id))

    return (
        events.select("user_id", "ts", "event_id", "event_type")
        .groupBy("user_id")
        .applyInPandasWithState(
            attribute, _FT_OUT, _FT_STATE, "append", GroupStateTimeout.NoTimeout
        )
    )
