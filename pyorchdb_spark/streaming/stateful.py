"""Structured Streaming stateful operators: ``applyInPandasWithState``
gap sessions and SCD2 history.

These are the streaming halves of ``operators/timeseries.py::sessionize``
and ``operators/scd.py::scd2_history``: each stream variant shares its
batch twin's semantics (strictly-greater-than-gap starts a new session;
no-op state changes collapse into one version) and
``tests/test_stateful_streaming.py`` asserts they produce identical
results on the same input.  The CDC engine's exactly-once comes from
the manifest ledger (``sources/catalog.py``), not from these operators.

Scale notes (100 TB/day of events):
- ``sessionize_stream`` shuffles each micro-batch once on the session
  keys; per-group state is a single 4-field tuple (the open session), and
  the per-batch work is vectorized pandas (diff/cumsum segmentation), not
  a per-row Python loop.  Session timestamps ride as int64 epoch-micros so
  stream/batch parity is exact, not float-rounded.
- Cross-batch ordering: a session extends across micro-batches in event
  order (the file/Kafka source replays in offset order).  Out-of-order
  WITHIN a batch is sorted; a late segment joins the open session only
  when it lies within ``gap`` of the session INTERVAL (it may extend the
  start backwards by at most one gap).  A late segment entirely before
  ``session_start - gap`` is emitted as its own immediately-closed
  session — matching what batch sessionize yields for those events —
  rather than being glued across an arbitrarily large gap.  What
  streaming still cannot do is merge such a segment into a session that
  was ALREADY closed and emitted in an earlier batch; exact parity with
  batch for arbitrarily-late data needs the order-free LWW merge path
  (``ingest.replay``) instead.
- ``scd2_stream`` keeps one 3-field tuple per key (the open version and
  the last applied sequence), so state is O(keys), independent of
  stream length.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

US_PER_SECOND = 1_000_000


def _session_output_schema(key_fields: list[StructField]) -> StructType:
    return StructType(
        key_fields
        + [
            StructField("session_start", TimestampType()),
            StructField("session_end", TimestampType()),
            StructField("n_events", LongType()),
            StructField("total_value", DoubleType()),
            StructField("closed", BooleanType()),
        ]
    )


_SESSION_STATE_SCHEMA = StructType(
    [
        StructField("start_us", LongType()),
        StructField("end_us", LongType()),
        StructField("n", LongType()),
        StructField("tot", DoubleType()),
    ]
)


def _segment(pdf: pd.DataFrame, ts_col: str, value_col: str, gap_us: int) -> pd.DataFrame:
    """Vectorized gaps-and-islands over one micro-batch slice of a group:
    sort, split where the gap is strictly greater than ``gap_us``, and
    aggregate each segment to (start_us, end_us, n, tot)."""
    d = pdf.sort_values(ts_col, kind="mergesort")
    t = d[ts_col].astype("int64") // 1000  # ns -> us
    seg = (t.diff() > gap_us).cumsum()
    vals = pd.to_numeric(d[value_col], errors="coerce").fillna(0.0)
    out = pd.DataFrame({"t": t.to_numpy(), "v": vals.to_numpy(), "seg": seg.to_numpy()})
    g = out.groupby("seg", sort=True).agg(
        start_us=("t", "min"), end_us=("t", "max"), n=("t", "size"), tot=("v", "sum")
    )
    return g.reset_index(drop=True)


def make_session_fn(
    gap: str,
    keys: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    value_col: str = "value",
):
    """Build the applyInPandasWithState function for gap sessions.

    Emits every session CLOSED by this batch (``closed=True``, terminal)
    plus a snapshot of the still-open session (``closed=False``); with an
    update-mode sink, last-snapshot-per-(key, session_start) is the final
    sessions table, byte-equal to batch ``timeseries.sessionize``.
    """
    units_us = {
        "second": US_PER_SECOND,
        "seconds": US_PER_SECOND,
        "minute": 60 * US_PER_SECOND,
        "minutes": 60 * US_PER_SECOND,
        "hour": 3600 * US_PER_SECOND,
        "hours": 3600 * US_PER_SECOND,
        "day": 86400 * US_PER_SECOND,
        "days": 86400 * US_PER_SECOND,
    }
    try:
        qty, unit = gap.split()
        gap_us = int(qty) * units_us[unit]
    except (ValueError, KeyError):
        raise ValueError(
            f"gap {gap!r} must be '<int> <unit>' with unit one of "
            f"{sorted(set(units_us))}"
        ) from None

    def fn(key: tuple, pdf_iter: Iterable[pd.DataFrame], state: Any):
        if state.exists:
            cur_start, cur_end, cur_n, cur_tot = state.get
        else:
            cur_start = None
            cur_end = cur_n = 0
            cur_tot = 0.0

        closed: list[tuple[int, int, int, float]] = []
        # Concatenate the group's Arrow chunks BEFORE segmenting: _segment
        # sorts within what it is given, and applyInPandasWithState may
        # split one key's micro-batch across chunks in arbitrary order —
        # per-chunk segmentation would treat within-batch disorder across
        # a chunk boundary as cross-batch late data and emit sessions
        # batch sessionize would merge. A group's slice of one micro-batch
        # is bounded by the micro-batch size, so materializing it is safe.
        chunks = [pdf for pdf in pdf_iter if len(pdf)]
        if chunks:
            whole = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
            segs = _segment(whole, ts_col, value_col, gap_us)
            for start_us, end_us, n, tot in segs.itertuples(index=False, name=None):
                if cur_start is None:
                    cur_start, cur_end, cur_n, cur_tot = int(start_us), int(end_us), int(n), float(tot)
                elif int(start_us) - cur_end > gap_us:
                    # entirely after the open session, beyond gap
                    closed.append((cur_start, cur_end, cur_n, cur_tot))
                    cur_start, cur_end, cur_n, cur_tot = int(start_us), int(end_us), int(n), float(tot)
                elif cur_start - int(end_us) > gap_us:
                    # cross-batch late segment entirely BEFORE the open
                    # session, beyond gap: its own (terminal) session —
                    # batch sessionize would never glue these (within one
                    # batch _segment already splits on > gap, so this arm
                    # is reachable only against carried-over state)
                    closed.append((int(start_us), int(end_us), int(n), float(tot)))
                else:
                    # within gap of the session interval: merge; an in-gap
                    # out-of-order segment extends start backwards by at
                    # most one gap
                    cur_start = min(cur_start, int(start_us))
                    cur_end = max(cur_end, int(end_us))
                    cur_n += int(n)
                    cur_tot += float(tot)

        if cur_start is None:
            return
        state.update((cur_start, cur_end, cur_n, cur_tot))
        rows = [(*c, True) for c in closed] + [(cur_start, cur_end, cur_n, cur_tot, False)]
        out = pd.DataFrame(
            rows, columns=["start_us", "end_us", "n_events", "total_value", "closed"]
        )
        for i, (name, k) in enumerate(zip(keys, key)):
            out.insert(i, name, k)
        out["session_start"] = pd.to_datetime(out.pop("start_us"), unit="us")
        out["session_end"] = pd.to_datetime(out.pop("end_us"), unit="us")
        yield out[
            list(keys) + ["session_start", "session_end", "n_events", "total_value", "closed"]
        ]

    return fn


_SCD2_STATE_SCHEMA = StructType(
    [
        StructField("open_from", LongType()),
        StructField("open_state", StringType()),
        StructField("last_seq", LongType()),
    ]
)


def _scd2_output_schema(key_fields: list[StructField]) -> StructType:
    return StructType(
        key_fields
        + [
            StructField("state", StringType()),
            StructField("valid_from_seq", LongType()),
            StructField("valid_to_seq", LongType()),
            StructField("is_current", BooleanType()),
        ]
    )


def make_scd2_fn(
    keys: Sequence[str] = ("user_id",),
    seq_col: str = "event_id",
    state_col: str = "event_type",
):
    """Build the applyInPandasWithState function for streaming SCD2.

    The streaming half of ``operators/scd.py`` with the SAME contract:
    per-key monotone sequences (the stale gate drops events at or below
    the carried ``last_seq`` watermark — after no-op collapse they are
    unreplayable, exactly as in ``scd2_apply_batch``).  Emits every
    version CLOSED by this batch (``is_current=False``, terminal) plus a
    snapshot of the open version (``is_current=True``); dedupe downstream
    by (keys, valid_from_seq) preferring the closed row — the result is
    byte-equal to batch ``scd2_history``
    (tests/test_stateful_streaming.py::test_scd2_stream_matches_batch).
    """

    def fn(key: tuple, pdf_iter: Iterable[pd.DataFrame], state: Any):
        if state.exists:
            open_from, open_state, last_seq = state.get
        else:
            open_from = open_state = last_seq = None

        # concatenate the group's Arrow chunks before sorting (same
        # chunk-boundary rationale as make_session_fn)
        chunks = [pdf for pdf in pdf_iter if len(pdf)]
        if not chunks:
            if open_from is not None:
                state.update((open_from, open_state, last_seq))
            return
        whole = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
        d = whole.sort_values(seq_col, kind="mergesort")
        if last_seq is not None:
            d = d[d[seq_col] > last_seq]  # stale gate
        if not len(d):
            state.update((open_from, open_state, last_seq))
            return

        seqs = d[seq_col].to_numpy()
        states = d[state_col].astype(object).to_numpy()
        # vectorized change detection; the first row compares against the
        # carried open state (None != anything -> change)
        prev = [open_state] + list(states[:-1])
        chg = [s != p for s, p in zip(states, prev)]
        cp_from = [int(s) for s, c in zip(seqs, chg) if c]
        cp_state = [str(s) for s, c in zip(states, chg) if c]
        if open_from is not None:
            all_from = [int(open_from), *cp_from]
            all_state = [str(open_state), *cp_state]
        else:
            all_from, all_state = cp_from, cp_state

        rows = [
            (all_state[i], all_from[i], all_from[i + 1], False)
            for i in range(len(all_from) - 1)
        ]
        rows.append((all_state[-1], all_from[-1], None, True))
        state.update((all_from[-1], all_state[-1], int(seqs[-1])))

        out = pd.DataFrame(
            rows, columns=["state", "valid_from_seq", "valid_to_seq", "is_current"]
        )
        out["valid_to_seq"] = out["valid_to_seq"].astype("Int64")
        for i, (name, k) in enumerate(zip(keys, key)):
            out.insert(i, name, k)
        yield out[list(keys) + ["state", "valid_from_seq", "valid_to_seq", "is_current"]]

    return fn


def scd2_stream(
    events: DataFrame,
    keys: Sequence[str] = ("user_id",),
    seq_col: str = "event_id",
    state_col: str = "event_type",
) -> DataFrame:
    """Streaming SCD2 history via applyInPandasWithState.

    Use with ``outputMode("update")``; dedupe downstream by
    (keys, valid_from_seq) preferring ``is_current=False`` (closed rows
    are terminal; the open snapshot is re-emitted, unchanged content, on
    every batch that brings the key fresh events).
    Per-key state is a single 3-field tuple — O(keys), independent of
    stream length — and the per-batch pass is one sort + vectorized
    change detection over the batch slice.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    key_fields = [events.schema[k] for k in keys]
    out_schema = _scd2_output_schema(
        [StructField(k, f.dataType) for k, f in zip(keys, key_fields)]
    )
    fn = make_scd2_fn(keys=keys, seq_col=seq_col, state_col=state_col)
    return (
        events.select(*keys, seq_col, state_col)
        .groupBy(*keys)
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=_SCD2_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def sessionize_stream(
    events: DataFrame,
    gap: str = "30 minutes",
    keys: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Gap sessions over a streaming DataFrame via applyInPandasWithState.

    Use with ``outputMode("update")``; dedupe downstream by
    (keys, session_start) keeping the max-``n_events`` row (closed rows
    are terminal, open snapshots monotonically grow).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    key_fields = [events.schema[k] for k in keys]
    out_schema = _session_output_schema(
        [StructField(k, f.dataType) for k, f in zip(keys, key_fields)]
    )
    fn = make_session_fn(gap, keys=keys, ts_col=ts_col, value_col=value_col)
    return (
        events.select(*keys, ts_col, value_col)
        .groupBy(*keys)
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=_SESSION_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
