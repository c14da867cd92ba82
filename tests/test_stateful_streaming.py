"""Streaming stateful operators vs their batch twins.

- sessionize_stream (applyInPandasWithState) must equal batch
  timeseries.sessionize on the same input delivered over several
  micro-batches with state carried across batch (and session) boundaries;
- scd2_stream must equal batch scd.scd2_history the same way.
"""

from __future__ import annotations

import datetime as dt
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from pyorchdb_spark.operators.timeseries import sessionize
from pyorchdb_spark.streaming.stateful import sessionize_stream

TS = dt.datetime
EVENT_DDL = "user_id long, ts timestamp, value double"


def _write_file(path: str, rows: list[tuple], mtime: int) -> None:
    """One parquet file per micro-batch, mtime pinned so the file stream
    source replays them in a deterministic order."""
    tbl = pa.table(
        {
            "user_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "value": pa.array([r[2] for r in rows], pa.float64()),
        }
    )
    pq.write_table(tbl, path)
    os.utime(path, (mtime, mtime))


def _run_stream(spark, df_stream, ckpt: str):
    name = f"t_{uuid.uuid4().hex[:8]}"
    q = (
        df_stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def test_sessionize_stream_matches_batch(spark, sf_dir, tmp_path):
    """The real events table, split into 4 time-ordered micro-batch files:
    final streamed sessions == batch sessionize, including sessions that
    span micro-batch boundaries."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select("user_id", "ts", "value")
    pdf = ev.toPandas().sort_values("ts").reset_index(drop=True)
    log_dir = tmp_path / "log"
    log_dir.mkdir()
    quarter = (len(pdf) + 3) // 4
    for i in range(4):
        chunk = pdf.iloc[i * quarter : (i + 1) * quarter]
        _write_file(
            str(log_dir / f"b{i}.parquet"),
            list(chunk.itertuples(index=False, name=None)),
            mtime=1_700_000_000 + i * 100,
        )

    stream = (
        spark.readStream.schema(EVENT_DDL)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(log_dir))
    )
    sess = sessionize_stream(stream, gap="1 day", keys=("user_id",))
    mem = _run_stream(spark, sess, str(tmp_path / "ckpt"))

    # update-mode sink: last snapshot per (user_id, session_start) wins
    # (open snapshots only grow; closed rows are terminal)
    final = (
        mem.groupBy("user_id", "session_start")
        .agg(
            F.max_by("session_end", "n_events").alias("session_end"),
            F.max("n_events").alias("n_events"),
            F.max_by("total_value", "n_events").alias("total_value"),
        )
    )
    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"],
         round(r["total_value"], 6))
        for r in final.collect()
    }
    exp = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"],
         round(float(r["total_value"]), 6))
        for r in sessionize(
            ev,
            "ts",
            gap="1 day",
            keys=("user_id",),
            aggs=[
                F.count(F.lit(1)).alias("n_events"),
                F.sum("value").alias("total_value"),
            ],
        ).collect()
    }
    assert got == exp
    # sessions genuinely crossed micro-batch boundaries (state was carried):
    # at least one (user, session_start) appears in more than one snapshot
    multi = mem.groupBy("user_id", "session_start").count().filter("count > 1").count()
    assert multi > 0


def test_session_fn_rejects_bad_gap():
    from pyorchdb_spark.streaming.stateful import make_session_fn

    import pytest

    with pytest.raises(ValueError, match="bananas"):
        make_session_fn("30 bananas")


class _FakeState:
    """Minimal GroupState stand-in for unit-testing make_session_fn."""

    def __init__(self, tup=None):
        self._t = tup

    @property
    def exists(self):
        return self._t is not None

    @property
    def get(self):
        return self._t

    def update(self, tup):
        self._t = tup


def _run_fn(fn, state, rows):
    import pandas as pd

    pdf = pd.DataFrame(rows, columns=["user_id", "ts", "value"])
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    return list(fn((1,), [pdf], state))


def test_session_fn_far_late_segment_not_glued_to_open_session():
    """ADVICE r2: a cross-batch late segment entirely before the open
    session (beyond gap) becomes its own closed session — it must not
    merge across an arbitrarily large gap. Within-gap backward extension
    still merges."""
    from pyorchdb_spark.streaming.stateful import make_session_fn

    US = 1_000_000
    fn = make_session_fn("10 seconds", keys=("user_id",))

    # open session [100s, 200s] carried in state; late event at 50s
    state = _FakeState((100 * US, 200 * US, 5, 5.0))
    [out] = _run_fn(fn, state, [(1, TS(1970, 1, 1, 0, 0, 50), 1.0)])
    got = {
        (r.session_start, r.session_end, r.n_events, r.closed)
        for r in out.itertuples()
    }
    # late segment: terminal session of its own; open session untouched
    assert got == {
        (TS(1970, 1, 1, 0, 0, 50), TS(1970, 1, 1, 0, 0, 50), 1, True),
        (TS(1970, 1, 1, 0, 1, 40), TS(1970, 1, 1, 0, 3, 20), 5, False),
    }
    assert state.get == (100 * US, 200 * US, 5, 5.0)

    # within-gap late event (95s, gap 10s) still extends start backwards
    state2 = _FakeState((100 * US, 200 * US, 5, 5.0))
    [out2] = _run_fn(fn, state2, [(1, TS(1970, 1, 1, 0, 1, 35), 2.0)])
    assert state2.get == (95 * US, 200 * US, 6, 7.0)
    assert {(r.session_start, r.closed) for r in out2.itertuples()} == {
        (TS(1970, 1, 1, 0, 1, 35), False)
    }


def test_session_fn_chunked_group_batch_equals_single_chunk():
    """Code-review r3: applyInPandasWithState may deliver one key's
    micro-batch as several out-of-order pandas chunks; segmentation must
    happen over the concatenated batch, or within-batch disorder across
    a chunk boundary gets misread as cross-batch late data."""
    import pandas as pd

    from pyorchdb_spark.streaming.stateful import make_session_fn

    class _FakeState2:
        def __init__(self):
            self._t = None

        @property
        def exists(self):
            return self._t is not None

        @property
        def get(self):
            return self._t

        def update(self, t):
            self._t = t

    def chunk(rows):
        pdf = pd.DataFrame(rows, columns=["user_id", "ts", "value"])
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        return pdf

    fn = make_session_fn("10 seconds", keys=("user_id",))
    # one batch split into chunks delivered newest-first: [1000s], [100s], [105s]
    chunks = [
        chunk([(1, TS(1970, 1, 1, 0, 16, 40), 1.0)]),   # t=1000s
        chunk([(1, TS(1970, 1, 1, 0, 1, 40), 1.0)]),    # t=100s
        chunk([(1, TS(1970, 1, 1, 0, 1, 45), 1.0)]),    # t=105s
    ]
    st = _FakeState2()
    [out] = list(fn((1,), chunks, st))
    got = {
        (r.session_start, r.session_end, r.n_events, r.closed)
        for r in out.itertuples()
    }
    # batch semantics: ONE closed session [100,105] + open [1000,1000]
    assert got == {
        (TS(1970, 1, 1, 0, 1, 40), TS(1970, 1, 1, 0, 1, 45), 2, True),
        (TS(1970, 1, 1, 0, 16, 40), TS(1970, 1, 1, 0, 16, 40), 1, False),
    }


def test_scd2_stream_matches_batch(spark, sf_dir, tmp_path):
    """The real events table as a seq-ordered stream of 4 micro-batch
    files: streamed SCD2 versions == batch scd2_history, including runs
    that span micro-batch boundaries (open version carried in state)."""
    from pyorchdb_spark.operators.scd import scd2_history
    from pyorchdb_spark.streaming.stateful import scd2_stream

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", "event_id", "event_type"
    )
    pdf = ev.toPandas().sort_values("event_id").reset_index(drop=True)
    log_dir = tmp_path / "scd_log"
    log_dir.mkdir()
    quarter = (len(pdf) + 3) // 4
    for i in range(4):
        chunk = pdf.iloc[i * quarter : (i + 1) * quarter]
        tbl = pa.table(
            {
                "user_id": pa.array(chunk["user_id"], pa.int64()),
                "event_id": pa.array(chunk["event_id"], pa.int64()),
                "event_type": pa.array(chunk["event_type"], pa.string()),
            }
        )
        path = str(log_dir / f"b{i}.parquet")
        pq.write_table(tbl, path)
        os.utime(path, (1_700_000_000 + i * 100,) * 2)

    stream = (
        spark.readStream.schema("user_id long, event_id long, event_type string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(log_dir))
    )
    hist = scd2_stream(stream, keys=("user_id",))
    mem = _run_stream(spark, hist, str(tmp_path / "scd_ckpt"))

    # update-mode sink: per (key, valid_from) the closed row is terminal,
    # otherwise the open snapshot (all identical re-emits) stands
    final = mem.groupBy("user_id", "valid_from_seq").agg(
        F.min_by("state", "is_current").alias("state"),
        F.min_by("valid_to_seq", "is_current").alias("valid_to_seq"),
        F.min("is_current").alias("is_current"),
    )
    got = {
        (r["user_id"], r["valid_from_seq"], r["state"], r["valid_to_seq"], r["is_current"])
        for r in final.collect()
    }
    exp = {
        (r["user_id"], r["valid_from_seq"], r["event_type"], r["valid_to_seq"], r["is_current"])
        for r in scd2_history(ev, ["user_id"], "event_id", ["event_type"]).collect()
    }
    assert got == exp
    # versions genuinely crossed micro-batch boundaries: some open
    # snapshot later re-emitted or closed in another batch
    multi = mem.groupBy("user_id", "valid_from_seq").count().filter("count > 1").count()
    assert multi > 0
