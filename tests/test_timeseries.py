from __future__ import annotations

import datetime as dt

import pandas as pd

from pyorchdb_spark.operators.timeseries import sessionize

TS = dt.datetime


def _events(spark):
    rows = [
        # user 1: two sessions split by a > 30 min gap; one boundary event
        # exactly 30 min after its predecessor (must EXTEND, not split)
        (1, TS(2024, 1, 1, 10, 0, 0), 1.0),
        (1, TS(2024, 1, 1, 10, 30, 0), 2.0),  # == gap -> same session
        (1, TS(2024, 1, 1, 11, 0, 0, 1), 4.0),  # 30min + 1us -> NEW session
        # user 2: single event
        (2, TS(2024, 1, 1, 9, 15, 0), 8.0),
    ]
    return spark.createDataFrame(rows, "user_id long, ts timestamp, value double")


def test_sessionize_gap_semantics(spark):
    out = sessionize(_events(spark), "ts", gap="30 minutes", keys=("user_id",))
    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"], r["total_value"])
        for r in out.collect()
    }
    assert got == {
        (1, TS(2024, 1, 1, 10, 0, 0), TS(2024, 1, 1, 10, 30, 0), 2, 3.0),
        (1, TS(2024, 1, 1, 11, 0, 0, 1), TS(2024, 1, 1, 11, 0, 0, 1), 1, 4.0),
        (2, TS(2024, 1, 1, 9, 15, 0), TS(2024, 1, 1, 9, 15, 0), 1, 8.0),
    }


def test_sessionize_matches_pandas_oracle(spark, sf_dir):
    """Real events table vs an independent pandas gaps-and-islands oracle."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in sessionize(ev, "ts", gap="1 day", keys=("user_id",)).collect()
    }

    pdf = ev.select("user_id", "ts", "value").toPandas().sort_values(["user_id", "ts"])
    exp = set()
    for uid, g in pdf.groupby("user_id"):
        brk = (g["ts"].diff() > pd.Timedelta(days=1)).cumsum()
        for _, s in g.groupby(brk):
            exp.add((uid, s["ts"].min().to_pydatetime(), s["ts"].max().to_pydatetime(), len(s)))
    assert got == exp

