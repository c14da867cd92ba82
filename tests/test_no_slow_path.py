"""input_hint (BASELINE.json:15): DataFrame ops + vectorized pandas/Arrow
UDFs only — no per-row Python UDFs, no RDD API in the engine."""

from __future__ import annotations

import os
import re

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "pyorchdb_spark")

FORBIDDEN = [
    (re.compile(r"\bF\.udf\s*\("), "row-at-a-time F.udf"),
    (re.compile(r"@udf\b"), "row-at-a-time @udf"),
    (re.compile(r"\.rdd\b"), "RDD API"),
    (re.compile(r"\bsparkContext\.parallelize\b"), "RDD parallelize"),
    (re.compile(r"\.mapPartitions\s*\("), "RDD mapPartitions"),
    (re.compile(r"\.collect\s*\(\)\s*\n?.*for\s"), None),  # informational only
]


def test_no_row_at_a_time_python():
    hits = []
    for dirpath, _dirs, files in os.walk(PKG):
        if "__pycache__" in dirpath:
            continue
        for f in files:
            if not f.endswith(".py"):
                continue
            text = open(os.path.join(dirpath, f)).read()
            for rx, label in FORBIDDEN:
                if label and rx.search(text):
                    hits.append((os.path.join(dirpath, f), label))
    assert not hits, f"slow-path constructs found: {hits}"


def test_pandas_udfs_are_vectorized():
    """Every UDF in the engine is a pandas_udf / mapInPandas (Arrow)."""
    udfs = open(os.path.join(PKG, "functions", "udfs.py")).read()
    assert udfs.count("@F.pandas_udf") >= 3
    comp = open(os.path.join(PKG, "operators", "components.py")).read()
    assert ".mapInPandas(" in comp


def test_prepare_runs_no_python(spark):
    """The ingest hot path's prepare (NFC path + sha256) executes as
    built-in expressions, with no Python evaluation node in its physical
    plan, and its path rules equal the Python cross-check ``_norm_one``."""
    from pyorchdb_spark.functions.udfs import _norm_one
    from pyorchdb_spark.ingest import prepare_events

    paths = ["./a//b.py", "././/x//", "/", "a\n/", "a/\n", "c.py"]
    df = spark.createDataFrame(
        [("r", p, i, "upsert", "x") for i, p in enumerate(paths)] + [("r", "d.py", 9, "delete", None)],
        "repo string, path string, seq long, op string, content string",
    )
    prepared = prepare_events(df)
    prepared.write.format("noop").mode("overwrite").save()
    plan = prepared._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan
    got = {r["seq"]: r["path"] for r in prepared.collect()}
    assert [got[i] for i in range(len(paths))] == [_norm_one(p) for p in paths]
