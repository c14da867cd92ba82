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
