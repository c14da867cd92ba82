"""A commit's driver cost: py4j round trips to build its plan.

Each PySpark call is a py4j round trip to the JVM, and a commit that
rebuilds its expressions from scratch, with PySpark's origin capture on,
makes ~1,200 of them on its own thread before its one Spark job starts.
``build_session`` turns PySpark's per-call origin capture off and
``LakeTable.plan_columns`` keeps a table's commit expressions, so a clean
commit into a warm table spends its round trips on the plan itself. Counts, not timings: they do not move with host load.
"""

from __future__ import annotations

import threading

from py4j.clientserver import ClientServerConnection
from pyspark.sql import functions as F

from pyorchdb_spark.generator import change_events
from pyorchdb_spark.ingest import apply_batch
from pyorchdb_spark.sources.catalog import BatchLedger
from pyorchdb_spark.sources.lake import LakeTable


def test_clean_apply_batch_into_warm_table_makes_few_round_trips(spark, tmp_path, monkeypatch):
    ev = change_events(spark, 5_000, batch_size=1_000).cache()
    try:
        root = str(tmp_path / "t")
        lake, ledger = LakeTable(spark, root), BatchLedger(spark, root)
        batch = lambda b: ev.filter(F.col("batch_id") == b)  # noqa: E731
        # base files, then a delta commit that builds the cached expressions
        for b in ("b000000", "b000001"):
            apply_batch(lake, ledger, batch(b), b, num_files=4, rows_hint=1_000)

        calls = []
        send = ClientServerConnection.send_command
        me = threading.get_ident()

        def counting(self, command):
            # py4j's finalizer thread releases dead JVM references
            # asynchronously, whenever it gets to them: not this commit's
            if threading.get_ident() == me:
                calls.append(command)
            return send(self, command)

        for b in ("b000002", "b000003", "b000004"):
            events = batch(b)
            calls.clear()
            monkeypatch.setattr(ClientServerConnection, "send_command", counting)
            res = apply_batch(lake, ledger, events, b, num_files=4, rows_hint=1_000)
            monkeypatch.undo()
            assert not res.skipped and res.rows_in >= 1_000
            # 71 here; 1,229 with origin capture on and the expressions rebuilt
            assert len(calls) <= 200, (b, len(calls))
    finally:
        ev.unpersist()
