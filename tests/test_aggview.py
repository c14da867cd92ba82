"""Durable maintained aggregate view (sources/aggview.py): after any
sequence of merges/deletes/compactions and any refresh cadence, read()
must equal the full recompute over the base table's snapshot."""

from __future__ import annotations

from pyspark.sql import functions as F

from pyorchdb_spark.operators.ivm import group_contributions
from pyorchdb_spark.sources.aggview import MaintainedAggregate
from pyorchdb_spark.sources.lake import LakeTable

DDL = "repo string, path string, seq long, lang string, size double, op string"


def _b(spark, rows):
    return spark.createDataFrame(rows, DDL)


def _truth(lake):
    return {
        r["grp"]: (r["n_rows"], r["sum_size"])
        for r in group_contributions(lake.snapshot(), "lang", ["size"]).collect()
    }


def _got(view):
    return {
        r["grp"]: (r["n_rows"], r["sum_size"])
        for r in view.refresh().collect()
    }


BATCHES = [
    [("r1", "a.py", 1, "py", 10.0, "upsert"), ("r1", "b.rs", 2, "rs", 20.0, "upsert")],
    [("r1", "a.py", 3, "py", 11.0, "upsert"), ("r2", "c.py", 4, "py", 5.0, "upsert")],
    [("r1", "b.rs", 5, "rs", 0.0, "delete"), ("r2", "d.go", 6, "go", 2.5, "upsert")],
]


def test_refresh_per_commit_and_catchup(spark, tmp_path):
    lake = LakeTable(spark, str(tmp_path / "lake"), keys=("repo", "path"))
    view = MaintainedAggregate(lake, str(tmp_path / "view"), "lang", ["size"])
    # per-commit refresh
    for i, rows in enumerate(BATCHES[:2]):
        lake.merge(_b(spark, rows), batch_id=f"b{i}")
        assert _got(view) == _truth(lake), f"batch={i}"
    # multi-version catch-up: two commits, one refresh
    lake.merge(_b(spark, BATCHES[2]), batch_id="b2")
    lake.merge(_b(spark, [("r3", "e.py", 7, "py", 1.0, "upsert")]), batch_id="b3")
    assert _got(view) == _truth(lake), "catchup"
    # no-op refresh at head keeps the same view version
    v = view.current_version()
    view.refresh()
    assert view.current_version() == v


def test_refresh_skips_compaction_and_survives_it(spark, tmp_path):
    lake = LakeTable(spark, str(tmp_path / "lake"), keys=("repo", "path"))
    view = MaintainedAggregate(lake, str(tmp_path / "view"), "lang", ["size"])
    for i, rows in enumerate(BATCHES):
        lake.merge(_b(spark, rows), batch_id=f"b{i}")
    view.refresh()
    lake.compact()
    lake.merge(_b(spark, [("r9", "z.go", 9, "go", 4.0, "upsert")]), batch_id="b9")
    assert _got(view) == _truth(lake)


def test_group_vanishes_and_user_view_shape(spark, tmp_path):
    lake = LakeTable(spark, str(tmp_path / "lake"), keys=("repo", "path"))
    view = MaintainedAggregate(lake, str(tmp_path / "view"), "lang", ["size"])
    lake.merge(_b(spark, BATCHES[0]), batch_id="b0")
    view.refresh()
    lake.merge(_b(spark, [("r1", "b.rs", 5, "rs", 0.0, "delete")]), batch_id="b1")
    got = _got(view)
    assert "rs" not in got and got["py"][0] == 1
    row = {r["grp"]: r for r in view.read().collect()}["py"]
    assert row["total_size"] == 10.0 and row["avg_size"] == 10.0


def test_bootstrap_on_existing_table(spark, tmp_path):
    """A view created AFTER the table has history bootstraps from the
    snapshot, then maintains incrementally."""
    lake = LakeTable(spark, str(tmp_path / "lake"), keys=("repo", "path"))
    for i, rows in enumerate(BATCHES[:2]):
        lake.merge(_b(spark, rows), batch_id=f"b{i}")
    view = MaintainedAggregate(lake, str(tmp_path / "view"), "lang", ["size"])
    assert _got(view) == _truth(lake)
    lake.merge(_b(spark, BATCHES[2]), batch_id="b2")
    assert _got(view) == _truth(lake)


def test_cli_aggview_refresh_and_noop(spark, tmp_path, capsys):
    """The aggview CLI bootstraps a view over a replayed table, reports
    match_full_recompute, and a head-of-table re-run is a version no-op."""
    import importlib.util
    import json as _json
    import os as _os
    import sys as _sys

    repo = _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
    _sys.path.insert(0, repo)
    spec = importlib.util.spec_from_file_location(
        "jobs_ingest", _os.path.join(repo, "jobs", "ingest.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    events = str(tmp_path / "events")
    table = str(tmp_path / "t")
    viewroot = str(tmp_path / "v")
    mod.main(["generate", "--out", events, "--n-events", "2000", "--batch-size", "1000"])
    capsys.readouterr()
    mod.main(["replay", "--events", events, "--table", table, "--no-warmup"])
    capsys.readouterr()
    mod.main(["aggview", "--table", table, "--view", viewroot, "--group", "lang"])
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["match_full_recompute"] and out["groups"] >= 1
    assert out["view_version"] == 1 and out["base_version"] >= 1

    mod.main(["aggview", "--table", table, "--view", viewroot, "--group", "lang"])
    out2 = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out2["view_version"] == 1  # head-of-table refresh publishes nothing
    assert out2["match_full_recompute"]
