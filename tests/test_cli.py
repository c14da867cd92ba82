"""jobs/ingest.py CLI (C1) — generate + replay in both modes, in-process."""

from __future__ import annotations

import importlib.util
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO))


def _main():
    spec = importlib.util.spec_from_file_location("jobs_ingest", os.path.join(REPO, "jobs", "ingest.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.main


def test_cli_generate_and_replay_both_modes(spark, tmp_path, capsys):
    main = _main()
    events = str(tmp_path / "events")
    main(["generate", "--out", events, "--n-events", "2000", "--batch-size", "1000"])
    gen = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert gen["rows"] > 2000  # duplicates re-emitted

    main(["replay", "--events", events, "--table", str(tmp_path / "t_batch"), "--no-warmup"])
    batch = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert batch["version"] == 2 and batch["table_rows"] > 0

    main([
        "replay", "--events", events, "--table", str(tmp_path / "t_stream"),
        "--mode", "stream", "--no-warmup",
    ])
    stream = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stream["table_rows"] == batch["table_rows"]

    # stream mode honours --salt and reports what it resolved
    main([
        "replay", "--events", events, "--table", str(tmp_path / "t_stream_salted"),
        "--mode", "stream", "--salt", "salted", "--no-warmup",
    ])
    stream_salted = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stream_salted["strategy"]["salted"] is True

    # jvm-hash variant produces the IDENTICAL final state (per-row sha
    # equality) — validates the scaling bench's UDF-isolation variant
    main(["replay", "--events", events, "--table", str(tmp_path / "t_jvm"), "--jvm-hash", "--no-warmup"])
    json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    from pyorchdb_spark.sources.lake import LakeTable

    def sig(root):
        snap = LakeTable(spark, root).snapshot()
        return {tuple(r) for r in snap.select("repo", "path", "content_sha256").collect()}

    assert (
        sig(str(tmp_path / "t_batch"))
        == sig(str(tmp_path / "t_jvm"))
        == sig(str(tmp_path / "t_stream"))
        == sig(str(tmp_path / "t_stream_salted"))
    )


def test_cli_verify_sha_equality(spark, tmp_path, capsys):
    """`verify` recomputes the final state via the global-LWW window path
    and must report per-row sha256 equality with the MERGE-replayed table;
    corrupting one stored row must be detected."""
    main = _main()
    events = str(tmp_path / "events")
    table = str(tmp_path / "t")
    main(["generate", "--out", events, "--n-events", "3000", "--batch-size", "1000"])
    capsys.readouterr()
    main(["replay", "--events", events, "--table", table, "--no-warmup"])
    capsys.readouterr()

    main(["verify", "--events", events, "--table", table])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["sha256_equal"] is True
    assert rep["missing_in_table"] == 0 and rep["extra_in_table"] == 0 and rep["sha_mismatch"] == 0
    assert rep["keys"] > 0

    # salted verify path agrees
    main(["verify", "--events", events, "--table", table, "--salted"])
    rep2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep2["sha256_equal"] is True and rep2["keys"] == rep["keys"]

    # negative control: drop one live row from the log (replays a log the
    # table was NOT built from) -> verify must flag the divergence
    import pyspark.sql.functions as F

    ev = spark.read.parquet(events)
    victim = (
        ev.filter(F.col("op") == "upsert").orderBy(F.col("seq").desc()).limit(1).collect()[0]
    )
    truncated = str(tmp_path / "events_trunc")
    ev.filter(F.col("seq") != victim.seq).write.parquet(truncated)
    main(["verify", "--events", truncated, "--table", table])
    rep3 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep3["sha256_equal"] is False
