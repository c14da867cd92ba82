"""Incremental view maintenance (operators/ivm.py): a maintained
GROUP BY aggregate must be EXACTLY the full recompute after every batch
— including delete-driven retractions, group switches, stale events,
and groups emptying out."""

from __future__ import annotations

import random

from pyorchdb_spark.operators.dedup import lww_dedup
from pyorchdb_spark.operators.ivm import (
    _live,
    agg_view,
    group_contributions,
    ivm_step,
    maintain_on_lake_merge,
)

SCHEMA = "user_id long, event_id long, event_type string, value double, op string, commit string"
KEYS = ("user_id",)


def _ev(spark, rows):
    return spark.createDataFrame(
        [(u, s, t, v, op, str(s)) for (u, s, t, v, op) in rows], SCHEMA
    )


def _full_recompute(state):
    return group_contributions(_live(state), "event_type", ["value"])


def _as_map(agg, sum_col="sum_value"):
    return {r["grp"]: (r["n_rows"], r[sum_col]) for r in agg.collect()}


def test_ivm_matches_full_recompute_with_deletes_and_switches(spark):
    init = _ev(
        spark,
        [
            (1, 10, "a", 1.5, "upsert"),
            (2, 11, "a", 2.0, "upsert"),
            (3, 12, "b", 4.0, "upsert"),
        ],
    )
    state = lww_dedup(init, keys=KEYS, seq_col="event_id", tiebreakers=())
    agg = _full_recompute(state)
    batch = _ev(
        spark,
        [
            (1, 20, "b", 9.0, "upsert"),   # group switch a -> b
            (2, 21, "a", 0.0, "delete"),   # delete key 2
            (3, 5, "a", 99.0, "upsert"),   # STALE (seq below winner): no-op
            (4, 22, "c", 7.0, "upsert"),   # brand-new key / group
        ],
    )
    state, agg = ivm_step(state, batch, agg, "event_type", ["value"], keys=KEYS, seq_col="event_id")
    assert _as_map(agg) == _as_map(_full_recompute(state))
    got = _as_map(agg)
    assert got["b"][0] == 2 and got["c"][0] == 1 and "a" not in got


def test_ivm_group_vanishes_on_last_delete(spark):
    init = _ev(spark, [(1, 10, "solo", 3.0, "upsert")])
    state = lww_dedup(init, keys=KEYS, seq_col="event_id", tiebreakers=())
    agg = _full_recompute(state)
    batch = _ev(spark, [(1, 20, "solo", 0.0, "delete")])
    state, agg = ivm_step(state, batch, agg, "event_type", ["value"], keys=KEYS, seq_col="event_id")
    assert agg.count() == 0


def test_ivm_randomized_batches_exact(spark):
    """20 random batches (upserts/deletes/stale events over 40 keys,
    4 groups): after every batch the maintained aggregate equals the
    full recompute EXACTLY (decimal accumulation leaves no residue)."""
    rng = random.Random(42)
    # globally-unique event ids drawn from a shuffled pool: a LOW id for
    # an already-written user is naturally stale; no (user, seq) ties, so
    # winners are deterministic however many times a plan is evaluated
    pool = list(range(10_000))
    rng.shuffle(pool)
    init_rows = [
        (u, pool.pop(), rng.choice("wxyz"), round(rng.uniform(-50, 50), 4), "upsert")
        for u in range(40)
    ]
    state = lww_dedup(
        _ev(spark, init_rows), keys=KEYS, seq_col="event_id", tiebreakers=()
    ).localCheckpoint()
    agg = _full_recompute(state).localCheckpoint()
    for _ in range(20):
        rows = []
        for _ in range(rng.randint(1, 12)):
            u = rng.randrange(48)  # some keys brand-new
            op = "delete" if rng.random() < 0.25 else "upsert"
            rows.append(
                (u, pool.pop(), rng.choice("wxyz"), round(rng.uniform(-50, 50), 4), op)
            )
        state, agg = ivm_step(
            state, _ev(spark, rows), agg, "event_type", ["value"], keys=KEYS, seq_col="event_id"
        )
        state = state.localCheckpoint()
        agg = agg.localCheckpoint()
    assert _as_map(agg) == _as_map(_full_recompute(state))


def test_agg_view_doubles(spark):
    init = _ev(spark, [(1, 10, "a", 1.0, "upsert"), (2, 11, "a", 2.0, "upsert")])
    state = lww_dedup(init, keys=KEYS, seq_col="event_id", tiebreakers=())
    v = agg_view(_full_recompute(state), ["value"]).collect()[0]
    assert v["n_rows"] == 2 and v["total_value"] == 3.0 and v["avg_value"] == 1.5


def test_lake_backed_maintenance(spark, tmp_path):
    """Maintained aggregate over real lake merges (a base commit, then
    delta commits) equals the snapshot recompute; reads go through the
    affected-bucket scope."""
    from pyorchdb_spark.sources.lake import LakeTable

    lake = LakeTable(spark, str(tmp_path / "lake"), keys=("repo", "path"))
    sch = "repo string, path string, seq long, lang string, size double, op string"

    def _b(rows):
        return spark.createDataFrame(rows, sch)

    agg = group_contributions(_b([]).limit(0), "lang", ["size"])  # empty prev aggregate
    batches = [
        _b([("r1", "a.py", 1, "py", 10.0, "upsert"), ("r1", "b.rs", 2, "rs", 20.0, "upsert")]),
        _b([("r1", "a.py", 3, "py", 11.0, "upsert"), ("r2", "c.py", 4, "py", 5.0, "upsert")]),
        _b([("r1", "b.rs", 5, "rs", 0.0, "delete"), ("r2", "d.go", 6, "go", 2.5, "upsert")]),
    ]
    for i, b in enumerate(batches):
        agg = maintain_on_lake_merge(
            lake, b, agg, "lang", ["size"], batch_id=f"b{i}"
        ).localCheckpoint()
    snap = lake.snapshot()
    assert _as_map(agg, "sum_size") == {
        r["grp"]: (r["n_rows"], r["sum_size"])
        for r in group_contributions(snap, "lang", ["size"]).collect()
    }
    got = {r["grp"]: r["n_rows"] for r in agg.collect()}
    assert got == {"py": 2, "go": 1}  # rs deleted away


def test_delta_hit_set_conservative_on_missing_bucket_identity():
    """A delta manifest entry lacking bucket identity must hit EVERY base
    bucket (correctness-first, same rule as LakeTable._affected_files) —
    and a base file lacking identity must never be classed untouched."""
    from pyorchdb_spark.operators.ivm import _delta_hit_set

    # normal nesting arithmetic still exact
    hits = _delta_hit_set([{"bucket": 3, "nb": 8}], [8])
    assert hits == {(8, 3)}
    # bucket-less delta file: all buckets of every generation
    assert _delta_hit_set([{"path": "foreign.parquet"}], [2, 4]) == {
        (2, 0), (2, 1), (4, 0), (4, 1), (4, 2), (4, 3),
    }
    # bucket present but nb missing/falsy: same conservative fallback
    assert _delta_hit_set([{"bucket": 1, "nb": None}], [2]) == {(2, 0), (2, 1)}


def test_substrate_highwater_sidecar(tmp_path, monkeypatch):
    """bench.py's noise gate reads the committed high-water sidecar and
    raises it monotonically (BENCH_r*.json never carry the probes)."""
    import json

    import bench

    monkeypatch.setattr(bench, "_HIGHWATER_PATH", str(tmp_path / "hw.json"))
    monkeypatch.setattr(bench, "REPO", str(tmp_path))  # no bench_detail fallback
    assert bench._substrate_highwater() is None
    bench._update_substrate_highwater({"cpu_hashes_per_sec": 100}, {"cpu_hashes_per_sec": 250})
    assert bench._substrate_highwater() == 250.0
    bench._update_substrate_highwater({"cpu_hashes_per_sec": 200})  # never lowers
    assert bench._substrate_highwater() == 250.0
    assert json.load(open(tmp_path / "hw.json")) == {"cpu_hashes_per_sec": 250.0}
