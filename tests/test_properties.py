"""Property-based checks (hypothesis): plain LWW, salted LWW and the
pandas oracle agree on arbitrary small event logs — including
adversarial ties, duplicate deliveries, all-delete keys and empty logs."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyorchdb_spark.operators.dedup import final_state, lww_dedup, lww_dedup_salted
from pyorchdb_spark.oracle import expected_final_state
from pyorchdb_spark.sources.lake import ConcurrentCommitError, LakeTable, Manifest

DDL = "repo string, path string, commit string, seq long, op string, lang string, content string, batch_id string"

# content derives from the ordering columns: rows that tie on the full
# LWW order (seq, commit, op) are then byte-identical, so every legal
# winner is the same row (the engine's ordering is total up to row
# identity — same property the deterministic generator guarantees).
event = st.builds(
    lambda repo, path, commit, seq, op: (
        repo, path, commit, seq, op, "python", f"{commit}:{op}:{seq}", "b0"
    ),
    repo=st.sampled_from(["r0", "r1"]),            # few keys → collisions
    path=st.sampled_from(["a", "b", "c"]),
    commit=st.sampled_from(["c1", "c2", "c3"]),    # tie-breaker
    seq=st.integers(min_value=0, max_value=9),     # small → ties
    op=st.sampled_from(["upsert", "delete"]),
)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(event, min_size=1, max_size=25))
def test_lww_strategies_and_oracle_agree(spark, rows):
    ev = spark.createDataFrame(rows, DDL)
    outs = []
    for df in (
        final_state(ev),
        final_state(ev, salted=True, n_salts=4),
    ):
        outs.append(
            sorted(
                tuple(r)
                for r in df.select("repo", "path", "seq", "commit", "op", "content").collect()
            )
        )
    assert outs[0] == outs[1]

    exp = expected_final_state(ev.toPandas())
    got_keys = {(r[0], r[1], r[5]) for r in outs[0]}
    exp_keys = {(r.repo, r.path, r.content) for r in exp.itertuples()}
    assert got_keys == exp_keys


def test_concurrent_commit_rejected(spark, tmp_path):
    """Optimistic concurrency: publishing an already-taken version fails."""
    lake = LakeTable(spark, str(tmp_path / "cc"))
    m = Manifest(version=1, parent=None, batch_id="a", schema_json='{"type":"struct","fields":[]}')
    lake._publish(m)
    with pytest.raises(ConcurrentCommitError):
        lake._publish(Manifest(version=1, parent=None, batch_id="b", schema_json='{"type":"struct","fields":[]}'))
