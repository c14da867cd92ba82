"""Durable maintained aggregate view — exactly-once IVM over a LakeTable.

``operators/ivm.py`` gives the maintenance *algebra* (retraction
deltas); this module makes it a DURABLE VIEW: a GROUP BY aggregate
stored beside the lake with its own versioned manifest, refreshed
incrementally from the base table's commit history and safe against
crashes at any point.

Refresh contract (the part that makes it exactly-once):

- the view manifest records ``base_version`` — the base-table version
  the stored aggregate reflects; refresh walks base commits
  ``base_version+1 .. current`` and publishes ONE new view version via
  the same atomic hard-link commit the lake uses (``os.link`` either
  creates the manifest or raises). A crash mid-refresh publishes
  nothing; the next refresh re-walks from the last durable
  ``base_version`` — re-applying a version's delta is exact (same
  retract + add), so recovery needs no undo log.
- per base commit, the changed-key set is read from THAT commit's new
  data files: a merge commit contributes O(batch) rows, an
  ``overwrite`` or rollback commit every file it (re)publishes (a
  superset of the changed keys — harmless: retract+add of an unchanged
  key cancels exactly).
- old/new contributions are scoped reads at version v-1 / v through the
  affected-bucket manifest arithmetic (semi-joined before MoR LWW
  resolution — ``operators/ivm.lake_scoped_state``), so refresh cost is
  proportional to what changed, never to the table.
- compaction commits (``batch_id`` = ``compact-*``) rewrite files
  without changing logical state and are skipped outright.

At the 10^10-event design point this is the difference between a
continuously-fresh metrics table and a nightly O(table) rebuild; the
measured evidence is BENCH/BASELINE.md's IVM probe.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import uuid
from collections.abc import Sequence

from pyspark.sql import DataFrame

from pyorchdb_spark.operators.ivm import (
    _live,
    agg_view,
    apply_delta,
    group_contributions,
    lake_scoped_state,
)
from pyorchdb_spark.sources.lake import ConcurrentCommitError, link_publish


class MaintainedAggregate:
    """A stored GROUP BY (count + decimal-exact sums) over a LakeTable,
    maintained incrementally. ``read()`` returns the user-facing view
    (totals/averages as doubles); ``refresh()`` catches the view up to
    the base table's current version and returns the stored aggregate.
    """

    def __init__(self, lake, root: str, group_col: str, sum_cols: Sequence[str]):
        self.lake = lake
        self.spark = lake.spark
        self.root = os.path.abspath(root)
        self.group_col = group_col
        self.sum_cols = list(sum_cols)
        os.makedirs(self._manifest_dir(), exist_ok=True)

    # ---- view manifest plumbing (same shapes as LakeTable) ----

    def _manifest_dir(self) -> str:
        return os.path.join(self.root, "manifest")

    def current_version(self) -> int | None:
        versions = [
            int(os.path.basename(p)[1:-5])
            for p in glob.glob(os.path.join(self._manifest_dir(), "v*.json"))
        ]
        return max(versions) if versions else None

    def _read_manifest(self) -> dict | None:
        v = self.current_version()
        if v is None:
            return None
        with open(os.path.join(self._manifest_dir(), f"v{v:08d}.json")) as fh:
            return json.load(fh)

    def _publish(self, agg: DataFrame, base_version: int) -> dict:
        version = (self.current_version() or 0) + 1
        rel = f"data/agg-{version:08d}-{uuid.uuid4().hex[:8]}"
        out_dir = os.path.join(self.root, rel)
        # |groups| rows — one file keeps reads trivial
        agg.coalesce(1).write.mode("overwrite").parquet(out_dir)
        files = [
            os.path.join(rel, os.path.basename(p))
            for p in glob.glob(os.path.join(out_dir, "*.parquet"))
        ]
        m = {"version": version, "base_version": base_version, "files": files}
        try:
            link_publish(self._manifest_dir(), f"v{version:08d}.json", json.dumps(m))
        except ConcurrentCommitError:
            # lost a concurrent-refresh race: remove THIS attempt's
            # data files (same contract as LakeTable._remove_orphans)
            shutil.rmtree(out_dir, ignore_errors=True)
            raise
        return m

    def _stored_agg(self, m: dict) -> DataFrame:
        paths = [os.path.join(self.root, f) for f in m["files"]]
        return self.spark.read.parquet(*paths)

    # ---- the view surface ----

    def read(self) -> DataFrame:
        m = self._read_manifest()
        if m is None:
            raise ValueError("view has never been refreshed")
        return agg_view(self._stored_agg(m), self.sum_cols)

    def refresh(self) -> DataFrame:
        base = self.lake.manifest()
        if base is None:
            raise ValueError("base table has no commits")
        vm = self._read_manifest()
        if vm is None:
            # bootstrap: one full aggregate of the pinned base version
            snap = self.lake.snapshot(version=base.version)
            agg = group_contributions(_live(snap), self.group_col, self.sum_cols)
            self._publish(agg, base.version)
            return agg
        if vm["base_version"] >= base.version:
            return self._stored_agg(vm)  # already current — no-op
        agg = self._stored_agg(vm)
        for v in range(vm["base_version"] + 1, base.version + 1):
            mv = self.lake.manifest(v)
            if mv.batch_id and str(mv.batch_id).startswith("rollback-to-"):
                # a rollback removes keys that appear in NO new file
                # (they lived only in the rolled-back-from head), so the
                # per-key diff below cannot see them — re-bootstrap from
                # the restored snapshot (O(table), like the rollback's
                # own state change)
                snap = self.lake.snapshot(version=v)
                agg = group_contributions(
                    _live(snap), self.group_col, self.sum_cols
                ).localCheckpoint(eager=False)
                continue
            if mv.batch_id and str(mv.batch_id).startswith("compact"):
                continue  # state-preserving rewrite
            mprev = self.lake.manifest(v - 1)
            prev_paths = {f["path"] for f in mprev.files}
            new_files = [f for f in mv.files if f["path"] not in prev_paths]
            if not new_files:
                continue
            newf = self.spark.read.schema(mv.schema()).parquet(
                *[os.path.join(self.lake.root, f["path"]) for f in new_files]
            )
            changed_keys = newf.select(*self.lake.keys).distinct()
            old_scoped = lake_scoped_state(self.lake, mprev, changed_keys)
            new_scoped = lake_scoped_state(self.lake, mv, changed_keys)
            agg = apply_delta(
                agg, old_scoped, new_scoped, self.group_col, self.sum_cols
            ).localCheckpoint(eager=False)
        self._publish(agg, base.version)
        return agg
