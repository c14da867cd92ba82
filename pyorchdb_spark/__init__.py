"""pyorchdb_spark — a from-scratch PySpark-native CDC / incremental-ingest engine.

Re-expresses the capabilities of the reference ETL orchestrator
(jzsmoreno/PyOrchDB, see /root/reference) Spark-first:

- the reference's "new files since last run" catalog diff
  (PyOrchDB/utilities/catalog.py:96-105) becomes a binlog/WAL-shaped
  change-event tail applied with exactly-once batch records;
- its pandas clean/infer/merge phases (PyOrchDB/main.py:106-238) become
  declarative DataFrame transforms + vectorized Arrow/pandas UDFs;
- its append/override SQL load (PyOrchDB/utilities/tools.py:103-133)
  becomes an idempotent MERGE INTO a parquet+manifest lake table with
  snapshot-isolated commits, last-writer-wins dedup and schema evolution.

Nothing here is a port: the architecture is DataFrame/Catalyst-native.
"""

__version__ = "0.1.0"
