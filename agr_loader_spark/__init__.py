"""agr_loader_spark — a PySpark-native CDC / incremental-ingest engine.

A from-scratch re-expression of the capabilities of
alliance-genome/agr_loader (reference at /root/reference, Python + Cypher
against Neo4j) as an idiomatic PySpark engine: a binlog/WAL-shaped change
feed of insert/update/delete/schema-change events is replayed into
lake tables (Iceberg-style bucketed parquet with snapshot manifests) via
key-partitioned MERGE upserts with

- per-batch dedup by (doc_id, event_lsn) and last-writer-wins conflict
  resolution (vectorized, inside one per-bucket copy-on-write fold),
- exactly-once sink semantics via idempotent commit manifests keyed by
  checkpoint epoch,
- mid-stream schema evolution (column add / rename / type-widen) driven
  by schema-change events, field-id based like Iceberg,
- resume from checkpoint with per-partition lineage
  (source offset range -> snapshot id) and per-micro-batch metrics,
- two-phase local/global merge-apply for hot doc_id skew (a map-local
  LWW combine, then one shuffle by target bucket into the fold).

Reference parity map lives in SURVEY.md §2; every module docstring cites
the reference file:line it re-expresses.
"""

__version__ = "0.1.0"
