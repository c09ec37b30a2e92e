"""aus_land_data_etl_spark — a PySpark-native CDC / incremental-ingest engine.

A from-scratch rebuild of the query & data-processing capabilities of the
reference ETL pipeline (AKST/Aus-Land-Data-ETL), re-expressed Spark-first:

- ``lake``       — snapshot-committed bucketed-parquet tables with atomic
                   commits, per-epoch manifests and bucket-pruned
                   copy-on-write MERGE, plus the Iceberg-shaped ops
                   surface: time travel by version or tag, named tags as
                   retention roots, metadata-only rollback that restores
                   the exactly-once state, and write-audit-publish
                   branches (Iceberg-style semantics; swap in real
                   Iceberg on a cluster with the jars present).
- ``cdc``        — change-event model, deterministic synthetic generator,
                   schema-version registry, aggregate LWW dedupe (per row,
                   or per cell for partial images) and the idempotent
                   merge-apply pipeline.
- ``streaming``  — Structured Streaming shell (file source → foreachBatch)
                   with exactly-once epoch guard, observe() metrics, and
                   event-time operators (watermarked windows, bounded
                   transport dedup, stateful LWW changelog).
- ``functions``  — scalar column functions (deterministic ids, unit
                   conversions, classifiers, date parsing) and the
                   vectorized html→text extraction / text-analysis UDFs.
- ``operators``  — relational operator library mirroring the reference's
                   SQL inventory (LWW canonicalisation windows, ordered
                   aggregation, lateral-unnest pivot, null-safe joins,
                   anti/semi joins) plus large-scale training-data ops
                   (MinHash-LSH / SimHash dedup, ANN similarity search).
- ``sources``    — batch sources: CSV with encoding fallback, PSV,
                   versioned multi-record text scan, sharded paginated
                   fetch planning.
- ``plans``      — the staged ingest→clean→dedup→derive DAG (the analog of
                   the reference's ordered 21-SQL-script derive plan).
"""

__version__ = "0.1.0"
