"""Lineage audit over committed manifests: offset coverage, gaps, overlaps.

A WAL tail is only trustworthy if you can *prove* what was applied.  The
manifests already record one (epoch, source_file, source_partition) row
per batch with its offset range and density; this module turns them into
the two audit questions an operator actually asks:

- ``offset_gaps(table)`` — "did we lose events?": offset ranges missing
  between applied ranges of the same (file, partition) namespace, plus
  double-applied overlaps (benign under LWW, but a transport smell).
- ``coverage_summary(table)`` — per-namespace applied span, row counts,
  duplicate factor, and the snapshot watermark — the dashboard row.

Both are plain DataFrame plans over ``manifest_df`` (a distributed scan
of the referenced manifest parquet files): one shuffle on the namespace,
a window over each namespace's ranges — at 10^5 epochs that is ~10^5·P
tiny rows, far below data scale.  The reference's analog is its
meta-table of ingested file spans (sql/meta/schema/001_APPLY_init.sql:36-56)
which it audits by hand in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from aus_land_data_etl_spark.lake.table import LakeTable

_NS = ["source_file", "source_partition"]


def offset_gaps(table: LakeTable, version: int | None = None) -> DataFrame:
    """Missing / double-applied offset ranges per (file, partition).

    Output: one row per anomaly —
    ``kind='gap'``: offsets in (prev_end, start) were never applied;
    ``kind='overlap'``: this range's [min,max] intersects an earlier
    range's — genuine re-application OR merely interleaved delivery (a
    file source regrouping a WAL does the latter routinely); the exact
    re-application count is ``coverage_summary``'s multiset identity,
    these rows locate WHERE ranges intersect for eyeballing.

    Ranges are compared on a running maximum of ``end_offset`` (not the
    previous row's end) so an early wide range followed by narrower
    re-deliveries doesn't fabricate gaps.
    """
    m = table.manifest_df(version)
    w = (
        Window.partitionBy(*_NS)
        .orderBy("start_offset", "end_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
    )
    ranked = m.withColumn("_prev_max_end", F.max("end_offset").over(w))
    gap = ranked.filter(
        F.col("_prev_max_end").isNotNull()
        & (F.col("start_offset") > F.col("_prev_max_end") + 1)
    ).select(
        *_NS,
        F.lit("gap").alias("kind"),
        (F.col("_prev_max_end") + 1).alias("missing_from"),
        (F.col("start_offset") - 1).alias("missing_to"),
        F.col("epoch").alias("at_epoch"),
    )
    overlap = ranked.filter(
        F.col("_prev_max_end").isNotNull()
        & (F.col("start_offset") <= F.col("_prev_max_end"))
    ).select(
        *_NS,
        F.lit("overlap").alias("kind"),
        F.col("start_offset").alias("missing_from"),
        F.least("end_offset", "_prev_max_end").alias("missing_to"),
        F.col("epoch").alias("at_epoch"),
    )
    return gap.unionByName(overlap)


def coverage_summary(table: LakeTable, version: int | None = None) -> DataFrame:
    """Per-(file, partition) applied-offset coverage.

    ``contiguous`` is exact (no gap anywhere in the applied span, not
    just under the watermark prefix).  Duplicates are split by origin:
    ``dup_rows`` — at-least-once transport duplicates *within* batches
    (row_count − distinct offsets); ``reapplied_offsets`` — a
    *re-application count* from the exact multiset identity
    ``Σ distinct_offsets − covered_width`` (covered_width = span −
    detected gaps): a range applied N times contributes (N−1)× its
    width (cross-batch replay that slipped past the epoch guard;
    LWW-idempotent but alarm-worthy).  The identity never false-alarms
    on *interleaved* delivery — batches whose [min,max] ranges overlap
    while their offsets tile (a file-source regrouping does this
    routinely; the old per-pair range-overlap algebra misread one such
    clean smoke run as 25k re-applied offsets).  When batches are
    internally sparse the gap algebra can under-detect missing offsets,
    making this a LOWER bound — alarms are real, quiet may hide
    sparse-batch replay (the ``overlap`` anomaly rows in
    ``offset_gaps`` still surface those for eyeballing).  The driver
    oracle ``ORACLE_LINEAGE_AUDIT`` pins the same identity.
    """
    m = table.manifest_df(version)
    snap = table.snapshot(version)
    per_ns = m.groupBy(*_NS).agg(
        F.min("start_offset").alias("first_offset"),
        F.max("end_offset").alias("last_offset"),
        F.sum("row_count").alias("rows_applied"),
        F.sum("distinct_offsets").alias("_sum_distinct"),
        F.count("*").alias("n_batches"),
    )
    gaps = (
        offset_gaps(table, version)
        .groupBy(*_NS)
        .agg(
            F.sum(
                F.when(
                    F.col("kind") == "gap",
                    F.col("missing_to") - F.col("missing_from") + 1,
                ).otherwise(F.lit(0))
            ).alias("_missing"),
        )
    )
    out = per_ns.join(gaps, _NS, "left").na.fill({"_missing": 0})
    covered = (
        F.col("last_offset") - F.col("first_offset") + 1 - F.col("_missing")
    )
    reapplied_exact = F.greatest(
        F.lit(0).cast("long"),
        (F.col("_sum_distinct") - covered).cast("long"),
    )
    wm_map = F.create_map(
        *[
            x
            for k, v in sorted(snap.watermarks.items())
            for x in (F.lit(k), F.lit(int(v)))
        ]
    ) if snap.watermarks else F.create_map().cast("map<string,bigint>")
    ns_key = F.concat_ws("#", F.col("source_file"), F.col("source_partition"))
    return out.select(
        *_NS,
        "first_offset",
        "last_offset",
        "rows_applied",
        "n_batches",
        (F.col("rows_applied") - F.col("_sum_distinct")).alias("dup_rows"),
        reapplied_exact.alias("reapplied_offsets"),
        (F.col("_missing") == 0).alias("contiguous"),
        F.col("_missing").alias("missing_offsets"),
        wm_map[ns_key].alias("watermark"),
    )
