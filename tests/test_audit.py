"""Lineage audit (cdc.audit): offset gaps, overlaps, coverage summary."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aus_land_data_etl_spark.cdc.apply import apply_batch, create_pages_table
from aus_land_data_etl_spark.cdc.audit import coverage_summary, offset_gaps
from aus_land_data_etl_spark.cdc.generator import generate_events


@pytest.fixture()
def table_with_skipped_batch(spark, tmp_table_dir):
    """Apply offset ranges [0,24] and [50,74] per partition — batch 1
    ([25,49]) deliberately lost in transport."""
    t = create_pages_table(spark, tmp_table_dir, n_buckets=4)
    ev = generate_events(spark, 300, seed=7, n_source_partitions=2)
    seg = (F.col("source_offset") / 25).cast("int")
    for i in (0, 2):
        apply_batch(t, ev.filter(seg == i), epoch=i, wal_offsets=True)
    return t


def test_offset_gaps_found(spark, table_with_skipped_batch):
    t = table_with_skipped_batch
    gaps = offset_gaps(t).orderBy("source_file", "kind").collect()
    assert [g["kind"] for g in gaps] == ["gap", "gap"]  # one per partition
    for g in gaps:
        assert (g["missing_from"], g["missing_to"]) == (25, 49)


def test_offset_gaps_clean_stream_empty(spark, tmp_table_dir):
    t = create_pages_table(spark, tmp_table_dir, n_buckets=4)
    ev = generate_events(spark, 200, seed=7, n_source_partitions=2)
    seg = (F.col("source_offset") / 25).cast("int")
    for i in range(4):
        apply_batch(t, ev.filter(seg == i), epoch=i, wal_offsets=True)
    assert offset_gaps(t).count() == 0
    cov = coverage_summary(t).collect()
    assert len(cov) == 2
    for c in cov:
        assert c["contiguous"] and c["missing_offsets"] == 0
        assert c["first_offset"] == 0 and c["last_offset"] == 99
        assert c["n_batches"] == 4
        # dense clean stream: watermark reached the end of the span
        assert c["watermark"] == c["last_offset"]


@pytest.mark.filterwarnings("error::FutureWarning")
def test_coverage_summary_reports_gap_and_watermark(spark, table_with_skipped_batch):
    t = table_with_skipped_batch
    cov = coverage_summary(t).collect()
    for c in cov:
        assert not c["contiguous"]
        assert c["missing_offsets"] == 25
        assert c["last_offset"] == 74
        # watermark = contiguous PREFIX only: stops before the gap
        assert c["watermark"] == 24


def test_overlap_detection(spark, tmp_table_dir):
    """The same offsets shipped with DIFFERENT content (a buggy producer
    reusing offsets — dodges the epoch window, the content key AND the
    watermark path) still shows up as overlap in the audit.

    Note the inverse is tested elsewhere: a byte-identical replay (e.g.
    only a non-versioned column perturbed) is caught by the content key
    and never double-commits."""
    t = create_pages_table(spark, tmp_table_dir, n_buckets=4)
    ev = generate_events(spark, 100, seed=7, n_source_partitions=2)
    apply_batch(t, ev, epoch=0, wal_offsets=True)
    # same offsets, different versions -> different checksum/content key
    ev2 = ev.withColumn(
        "warc_ts", F.col("warc_ts") + F.expr("INTERVAL 1 SECOND")
    )
    apply_batch(t, ev2, epoch=1, wal_offsets=False)
    kinds = {r["kind"] for r in offset_gaps(t).collect()}
    assert kinds == {"overlap"}
    cov = coverage_summary(t).collect()
    for c in cov:
        assert c["reapplied_offsets"] == 50  # full 0-49 span re-applied
        assert c["contiguous"]


def test_reapplied_is_a_replay_count_not_distinct_width(spark, tmp_table_dir):
    """Pin the documented semantics: ``reapplied_offsets`` is the exact
    multiset identity Σ distinct_offsets − covered width — a span
    applied N times contributes (N−1)× its width, NOT the distinct
    doubly-covered width.  Three applications of the same 50-offset
    span per partition → 2×50 = 100."""
    t = create_pages_table(spark, tmp_table_dir, n_buckets=4)
    ev = generate_events(spark, 100, seed=7, n_source_partitions=2)
    apply_batch(t, ev, epoch=0, wal_offsets=True)
    for i in (1, 2):
        bumped = ev.withColumn(
            "warc_ts", F.col("warc_ts") + F.expr(f"INTERVAL {i} SECOND")
        )
        apply_batch(t, bumped, epoch=i, wal_offsets=False)
    cov = coverage_summary(t).collect()
    assert len(cov) == 2
    for c in cov:
        assert c["reapplied_offsets"] == 100  # (3-1) × 50, not 50
        assert c["contiguous"]


def test_interleaved_clean_delivery_reports_zero_reapplied(
    spark, tmp_table_dir
):
    """Regression (found by the spark-submit smoke): a file source
    regrouping a WAL delivers batches whose [min,max] offset ranges
    interleave even though every offset arrives exactly once.  The old
    per-pair range-overlap algebra read one such clean run as ~25k
    re-applied offsets; the multiset identity must report 0 while the
    'overlap' anomaly rows still locate the range intersections."""
    t = create_pages_table(spark, tmp_table_dir, n_buckets=4)
    ev = generate_events(spark, 200, seed=9, n_source_partitions=2)
    # two batches with interleaved 25-offset stripes: batch 0 takes
    # offsets [0,25)∪[50,75), batch 1 takes [25,50)∪[75,100) — ranges
    # overlap, offsets tile exactly
    stripe = (F.col("source_offset") / 25).cast("int")
    apply_batch(t, ev.filter(stripe.isin(0, 2)), epoch=0, wal_offsets=True)
    apply_batch(t, ev.filter(stripe.isin(1, 3)), epoch=1, wal_offsets=True)
    cov = coverage_summary(t).collect()
    assert len(cov) == 2
    for c in cov:
        assert c["reapplied_offsets"] == 0, c
        assert c["contiguous"] and c["missing_offsets"] == 0
        assert c["first_offset"] == 0 and c["last_offset"] == 99
    # interleaving is still visible as range-intersection anomalies
    kinds = {r["kind"] for r in offset_gaps(t).collect()}
    assert kinds == {"overlap"}
