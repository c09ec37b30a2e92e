"""Metadata-only COUNT over the serving view (lake/metadata_agg.py).

Iceberg answers COUNT(*) from manifest record counts; this engine must do
the same over a tombstone-retaining base, so the contract under test is:

1. **Exactness, always**: ``count_current(...)`` equals
   ``read_current(...).filter(preds).count()`` on every path — folded
   metadata, residual-scan boundary, and MoR-fallback.
2. **Zero jobs on the pure-metadata path**: a folded table with recorded
   ``dels`` answers an unpredicated COUNT without launching ANY Spark job.
3. **Effectiveness with predicates**: on a z-ordered table a time-window
   COUNT answers interior files from metadata and scans only the
   boundary files the window cuts through.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from aus_land_data_etl_spark.cdc.apply import apply_batch, create_pages_table
from aus_land_data_etl_spark.cdc.generator import generate_events
from aus_land_data_etl_spark.lake.merge import fold_deltas, read_current
from aus_land_data_etl_spark.lake.metadata_agg import count_current, minmax_current
from aus_land_data_etl_spark.lake.zorder import cluster_zorder


@pytest.fixture(scope="module")
def events(spark):
    return generate_events(spark, 3000, seed=91).cache()


@pytest.fixture(scope="module")
def folded_table(spark, events, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("meta_count"))
    t = create_pages_table(spark, d, n_buckets=4)
    for i in range(3):
        b = events.filter(F.pmod(F.col("source_offset"), F.lit(3)) == i)
        apply_batch(t, b, epoch=i)
    fold_deltas(t, "event_id")
    return t


def test_unpredicated_count_is_pure_metadata(spark, folded_table):
    expected = read_current(folded_table).count()
    sc = spark.sparkContext
    group = "meta-count-zero-jobs"
    sc.setJobGroup(group, "metadata count")
    try:
        plan = count_current(folded_table)
    finally:
        sc.setJobGroup("", "")
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert plan.count == expected
    assert not plan.fallback
    assert plan.scanned_files == [] and plan.metadata_files
    assert n_jobs == 0, f"pure-metadata count launched {n_jobs} Spark jobs"


def test_dels_recorded_exactly(spark, folded_table):
    snap = folded_table.snapshot()
    # every live base file carries an exact dels count ...
    rels = [f for fs in snap.bucket_files.values() for f in fs]
    assert rels and all("dels" in snap.file_stats[r] for r in rels)
    # ... and the per-file ledger sums to the true tombstone count
    raw = folded_table.read(include_deltas=False)
    hidden = raw.filter(
        F.col("is_deleted").isNull() | F.col("is_deleted")
    ).count()
    assert sum(snap.file_stats[r]["dels"] for r in rels) == hidden


def test_windowed_count_on_zordered_table(spark, folded_table):
    cluster_zorder(folded_table, ["warc_ts"], files_per_bucket=4)
    lo_hi = read_current(folded_table).agg(
        F.min("warc_ts").alias("lo"), F.max("warc_ts").alias("hi")
    ).first()
    span = lo_hi["hi"] - lo_hi["lo"]
    lo = lo_hi["lo"] + span * 0.25
    hi = lo_hi["lo"] + span * 0.75
    preds = [("warc_ts", ">=", lo), ("warc_ts", "<", hi)]
    expected = (
        read_current(folded_table)
        .filter((F.col("warc_ts") >= F.lit(lo)) & (F.col("warc_ts") < F.lit(hi)))
        .count()
    )
    plan = count_current(folded_table, predicates=preds)
    assert plan.count == expected
    assert not plan.fallback
    # the window must engage the planner: some files pruned outright or
    # answered from metadata, and the residual strictly smaller than the
    # file population
    n_all = len(plan.metadata_files) + len(plan.scanned_files) + len(
        plan.pruned_files
    )
    assert plan.pruned_files or plan.metadata_files
    assert len(plan.scanned_files) < n_all


@pytest.mark.parametrize(
    "frac", [(0.0, 1.0), (0.0, 0.4), (0.6, 1.0), (0.45, 0.55)]
)
def test_windowed_count_matches_serving_view(spark, folded_table, frac):
    lo_hi = read_current(folded_table).agg(
        F.min("warc_ts").alias("lo"), F.max("warc_ts").alias("hi")
    ).first()
    span = lo_hi["hi"] - lo_hi["lo"]
    lo = lo_hi["lo"] + span * frac[0]
    hi = lo_hi["lo"] + span * frac[1] + dt.timedelta(seconds=1)
    preds = [("warc_ts", ">=", lo), ("warc_ts", "<", hi)]
    expected = (
        read_current(folded_table)
        .filter((F.col("warc_ts") >= F.lit(lo)) & (F.col("warc_ts") < F.lit(hi)))
        .count()
    )
    assert count_current(folded_table, predicates=preds).count == expected


def test_mor_stack_falls_back_and_stays_exact(spark, events, tmp_path):
    t = create_pages_table(spark, str(tmp_path / "mor"), n_buckets=4)
    for i in range(3):
        b = events.filter(F.pmod(F.col("source_offset"), F.lit(3)) == i)
        apply_batch(t, b, epoch=i)
    assert t.snapshot().delta_files  # live MoR stack
    plan = count_current(t)
    assert plan.fallback
    assert plan.count == read_current(t).count()
    # predicated fallback applies the row filter over the RESOLVED view
    cut = events.agg(F.max("warc_ts")).first()[0]
    preds = [("warc_ts", "<=", cut)]
    assert count_current(t, predicates=preds).count == plan.count


def test_tombstone_rows_store_null_payloads(spark, folded_table):
    """The invariant minmax_current's payload-column fast path rests on:
    a tombstone row stores NULL in every payload cell, so parquet bounds
    (which ignore NULLs) are live-rows-only for payload columns."""
    raw = folded_table.read(include_deltas=False)
    payload = [
        c for c in raw.columns
        if c not in {"url", "warc_ts", "event_id", "is_deleted"}
        and not c.startswith("_")
    ]
    assert payload
    bad = raw.filter(F.col("is_deleted")).filter(
        F.greatest(*[F.col(c).isNotNull() for c in payload])
    )
    assert bad.count() == 0
    # and is_deleted itself is never NULL on this path
    assert raw.filter(F.col("is_deleted").isNull()).count() == 0


def _serving_minmax(table, col, lo=None, hi=None):
    df = read_current(table)
    if lo is not None:
        df = df.filter((F.col("warc_ts") >= F.lit(lo)) & (F.col("warc_ts") < F.lit(hi)))
    return df.agg(
        F.min(col).alias("lo"), F.max(col).alias("hi"), F.count(col).alias("n")
    ).first()


def test_minmax_version_col_matches_serving_view(spark, folded_table):
    exp = _serving_minmax(folded_table, "warc_ts")
    plan = minmax_current(folded_table, "warc_ts")
    assert (plan.lo, plan.hi, plan.count_nonnull) == (
        exp["lo"], exp["hi"], int(exp["n"])
    )
    assert not plan.fallback


def test_minmax_payload_col_uses_metadata_despite_tombstones(spark, folded_table):
    # lang is a payload column: tombstone rows store NULL there, so files
    # with tombstones still answer from metadata
    exp = _serving_minmax(folded_table, "lang")
    plan = minmax_current(folded_table, "lang")
    assert (plan.lo, plan.hi, plan.count_nonnull) == (
        exp["lo"], exp["hi"], int(exp["n"])
    )
    assert plan.metadata_files, "payload-column bounds never used metadata"


def test_minmax_unstatted_column_scans_but_stays_exact(spark, folded_table):
    # text is not in stats_cols → no zonemaps → residual path, still exact
    exp = _serving_minmax(folded_table, "text")
    plan = minmax_current(folded_table, "text")
    assert (plan.lo, plan.hi, plan.count_nonnull) == (
        exp["lo"], exp["hi"], int(exp["n"])
    )
    assert plan.metadata_files == []


def test_minmax_windowed(spark, folded_table):
    lo_hi = read_current(folded_table).agg(
        F.min("warc_ts").alias("lo"), F.max("warc_ts").alias("hi")
    ).first()
    span = lo_hi["hi"] - lo_hi["lo"]
    lo = lo_hi["lo"] + span * 0.3
    hi = lo_hi["lo"] + span * 0.7
    preds = [("warc_ts", ">=", lo), ("warc_ts", "<", hi)]
    exp = _serving_minmax(folded_table, "lang", lo, hi)
    plan = minmax_current(folded_table, "lang", predicates=preds)
    assert (plan.lo, plan.hi, plan.count_nonnull) == (
        exp["lo"], exp["hi"], int(exp["n"])
    )


def test_minmax_mor_fallback(spark, events, tmp_path):
    t = create_pages_table(spark, str(tmp_path / "mm_mor"), n_buckets=4)
    for i in range(2):
        b = events.filter(F.pmod(F.col("source_offset"), F.lit(2)) == i)
        apply_batch(t, b, epoch=i)
    assert t.snapshot().delta_files
    exp = _serving_minmax(t, "warc_ts")
    plan = minmax_current(t, "warc_ts")
    assert plan.fallback
    assert (plan.lo, plan.hi, plan.count_nonnull) == (
        exp["lo"], exp["hi"], int(exp["n"])
    )


def test_equality_predicate_count(spark, folded_table):
    expected = (
        read_current(folded_table).filter(F.col("lang") == "en").count()
    )
    plan = count_current(folded_table, predicates=[("lang", "==", "en")])
    assert plan.count == expected and not plan.fallback


def test_count_minmax_on_patch_table_with_live_deltas(spark, tmp_path):
    """Regression (round 5, found by the property suite's metadata
    check): the MoR fallback reads ``read_current(columns=[...])`` with
    a projection that keeps NO payload cells; on a patch table
    resolve_cells then built ``F.filter(F.array(), ...)`` — array<void>
    — and the lambda's ``s["value"]`` raised
    INVALID_EXTRACT_BASE_FIELD_TYPE.  count_current/minmax_current on a
    patch table with live fanout deltas must answer exactly (via the
    documented fallback), not crash."""
    import datetime as dt

    from pyspark.sql import functions as F

    from aus_land_data_etl_spark.cdc.apply import (
        apply_batch,
        create_pages_table,
    )
    from aus_land_data_etl_spark.cdc.events import PATCH_EVENT_SCHEMA
    from aus_land_data_etl_spark.lake.merge import read_current
    from aus_land_data_etl_spark.lake.metadata_agg import (
        count_current,
        minmax_current,
    )
    from tests.test_property_lww import KEYS, to_patch_rows

    events = [
        ("e000", "patch", KEYS[0], 35, [], 0),
        ("e001", "update", KEYS[0], 33, None, 1),
        ("e002", "update", KEYS[1], 10, None, 2),
    ]
    table = create_pages_table(spark, str(tmp_path / "t"), n_buckets=2)
    df = spark.createDataFrame(to_patch_rows(events), PATCH_EVENT_SCHEMA)
    for i, mode in enumerate(["mor", "cow"]):
        batch = df.filter(F.pmod(F.xxhash64("event_id"), F.lit(2)) == i)
        apply_batch(table, batch, epoch=i, mode=mode)
    assert table.snapshot().delta_files, "repro needs a live delta stack"

    cur = read_current(table)
    n = cur.count()
    cp = count_current(table)
    assert (cp.count, cp.fallback) == (n, True)

    agg = cur.agg(
        F.min("warc_ts").alias("lo"), F.max("warc_ts").alias("hi")
    ).collect()[0]
    bp = minmax_current(table, "warc_ts")
    assert bp.fallback
    assert (bp.lo, bp.hi, bp.count_nonnull) == (agg["lo"], agg["hi"], n)

    # the precise crash shapes: zero-payload projections
    assert read_current(table, columns=[]).count() == n
    assert read_current(table, columns=["warc_ts"]).count() == n
