"""Streaming shell: drain, checkpoint recovery, mid-stream kill replay."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from aus_land_data_etl_spark.cdc.apply import create_pages_table, prepare_batch
from aus_land_data_etl_spark.cdc.generator import generate_events
from aus_land_data_etl_spark.lake.merge import read_current
from aus_land_data_etl_spark.operators.dedup import lww_latest
from aus_land_data_etl_spark.streaming.runner import run_stream, write_event_log

N = 2000


@pytest.fixture()
def dirs():
    root = tempfile.mkdtemp(prefix="stream_")
    paths = {k: os.path.join(root, k) for k in ("wal", "ckpt", "table")}
    yield paths
    shutil.rmtree(root, ignore_errors=True)


def _fingerprint(df):
    cols = ["url", "warc_ts", "event_id", "text", "lang", "fetch_status"]
    r = df.select(
        F.bit_xor(F.xxhash64(*[F.col(c).cast("string") for c in cols])).alias("h"),
        F.count("*").alias("n"),
    ).collect()[0]
    return (r["h"] or 0, r["n"])


def _expected(events):
    prep = prepare_batch(events)
    win = lww_latest(prep, "url", version_cols=["warc_ts", "event_id"])
    return _fingerprint(win.filter(F.col("op") != "delete"))


def test_stream_drain_converges(spark, dirs):
    events = generate_events(spark, N, seed=11)
    write_event_log(events, dirs["wal"], n_files=6)
    table = create_pages_table(spark, dirs["table"], n_buckets=8)
    res = run_stream(spark, table, dirs["wal"], dirs["ckpt"], max_files_per_trigger=2)
    assert res.batches >= 3  # backpressure actually split the backlog
    got = read_current(table).select(
        "url", "warc_ts", "event_id", "text", "lang", "fetch_status"
    )
    assert _fingerprint(got) == _expected(events)


def test_stream_resume_from_checkpoint(spark, dirs):
    """Stop after a partial drain; restart must pick up only the rest and
    still converge (file-source offset tracking + idempotent sink)."""
    events = generate_events(spark, N, seed=12)
    write_event_log(events, dirs["wal"], n_files=6)
    table = create_pages_table(spark, dirs["table"], n_buckets=8)
    # First pass: cap to a single trigger by draining with huge batches but
    # simulating a crash: run availableNow with 3 files per trigger, then
    # delete nothing and run again — second run must be a cheap no-op.
    res1 = run_stream(spark, table, dirs["wal"], dirs["ckpt"], max_files_per_trigger=3)
    v_after = table.current_version()
    res2 = run_stream(spark, table, dirs["wal"], dirs["ckpt"], max_files_per_trigger=3)
    assert res2.rows == 0  # checkpoint: no files re-read
    assert table.current_version() == v_after
    # Late-arriving WAL segment: new events land, stream resumes from ckpt
    more = generate_events(spark, N, seed=12).filter(F.lit(False))
    late = generate_events(spark, 500, seed=13).withColumn(
        "source_file", F.concat(F.lit("wal2/"), F.col("source_file"))
    )
    write_event_log(late, dirs["wal"], n_files=2)
    run_stream(spark, table, dirs["wal"], dirs["ckpt"], max_files_per_trigger=3)
    both = events.unionByName(late)
    got = read_current(table).select(
        "url", "warc_ts", "event_id", "text", "lang", "fetch_status"
    )
    assert _fingerprint(got) == _expected(both)


def test_stream_duplicate_epoch_sink_is_noop(spark, dirs):
    """Simulate foreachBatch re-invocation after checkpoint recovery: a
    fresh checkpoint dir re-delivers every batch; table must not change."""
    events = generate_events(spark, N, seed=14)
    write_event_log(events, dirs["wal"], n_files=4)
    table = create_pages_table(spark, dirs["table"], n_buckets=8)
    run_stream(spark, table, dirs["wal"], dirs["ckpt"], max_files_per_trigger=2)
    fp1 = _fingerprint(
        read_current(table).select("url", "warc_ts", "event_id", "text", "lang", "fetch_status")
    )
    v1 = table.current_version()
    # new checkpoint → Spark re-reads all files with the same epoch ids 0..n
    run_stream(spark, table, dirs["wal"], dirs["ckpt"] + "_2", max_files_per_trigger=2)
    fp2 = _fingerprint(
        read_current(table).select("url", "warc_ts", "event_id", "text", "lang", "fetch_status")
    )
    assert fp1 == fp2
    assert table.current_version() == v1  # every re-delivered epoch no-op'd


def test_fresh_checkpoint_regrouped_batches_still_apply(spark, dirs):
    """A NEW checkpoint over the same WAL regroups files into batches that
    reuse ids 0..N.  The exactly-once key is CONTENT-ADDRESSED
    (``content_epoch_key``: a digest of the batch's per-partition lineage
    manifest), so a regrouped batch carrying unapplied events gets a fresh
    key and is applied (under a bare batch-id key it would be falsely
    skipped as already-committed and fresh events silently lost)."""
    events = generate_events(spark, N, seed=13)
    first = events.filter(F.pmod(F.col("source_pos"), F.lit(2)) == 0)
    rest = events.filter(F.pmod(F.col("source_pos"), F.lit(2)) == 1)

    write_event_log(first, dirs["wal"], n_files=6)
    table = create_pages_table(spark, dirs["table"], n_buckets=8)
    run_stream(spark, table, dirs["wal"], dirs["ckpt"], max_files_per_trigger=1)

    # lose the checkpoint; more WAL arrives; re-tail with a coarser trigger
    # → completely different batch grouping, ids starting at 0 again
    write_event_log(rest, dirs["wal"], n_files=2)
    ckpt2 = dirs["ckpt"] + "_fresh"
    run_stream(spark, table, dirs["wal"], ckpt2, max_files_per_trigger=2)

    got = read_current(table).select(
        "url", "warc_ts", "event_id", "text", "lang", "fetch_status"
    )
    assert _fingerprint(got) == _expected(events)


def test_stream_maintains_agg_view_inline(spark, dirs):
    """run_stream(views=[...]): the view folds each micro-batch's
    changelog interval as it commits; after the drain it equals a full
    recompute, and a fresh-checkpoint replay advances neither table nor
    view."""
    from aus_land_data_etl_spark.lake.incremental import (
        AggSpec,
        AggView,
        full_compute,
    )

    events = generate_events(spark, N, seed=21)
    write_event_log(events, dirs["wal"], n_files=6)
    table = create_pages_table(spark, dirs["table"], n_buckets=8)
    view = AggView.create(
        spark,
        dirs["table"] + "_mv",
        table,
        keys=["grp"],
        aggs=[AggSpec("n_pages", "count"), AggSpec("sum_len", "sum", "tl")],
        derived={"grp": "pmod(xxhash64(url), 5)", "tl": "length(text)"},
        n_buckets=4,
    )
    run_stream(
        spark, table, dirs["wal"], dirs["ckpt"],
        max_files_per_trigger=2, views=[view],
    )
    assert view.refreshed_through() == table.current_version()

    def rows(df):
        return sorted(
            tuple(round(v, 6) if isinstance(v, float) else v for v in r)
            for r in df.collect()
        )

    assert rows(view.read()) == rows(full_compute(view))
    # replay the whole WAL from a fresh checkpoint: exactly-once for both
    tv, vv = table.current_version(), view.table.current_version()
    run_stream(
        spark, table, dirs["wal"], dirs["ckpt"] + "2",
        max_files_per_trigger=2, views=[view],
    )
    assert table.current_version() == tv
    assert view.table.current_version() == vv
    assert rows(view.read()) == rows(full_compute(view))


def test_long_run_bounds_snapshot_dirs_on_disk(spark, dirs):
    """Round-2 verdict #8: every commit creates data/sNNNNNNNN/; a
    long-running tail must reclaim them automatically.  20 micro-batches
    with expire_every=4, keep_last=2 → on-disk snapshot dirs stay
    bounded (≤ keep_last + one expire window of commits), convergence
    intact."""
    events = generate_events(spark, N, seed=14)
    write_event_log(events, dirs["wal"], n_files=20)
    table = create_pages_table(spark, dirs["table"], n_buckets=4)
    res = run_stream(
        spark,
        table,
        dirs["wal"],
        dirs["ckpt"],
        max_files_per_trigger=1,
        expire_every=4,
        expire_keep_last=2,
    )
    assert res.batches == 20
    data_dir = os.path.join(dirs["table"], "data")
    dirs_on_disk = [d for d in os.listdir(data_dir) if d.startswith("s")]
    # apply_batch commits ≤2 versions per batch (delta + occasional fold):
    # worst case keep_last + 4 batches × 2 commits since the last expire
    assert len(dirs_on_disk) <= 2 + 4 * 2, sorted(dirs_on_disk)
    got = read_current(table).select(
        "url", "warc_ts", "event_id", "text", "lang", "fetch_status"
    )
    assert _fingerprint(got) == _expected(events)


def _group_jobs(sc, group: str) -> int:
    """Jobs launched under ``group`` so far (the status store is fed by
    the listener bus, so drain it first)."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_metrics_ride_manifest_job_single_scan(spark, tmp_path):
    """Round-3 verdict #4: per-batch telemetry must NOT be a second
    envelope scan — and neither may the dead-letter count.  Pins
    ``apply_batch``'s exact Spark job count over a parquet WAL batch:
    the manifest (2 jobs: its one exchange, then the aggregation) plus
    the write (1 job MoR; CoW adds its LWW shuffle).  The count is the
    same with and without the runner's ``observe()`` metrics on the
    input, reading the observation afterwards launches zero additional
    jobs, and the metric values equal a directly aggregated
    reference."""
    from aus_land_data_etl_spark.cdc.apply import apply_batch
    from aus_land_data_etl_spark.cdc.events import EVENT_SCHEMA
    from aus_land_data_etl_spark.streaming.runner import (
        _batch_observations,
        _observe_batch,
    )

    wal = str(tmp_path / "wal")
    generate_events(spark, 1500, seed=31).write.parquet(wal)
    events = spark.read.schema(EVENT_SCHEMA).parquet(wal)
    want = events.agg(*_batch_observations()).collect()[0].asDict()
    sc = spark.sparkContext
    for mode, want_jobs in (("mor", 3), ("cow", 4)):
        for observed in (False, True):
            table = create_pages_table(
                spark, str(tmp_path / f"t-{mode}-{observed}"), n_buckets=8
            )
            batch = events
            if observed:
                batch, handle = _observe_batch(events)
            group = f"apply-jobs-{mode}-{observed}"
            sc.setJobGroup(group, "apply_batch job count")
            try:
                apply_batch(table, batch, epoch=0, mode=mode)
                jobs_after_apply = _group_jobs(sc, group)
                got = dict(handle.get) if observed else want
                jobs_after_get = _group_jobs(sc, group)
            finally:
                sc.setJobGroup("", "")
            assert jobs_after_apply == want_jobs, (mode, observed, jobs_after_apply)
            assert jobs_after_get == jobs_after_apply  # obs.get launched NO job
            assert got == want
