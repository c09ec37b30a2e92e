"""Partial-image streaming ingest: checkpoint resume, exactly-once under
fresh-checkpoint replay, cell-wise extraction on html patches."""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import functions as F

from aus_land_data_etl_spark.cdc.apply import apply_batch, create_pages_table
from aus_land_data_etl_spark.lake.merge import read_current
from aus_land_data_etl_spark.plans.driver_queries import patch_events_as_wal
from aus_land_data_etl_spark.streaming.runner import (
    run_patch_stream,
    write_event_log,
)

SF_DIR = "/root/testdata/sf0.001"
TS = lambda s: dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)  # noqa: E731


def _dirs(root):
    return (os.path.join(root, k) for k in ("wal", "ckpt", "tbl"))


def test_patch_stream_resumes_from_checkpoint(spark, tmp_table_dir):
    wal, ckpt, tbl = _dirs(tmp_table_dir)
    changes = patch_events_as_wal(spark, SF_DIR).localCheckpoint(eager=True)
    first = changes.filter(F.col("source_pos") % 2 == 0)
    rest = changes.filter(F.col("source_pos") % 2 == 1)

    table = create_pages_table(spark, tbl, n_buckets=8)
    write_event_log(first, wal, n_files=2)
    r1 = run_patch_stream(spark, table, wal, ckpt)
    assert r1.batches >= 1 and r1.rows == first.count()

    # more WAL files arrive; the SAME checkpoint resumes — already-seen
    # files are not re-read, new ones are
    write_event_log(rest, wal, n_files=2)
    r2 = run_patch_stream(spark, table, wal, ckpt)
    assert r2.rows == rest.count()

    # converged state == the whole stream applied batch-side in one go
    want_tbl = create_pages_table(
        spark, os.path.join(tmp_table_dir, "tbl2"), n_buckets=8
    )
    apply_batch(want_tbl, changes, epoch=0)
    got = {
        r["url"]: (r["text"], r["lang"], r["event_id"])
        for r in read_current(table).collect()
    }
    want = {
        r["url"]: (r["text"], r["lang"], r["event_id"])
        for r in read_current(want_tbl).collect()
    }
    assert got == want


def test_patch_stream_fresh_checkpoint_replay_is_noop(spark, tmp_table_dir):
    """Checkpoint loss replays the whole WAL under new batch ids; the
    content-addressed keys + offset watermarks absorb every batch."""
    wal, ckpt, tbl = _dirs(tmp_table_dir)
    changes = patch_events_as_wal(spark, SF_DIR)
    write_event_log(changes, wal, n_files=4)
    table = create_pages_table(spark, tbl, n_buckets=8)
    run_patch_stream(spark, table, wal, ckpt, max_files_per_trigger=2)
    v = table.current_version()
    state = {r["url"]: r["event_id"] for r in read_current(table).collect()}
    run_patch_stream(
        spark, table, wal, os.path.join(tmp_table_dir, "ckpt_fresh"),
        max_files_per_trigger=3,  # different batching, same content
    )
    assert table.current_version() == v  # no commit advanced
    assert {
        r["url"]: r["event_id"] for r in read_current(table).collect()
    } == state


def test_html_patch_reextracts_text_cell_only(spark, tmp_table_dir):
    """A patch shipping html re-derives text byte-identically from the
    patched bytes while an unnamed cell (lang) keeps its older winner."""
    _, _, tbl = _dirs(tmp_table_dir)
    table = create_pages_table(spark, tbl, n_buckets=4)
    rows = [
        ("e1", "insert", "u", TS(10), None,
         b"<html><body><p>old body</p></body></html>", "en", 0, 0, "w", 0),
        ("e2", "patch", "u", TS(20), ["html"],
         b"<html><body><p>new body</p></body></html>", None, 0, 1, "w", 1),
    ]
    batch = spark.createDataFrame(
        rows,
        "event_id string, op string, url string, warc_ts timestamp, "
        "set_cols array<string>, html binary, lang string, "
        "source_partition int, source_offset long, source_file string, "
        "source_pos long",
    )
    apply_batch(table, batch, epoch=0)
    r = read_current(table).collect()[0]
    assert r["text"] == "new body"  # derived cell follows the html winner
    assert r["lang"] == "en"  # unnamed cell keeps the insert's value
    assert bytes(r["html"]) == rows[1][5]


def test_patch_append_is_o_patch_bytes(spark, tmp_table_dir):
    """The point of minimal row images at 10^10 scale: flipping one small
    cell on every row must append a small fraction of the bytes a
    full-image update would re-ship (the multi-KB html stays put)."""
    import os

    from aus_land_data_etl_spark.lake.table import LakeTable

    def delta_bytes(table: LakeTable, v0: int, v1: int) -> int:
        s0 = set()
        for fs in table.snapshot(v0).delta_files.values():
            s0.update(fs)
        total = 0
        for fs in table.snapshot(v1).delta_files.values():
            for f in fs:
                if f not in s0:
                    total += os.path.getsize(os.path.join(table.root, f))
        return total

    # ~4 KB of per-row UNIQUE body (sha chains) — a constant body would
    # dictionary-compress to nothing and hide the byte asymmetry
    body = F.encode(
        F.concat(
            F.lit("<html><body><p>"),
            *[
                F.sha2(F.concat(F.col("id").cast("string"), F.lit(str(i))), 512)
                for i in range(32)
            ],
            F.lit("</p></body></html>"),
        ),
        "UTF-8",
    )
    n = 400
    base = spark.range(n).select(
        F.concat(F.lit("e"), F.col("id")).alias("event_id"),
        F.lit("insert").alias("op"),
        F.concat(F.lit("u"), F.col("id")).alias("url"),
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id")).alias("warc_ts"),
        F.lit(None).cast("array<string>").alias("set_cols"),
        body.alias("html"),
        F.lit("en").alias("lang"),
        F.lit(0).alias("source_partition"),
        F.col("id").alias("source_offset"),
        F.lit("w").alias("source_file"),
        F.col("id").alias("source_pos"),
    )
    mk_next = lambda op, sets: spark.range(n).select(  # noqa: E731
        F.concat(F.lit("f"), F.col("id")).alias("event_id"),
        F.lit(op).alias("op"),
        F.concat(F.lit("u"), F.col("id")).alias("url"),
        F.timestamp_seconds(F.lit(1_700_009_000) + F.col("id")).alias("warc_ts"),
        F.lit(sets).cast("array<string>").alias("set_cols"),
        (body if op != "patch" else F.lit(None).cast("binary")).alias("html"),
        F.lit("fr").alias("lang"),
        F.lit(1).alias("source_partition"),
        F.col("id").alias("source_offset"),
        F.lit("w").alias("source_file"),
        F.col("id").alias("source_pos"),
    )

    t_patch = create_pages_table(spark, os.path.join(tmp_table_dir, "p"), 4)
    t_full = create_pages_table(spark, os.path.join(tmp_table_dir, "f"), 4)
    apply_batch(t_patch, base, epoch=0, compact_depth=99)
    apply_batch(t_full, base, epoch=0, compact_depth=99)
    vp0, vf0 = t_patch.current_version(), t_full.current_version()
    apply_batch(t_patch, mk_next("patch", ["lang"]), epoch=1, compact_depth=99)
    apply_batch(t_full, mk_next("update", None), epoch=1, compact_depth=99)
    pb = delta_bytes(t_patch, vp0, t_patch.current_version())
    fb = delta_bytes(t_full, vf0, t_full.current_version())
    # same logical change (lang en→fr on every row); the patch epoch must
    # cost well under a tenth of the full-image epoch's bytes
    assert pb * 10 < fb, f"patch appended {pb}B vs full {fb}B"
    # and both converge to the same live state
    as_map = lambda t: {  # noqa: E731
        r["url"]: (r["lang"], len(bytes(r["html"]))) for r in read_current(t).collect()
    }
    assert as_map(t_patch) == as_map(t_full)
