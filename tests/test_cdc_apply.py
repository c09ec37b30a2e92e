"""CDC apply: convergence, replay equivalence, exactly-once, evolution.

The Spark analog of the reference's differential/snapshot test strategy
(SURVEY.md §5): the same event log applied under different batchings,
orderings and replays must converge to an identical final table.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aus_land_data_etl_spark.cdc.apply import apply_batch, create_pages_table, prepare_batch
from aus_land_data_etl_spark.cdc.generator import generate_events
from aus_land_data_etl_spark.lake.merge import read_current
from aus_land_data_etl_spark.operators.dedup import lww_latest

N_EVENTS = 3000


@pytest.fixture(scope="module")
def events(spark) -> DataFrame:
    return generate_events(spark, N_EVENTS, seed=42, n_source_partitions=4).cache()


def expected_final(events: DataFrame) -> DataFrame:
    """Oracle: direct one-shot LWW over the whole log (no engine)."""
    prep = prepare_batch(events)
    win = lww_latest(prep, "url", version_cols=["warc_ts", "event_id"])
    return win.filter(F.col("op") != "delete").select(
        "url", "warc_ts", "event_id", "text", "lang", "fetch_status"
    )


def state_fingerprint(df: DataFrame) -> int:
    cols = ["url", "warc_ts", "event_id", "text", "lang", "fetch_status"]
    row = (
        df.select(
            F.bit_xor(
                F.xxhash64(*[F.col(c).cast("string") for c in cols])
            ).alias("h"),
            F.count("*").alias("n"),
        )
    ).collect()[0]
    return (row["h"] or 0, row["n"])


def split_batches(events: DataFrame, n: int) -> list[DataFrame]:
    return [
        events.filter(F.pmod(F.xxhash64("event_id"), F.lit(n)) == i) for i in range(n)
    ]


def test_generator_deterministic(spark):
    a = generate_events(spark, 500, seed=7)
    b = generate_events(spark, 500, seed=7)
    c = generate_events(spark, 500, seed=8)
    ha = a.select(F.bit_xor(F.xxhash64("event_id", "url", "op"))).collect()[0][0]
    hb = b.select(F.bit_xor(F.xxhash64("event_id", "url", "op"))).collect()[0][0]
    hc = c.select(F.bit_xor(F.xxhash64("event_id", "url", "op"))).collect()[0][0]
    assert ha == hb
    assert ha != hc


def test_generator_skew_and_dupes(spark, events):
    dom = events.withColumn("d", F.regexp_extract("url", r"https://(d\d+)\.", 1))
    top = dom.groupBy("d").count().orderBy(F.desc("count")).first()
    assert top["d"] == "d0"
    assert top["count"] > 0.2 * N_EVENTS  # hot domain holds ~30%
    n_all = events.count()
    n_distinct = events.select("event_id").distinct().count()
    assert n_all > n_distinct  # duplicate delivery present


def test_apply_converges_to_oracle(spark, events, tmp_table_dir):
    table = create_pages_table(spark, tmp_table_dir, n_buckets=8)
    for i, b in enumerate(split_batches(events, 4)):
        apply_batch(table, b, epoch=i)
    got = read_current(table).select(
        "url", "warc_ts", "event_id", "text", "lang", "fetch_status"
    )
    assert state_fingerprint(got) == state_fingerprint(expected_final(events))


def test_replay_and_reorder_equivalence(spark, events, tmp_table_dir):
    import tempfile, shutil

    batches = split_batches(events, 4)
    fps = []
    for order, replay in [((0, 1, 2, 3), False), ((3, 1, 0, 2), False), ((0, 1, 2, 3), True)]:
        d = tempfile.mkdtemp(prefix="replay_")
        try:
            table = create_pages_table(spark, d, n_buckets=8)
            for i in order:
                apply_batch(table, batches[i], epoch=i)
                if replay:
                    apply_batch(table, batches[i], epoch=i)  # duplicate epoch
            if replay:  # also re-deliver an old epoch at the end
                apply_batch(table, batches[0], epoch=0)
            fps.append(
                state_fingerprint(
                    read_current(table).select(
                        "url", "warc_ts", "event_id", "text", "lang", "fetch_status"
                    )
                )
            )
        finally:
            shutil.rmtree(d, ignore_errors=True)
    assert fps[0] == fps[1] == fps[2]


def test_manifest_lineage(spark, events, tmp_table_dir):
    table = create_pages_table(spark, tmp_table_dir, n_buckets=8)
    batches = split_batches(events, 3)
    for i, b in enumerate(batches):
        apply_batch(table, b, epoch=i)
        apply_batch(table, b, epoch=i)  # replay must not duplicate manifests
    m = table.manifest_df()
    # unique (epoch, source_partition)
    assert m.count() == m.select("epoch", "source_partition").distinct().count()
    # row counts per epoch match the prepared batch sizes
    sizes = {i: prepare_batch(b).count() for i, b in enumerate(batches)}
    got = {r["epoch"]: r["n"] for r in m.groupBy("epoch").agg(F.sum("row_count").alias("n")).collect()}
    assert got == sizes


def test_schema_evolution_fetch_status(spark, events, tmp_table_dir):
    """v4 events promote fetch_status; v1-only prefix has it as NULL."""
    table = create_pages_table(spark, tmp_table_dir, n_buckets=8)
    v1 = events.filter(F.col("schema_version") == 1)
    v4 = events.filter(F.col("schema_version") == 4)
    apply_batch(table, v1, epoch=0)
    apply_batch(table, v4, epoch=1)
    cur = read_current(table)
    assert "fetch_status" in cur.columns
    assert cur.filter(F.col("fetch_status").isNotNull()).count() > 0
    assert cur.filter(F.col("fetch_status").isNull()).count() > 0
    # v3 rename: language in the JSON side-car surfaces as lang
    v3 = events.filter(F.col("schema_version") == 3)
    assert prepare_batch(v3).filter(F.col("lang").isNull() & (F.col("op") != "delete")).count() == 0


def test_tombstone_blocks_late_update(spark, tmp_table_dir):
    """A late update older than a processed delete must not resurrect."""
    from pyspark.sql import Row
    import datetime as dt

    table = create_pages_table(spark, tmp_table_dir, n_buckets=2)

    def ev(eid, op, ts, html):
        return Row(
            event_id=eid,
            op=op,
            url="https://d1.example.com/p/1",
            warc_ts=dt.datetime(2024, 1, 1, 0, 0, ts),
            html=html,
            lang=None,
            schema_version=1,
            payload_extra=None,
            source_partition=0,
            source_offset=0,
            source_file="wal/part-0.log",
            source_pos=0,
        )

    from aus_land_data_etl_spark.cdc.events import EVENT_SCHEMA

    b1 = spark.createDataFrame([ev("e-del", "delete", 30, None)], EVENT_SCHEMA)
    b2 = spark.createDataFrame([ev("e-upd", "update", 10, b"<p>old</p>")], EVENT_SCHEMA)
    apply_batch(table, b1, epoch=0)
    apply_batch(table, b2, epoch=1)  # arrives later, but ts is older
    assert read_current(table).count() == 0
    # and a *newer* update does resurrect
    b3 = spark.createDataFrame([ev("e-new", "update", 50, b"<p>new</p>")], EVENT_SCHEMA)
    apply_batch(table, b3, epoch=2)
    cur = read_current(table).collect()
    assert len(cur) == 1 and cur[0]["text"] == "new"


def test_unknown_schema_version_dead_letters(spark, events, tmp_table_dir, tmp_path):
    """Events with an unregistered schema_version are routed to the
    dead-letter output and excluded from the apply — never guessed at
    (registry contract; the reference's typed-reader error path,
    raw_data/rows.py:106-127)."""
    from aus_land_data_etl_spark.cdc.registry import SchemaRegistry

    reg = SchemaRegistry()
    future = events.withColumn(
        "schema_version",
        F.when(F.pmod(F.xxhash64("event_id"), F.lit(10)) == 0, F.lit(99)).otherwise(
            F.col("schema_version")
        ),
    )
    n_bad = reg.dead_letter(future).count()
    n_ok = reg.valid(future).count()
    assert n_bad > 0 and n_bad + n_ok == future.count()
    assert reg.dead_letter(future).select("schema_version").distinct().collect()[0][
        0
    ] == 99

    import os

    from aus_land_data_etl_spark.cdc.apply import read_dead_letters

    cols = ["url", "warc_ts", "event_id", "text", "lang", "fetch_status"]
    exp = state_fingerprint(expected_final(reg.valid(future)))
    # a clean batch quarantines nothing: not even the directory appears
    table = create_pages_table(spark, tmp_table_dir, n_buckets=8)
    apply_batch(table, reg.valid(future), epoch=0, registry=reg)
    assert not os.path.exists(os.path.join(tmp_table_dir, "_dead_letter"))
    # converged state contains only keys whose winning event was valid
    assert state_fingerprint(read_current(table).select(*cols)) == exp

    # a mixed batch quarantines exactly its unknown-version rows, whole,
    # and applies the rest
    mixed = create_pages_table(spark, str(tmp_path / "mixed"), n_buckets=8)
    apply_batch(mixed, future, epoch=0, registry=reg)
    envelope = lambda df: sorted(map(tuple, df.select(  # noqa: E731
        "event_id", "schema_version", F.sha2("html", 256)).collect()))
    assert envelope(read_dead_letters(mixed)) == envelope(reg.dead_letter(future))
    assert state_fingerprint(read_current(mixed).select(*cols)) == exp
    # an all-dead batch (no manifest rows) still quarantines; an empty one
    # (no Spark job at all) writes nothing
    apply_batch(mixed, reg.dead_letter(future), epoch=1, registry=reg)
    apply_batch(mixed, future.limit(0), epoch=2, registry=reg)
    assert sorted(os.listdir(os.path.join(str(tmp_path / "mixed"), "_dead_letter"))) == [
        "e0", "e1"]
    assert read_dead_letters(mixed).count() == 2 * reg.dead_letter(future).count()


def test_extreme_hot_domain_convergence(spark, tmp_table_dir):
    """Skew stress (north star: 'skew from hot domains'): 95% of events on
    one domain must still converge byte-identically in BOTH modes — the
    CoW path (the LWW aggregate combines map-side, so a hot key ships one
    row per map task) and the MoR path (fanout write never shuffles on
    the key at all)."""
    hot = generate_events(spark, 4000, seed=44, hot_fraction=0.95, n_urls=300)
    want = state_fingerprint(
        expected_final(hot).select(
            "url", "warc_ts", "event_id", "text", "lang", "fetch_status"
        )
    )
    import shutil
    import tempfile

    for mode in ("cow", "mor"):
        d = tempfile.mkdtemp(prefix=f"skew_{mode}_")
        try:
            t = create_pages_table(spark, d, n_buckets=8)
            for i, b in enumerate(split_batches(hot, 4)):
                apply_batch(t, b, epoch=i, mode=mode)
            got = state_fingerprint(
                read_current(t).select(
                    "url", "warc_ts", "event_id", "text", "lang", "fetch_status"
                )
            )
            assert got == want, f"mode={mode} diverged under 95% hot-domain skew"
        finally:
            shutil.rmtree(d, ignore_errors=True)


def test_unknown_schema_events_quarantined(spark, tmp_table_dir):
    """Dead-letter queue: a producer shipping a schema_version this
    consumer predates must not silently lose events — they are
    quarantined byte-complete under _dead_letter/, excluded from the
    table, and a replay of the batch keeps exactly one copy."""
    from aus_land_data_etl_spark.cdc.apply import read_dead_letters

    ev = generate_events(spark, 400, seed=55).localCheckpoint(eager=True)
    is_bad = F.pmod(F.col("source_pos"), F.lit(10)) == 0
    batch = ev.withColumn(
        "schema_version",
        F.when(is_bad, F.lit(99)).otherwise(F.col("schema_version")),
    ).localCheckpoint(eager=True)
    n_bad = batch.filter(F.col("schema_version") == 99).count()
    assert n_bad > 0

    t = create_pages_table(spark, tmp_table_dir, n_buckets=4)
    apply_batch(t, batch, epoch=0)
    dl = read_dead_letters(t)
    assert dl.count() == n_bad
    # byte-complete quarantine: html payloads survive exactly
    src = {
        r["event_id"]: bytes(r["html"] or b"")
        for r in batch.filter(F.col("schema_version") == 99)
        .select("event_id", "html")
        .collect()
    }
    got = {
        r["event_id"]: bytes(r["html"] or b"")
        for r in dl.select("event_id", "html").collect()
    }
    assert got == src
    # the table itself holds only the valid rows
    valid = batch.filter(F.col("schema_version") != 99)
    want = state_fingerprint(
        expected_final(valid).select(
            "url", "warc_ts", "event_id", "text", "lang", "fetch_status"
        )
    )
    assert state_fingerprint(
        read_current(t).select(
            "url", "warc_ts", "event_id", "text", "lang", "fetch_status"
        )
    ) == want
    # replay: still one copy, no version advance
    v = t.current_version()
    apply_batch(t, batch, epoch=0)
    assert t.current_version() == v
    assert read_dead_letters(t).count() == n_bad


def test_dead_letter_replay_after_registry_learns_version(
    spark, tmp_table_dir, tmp_path
):
    """The repair half of the quarantine contract: once the registry
    learns a version, ``replay_dead_letters`` re-applies the quarantined
    rows through the exactly-once path and the table converges to
    EXACTLY the state a registry that knew the version at ingest time
    would have produced (engine-vs-engine differential).  Partial
    knowledge replays partially; a second replay is a no-op."""
    from aus_land_data_etl_spark.cdc.apply import (
        read_dead_letters,
        replay_dead_letters,
    )
    from aus_land_data_etl_spark.cdc.registry import SchemaRegistry

    ev = generate_events(spark, 400, seed=56).localCheckpoint(eager=True)
    pos = F.pmod(F.col("source_pos"), F.lit(10))
    batch = ev.withColumn(
        "schema_version",
        F.when(pos == 0, F.lit(98))
        .when(pos == 1, F.lit(99))
        .otherwise(F.col("schema_version")),
    ).localCheckpoint(eager=True)
    n98 = batch.filter(F.col("schema_version") == 98).count()
    n99 = batch.filter(F.col("schema_version") == 99).count()
    assert n98 > 0 and n99 > 0

    t = create_pages_table(spark, tmp_table_dir, n_buckets=4)
    apply_batch(t, batch, epoch=0)  # default registry: 98+99 quarantined
    assert read_dead_letters(t).count() == n98 + n99

    # the registry learns 99 (but not 98): partial replay
    knows99 = SchemaRegistry(versions=(1, 2, 3, 4, 99))
    r1 = replay_dead_letters(t, registry=knows99)
    assert r1 == {"replayed": n99, "still_dead": n98, "epochs": 1}
    left = read_dead_letters(t)
    assert left.count() == n98
    assert left.select("schema_version").distinct().collect()[0][0] == 98

    # then 98 too: everything drains
    knows_all = SchemaRegistry(versions=(1, 2, 3, 4, 98, 99))
    r2 = replay_dead_letters(t, registry=knows_all)
    assert r2 == {"replayed": n98, "still_dead": 0, "epochs": 1}
    assert read_dead_letters(t).count() == 0

    # differential: identical to a single ingest under the knowing registry
    t2 = create_pages_table(spark, str(tmp_path / "ref"), n_buckets=4)
    apply_batch(t2, batch, epoch=0, registry=knows_all)
    cols = ["url", "warc_ts", "event_id", "text", "lang", "fetch_status"]
    assert state_fingerprint(read_current(t).select(*cols)) == state_fingerprint(
        read_current(t2).select(*cols)
    )

    # replay with nothing quarantined: pure no-op
    v = t.current_version()
    assert replay_dead_letters(t, registry=knows_all) == {
        "replayed": 0, "still_dead": 0, "epochs": 0,
    }
    assert t.current_version() == v


def test_generator_offset_base_continues_wal(spark):
    """A second generated WAL segment with offset_base continues the
    binlog positions — no per-(partition, offset) overlap with the
    first, so applying both segments lands both (offsets identify
    deliveries; a segment re-using 0.. would correctly replay-skip)."""
    a = generate_events(spark, 100, seed=1, dup_fraction=0.0)
    b = generate_events(spark, 50, seed=2, offset_base=100, dup_fraction=0.0)
    amax = a.agg(F.max("source_pos")).first()[0]
    bmin = b.agg(F.min("source_pos")).first()[0]
    assert bmin == amax + 1
    overlap = (
        a.select("source_partition", "source_offset")
        .join(
            b.select("source_partition", "source_offset"),
            ["source_partition", "source_offset"],
        )
        .count()
    )
    assert overlap == 0
    # event ids are globally unique across segments
    assert a.select("event_id").union(b.select("event_id")).distinct().count() == 150


# -- the merge-on-read manifest job runs beside the write -------------------


def _wal_batch(spark, root, n=150, n_files=3, seed=61, offset_base=0):
    """``n`` generated events as a WAL of ``n_files`` parquet files, read
    back the way the streaming runner reads them."""
    from aus_land_data_etl_spark.cdc.events import EVENT_SCHEMA
    from aus_land_data_etl_spark.streaming.runner import write_event_log

    events = generate_events(spark, n, seed=seed, offset_base=offset_base)
    write_event_log(events, str(root), n_files=n_files)
    return spark.read.schema(EVENT_SCHEMA).parquet(str(root))


def _data_dirs(t):
    return sorted(os.listdir(os.path.join(t.root, "data")))


def _descriptors(t):
    return sorted(os.listdir(os.path.join(t.root, "_snapshots")))


def _spy_writes(monkeypatch) -> list[str]:
    """The data directories every ``LakeTable._write_data`` call writes,
    from now on."""
    from aus_land_data_etl_spark.lake.table import LakeTable

    dirs: list[str] = []
    write = LakeTable._write_data

    def spy(self, *args, **kwargs):
        files, stats = write(self, *args, **kwargs)
        dirs.extend({os.path.dirname(f) for fs in files.values() for f in fs})
        return files, stats

    monkeypatch.setattr(LakeTable, "_write_data", spy)
    return dirs


@pytest.mark.parametrize("replay", ["content_key", "watermark"])
def test_mor_replay_deletes_its_write_at_once(spark, tmp_path, monkeypatch, replay):
    """A merge-on-read batch finds a content-key or watermark replay only
    at its commit, after its write: it returns the current version,
    leaves descriptors, delta file lists and ``data/`` as they were, and
    deletes the write it ran at once — nothing is left for
    ``vacuum_orphans``."""
    batch = _wal_batch(spark, tmp_path / "wal")
    t = create_pages_table(spark, str(tmp_path / "t"), n_buckets=4)
    v = apply_batch(t, batch, epoch=0, content_keyed=True, wal_offsets=True)
    before = (_descriptors(t), t.snapshot().delta_files, _data_dirs(t))
    writes = _spy_writes(monkeypatch)
    # the same content under a new batch id, or a part of the batch: a
    # new content key whose offsets sit under the watermarks
    again = batch if replay == "content_key" else batch.filter("source_offset < 5")
    assert apply_batch(t, again, epoch=1, content_keyed=True, wal_offsets=True) == v
    assert (_descriptors(t), t.snapshot().delta_files, _data_dirs(t)) == before
    assert len(writes) == 1  # the write ran beside the manifest job ...
    assert not os.path.exists(os.path.join(t.root, writes[0]))  # ... and is gone


def test_failed_manifest_job_leaves_no_thread_or_write(spark, tmp_path, monkeypatch):
    """A manifest job that raises beside the write makes ``apply_batch``
    raise its error: the helper thread is joined, the write it ran beside
    is deleted, nothing commits, and the next apply commits."""
    import threading

    from aus_land_data_etl_spark.cdc import apply as apply_mod

    batch = _wal_batch(spark, tmp_path / "wal")
    t = create_pages_table(spark, str(tmp_path / "t"), n_buckets=4)
    v = apply_batch(t, batch.filter("source_offset < 5"), epoch=0)
    dirs = _data_dirs(t)

    def failing(*args, **kwargs):
        raise RuntimeError("manifest job failed")

    monkeypatch.setattr(apply_mod, "manifest_frame", failing)
    writes = _spy_writes(monkeypatch)
    with pytest.raises(RuntimeError, match="manifest job failed"):
        apply_batch(t, batch, epoch=1)
    assert not [th for th in threading.enumerate() if th.name == "cdc-manifest"]
    assert len(writes) == 1 and _data_dirs(t) == dirs
    assert t.current_version() == v
    monkeypatch.undo()
    assert apply_batch(t, batch, epoch=1) == v + 1


def test_write_sized_from_plan_estimate(spark, tmp_path):
    """The write's task count comes from the input plan's size estimate,
    with no job: a 150-row batch over 3 parquet files writes ONE delta
    file; a 6,000-event WAL as the engine's own writer lays it out gets
    the 2 tasks of about 4,000 rows each that the row count would give;
    and an RDD-backed input (unknown size, ``Long.MaxValue``) keeps its
    own partitioning instead of overflowing ``coalesce``."""
    from aus_land_data_etl_spark.cdc.apply import write_tasks

    batch = _wal_batch(spark, tmp_path / "wal")
    assert batch.rdd.getNumPartitions() == 3 and write_tasks(batch) == 1
    assert write_tasks(_wal_batch(spark, tmp_path / "big", n=6_000, n_files=4)) == 2
    t = create_pages_table(spark, str(tmp_path / "t"), n_buckets=4)
    apply_batch(t, batch, epoch=0)
    assert len(t.snapshot().delta_files["*"]) == 1

    more = _wal_batch(spark, tmp_path / "wal2", seed=62, offset_base=150)
    rdd_backed = spark.createDataFrame(more.rdd, more.schema)
    assert write_tasks(rdd_backed) == 2**31 - 1
    apply_batch(t, rdd_backed, epoch=1)
    both = batch.unionByName(more)
    cols = ["url", "warc_ts", "event_id", "text", "lang", "fetch_status"]
    assert state_fingerprint(read_current(t).select(*cols)) == state_fingerprint(
        expected_final(both)
    )


def test_apply_logs_skip_quarantine_and_fold(spark, tmp_path, caplog):
    """``apply_batch`` says why a batch was quarantined, skipped or folded:
    WARNING with the dead-letter count, DEBUG on a content-key skip with
    the files it discarded (0 when found before the write), DEBUG at
    fold start with the buckets it touches."""
    import logging
    import re

    from aus_land_data_etl_spark.lake.merge import fold_deltas

    caplog.set_level(logging.DEBUG, logger="aus_land_data_etl_spark")
    ev = generate_events(spark, 200, seed=63).localCheckpoint(eager=True)
    batch = ev.withColumn(
        "schema_version",
        F.when(F.pmod(F.col("source_pos"), F.lit(10)) == 0, F.lit(99)).otherwise(
            F.col("schema_version")
        ),
    )
    n_bad = batch.filter("schema_version = 99").count()
    t = create_pages_table(spark, str(tmp_path / "mor"), n_buckets=4)
    apply_batch(t, batch, epoch=0)
    apply_batch(t, batch, epoch=1)  # the same content again
    fold_deltas(t, "event_id")
    cow = create_pages_table(spark, str(tmp_path / "cow"), n_buckets=4)
    apply_batch(cow, ev, epoch=0, mode="cow")
    apply_batch(cow, ev, epoch=1, mode="cow")

    def said(logger, level):
        return [
            r.getMessage() for r in caplog.records
            if r.name == f"aus_land_data_etl_spark.{logger}" and r.levelno == level
        ]

    assert said("cdc.apply", logging.WARNING) == [
        f"{t.root}: quarantined {n_bad} event(s) of unknown schema_version "
        f"from batch {e}"
        for e in (0, 1)
    ]
    skips = [
        m for m in said("lake.table", logging.DEBUG) if "already applied" in m
    ]
    assert len(skips) == 1 and skips[0].startswith(t.root)
    assert int(re.search(r"(\d+) uncommitted file\(s\) discarded", skips[0])[1]) >= 1
    merge_debug = said("lake.merge", logging.DEBUG)
    assert [m for m in merge_debug if "already applied" in m] == [
        f"{cow.root}: batch ['1', '{cow.snapshot().recent_epochs[-1]}'] already "
        f"applied at v1; skipped before the write, "
        "0 files discarded"
    ]
    folds = [m for m in merge_debug if "folding" in m]
    assert folds == [
        f"{t.root}: folding 4 bucket(s) [0, 1, 2, 3] into the base (stacks >= 1)"
    ]
