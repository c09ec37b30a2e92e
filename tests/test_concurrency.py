"""Optimistic-concurrency commit loop (Iceberg-style): a commit that
loses the descriptor O_EXCL race rebases on the winner's snapshot iff
its inputs are unchanged there, else raises ConflictError — data files
are written once and re-referenced, the racer's state (epochs,
watermarks, schema) survives.
"""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from aus_land_data_etl_spark.cdc.apply import apply_batch, create_pages_table
from aus_land_data_etl_spark.cdc.generator import generate_events
from aus_land_data_etl_spark.lake.merge import read_current
from aus_land_data_etl_spark.lake.table import ConflictError, LakeTable


@pytest.fixture()
def tmp_table_dir():
    d = tempfile.mkdtemp(prefix="conc_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _seg(events, i, n=4):
    return events.filter(F.pmod(F.col("source_pos"), F.lit(n)) == i)


def _race_once(monkeypatch, loser_table, racer_commit):
    """Arrange for ``racer_commit`` to land between the loser's snapshot
    read and its descriptor write — the first _write_snapshot call on
    ``loser_table`` triggers the racer, then proceeds (and collides)."""
    orig = LakeTable._write_snapshot
    state = {"armed": True}

    def interposed(self, snap):
        if self is loser_table and state["armed"]:
            state["armed"] = False
            racer_commit()
        return orig(self, snap)

    monkeypatch.setattr(LakeTable, "_write_snapshot", interposed)
    return state


def test_delta_commit_rebases_after_losing_race(spark, tmp_table_dir, monkeypatch):
    events = generate_events(spark, 800, seed=31).localCheckpoint(eager=True)
    t1 = create_pages_table(spark, tmp_table_dir, n_buckets=4)
    apply_batch(t1, _seg(events, 0), epoch=0, compact_depth=99)
    t2 = LakeTable(spark, tmp_table_dir)

    _race_once(
        monkeypatch,
        t1,
        lambda: apply_batch(t2, _seg(events, 2), epoch=2, compact_depth=99),
    )
    apply_batch(t1, _seg(events, 1), epoch=1, compact_depth=99)

    snap = t1.snapshot()
    # both the racer's and the rebased committer's batches are in
    assert {"0", "1", "2"} <= set(snap.recent_epochs)
    expected = (
        _seg(events, 0).unionByName(_seg(events, 1)).unionByName(_seg(events, 2))
    )
    from aus_land_data_etl_spark.cdc.apply import prepare_batch
    from aus_land_data_etl_spark.operators.dedup import lww_latest

    want = lww_latest(
        prepare_batch(expected), "url", version_cols=["warc_ts", "event_id"]
    ).filter(F.col("op") != "delete")
    assert read_current(t1).count() == want.count()
    # replay of either racer or loser batch is still a no-op
    v = t1.current_version()
    apply_batch(t1, _seg(events, 1), epoch=1, compact_depth=99)
    apply_batch(t1, _seg(events, 2), epoch=2, compact_depth=99)
    assert t1.current_version() == v


def test_race_on_identical_batch_is_exactly_once(spark, tmp_table_dir, monkeypatch):
    """The racer applies the SAME batch content: the loser's retry must
    recognise it via the content key and no-op instead of double-applying."""
    events = generate_events(spark, 400, seed=32).localCheckpoint(eager=True)
    t1 = create_pages_table(spark, tmp_table_dir, n_buckets=4)
    apply_batch(t1, _seg(events, 0), epoch=0, compact_depth=99)
    t2 = LakeTable(spark, tmp_table_dir)

    _race_once(
        monkeypatch,
        t1,
        lambda: apply_batch(t2, _seg(events, 1), epoch=1, compact_depth=99),
    )
    apply_batch(t1, _seg(events, 1), epoch=1, compact_depth=99)

    snap = t1.snapshot()
    # exactly one commit for the shared batch: the loser returned the
    # racer's version instead of stacking a duplicate delta
    n_delta_files = sum(len(v) for v in snap.delta_files.values())
    assert snap.version == 2  # epoch0 commit + one commit for the race pair
    from aus_land_data_etl_spark.cdc.apply import prepare_batch
    from aus_land_data_etl_spark.operators.dedup import lww_latest

    want = lww_latest(
        prepare_batch(_seg(events, 0).unionByName(_seg(events, 1))),
        "url",
        version_cols=["warc_ts", "event_id"],
    ).filter(F.col("op") != "delete")
    assert read_current(t1).count() == want.count()
    assert n_delta_files > 0


def test_rebucket_mid_commit(spark, tmp_table_dir, monkeypatch):
    """Rebucket landing mid-commit: a delta append (fanout files carry no
    bucket column — rows cluster at fold time under whatever layout is
    then current) rebases cleanly onto the new layout and converges."""
    from aus_land_data_etl_spark.cdc.apply import prepare_batch

    events = generate_events(spark, 400, seed=33).localCheckpoint(eager=True)
    t1 = create_pages_table(spark, tmp_table_dir, n_buckets=4)
    apply_batch(t1, _seg(events, 0), epoch=0, compact_depth=99)
    t2 = LakeTable(spark, tmp_table_dir)

    _race_once(monkeypatch, t1, lambda: t2.rebucket(8))
    apply_batch(t1, _seg(events, 1), epoch=1, compact_depth=99)
    snap = t1.snapshot()
    assert snap.n_buckets == 8 and "1" in snap.recent_epochs
    from aus_land_data_etl_spark.operators.dedup import lww_latest

    want = lww_latest(
        prepare_batch(_seg(events, 0).unionByName(_seg(events, 1))),
        "url",
        version_cols=["warc_ts", "event_id"],
    ).filter(F.col("op") != "delete")
    assert read_current(t1).count() == want.count()


def test_commit_refuses_stale_planning_snapshot(spark, tmp_table_dir):
    """Lost-update guard (round-5 review): a rewrite planned against
    snapshot v must NOT commit if a delta landed in a touched bucket
    while its planning jobs (e.g. the z-order quantile pass) ran — even
    though no descriptor race occurs.  commit_buckets(computed_from=v)
    raises ConflictError instead of silently popping the unread delta,
    and a re-run against the fresh snapshot keeps the late rows."""
    import datetime as dt

    from pyspark.sql import types as T

    from aus_land_data_etl_spark.lake.merge import (
        cluster_fanout_deltas,
        delta_merge_into,
        read_current,
    )
    from aus_land_data_etl_spark.lake.table import BUCKET_COL, bucket_expr
    from aus_land_data_etl_spark.lake.zorder import cluster_zorder_buckets

    schema = T.StructType(
        [
            T.StructField("url", T.StringType(), False),
            T.StructField("warc_ts", T.TimestampType(), False),
            T.StructField("event_id", T.StringType(), False),
            T.StructField("text", T.StringType(), True),
        ]
    )
    t = LakeTable.create(
        spark, tmp_table_dir, schema=schema, key_col="url",
        version_col="warc_ts", n_buckets=2,
        properties={"stats_cols": ["warc_ts"]},
    )
    rows = [
        (f"u{i}", dt.datetime(2024, 1, 1, 0, 0, i % 50), f"e{i}", f"t{i}")
        for i in range(40)
    ]
    t.overwrite(spark.createDataFrame(rows, schema))
    planning_snap = t.snapshot()  # the rewrite "reads" here

    # a concurrent writer lands a delta while the planning jobs run
    late = spark.createDataFrame(
        [("u1", dt.datetime(2024, 1, 2), "e-late", "late-win")], schema
    ).withColumn("op", F.lit("update"))
    delta_merge_into(t, late, "event_id", compact_depth=100)
    cluster_fanout_deltas(t, "event_id")  # a per-bucket layer in bucket 0/1

    # the stale rewrite: resolved rows FROM the planning snapshot
    resolved = t.read(version=planning_snap.version).withColumn(
        BUCKET_COL, bucket_expr("url", planning_snap.n_buckets)
    )
    with pytest.raises(ConflictError, match="read snapshot"):
        t.commit_buckets(
            resolved,
            touched_buckets=[0, 1],
            computed_from=planning_snap,
        )
    # nothing lost: the late row still wins
    winner = {r["url"]: r["text"] for r in read_current(t, "event_id").collect()}
    assert winner["u1"] == "late-win"

    # and the maintenance entrypoint re-planned against the fresh
    # snapshot succeeds, preserving the late row
    cluster_zorder_buckets(t, ["warc_ts"], min_files=1, files_per_bucket=2)
    winner = {r["url"]: r["text"] for r in read_current(t, "event_id").collect()}
    assert winner["u1"] == "late-win"


def test_publish_race_one_wins_one_conflicts(spark, tmp_table_dir, monkeypatch):
    """Two branches forked at the same main version race their
    publishes: the interposed racer lands first; the loser surfaces
    ConflictError (its audit ran against a superseded base), main holds
    exactly the winner's state, and the losing branch SURVIVES so its
    staged work can re-fork and replay."""
    events = generate_events(spark, 800, seed=33).localCheckpoint(eager=True)
    t1 = create_pages_table(spark, tmp_table_dir, n_buckets=4)
    apply_batch(t1, _seg(events, 0), epoch=0)
    t2 = LakeTable(spark, tmp_table_dir)

    b1 = t1.create_branch("p1")
    b2 = t2.create_branch("p2")
    apply_batch(b1, _seg(events, 1), epoch=1)
    apply_batch(b2, _seg(events, 2), epoch=2)
    winner_state = sorted(
        map(tuple, read_current(b2).select("url", "event_id").collect())
    )

    _race_once(monkeypatch, t1, lambda: t2.publish_branch("p2"))
    with pytest.raises(ConflictError, match="re-fork"):
        t1.publish_branch("p1")

    # main is exactly the winner's publish; the loser's branch survives
    assert sorted(
        map(tuple, read_current(t1).select("url", "event_id").collect())
    ) == winner_state
    assert set(t1.list_branches()) == {"p1"}

    # recovery: re-fork from the new main, replay, publish
    t1.drop_branch("p1")
    b1b = t1.create_branch("p1")
    apply_batch(b1b, _seg(events, 1), epoch=1)
    t1.publish_branch("p1")
    assert set(t1.snapshot().recent_epochs) >= {"0", "1", "2"}


@pytest.mark.parametrize("op", ["set_properties", "compact_manifests"])
def test_metadata_commit_rebases_after_losing_race(
    spark, tmp_table_dir, monkeypatch, op
):
    """Commits whose update re-applies to any fresh state rebase on a
    lost race: the racer's batch AND the update both land."""
    events = generate_events(spark, 300, seed=35).localCheckpoint(eager=True)
    t1 = create_pages_table(spark, tmp_table_dir, n_buckets=4)
    for e in (0, 1):
        apply_batch(t1, _seg(events, e), epoch=e, compact_depth=99)
    t2 = LakeTable(spark, tmp_table_dir)
    v = t1.current_version()

    _race_once(
        monkeypatch,
        t1,
        lambda: apply_batch(t2, _seg(events, 2), epoch=2, compact_depth=99),
    )
    if op == "set_properties":
        t1.set_properties({"owner": "etl"})
    else:
        assert t1.compact_manifests() == 2  # the fresh list: 3 files → 1

    snap = t1.snapshot()
    assert snap.version == v + 2
    assert "2" in snap.recent_epochs  # the racer's commit survived
    if op == "set_properties":
        assert snap.properties["owner"] == "etl"
    else:
        assert len(snap.manifest_files) == 1
    epochs = {r["epoch"] for r in t1.manifest_df().select("epoch").collect()}
    assert epochs == {0, 1, 2}


@pytest.mark.parametrize("op", ["overwrite", "rebucket", "rollback_to"])
def test_whole_table_rewrite_refuses_after_losing_race(
    spark, tmp_table_dir, monkeypatch, op
):
    """Operations that read the whole base version raise ConflictError
    on a lost race — rebasing would silently drop the racer's commit —
    and the racer's version stays current and intact."""
    events = generate_events(spark, 300, seed=36).localCheckpoint(eager=True)
    t1 = create_pages_table(spark, tmp_table_dir, n_buckets=4)
    apply_batch(t1, _seg(events, 0), epoch=0, compact_depth=99)
    v_first = t1.current_version()
    apply_batch(t1, _seg(events, 1), epoch=1, compact_depth=99)
    t2 = LakeTable(spark, tmp_table_dir)
    racer_v = t1.current_version() + 1
    before = sorted(
        map(tuple, read_current(t1).select("url", "event_id").collect())
    )
    run = {
        "overwrite": lambda: t1.overwrite(t1.read_resolved()),
        "rebucket": lambda: t1.rebucket(8),
        "rollback_to": lambda: t1.rollback_to(v_first),
    }[op]

    _race_once(monkeypatch, t1, lambda: t2.set_properties({"owner": "etl"}))
    with pytest.raises(ConflictError, match="read snapshot"):
        run()

    snap = t1.snapshot()
    assert t1.current_version() == racer_v
    assert snap.properties["owner"] == "etl" and snap.n_buckets == 4
    assert sorted(
        map(tuple, read_current(t1).select("url", "event_id").collect())
    ) == before


def test_commit_never_reuses_an_expired_version_number(spark, tmp_table_dir):
    """A rewrite planned at v1 commits after the table advanced and
    retention deleted the descriptors just above v1: the commit must
    land at current + 1 (or raise ConflictError) — never re-create a
    freed number, which would swing _VERSION backwards."""
    import os

    from aus_land_data_etl_spark.lake.table import BUCKET_COL, bucket_expr

    events = generate_events(spark, 300, seed=37).localCheckpoint(eager=True)
    t = create_pages_table(spark, tmp_table_dir, n_buckets=4)
    apply_batch(t, events, epoch=0, mode="cow")
    plan = t.snapshot()
    rewrite = (
        t.read(version=plan.version, buckets=[0])
        .repartition(4, "url")
        .withColumn(BUCKET_COL, bucket_expr("url", 4))
    )
    for i in range(3):  # commits that leave bucket 0 untouched
        t.set_properties({"tick": i})
    current = t.current_version()
    t.expire_snapshots(keep_last=2)
    assert not os.path.exists(t._snap_path(plan.version + 1))

    try:
        v = t.commit_buckets(rewrite, touched_buckets=[0], computed_from=plan)
    except ConflictError:
        v = None
    if v is None:
        assert t.current_version() == current
    else:
        assert v == current + 1 and t.current_version() == current + 1
    assert not os.path.exists(t._snap_path(plan.version + 1))
    assert t.snapshot().properties["tick"] == 2
