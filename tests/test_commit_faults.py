"""Crash- and race-safe commits: the descriptor is the commit.

A fault at any step of a commit leaves the table at a version the next
commit builds on, and a replay of the failed batch lands exactly once.
Retention that runs between a writer's data write and its descriptor
deletes nothing the writer is about to reference.
"""

from __future__ import annotations

import errno
import logging
import os

import pytest
from pyspark.sql import functions as F

from aus_land_data_etl_spark.cdc.apply import (
    apply_batch,
    create_pages_table,
    prepare_batch,
)
from aus_land_data_etl_spark.cdc.generator import generate_events
from aus_land_data_etl_spark.lake.merge import read_current
from aus_land_data_etl_spark.lake.table import ConflictError, LakeTable
from aus_land_data_etl_spark.operators.dedup import lww_latest


class Fault(OSError):
    pass


def _seg(events, i, n=3):
    return events.filter(F.pmod(F.col("source_pos"), F.lit(n)) == i)


def _state(t):
    return sorted(map(tuple, read_current(t).select("url", "event_id").collect()))


def _oracle(events):
    want = lww_latest(
        prepare_batch(events), "url", version_cols=["warc_ts", "event_id"]
    ).filter(F.col("op") != "delete")
    return sorted(map(tuple, want.select("url", "event_id").collect()))


def _apply(t, events, i):
    return apply_batch(t, _seg(events, i), epoch=i, compact_depth=99)


def _arm(monkeypatch, table, step):
    """Make the next commit on ``table`` raise ``Fault`` at ``step``, once."""
    state = {"armed": True}

    def fire():
        if state["armed"]:
            state["armed"] = False
            raise Fault(errno.EIO, f"injected {step}")

    if step == "after_data_write":
        write_data = LakeTable._write_data

        def wrapped(self, *args, **kwargs):
            out = write_data(self, *args, **kwargs)
            fire()
            return out

        monkeypatch.setattr(LakeTable, "_write_data", wrapped)
    elif step == "before_link":
        # whichever call publishes a name under _snapshots/ fails
        snap_dir = os.path.join(table.root, "_snapshots")
        for name in ("link", "rename"):

            def publish(src, dst, *args, _call=getattr(os, name), **kwargs):
                if os.path.dirname(os.path.abspath(dst)) == snap_dir:
                    fire()
                return _call(src, dst, *args, **kwargs)

            monkeypatch.setattr(os, name, publish)
    else:
        write_snapshot = LakeTable._write_snapshot

        def wrapped(self, snap):
            write_snapshot(self, snap)
            fire()

        monkeypatch.setattr(LakeTable, "_write_snapshot", wrapped)


@pytest.mark.parametrize("step", ["after_data_write", "before_link", "after_link"])
def test_commit_fault_leaves_table_committable(
    spark, tmp_table_dir, monkeypatch, step
):
    events = generate_events(spark, 400, seed=41).localCheckpoint(eager=True)
    t = create_pages_table(spark, tmp_table_dir, n_buckets=4)
    _apply(t, events, 0)
    v0 = t.current_version()

    _arm(monkeypatch, t, step)
    with pytest.raises(Fault):
        _apply(t, events, 1)
    landed = step == "after_link"
    assert t.current_version() == v0 + landed

    _apply(t, events, 2)  # the next commit lands
    assert t.current_version() == v0 + landed + 1
    # the failed batch lands exactly once, whether or not it had landed
    _apply(t, events, 1)
    _apply(t, events, 1)
    assert t.current_version() == v0 + 2
    m = t.manifest_df()
    assert m.count() == m.select("epoch", "source_partition").distinct().count()
    assert _state(t) == _oracle(events)
    snap_dir = os.path.join(tmp_table_dir, "_snapshots")
    assert not [f for f in os.listdir(snap_dir) if f.startswith("tmp")]


def test_expire_during_commit_keeps_the_writers_files(
    spark, tmp_table_dir, monkeypatch
):
    """A second handle's ``expire_snapshots(keep_last=1)`` runs after
    the writer's data write and before its descriptor: the writer's new
    files are referenced by no descriptor yet, and must survive."""
    events = generate_events(spark, 400, seed=42).localCheckpoint(eager=True)
    t = create_pages_table(spark, tmp_table_dir, n_buckets=4)
    _apply(t, events, 0)
    _apply(t, events, 1)
    other = LakeTable(spark, tmp_table_dir)

    write_snapshot = LakeTable._write_snapshot
    state = {"armed": True}

    def interposed(self, snap):
        if self is t and state["armed"]:
            state["armed"] = False
            other.expire_snapshots(keep_last=1)
        return write_snapshot(self, snap)

    monkeypatch.setattr(LakeTable, "_write_snapshot", interposed)
    v = _apply(t, events, 2)
    assert not state["armed"] and t.current_version() == v
    assert _state(t) == _oracle(events)


def test_commit_logs_rebase_skip_and_refusal(
    spark, tmp_table_dir, monkeypatch, caplog
):
    """The commit loop says why a commit rebased, skipped or refused:
    DEBUG on a lost race and on an already-applied batch, WARNING
    before ``ConflictError``."""
    events = generate_events(spark, 200, seed=43).localCheckpoint(eager=True)
    t = create_pages_table(spark, tmp_table_dir, n_buckets=4)
    _apply(t, events, 0)
    other = LakeTable(spark, tmp_table_dir)
    write_snapshot = LakeTable._write_snapshot

    def race_once(racer_commit):
        state = {"armed": True}

        def interposed(self, snap):
            if self is t and state["armed"]:
                state["armed"] = False
                racer_commit()
            return write_snapshot(self, snap)

        monkeypatch.setattr(LakeTable, "_write_snapshot", interposed)

    caplog.set_level(logging.DEBUG, logger="aus_land_data_etl_spark.lake.table")
    race_once(lambda: _apply(other, events, 1))  # the same batch wins first
    _apply(t, events, 1)
    debug = [r.getMessage() for r in caplog.records if r.levelno == logging.DEBUG]
    assert any("lost the race" in m for m in debug), debug
    assert any("already applied" in m for m in debug), debug

    race_once(lambda: other.set_properties({"owner": "etl"}))
    with pytest.raises(ConflictError):
        t.rollback_to(0)
    warnings = [r for r in caplog.records if r.levelno == logging.WARNING]
    assert len(warnings) == 1 and "refused" in warnings[0].getMessage()
