"""Incremental changelog read (CDC-out): classification, pruning,
schema evolution, and replay equivalence."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from aus_land_data_etl_spark.cdc.apply import apply_batch, create_pages_table
from aus_land_data_etl_spark.cdc.events import EVENT_SCHEMA
from aus_land_data_etl_spark.cdc.generator import generate_events
from aus_land_data_etl_spark.lake.changelog import changed_buckets, read_changes


def _ev(eid, op, url, ts_sec, body, schema_version=1, extra=None):
    return Row(
        event_id=str(eid),
        op=op,
        url=url,
        warc_ts=dt.datetime(2024, 1, 1, 0, 0, ts_sec),
        html=(f"<html><body><p>{body}</p></body></html>").encode() if body else None,
        lang=None,
        schema_version=schema_version,
        payload_extra=extra,
        source_partition=0,
        source_offset=eid,
        source_file="t.parquet",
        source_pos=eid,
    )


def _events_df(spark, rows):
    return spark.createDataFrame(rows, EVENT_SCHEMA)


@pytest.fixture()
def table3(spark, tmp_table_dir):
    """Three epochs with a version captured after each.

    epoch 0: insert u1, u2, u4
    epoch 1: update u1 (newer), delete u2, insert u3; u4 untouched
    epoch 2: late update of u1 OLDER than epoch 1's -> no net change
    """
    t = create_pages_table(spark, tmp_table_dir, n_buckets=4)
    e0 = [
        _ev(1, "insert", "https://a.example.com/1", 10, "u1 v1"),
        _ev(2, "insert", "https://a.example.com/2", 10, "u2 v1"),
        _ev(3, "insert", "https://a.example.com/4", 10, "u4 v1"),
    ]
    e1 = [
        _ev(4, "update", "https://a.example.com/1", 20, "u1 v2"),
        _ev(5, "delete", "https://a.example.com/2", 20, None),
        _ev(6, "insert", "https://a.example.com/3", 20, "u3 v1"),
    ]
    e2 = [
        _ev(7, "update", "https://a.example.com/1", 15, "u1 stale"),
    ]
    versions = [0]
    for i, rows in enumerate([e0, e1, e2]):
        apply_batch(t, _events_df(spark, rows), epoch=i)
        versions.append(t.current_version())
    return t, versions


def test_changelog_classification(spark, table3):
    t, v = table3
    ch = read_changes(t, v[1], v[2]).select("change_type", "url", "text").collect()
    by_url = {r["url"].rsplit("/", 1)[1]: r for r in ch}
    assert set(by_url) == {"1", "2", "3"}  # u4 unchanged -> absent
    assert by_url["1"]["change_type"] == "update"
    assert "u1 v2" in by_url["1"]["text"]  # after image
    assert by_url["2"]["change_type"] == "delete"
    assert "u2 v1" in by_url["2"]["text"]  # before image
    assert by_url["3"]["change_type"] == "insert"
    assert "u3 v1" in by_url["3"]["text"]


def test_changelog_stale_update_is_noop(spark, table3):
    t, v = table3
    # epoch 2's update is older than the LWW winner: no net change
    assert read_changes(t, v[2], v[3]).count() == 0
    # and the empty-interval case
    assert read_changes(t, v[2], v[2]).count() == 0


def test_changelog_collapses_intermediate_versions(spark, table3):
    t, v = table3
    # across e0..e2 in one interval: u2's insert+delete collapse to nothing
    ch = read_changes(t, v[0], v[3])
    by = {r["url"].rsplit("/", 1)[1]: r["change_type"] for r in ch.collect()}
    assert by == {"1": "insert", "3": "insert", "4": "insert"}


def test_changelog_inverse_interval_swaps_direction(spark, table3):
    t, v = table3
    fwd = {
        (r["url"], r["change_type"])
        for r in read_changes(t, v[1], v[2]).select("url", "change_type").collect()
    }
    inv = {
        (r["url"], r["change_type"])
        for r in read_changes(t, v[2], v[1]).select("url", "change_type").collect()
    }
    flip = {"insert": "delete", "delete": "insert", "update": "update"}
    assert {(u, flip[c]) for (u, c) in fwd} == inv


def test_changed_buckets_prunes(spark, table3):
    t, v = table3
    touched = changed_buckets(t, v[1], v[2])
    assert touched is not None
    # the interval touched 3 urls -> at most 3 (of 4) buckets; u4's bucket
    # only appears if it collides with a touched url's bucket
    from aus_land_data_etl_spark.lake.table import bucket_expr

    urls = spark.createDataFrame(
        [(f"https://a.example.com/{i}",) for i in (1, 2, 3)], ["url"]
    )
    expected = {
        r["b"]
        for r in urls.select(bucket_expr("url", 4).alias("b")).distinct().collect()
    }
    assert set(touched) == expected


def test_changelog_schema_evolution(spark, tmp_table_dir):
    """A column added between the snapshots appears in the diff; the
    before side surfaces it as NULL."""
    t = create_pages_table(spark, tmp_table_dir, n_buckets=2)
    apply_batch(
        t, _events_df(spark, [_ev(1, "insert", "https://a.example.com/1", 10, "v1")]),
        epoch=0,
    )
    v1 = t.current_version()
    # schema_version=4 promotes fetch_status into the table schema
    apply_batch(
        t,
        _events_df(
            spark,
            [_ev(2, "update", "https://a.example.com/1", 20, "v2",
                 schema_version=4, extra='{"fetch_status": 200}')],
        ),
        epoch=1,
    )
    ch = read_changes(t, v1, t.current_version())
    rows = ch.collect()
    assert len(rows) == 1 and rows[0]["change_type"] == "update"
    assert "fetch_status" in ch.columns
    assert rows[0]["fetch_status"] is not None


def test_changelog_added_column_between_snapshots(spark, tmp_table_dir):
    """True schema evolution at the merge layer: a column that exists only
    in the to-snapshot surfaces in the diff, NULL-filled on the from side."""
    from aus_land_data_etl_spark.lake.merge import merge_into

    t = create_pages_table(spark, tmp_table_dir, n_buckets=2)
    apply_batch(
        t, _events_df(spark, [_ev(1, "insert", "https://a.example.com/1", 10, "v1")]),
        epoch=0,
    )
    v1 = t.current_version()
    evolved = spark.createDataFrame(
        [
            Row(
                url="https://a.example.com/1",
                warc_ts=dt.datetime(2024, 1, 1, 0, 0, 20),
                event_id="2",
                op="update",
                text="v2",
                mirror_url="https://mirror.example.com/1",
            )
        ]
    )
    merge_into(t, evolved, tiebreak_col="event_id", epoch_id="e1")
    ch = read_changes(t, v1, t.current_version())
    rows = ch.collect()
    assert len(rows) == 1 and rows[0]["change_type"] == "update"
    assert rows[0]["mirror_url"] == "https://mirror.example.com/1"


def test_changelog_replay_equivalence(spark, tmp_table_dir):
    """Patching the v_from live view with the changelog reproduces the
    v_to live view exactly (generated stream, hot keys + dups)."""
    events = generate_events(spark, 2500, seed=77)
    t = create_pages_table(spark, tmp_table_dir, n_buckets=4)
    batches = [
        events.filter(F.pmod(F.xxhash64("event_id"), F.lit(4)) == i) for i in range(4)
    ]
    for i, b in enumerate(batches[:2]):
        apply_batch(t, b, epoch=i)
    v_from = t.current_version()
    for i, b in enumerate(batches[2:], start=2):
        apply_batch(t, b, epoch=i)
    v_to = t.current_version()

    cols = ["url", "warc_ts", "event_id", "text"]
    ch = read_changes(t, v_from, v_to)
    from aus_land_data_etl_spark.lake.changelog import _live_view

    live_from = _live_view(t, v_from, None, "event_id", cols)
    live_to = _live_view(t, v_to, None, "event_id", cols)

    touched_keys = ch.select("url").distinct()
    patched = (
        live_from.join(touched_keys, "url", "left_anti")
        .unionByName(
            ch.filter(F.col("change_type") != "delete").select(*cols)
        )
    )

    def fp(df):
        r = df.select(
            F.bit_xor(
                F.xxhash64(*[F.col(c).cast("string") for c in cols])
            ).alias("h"),
            F.count("*").alias("n"),
        ).collect()[0]
        return (r["h"] or 0, r["n"])

    assert fp(patched) == fp(live_to)
    # and the changelog is minimal: every emitted key really changed
    assert ch.groupBy("url").count().filter(F.col("count") > 1).count() == 0


def test_changelog_empty_across_pure_compaction(spark, table3):
    """A compaction/fold rewrites files without changing the live view:
    the changelog across that interval must be empty (bucket pruning is a
    superset of truly-changed buckets — the diff itself filters the
    rewritten-but-identical rows)."""
    from aus_land_data_etl_spark.lake.merge import compact

    t, v = table3
    v_before = t.current_version()
    compact(t)
    v_after = t.current_version()
    assert v_after > v_before
    assert read_changes(t, v_before, v_after).count() == 0
    # and an interval SPANNING real changes + the compaction still reports
    # exactly the real changes
    ch = {r["url"].rsplit("/", 1)[1]: r["change_type"]
          for r in read_changes(t, v[1], v_after).collect()}
    assert ch == {"1": "update", "2": "delete", "3": "insert"}


def test_history_metadata(spark, table3):
    t, v = table3
    h = {r["version"]: r for r in t.history().collect()}
    assert set(h) >= {v[1], v[2], v[3]}
    assert all(r["n_buckets"] == 4 for r in h.values())
    # file counts are monotone-ish evidence, columns stable at PAGES width
    assert h[v[3]]["n_base_files"] + h[v[3]]["n_delta_files"] > 0


def test_changelog_across_rebucket_and_expire(spark, table3):
    """Round-2 verdict #9: a changelog interval spanning a bucket-count
    change can't bucket-prune (``changed_buckets`` returns None — all
    buckets) but must still return the correct net diff; an
    ``expire_snapshots`` that drops the intermediate snapshots between
    the two endpoints must not disturb it either."""
    t, v = table3
    pre = v[3]
    t.rebucket(8)
    e3 = [
        _ev(8, "update", "https://a.example.com/3", 30, "u3 v2"),
        _ev(9, "insert", "https://a.example.com/5", 30, "u5 v1"),
    ]
    apply_batch(t, _events_df(spark, e3), epoch=3)
    cur = t.current_version()

    # pruning is declared impossible, not silently wrong
    assert changed_buckets(t, pre, cur) is None

    ch = read_changes(t, pre, cur)
    by = {r["url"].rsplit("/", 1)[1]: r for r in ch.collect()}
    assert {u: r["change_type"] for u, r in by.items()} == {
        "3": "update",
        "5": "insert",
    }
    assert "u3 v2" in by["3"]["text"]  # after image, not the pre-rebucket row

    # history OLDER than the interval expired (expire keeps the
    # contiguous tail [pre, cur]): the diff only needs its endpoints
    # and the files they reference, so it is unchanged
    t.expire_snapshots(keep_last=cur - pre + 1)
    ch2 = {
        (r["url"], r["change_type"])
        for r in read_changes(t, pre, cur).select("url", "change_type").collect()
    }
    assert ch2 == {(r["url"], r["change_type"]) for r in ch.collect()}


def test_changelog_patch_table_cell_only_change_not_suppressed(
    spark, tmp_table_dir
):
    """ADVICE round-3 (medium): on a per-cell table, an out-of-order patch
    OLDER than the row's current version but newer than one cell's
    last-determined version changes that cell's resolved value WITHOUT
    moving the row (version, tiebreak) pair — the changelog must report
    it as an update (image comparison), or subscription consumers
    silently diverge.  Also: a patch re-asserting a cell's current value
    (identical resolved image) must stay suppressed (net-changes feed)."""
    import datetime as dt

    from pyspark.sql import Row

    from aus_land_data_etl_spark.cdc.apply import apply_batch
    from aus_land_data_etl_spark.cdc.events import PATCH_EVENT_SCHEMA

    def pev(eid, op, url, ts_sec, sets, html, lang, off):
        return Row(
            event_id=eid, op=op, url=url,
            warc_ts=dt.datetime(2024, 1, 1, 0, 0, ts_sec),
            set_cols=sets, html=html, lang=lang,
            source_partition=0, source_offset=off,
            source_file="t.parquet", source_pos=off,
        )

    t = create_pages_table(spark, tmp_table_dir, n_buckets=4)
    # v1: full image at ts=10 (lang en), then a NEWER patch at ts=30
    # naming only html — row version becomes 30, lang cell stays at 10
    apply_batch(
        t,
        spark.createDataFrame(
            [
                pev("e1", "insert", "https://a.example.com/p", 10, None,
                    b"<p>one</p>", "en", 0),
                pev("e2", "patch", "https://a.example.com/p", 30, ["html"],
                    b"<p>two</p>", None, 1),
            ],
            PATCH_EVENT_SCHEMA,
        ),
        epoch=0,
    )
    v_mid = t.current_version()
    # OUT-OF-ORDER patch at ts=20 (< row version 30) naming only lang:
    # the lang cell's winner moves 10→20 ("en"→"fr") while the row
    # (version, tiebreak) stays (30, e2)
    apply_batch(
        t,
        spark.createDataFrame(
            [pev("e3", "patch", "https://a.example.com/p", 20, ["lang"],
                 None, "fr", 2)],
            PATCH_EVENT_SCHEMA,
        ),
        epoch=1,
    )
    v_after = t.current_version()
    ch = read_changes(t, v_mid, v_after).collect()
    assert len(ch) == 1 and ch[0]["change_type"] == "update"
    assert ch[0]["lang"] == "fr"
    assert ch[0]["warc_ts"] == dt.datetime(2024, 1, 1, 0, 0, 30)  # row ver

    # identical-image patch: re-assert lang='fr' at ts=25 (cell winner
    # advances 20→25 but the resolved VALUE is unchanged) → net feed
    # stays empty
    apply_batch(
        t,
        spark.createDataFrame(
            [pev("e4", "patch", "https://a.example.com/p", 25, ["lang"],
                 None, "fr", 3)],
            PATCH_EVENT_SCHEMA,
        ),
        epoch=2,
    )
    assert read_changes(t, v_after, t.current_version()).count() == 0


def test_changelog_prunes_across_k_rebucket(spark, tmp_table_dir):
    """Round-4 verdict #5: when n_new = k·n_old, old bucket b maps to
    {b, b+n_old, …, b+(k−1)·n_old}, so an interval spanning a 16→32
    rebucket prunes to the changed buckets (strict subset on BOTH
    sides) instead of the O(table) full diff — with diff values
    unchanged.  Shrink direction (32→16 inside a later interval) prunes
    too; the closure property (every key read on one side is read on
    the other) keeps ride-along keys diffing to zero rows."""
    from aus_land_data_etl_spark.lake.changelog import changed_bucket_pair
    from aus_land_data_etl_spark.lake.table import bucket_expr

    t = create_pages_table(spark, tmp_table_dir, n_buckets=16)
    e0 = [
        _ev(i, "insert", f"https://a.example.com/{i}", 10, f"u{i} v1")
        for i in range(1, 41)
    ]
    apply_batch(t, _events_df(spark, e0), epoch=0, mode="cow")
    pre = t.current_version()

    e1 = [
        _ev(100, "update", "https://a.example.com/7", 20, "u7 v2"),
        _ev(101, "update", "https://a.example.com/23", 20, "u23 v2"),
    ]
    apply_batch(t, _events_df(spark, e1), epoch=1, mode="cow")
    t.rebucket(32)
    e2 = [
        _ev(102, "update", "https://a.example.com/31", 30, "u31 v2"),
        _ev(103, "insert", "https://a.example.com/99", 30, "u99 v1"),
    ]
    apply_batch(t, _events_df(spark, e2), epoch=2, mode="cow")
    cur = t.current_version()

    frm, to = changed_bucket_pair(t, pre, cur)
    assert frm is not None and to is not None
    # strict subsets of both layouts (4 changed keys, ≤4+closure buckets)
    assert len(frm) < 16 and len(to) < 32
    # closure: to-space list is exactly the k-expansion of the from list
    assert set(to) == {b + j * 16 for b in frm for j in (0, 1)}
    # the from-space list covers the changed keys' old buckets
    urls = spark.createDataFrame(
        [(f"https://a.example.com/{i}",) for i in (7, 23, 31, 99)], ["url"]
    )
    old_b = {
        r["b"]
        for r in urls.select(bucket_expr("url", 16).alias("b")).collect()
    }
    assert old_b <= set(frm)

    # and the PRUNED diff equals the expected net changes
    by = {
        r["url"].rsplit("/", 1)[1]: r
        for r in read_changes(t, pre, cur).collect()
    }
    assert {u: r["change_type"] for u, r in by.items()} == {
        "7": "update", "23": "update", "31": "update", "99": "insert",
    }
    assert "u31 v2" in by["31"]["text"]

    # inverted interval across the rebucket (read_changes(v_to, v_from)
    # inverts a diff): per-side lists swap, never an IndexError
    frm_i, to_i = changed_bucket_pair(t, cur, pre)
    assert (frm_i, to_i) == (to, frm)
    inv = {
        (r["url"], r["change_type"])
        for r in read_changes(t, cur, pre).select("url", "change_type").collect()
    }
    flip = {"insert": "delete", "delete": "insert", "update": "update"}
    assert inv == {
        (r["url"], flip[r["change_type"]])
        for r in read_changes(t, pre, cur).select("url", "change_type").collect()
    }

    # shrink direction: a later interval spanning 32→16 prunes as well
    pre2 = cur
    t.rebucket(16)
    e3 = [_ev(104, "update", "https://a.example.com/7", 40, "u7 v3")]
    apply_batch(t, _events_df(spark, e3), epoch=3, mode="cow")
    cur2 = t.current_version()
    frm2, to2 = changed_bucket_pair(t, pre2, cur2)
    assert frm2 is not None and len(frm2) < 32 and len(to2) < 16
    assert {r["change_type"] for r in read_changes(t, pre2, cur2).collect()} == {
        "update"
    }


def test_changelog_rebucket_pruning_differential(spark, tmp_table_dir, monkeypatch):
    """Randomized differential: across seeded random epochs with a
    rebucket (grow 2×/4× or shrink) at a random position inside the
    interval, the PRUNED diff must equal the UNPRUNED diff (pruning
    forced off by stubbing changed_bucket_pair) row for row — pruning
    is an optimisation, never a semantics change."""
    import random as _random

    from aus_land_data_etl_spark.lake import changelog as cl

    rng = _random.Random(41)
    t = create_pages_table(spark, tmp_table_dir, n_buckets=8)
    urls = [f"https://a.example.com/{i}" for i in range(30)]
    eid = 0

    def batch(epoch, n_ops):
        nonlocal eid
        rows = []
        for _ in range(n_ops):
            eid += 1
            op = rng.choice(["insert", "update", "update", "delete"])
            u = rng.choice(urls)
            ts = rng.randint(1, 50)
            rows.append(_ev(eid, op, u, ts, None if op == "delete" else f"b{eid}"))
        apply_batch(
            t, _events_df(spark, rows), epoch=epoch,
            mode=rng.choice(["mor", "cow"]),
        )

    batch(0, 12)
    pre = t.current_version()
    batch(1, 6)
    t.rebucket(rng.choice([16, 32]))
    batch(2, 6)
    t.rebucket(4)  # second boundary: shrink below the original
    batch(3, 6)
    cur = t.current_version()

    frm, to = cl.changed_bucket_pair(t, pre, cur)
    assert frm is not None and to is not None  # multiple ratios → pruned

    def rows_of(df):
        return sorted(
            (r["change_type"], r["url"], str(r["warc_ts"]), r["event_id"])
            for r in df.collect()
        )

    pruned = rows_of(read_changes(t, pre, cur))
    monkeypatch.setattr(
        cl, "changed_bucket_pair", lambda *a, **k: (None, None)
    )
    full = rows_of(read_changes(t, pre, cur))
    monkeypatch.undo()
    assert pruned == full and len(full) > 0


def test_changelog_empty_across_zorder_rewrites(spark, table3):
    """Z-order rewrites (full AND bucket-scoped incremental) are pure
    maintenance: the changelog across them must be empty — a CDC-out
    subscriber must never see a storm of spurious updates because the
    producer re-clustered files.  An interval spanning real changes plus
    both rewrites still reports exactly the real changes."""
    from aus_land_data_etl_spark.lake.zorder import (
        cluster_zorder,
        cluster_zorder_buckets,
    )

    t, v = table3
    v_before = t.current_version()
    cluster_zorder(t, ["warc_ts", "lang"], bits=4, files_per_bucket=2)
    v_full = t.current_version()
    assert v_full > v_before
    assert read_changes(t, v_before, v_full).count() == 0

    cluster_zorder_buckets(
        t, ["warc_ts", "lang"], min_files=1, bits=4, files_per_bucket=2
    )
    v_inc = t.current_version()
    assert v_inc > v_full
    assert read_changes(t, v_full, v_inc).count() == 0

    ch = {r["url"].rsplit("/", 1)[1]: r["change_type"]
          for r in read_changes(t, v[1], v_inc).collect()}
    assert ch == {"1": "update", "2": "delete", "3": "insert"}
