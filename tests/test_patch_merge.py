"""Partial-image (patch) CDC semantics: per-cell LWW with ``_cvers``.

Covers the contract documented in operators/patch.py:
explicit-NULL patches, patch-after-delete resurrection, out-of-order
patches, associativity across arbitrary batch splits, exactly-once
replay, and full-image batches on cell-versioned tables resolving per
cell (the reducer follows the table as well as the batch).
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aus_land_data_etl_spark.lake.merge import (
    delta_merge_into,
    merge_into,
    read_current,
)
from aus_land_data_etl_spark.lake.table import LakeTable
from aus_land_data_etl_spark.operators.patch import CELL_VERS, SET_COLS, resolve_cells

SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("event_id", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("score", T.DoubleType()),
    ]
)

TS = lambda s: dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)  # noqa: E731


def _events(spark, rows):
    """rows: (url, sec, event_id, op, text, lang, score, set_cols)."""
    data = [
        (u, TS(s), e, op, tx, lg, sc, sets)
        for (u, s, e, op, tx, lg, sc, sets) in rows
    ]
    return spark.createDataFrame(
        data,
        "url string, warc_ts timestamp, event_id string, op string, "
        "text string, lang string, score double, _set_cols array<string>",
    )


def _mk_table(spark, d):
    return LakeTable.create(
        spark, d, schema=SCHEMA, key_col="url", version_col="warc_ts", n_buckets=4
    )


def _state(table):
    rows = read_current(table).collect()
    return {
        r["url"]: (r["text"], r["lang"], r["score"], r["warc_ts"]) for r in rows
    }


def test_patch_overlays_only_named_cells(spark, tmp_table_dir):
    t = _mk_table(spark, tmp_table_dir)
    merge_into(
        t,
        _events(
            spark,
            [
                ("a", 10, "e1", "insert", "full", "en", 1.0, None),
                # newer patch sets ONLY score; text/lang keep the insert's
                ("a", 20, "e2", "patch", None, None, 2.5, ["score"]),
            ],
        ),
        "event_id",
        epoch_id="0",
    )
    assert _state(t)["a"] == ("full", "en", 2.5, TS(20))


def test_explicit_null_patch_wins(spark, tmp_table_dir):
    t = _mk_table(spark, tmp_table_dir)
    merge_into(
        t,
        _events(
            spark,
            [
                ("a", 10, "e1", "insert", "full", "en", 1.0, None),
                # names lang but ships NULL: an explicit NULL assignment
                ("a", 20, "e2", "patch", None, None, None, ["lang"]),
            ],
        ),
        "event_id",
        epoch_id="0",
    )
    assert _state(t)["a"] == ("full", None, 1.0, TS(20))


def test_out_of_order_patches_within_batch(spark, tmp_table_dir):
    t = _mk_table(spark, tmp_table_dir)
    merge_into(
        t,
        _events(
            spark,
            [
                # delivery order ≠ version order: newest text is e3's
                ("a", 30, "e3", "patch", "newest", None, None, ["text"]),
                ("a", 10, "e1", "insert", "oldest", "en", 1.0, None),
                ("a", 20, "e2", "patch", "middle", None, None, ["text"]),
            ],
        ),
        "event_id",
        epoch_id="0",
    )
    assert _state(t)["a"] == ("newest", "en", 1.0, TS(30))


def test_old_patch_across_batches_still_wins_its_cell(spark, tmp_table_dir):
    """An out-of-order patch arriving a batch late must still win the cell
    it is newest for — the persisted ``_cvers`` map carries per-cell
    versions across the fold, so batching cannot change the outcome."""
    t = _mk_table(spark, tmp_table_dir)
    merge_into(
        t,
        _events(
            spark,
            [
                ("a", 10, "e1", "insert", "base", "en", 1.0, None),
                ("a", 40, "e4", "patch", None, "de", None, ["lang"]),
            ],
        ),
        "event_id",
        epoch_id="0",
    )
    # ts=20 patch arrives AFTER the ts=40 patch was folded in.  Row
    # version is 40, but text was last determined at ts=10 — the late
    # patch (ts=20) must override text while lang stays at ts=40's 'de'.
    merge_into(
        t,
        _events(
            spark,
            [("a", 20, "e2", "patch", "late-text", None, None, ["text"])],
        ),
        "event_id",
        epoch_id="1",
    )
    assert _state(t)["a"] == ("late-text", "de", 1.0, TS(40))


def test_patch_after_delete_resurrects_sparse_row(spark, tmp_table_dir):
    t = _mk_table(spark, tmp_table_dir)
    merge_into(
        t,
        _events(
            spark,
            [
                ("a", 10, "e1", "insert", "full", "en", 1.0, None),
                ("a", 20, "e2", "delete", None, None, None, None),
            ],
        ),
        "event_id",
        epoch_id="0",
    )
    assert "a" not in _state(t)
    merge_into(
        t,
        _events(
            spark,
            [("a", 30, "e3", "patch", "back", None, None, ["text"])],
        ),
        "event_id",
        epoch_id="1",
    )
    # resurrected: patched cell set, everything else cleared by the delete
    assert _state(t)["a"] == ("back", None, None, TS(30))


def test_delete_newer_than_patch_wins(spark, tmp_table_dir):
    t = _mk_table(spark, tmp_table_dir)
    merge_into(
        t,
        _events(
            spark,
            [
                ("a", 10, "e1", "insert", "full", "en", 1.0, None),
                ("a", 30, "e3", "delete", None, None, None, None),
            ],
        ),
        "event_id",
        epoch_id="0",
    )
    merge_into(
        t,
        _events(
            spark,
            [("a", 20, "e2", "patch", "stale", None, None, ["text"])],
        ),
        "event_id",
        epoch_id="1",
    )
    assert "a" not in _state(t)


@pytest.mark.parametrize("splits", [1, 2, 5])
def test_associative_across_any_batching(spark, tmp_table_dir, splits):
    """Same event set, different micro-batch splits → identical state."""
    rows = [
        ("a", 10, "e01", "insert", "t0", "en", 1.0, None),
        ("a", 50, "e05", "patch", None, None, 5.0, ["score"]),
        ("a", 30, "e03", "patch", "t3", None, None, ["text"]),
        ("a", 40, "e04", "patch", None, "fr", None, ["lang"]),
        ("a", 20, "e02", "update", "t2", "de", 2.0, None),
        ("b", 15, "e11", "insert", "b0", "en", 0.0, None),
        ("b", 25, "e12", "delete", None, None, None, None),
        ("b", 35, "e13", "patch", None, None, 9.0, ["score"]),
        ("c", 12, "e21", "insert", "c0", None, 3.0, None),
        ("c", 11, "e22", "patch", None, "it", None, ["lang"]),
    ]
    t = _mk_table(spark, tmp_table_dir)
    for i in range(splits):
        batch = [r for j, r in enumerate(rows) if j % splits == i]
        merge_into(t, _events(spark, batch), "event_id", epoch_id=str(i))
    # expected per-cell LWW state, independent of the split:
    assert _state(t) == {
        "a": ("t3", "fr", 5.0, TS(50)),
        "b": (None, None, 9.0, TS(35)),
        # c's lang patch (ts=11) is OLDER than the insert (ts=12): loses
        "c": ("c0", None, 3.0, TS(12)),
    }


def test_exactly_once_replay(spark, tmp_table_dir):
    t = _mk_table(spark, tmp_table_dir)
    b = _events(
        spark,
        [
            ("a", 10, "e1", "insert", "full", "en", 1.0, None),
            ("a", 20, "e2", "patch", None, None, 7.0, ["score"]),
        ],
    )
    v1 = merge_into(t, b, "event_id", epoch_id="0")
    v2 = merge_into(t, b, "event_id", epoch_id="0")  # replay
    assert v1 == v2
    assert _state(t)["a"] == ("full", "en", 7.0, TS(20))


def test_row_lww_guard_on_patch_tables(spark, tmp_table_dir):
    """A full-image batch (no ``_set_cols``) on a cell-versioned table
    resolves per cell as full images, through either merge: its cells
    land at its own version and the table stays cell-versioned."""
    import os

    for name, merge in (("cow", merge_into), ("mor", delta_merge_into)):
        t = _mk_table(spark, os.path.join(tmp_table_dir, name))
        merge_into(
            t,
            _events(spark, [("a", 10, "e1", "insert", "x", "en", 1.0, None)]),
            "event_id",
            epoch_id="0",
        )
        full = _events(
            spark, [("a", 20, "e2", "update", "y", "de", 2.0, None)]
        ).drop(SET_COLS)
        merge(t, full, "event_id", epoch_id="1")
        assert _state(t)["a"] == ("y", "de", 2.0, TS(20)), name
        assert CELL_VERS in t.read_resolved().columns, name


def test_schema_evolution_under_patches(spark, tmp_table_dir):
    """A patch naming a column the table has never seen adds it (nullable)
    and determines it for that key only."""
    t = _mk_table(spark, tmp_table_dir)
    merge_into(
        t,
        _events(
            spark,
            [
                ("a", 10, "e1", "insert", "x", "en", 1.0, None),
                ("b", 10, "e2", "insert", "y", "de", 2.0, None),
            ],
        ),
        "event_id",
        epoch_id="0",
    )
    evolved = _events(
        spark, [("a", 20, "e3", "patch", None, None, None, ["fetch_status"])]
    ).withColumn("fetch_status", F.lit(404))
    merge_into(t, evolved, "event_id", epoch_id="1")
    got = {
        r["url"]: r["fetch_status"]
        for r in read_current(t).select("url", "fetch_status").collect()
    }
    assert got == {"a": 404, "b": None}


def test_resolve_cells_is_reapplicable(spark):
    """The output of resolve_cells is a valid stored-row input: reducing
    in two stages equals reducing in one (the associativity MoR folds and
    merges over any batch split rely on)."""
    df = _events(
        spark,
        [
            ("a", 10, "e1", "insert", "t0", "en", 1.0, None),
            ("a", 30, "e3", "patch", "t3", None, None, ["text"]),
            ("a", 20, "e2", "patch", None, "fr", 2.0, ["lang", "score"]),
        ],
    ).withColumn(
        "is_deleted", F.col("op") == "delete"
    ).drop("op")
    once = resolve_cells(df, "url", "warc_ts", "event_id").collect()
    first = resolve_cells(
        df.filter(F.col("event_id") != "e3"), "url", "warc_ts", "event_id"
    )
    again = resolve_cells(
        first.unionByName(
            df.filter(F.col("event_id") == "e3").withColumn(
                CELL_VERS,
                F.lit(None).cast(
                    "map<string,struct<v:timestamp,t:string>>"
                ),
            ),
            allowMissingColumns=True,
        ),
        "url",
        "warc_ts",
        "event_id",
    ).collect()
    as_dict = lambda rows: {  # noqa: E731
        r["url"]: (r["text"], r["lang"], r["score"], r["warc_ts"], dict(r[CELL_VERS]))
        for r in rows
    }
    assert as_dict(once) == as_dict(again)


# ---------------------------------------------------------------------------
# Merge-on-read patch path (delta_merge_into with partial images)
# ---------------------------------------------------------------------------

MOR_ROWS = [
    ("a", 10, "e01", "insert", "t0", "en", 1.0, None),
    ("a", 50, "e05", "patch", None, None, 5.0, ["score"]),
    ("a", 30, "e03", "patch", "t3", None, None, ["text"]),
    ("a", 40, "e04", "patch", None, "fr", None, ["lang"]),
    ("b", 15, "e11", "insert", "b0", "en", 0.0, None),
    ("b", 25, "e12", "delete", None, None, None, None),
    ("b", 35, "e13", "patch", None, None, 9.0, ["score"]),
    ("c", 12, "e21", "insert", "c0", None, 3.0, None),
    ("c", 11, "e22", "patch", None, "it", None, ["lang"]),
]
MOR_WANT = {
    "a": ("t3", "fr", 5.0, TS(50)),
    "b": (None, None, 9.0, TS(35)),
    "c": ("c0", None, 3.0, TS(12)),
}


def test_mor_patch_apply_matches_cow(spark, tmp_table_dir):
    """O(batch) delta appends of partial images resolve to the same state
    as the copy-on-write path, read straight off the unfolded stacks."""
    from aus_land_data_etl_spark.lake.merge import delta_merge_into

    t = _mk_table(spark, tmp_table_dir)
    for i in range(3):
        batch = [r for j, r in enumerate(MOR_ROWS) if j % 3 == i]
        delta_merge_into(
            t, _events(spark, batch), "event_id", epoch_id=str(i),
            compact_depth=99,
        )
    assert t.snapshot().delta_files  # really is merge-on-read
    assert _state(t) == MOR_WANT


def test_mor_patch_fold_preserves_cell_versions(spark, tmp_table_dir):
    """Folding delta stacks to base must keep per-cell versions: a late
    out-of-order patch arriving AFTER the fold still wins only the cell
    it is newest for."""
    from aus_land_data_etl_spark.lake.merge import (
        delta_merge_into,
        fold_deltas,
    )

    t = _mk_table(spark, tmp_table_dir)
    delta_merge_into(
        t,
        _events(
            spark,
            [
                ("a", 10, "e1", "insert", "base", "en", 1.0, None),
                ("a", 40, "e4", "patch", None, "de", None, ["lang"]),
            ],
        ),
        "event_id",
        epoch_id="0",
        compact_depth=99,
    )
    fold_deltas(t, "event_id")
    assert not t.snapshot().delta_files  # folded to base
    # late text patch (ts=20): older than the folded row version (40) but
    # newer than text's cell version (10) — must win text only
    delta_merge_into(
        t,
        _events(spark, [("a", 20, "e2", "patch", "late", None, None, ["text"])]),
        "event_id",
        epoch_id="1",
        compact_depth=99,
    )
    assert _state(t)["a"] == ("late", "de", 1.0, TS(40))


def test_mor_patch_auto_fold_converges(spark, tmp_table_dir):
    """Hitting compact_depth mid-stream triggers the leveled fold; the
    resolved state is unchanged (associativity through the fold)."""
    from aus_land_data_etl_spark.lake.merge import delta_merge_into

    t = _mk_table(spark, tmp_table_dir)
    for i in range(3):
        batch = [r for j, r in enumerate(MOR_ROWS) if j % 3 == i]
        delta_merge_into(
            t, _events(spark, batch), "event_id", epoch_id=str(i),
            compact_depth=2,
        )
    assert _state(t) == MOR_WANT


def test_delete_where_routes_to_patch_path(spark, tmp_table_dir):
    from aus_land_data_etl_spark.lake.merge import delete_where, merge_into

    t = _mk_table(spark, tmp_table_dir)
    merge_into(
        t,
        _events(
            spark,
            [
                ("a", 10, "e1", "insert", "keep", "en", 1.0, None),
                ("b", 10, "e2", "insert", "drop-me", "de", 2.0, None),
            ],
        ),
        "event_id",
        epoch_id="0",
    )
    delete_where(t, F.col("text") == "drop-me", as_of=TS(99), op_id="gdpr-1")
    st = _state(t)
    assert "b" not in st and st["a"][0] == "keep"


def test_changelog_over_patch_table(spark, tmp_table_dir):
    """CDC-out composes with per-cell CDC-in: the net diff between two
    patch-table snapshots classifies a cell-only change as an update
    carrying the fully resolved after-image."""
    from aus_land_data_etl_spark.lake.changelog import read_changes
    from aus_land_data_etl_spark.lake.merge import merge_into

    t = _mk_table(spark, tmp_table_dir)
    merge_into(
        t,
        _events(
            spark,
            [
                ("a", 10, "e1", "insert", "t0", "en", 1.0, None),
                ("b", 10, "e2", "insert", "b0", "de", 2.0, None),
            ],
        ),
        "event_id",
        epoch_id="0",
    )
    v1 = t.current_version()
    merge_into(
        t,
        _events(
            spark,
            [
                ("a", 20, "e3", "patch", None, "fr", None, ["lang"]),
                ("c", 20, "e4", "insert", "c0", "it", 3.0, None),
            ],
        ),
        "event_id",
        epoch_id="1",
    )
    ch = {
        r["url"]: (r["change_type"], r["text"], r["lang"])
        for r in read_changes(t, v1, t.current_version()).collect()
    }
    assert ch == {
        # update image: patched lang + the UNpatched text both present
        "a": ("update", "t0", "fr"),
        "c": ("insert", "c0", "it"),
    }


def test_rebucket_preserves_cell_versions(spark, tmp_table_dir):
    """Bucket-count evolution on a patch table with UNFOLDED delta stacks
    must carry the per-cell versions into the new layout: a late
    out-of-order patch after the rebucket still wins only its cell."""
    from aus_land_data_etl_spark.lake.merge import delta_merge_into

    t = _mk_table(spark, tmp_table_dir)
    delta_merge_into(
        t,
        _events(
            spark,
            [
                ("a", 10, "e1", "insert", "base", "en", 1.0, None),
                ("a", 40, "e4", "patch", None, "de", None, ["lang"]),
            ],
        ),
        "event_id",
        epoch_id="0",
        compact_depth=99,
    )
    assert t.snapshot().delta_files
    t.rebucket(8)
    delta_merge_into(
        t,
        _events(spark, [("a", 20, "e2", "patch", "late", None, None, ["text"])]),
        "event_id",
        epoch_id="1",
        compact_depth=99,
    )
    # text's cell version was 10 (< 20): the late patch wins text; lang
    # (cell version 40) and the row version survive the rebucket intact
    assert _state(t)["a"] == ("late", "de", 1.0, TS(40))


def test_seal_patches_reenables_row_merges(spark, tmp_table_dir):
    from aus_land_data_etl_spark.lake.merge import merge_into, seal_patches

    t = _mk_table(spark, tmp_table_dir)
    merge_into(
        t,
        _events(
            spark,
            [
                ("a", 10, "e1", "insert", "t0", "en", 1.0, None),
                ("a", 20, "e2", "patch", None, "fr", None, ["lang"]),
            ],
        ),
        "event_id",
        epoch_id="0",
    )
    seal_patches(t)
    names = {f.name for f in t.snapshot().schema.fields}
    assert CELL_VERS not in names and SET_COLS not in names
    assert _state(t)["a"] == ("t0", "fr", 1.0, TS(20))
    # row-LWW merges are legal again after sealing
    full = _events(
        spark, [("a", 30, "e3", "update", "t3", "de", 3.0, None)]
    ).drop(SET_COLS)
    merge_into(t, full, "event_id", epoch_id="1")
    assert _state(t)["a"] == ("t3", "de", 3.0, TS(30))


def test_cow_mode_patch_batch_matches_mor(spark, tmp_table_dir):
    import os

    from aus_land_data_etl_spark.cdc.apply import apply_batch, create_pages_table
    from aus_land_data_etl_spark.plans.driver_queries import patch_events_as_wal

    changes = patch_events_as_wal(spark, "/root/testdata/sf0.001").localCheckpoint(
        eager=True
    )
    halves = [changes.filter(F.col("source_pos") % 2 == i) for i in (0, 1)]
    t_cow = create_pages_table(spark, os.path.join(tmp_table_dir, "cow"), n_buckets=8)
    t_mor = create_pages_table(spark, os.path.join(tmp_table_dir, "mor"), n_buckets=8)
    for i, h in enumerate(halves):
        apply_batch(t_cow, h, epoch=i, mode="cow")
        apply_batch(t_mor, h, epoch=i, mode="mor")
    as_map = lambda t: {  # noqa: E731
        r["url"]: (r["text"], r["lang"], r["event_id"])
        for r in read_current(t).collect()
    }
    cow = as_map(t_cow)
    assert cow == as_map(t_mor) and cow


def test_incremental_view_over_patch_table(spark, tmp_table_dir):
    """The full composition: per-cell CDC-in + changelog preimages +
    retractable aggregate maintenance.  A lang-count view over a patch
    table must track cell-only transitions (en→fr moves a key across
    groups) exactly."""
    import os

    from aus_land_data_etl_spark.lake.incremental import AggSpec, AggView

    t = _mk_table(spark, tmp_table_dir)
    view = AggView.create(
        spark,
        os.path.join(tmp_table_dir, "view"),
        source=t,
        keys=["lang"],
        aggs=[AggSpec("n", "count")],
    )
    merge_into(
        t,
        _events(
            spark,
            [
                ("a", 10, "e1", "insert", "t0", "en", 1.0, None),
                ("b", 10, "e2", "insert", "b0", "en", 2.0, None),
                ("c", 10, "e3", "insert", "c0", "fr", 3.0, None),
            ],
        ),
        "event_id",
        epoch_id="0",
    )
    view.refresh()
    # a cell-only patch moves 'a' from en to fr; a delete removes 'c'
    merge_into(
        t,
        _events(
            spark,
            [
                ("a", 20, "e4", "patch", None, "fr", None, ["lang"]),
                ("c", 20, "e5", "delete", None, None, None, None),
            ],
        ),
        "event_id",
        epoch_id="1",
    )
    view.refresh()
    got = {
        r["lang"]: r["n"] for r in view.read().select("lang", "n").collect()
    }
    assert got == {"en": 1, "fr": 1}


def test_projection_pushdown_below_resolution(spark, tmp_table_dir):
    """read_resolved(columns=...) resolves only the named cells: values
    match the full read, and the pruned column never reaches the scan
    (ReadSchema excludes it) on BOTH the patch and row-LWW paths."""
    import io
    from contextlib import redirect_stdout

    from aus_land_data_etl_spark.lake.merge import delta_merge_into

    t = _mk_table(spark, tmp_table_dir)
    delta_merge_into(
        t,
        _events(
            spark,
            [
                ("a", 10, "e1", "insert", "big-text", "en", 1.0, None),
                ("a", 20, "e2", "patch", None, "fr", None, ["lang"]),
                ("b", 10, "e3", "insert", "other", "de", 2.0, None),
            ],
        ),
        "event_id",
        epoch_id="0",
        compact_depth=99,
    )
    assert t.snapshot().delta_files  # exercising the resolving path
    slim = t.read_resolved(columns=["lang"])
    assert "text" not in slim.columns
    got = {
        r["url"]: r["lang"]
        for r in slim.filter(~F.col("is_deleted")).collect()
    }
    assert got == {"a": "fr", "b": "de"}
    buf = io.StringIO()
    with redirect_stdout(buf):
        slim.explain("formatted")
    plan = buf.getvalue()
    for line in plan.splitlines():
        if "ReadSchema" in line:
            assert "text" not in line, line
    # point lookup rides the same projection
    row = t.lookup("a", columns=["lang"]).collect()[0]
    assert row["lang"] == "fr" and "text" not in row.asDict()


def test_type_widening_through_delta_paths(spark, tmp_table_dir):
    """int→long widening shipped by a MoR batch must evolve the snapshot
    schema (old int files read as long) instead of writing int64 files
    under an int32 schema — and a later NARROWER batch upcasts into the
    widened type."""
    import datetime as _dt
    import os

    from aus_land_data_etl_spark.lake.table import LakeTable

    D = _dt.datetime
    schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("warc_ts", T.TimestampType()),
            T.StructField("event_id", T.StringType()),
            T.StructField("score", T.IntegerType()),
        ]
    )
    ev = "url string, warc_ts timestamp, event_id string, op string, score "
    for name, cells in (("row", ""), ("patch", ", _set_cols array<string>")):
        t = LakeTable.create(
            spark, os.path.join(tmp_table_dir, name), schema=schema,
            key_col="url", version_col="warc_ts", n_buckets=2,
        )
        # the patch variant's batches carry _set_cols (all NULL: full images)
        extra = (None,) if cells else ()
        b1 = spark.createDataFrame(
            [("a", D(2024, 1, 1), "e1", "insert", 5, *extra)], ev + "int" + cells
        )
        delta_merge_into(t, b1, "event_id", epoch_id="0", compact_depth=99)
        big = 5_000_000_000
        b2 = spark.createDataFrame(
            [("b", D(2024, 1, 2), "e2", "insert", big, *extra)], ev + "long" + cells
        )
        delta_merge_into(t, b2, "event_id", epoch_id="1", compact_depth=99)
        assert (
            dict((f.name, f.dataType.typeName()) for f in t.snapshot().schema.fields)[
                "score"
            ]
            == "long"
        )
        b3 = spark.createDataFrame(  # narrower batch after widening
            [("c", D(2024, 1, 3), "e3", "insert", 7, *extra)], ev + "int" + cells
        )
        delta_merge_into(t, b3, "event_id", epoch_id="2", compact_depth=99)
        got = {
            r["url"]: r["score"] for r in read_current(t).collect()
        }
        assert got == {"a": 5, "b": big, "c": 7}, name


def test_row_lww_guard_on_unfolded_mor_patch_table(spark, tmp_table_dir):
    """A merge-on-read patch table BEFORE its first fold carries only
    _set_cols in its snapshot schema (_cvers is materialised by
    resolution).  A full-image batch on it must still resolve per cell
    through either merge — a whole-row LWW would null every cell a
    winning patch didn't name — and land its own cells at its own
    version."""
    import os

    for name, merge in (("cow", merge_into), ("mor", delta_merge_into)):
        t = _mk_table(spark, os.path.join(tmp_table_dir, name))
        delta_merge_into(
            t,
            _events(
                spark,
                [
                    ("a", 10, "e1", "insert", "x", "en", 1.0, None),
                    ("a", 20, "e2", "patch", None, "fr", None, ["lang"]),
                ],
            ),
            "event_id",
            epoch_id="0",
            compact_depth=99,  # never fold: snapshot schema has no _cvers yet
        )
        names = {f.name for f in t.snapshot().schema.fields}
        assert SET_COLS in names and CELL_VERS not in names  # the trap setup
        full = _events(
            spark, [("a", 30, "e3", "update", "y", "de", 2.0, None)]
        ).drop(SET_COLS)
        merge(t, full, "event_id", epoch_id="1")
        assert _state(t)["a"] == ("y", "de", 2.0, TS(30)), name
        assert SET_COLS in t.read().columns, name
        assert CELL_VERS in t.read_resolved().columns, name


@pytest.mark.parametrize("entry", ["cow", "mor"])
def test_null_set_cols_patch_is_empty_set_not_full_image(
    spark, tmp_table_dir, entry
):
    """ADVICE round-3 (low): a malformed patch with NULL _set_cols
    reaching the merge entry points directly (bypassing
    prepare_patch_batch's coalesce) must determine NOTHING — previously
    it became a full image and nulled every unnamed cell."""
    t = _mk_table(spark, tmp_table_dir)
    merge = merge_into if entry == "cow" else delta_merge_into
    merge(
        t,
        _events(spark, [("a", 10, "e1", "insert", "x", "en", 1.0, None)]),
        "event_id",
        epoch_id="0",
    )
    # newest event, op=patch, set_cols NULL
    merge(
        t,
        _events(spark, [("a", 20, "e2", "patch", None, None, None, None)]),
        "event_id",
        epoch_id="1",
    )
    st = _state(t)["a"]
    # payload cells keep their e1 values; only the row version advances
    assert st == ("x", "en", 1.0, TS(20)), st
