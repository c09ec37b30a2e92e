"""LakeTable: atomic snapshots, time travel, bucket pruning."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from aus_land_data_etl_spark.lake.table import BUCKET_COL, LakeTable, bucket_expr

SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("text", T.StringType(), True),
    ]
)


def _mkdf(spark, n, tag):
    return spark.range(n).select(
        F.concat(F.lit("u"), F.col("id").cast("string")).alias("url"),
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id")).alias("warc_ts"),
        F.concat(F.lit(tag), F.col("id").cast("string")).alias("text"),
    )


def test_create_read_empty(spark, tmp_table_dir):
    t = LakeTable.create(spark, tmp_table_dir, SCHEMA, "url", "warc_ts", n_buckets=4)
    assert t.current_version() == 0
    assert t.read().count() == 0
    assert t.read().schema == SCHEMA


def test_overwrite_and_time_travel(spark, tmp_table_dir):
    t = LakeTable.create(spark, tmp_table_dir, SCHEMA, "url", "warc_ts", n_buckets=4)
    t.overwrite(_mkdf(spark, 100, "a"))
    assert t.read().count() == 100
    t.overwrite(_mkdf(spark, 50, "b"))
    assert t.current_version() == 2
    assert t.read().count() == 50
    assert t.read(version=1).count() == 100  # time travel
    assert t.read(version=1).filter(F.col("text").startswith("a")).count() == 100


def test_bucket_pruning_reads_subset(spark, tmp_table_dir):
    t = LakeTable.create(spark, tmp_table_dir, SCHEMA, "url", "warc_ts", n_buckets=4)
    df = _mkdf(spark, 200, "x")
    t.overwrite(df)
    # every row read via its own bucket must reproduce the full table
    total = 0
    for b in range(4):
        part = t.read(buckets=[b])
        # rows in bucket b must all hash to b
        bad = part.withColumn("b", bucket_expr("url", 4)).filter(F.col("b") != b)
        assert bad.count() == 0
        total += part.count()
    assert total == 200
    # pruned read touches fewer files than a full read
    snap = t.snapshot()
    assert len(snap.bucket_files) == 4


def test_commit_buckets_copy_on_write(spark, tmp_table_dir):
    t = LakeTable.create(spark, tmp_table_dir, SCHEMA, "url", "warc_ts", n_buckets=4)
    t.overwrite(_mkdf(spark, 100, "a"))
    v1 = t.snapshot()
    # replace only bucket 0 with an empty set (delete all its rows)
    empty = spark.createDataFrame([], SCHEMA).withColumn(
        BUCKET_COL, F.lit(0).cast("int")
    )
    t.commit_buckets(empty, touched_buckets=[0])
    v2 = t.snapshot()
    assert "0" not in v2.bucket_files
    # other buckets' files are untouched (no rewrite)
    for b in ("1", "2", "3"):
        assert v2.bucket_files[b] == v1.bucket_files[b]


def test_epoch_idempotency(spark, tmp_table_dir):
    t = LakeTable.create(spark, tmp_table_dir, SCHEMA, "url", "warc_ts", n_buckets=2)
    df = _mkdf(spark, 10, "a").withColumn(BUCKET_COL, bucket_expr("url", 2))
    v = t.commit_buckets(df, touched_buckets=[0, 1], epoch_id="e1")
    v2 = t.commit_buckets(df, touched_buckets=[0, 1], epoch_id="e1")
    assert v == v2  # second commit is a no-op
    assert t.snapshot().recent_epochs == ["e1"]


def test_partial_data_write_without_commit_is_invisible(spark, tmp_table_dir):
    """Crash between data write and snapshot commit: orphan data files must
    not change what readers see (the snapshot pointer is the only source
    of truth), and the next commit proceeds normally."""
    t = LakeTable.create(spark, tmp_table_dir, SCHEMA, "url", "warc_ts", n_buckets=4)
    t.overwrite(_mkdf(spark, 10, "a"))
    v = t.current_version()

    # simulate the crash: data files land for a would-be snapshot that is
    # never committed
    orphan = _mkdf(spark, 3, "ghost").withColumn(
        BUCKET_COL, bucket_expr("url", 4)
    )
    t._write_data(orphan.repartition(4, "url"), t.snapshot())

    assert t.current_version() == v
    assert t.read().filter(F.col("text").startswith("ghost")).count() == 0
    assert t.read().count() == 10
    # and the table keeps working
    t.overwrite(_mkdf(spark, 5, "b"))
    assert t.read().count() == 5


def test_losing_concurrent_committer_fails_cleanly(spark, tmp_table_dir):
    """Two handles committing onto the same snapshot: the descriptor
    write of the O_EXCL race's loser raises instead of overwriting the
    winner's snapshot, and the table stays at the winner's state.  This
    is the primitive under the commit loop, which turns the raise into a
    rebase or a ``ConflictError`` (tests/test_concurrency.py)."""
    import pytest as _pytest

    from aus_land_data_etl_spark.lake.table import Snapshot

    t1 = LakeTable.create(spark, tmp_table_dir, SCHEMA, "url", "warc_ts", n_buckets=4)
    t2 = LakeTable(spark, tmp_table_dir)  # second handle, same root
    t1.overwrite(_mkdf(spark, 4, "a"))
    base_version = t1.current_version()

    # t2 commits concurrently and claims the next version...
    t2.overwrite(_mkdf(spark, 6, "b"))
    # ...so t1's attempt to claim that same version number must fail
    snap = t1.snapshot(base_version)
    stale = Snapshot(
        version=base_version + 1,  # already taken by t2
        schema_json=snap.schema_json,
        n_buckets=snap.n_buckets,
        key_col=snap.key_col,
        version_col=snap.version_col,
        bucket_files=snap.bucket_files,
    )
    with _pytest.raises(FileExistsError):
        t1._write_snapshot(stale)
    # winner's state intact
    assert t1.read().count() == 6
    assert t1.read().filter(F.col("text").startswith("b")).count() == 6


def test_key_bucket_matches_bucket_expr(spark, tmp_table_dir):
    t = LakeTable.create(spark, tmp_table_dir, SCHEMA, "url", "warc_ts", n_buckets=8)
    want = {
        r["url"]: r["b"]
        for r in _mkdf(spark, 20, "a")
        .select("url", bucket_expr("url", 8).alias("b"))
        .collect()
    }
    for url, b in list(want.items())[:5]:
        assert t.key_bucket(url) == b


def test_lookup_point_read_prunes_to_one_bucket(spark, tmp_table_dir):
    """LakeTable.lookup: the serving-side point read opens only the key's
    bucket (O(table/n_buckets)) and returns the LWW-current row."""
    import tempfile

    from aus_land_data_etl_spark.cdc.apply import apply_batch, create_pages_table
    from aus_land_data_etl_spark.cdc.generator import generate_events

    t = create_pages_table(spark, tmp_table_dir, n_buckets=8)
    ev = generate_events(spark, 3000, seed=11)
    for e in range(3):
        apply_batch(
            t,
            ev.filter(F.pmod(F.col("source_pos"), F.lit(3)) == e),
            epoch=e,
            mode="cow",  # base bucket files, so bucket pruning is observable
        )
    key = ev.select("url").first()["url"]

    got = t.lookup(key)
    want = t.read_resolved().filter(F.col("url") == key)
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want.collect()]
    assert got.count() == 1

    # pruning: only the key's bucket base files (+ any fanout deltas) opened
    snap = t.snapshot()
    b = t.key_bucket(key)
    allowed = set(snap.bucket_files.get(str(b), []))
    for bk, fs in snap.delta_files.items():
        if bk in ("*", str(b)):
            allowed.update(fs)
    import os

    opened = {os.path.relpath(f.replace("file:", ""), t.root) for f in got.inputFiles()}
    n_total = sum(len(f) for f in snap.bucket_files.values()) + sum(
        len(f) for f in snap.delta_files.values()
    )
    assert opened <= allowed
    assert len(opened) < n_total


def test_bloom_cols_property_adds_filter_bytes(spark, tmp_path):
    """bloom_cols: same rows written with and without the property — the
    bloom-filtered file is strictly larger (the filter bitmaps are the
    only difference), and both read back identically."""
    df = _mkdf(spark, 5000, "x")
    import os

    sizes = {}
    for name, props in (("plain", {}), ("bloom", {"bloom_cols": ["url"]})):
        root = str(tmp_path / name)
        t = LakeTable.create(
            spark, root, SCHEMA, "url", "warc_ts", n_buckets=1, properties=props
        )
        t.overwrite(df.coalesce(1))
        snap = t.snapshot()
        files = [os.path.join(root, f) for fs in snap.bucket_files.values() for f in fs]
        assert len(files) == 1
        sizes[name] = os.path.getsize(files[0])
        assert t.read().count() == 5000
    assert sizes["bloom"] > sizes["plain"]


def test_set_properties_metadata_only_commit(spark, tmp_table_dir):
    """ALTER TABLE SET TBLPROPERTIES analog: a metadata-only commit that
    touches no data files; stats_cols added late start being swept at the
    NEXT data commit, old files stay (conservatively) unpruned, and time
    travel sees the old properties."""
    t = LakeTable.create(spark, tmp_table_dir, SCHEMA, "url", "warc_ts", n_buckets=2)
    t.overwrite(_mkdf(spark, 100, "a"))
    v1 = t.current_version()
    files_v1 = dict(t.snapshot().bucket_files)

    v2 = t.set_properties({"stats_cols": ["warc_ts"], "note": "x"})
    assert v2 == v1 + 1
    snap = t.snapshot()
    assert snap.properties["stats_cols"] == ["warc_ts"]
    assert snap.bucket_files == files_v1  # no data rewrite
    assert t.read().count() == 100
    # files written BEFORE the property change carry no stats → kept
    kept, skipped = t.plan_scan(
        predicates=[("warc_ts", "<", __import__("datetime").datetime(1970, 1, 1))]
    )
    assert skipped == []
    # time travel: the pre-change snapshot keeps its own properties
    assert "stats_cols" not in t.snapshot(v1).properties

    # the NEXT data commit sweeps stats → an impossible window prunes all
    t.overwrite(_mkdf(spark, 100, "b"))
    kept, skipped = t.plan_scan(
        predicates=[("warc_ts", "<", __import__("datetime").datetime(1970, 1, 1))]
    )
    assert kept == [] and skipped

    # None removes a property
    t.set_properties({"note": None})
    assert "note" not in t.snapshot().properties
