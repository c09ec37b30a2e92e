"""Leveled delta folding (VERDICT r1 task 3): fanout deltas are clustered
into per-bucket layers first, and a threshold fold rewrites ONLY buckets
with deep stacks — untouched buckets' base files stay byte-identical.
"""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aus_land_data_etl_spark.lake.merge import (
    cluster_fanout_deltas,
    delta_merge_into,
    fold_deltas,
    read_current,
)
from aus_land_data_etl_spark.lake.table import LakeTable, bucket_expr

SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("event_id", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
    ]
)

N_BUCKETS = 4


def _rows(urls, ts, text):
    return [
        (u, dt.datetime(2024, 1, 1, 0, 0, ts), f"e-{u}-{ts}", text) for u in urls
    ]


def _batch(spark, urls, ts, text, op="update"):
    df = spark.createDataFrame(_rows(urls, ts, text), SCHEMA)
    return df.withColumn("op", F.lit(op))


def _urls_by_bucket(spark):
    """Probe urls into their buckets so the test can target specific ones."""
    urls = [f"https://d{i}.example.com/p/{i}" for i in range(40)]
    df = spark.createDataFrame([(u,) for u in urls], "url string").select(
        "url", bucket_expr("url", N_BUCKETS).alias("b")
    )
    by_bucket: dict[int, list[str]] = {}
    for r in df.collect():
        by_bucket.setdefault(int(r["b"]), []).append(r["url"])
    assert len(by_bucket) == N_BUCKETS
    return by_bucket


def _file_bytes(root, rels):
    return {rel: open(os.path.join(root, rel), "rb").read() for rel in rels}


@pytest.fixture()
def table(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("leveled"))
    t = LakeTable.create(
        spark, d, schema=SCHEMA, key_col="url", version_col="warc_ts",
        n_buckets=N_BUCKETS,
    )
    return t


def test_threshold_fold_rewrites_only_deep_stacks(spark, table):
    by_bucket = _urls_by_bucket(spark)
    hot_b, cold_b = sorted(by_bucket)[:2]
    hot, cold = by_bucket[hot_b], by_bucket[cold_b]

    table.overwrite(
        _batch(spark, hot + cold, 1, "base").drop("op")
    )
    # 3 delta layers on the hot bucket, 1 on the cold bucket (each fanout
    # append clustered into a per-bucket layer before the next)
    for ts in (2, 3, 4):
        delta_merge_into(
            table, _batch(spark, hot, ts, f"hot-{ts}"), "event_id",
            compact_depth=100,
        )
        cluster_fanout_deltas(table, "event_id")
    delta_merge_into(
        table, _batch(spark, cold, 5, "cold-5"), "event_id", compact_depth=100
    )
    cluster_fanout_deltas(table, "event_id")
    snap = table.snapshot()
    assert len(snap.delta_files[str(hot_b)]) == 3
    assert len(snap.delta_files[str(cold_b)]) == 1
    cold_base = list(snap.bucket_files[str(cold_b)])
    cold_bytes = _file_bytes(table.root, cold_base)
    expected = {
        (r["url"], r["text"]) for r in read_current(table).collect()
    }

    fold_deltas(table, "event_id", min_stack=3)

    snap2 = table.snapshot()
    # hot bucket folded: stack gone, base rewritten
    assert str(hot_b) not in snap2.delta_files
    assert snap2.bucket_files[str(hot_b)] != snap.bucket_files[str(hot_b)]
    # cold bucket untouched: same stack, same base paths, SAME BYTES
    assert len(snap2.delta_files[str(cold_b)]) == 1
    assert snap2.bucket_files[str(cold_b)] == cold_base
    assert _file_bytes(table.root, cold_base) == cold_bytes
    # state unchanged by the fold
    got = {(r["url"], r["text"]) for r in read_current(table).collect()}
    assert got == expected
    # depth now reflects the deepest remaining stack
    assert table.max_delta_depth() == 1


def test_fanout_fold_below_threshold_only_clusters(spark, table):
    by_bucket = _urls_by_bucket(spark)
    all_urls = [u for us in by_bucket.values() for u in us]
    table.overwrite(_batch(spark, all_urls, 1, "base").drop("op"))
    base_files = {
        b: list(fs) for b, fs in table.snapshot().bucket_files.items()
    }
    for ts in (2, 3):
        delta_merge_into(
            table, _batch(spark, all_urls, ts, f"fan-{ts}"), "event_id",
            compact_depth=100,
        )
    assert "*" in table.snapshot().delta_files
    expected = {(r["url"], r["text"]) for r in read_current(table).collect()}

    fold_deltas(table, "event_id", min_stack=3)

    snap = table.snapshot()
    # clustered: fanout gone, one per-bucket layer, NO base rewrite at all
    assert "*" not in snap.delta_files
    assert all(len(fs) == 1 for fs in snap.delta_files.values())
    assert {b: list(fs) for b, fs in snap.bucket_files.items()} == base_files
    got = {(r["url"], r["text"]) for r in read_current(table).collect()}
    assert got == expected
    # a full fold still clears everything (maintenance path)
    fold_deltas(table, "event_id")
    assert table.max_delta_depth() == 0
    assert not table.snapshot().delta_files
