"""Z-order clustering (lake/zorder.py): multi-dimensional zonemap pruning.

Pins four contracts:

1. the Morton key is pure Catalyst (no Python-UDF node) and
   deterministic;
2. a clustered rewrite lets ``plan_scan`` skip files on EVERY clustered
   dimension — including the second one, which the lexicographic
   ``sort_cols`` layout can never prune (the explicit baseline here);
3. pruning stays *advisory but sound*: pruned-scan + row filter ==
   full-scan + row filter, NULL rows included;
4. the guards: unquantizable column types and z columns missing from
   ``stats_cols`` fail fast.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aus_land_data_etl_spark.lake.table import LakeTable
from aus_land_data_etl_spark.lake.zorder import (
    cluster_zorder,
    cluster_zorder_buckets,
    quantile_bounds,
    zorder_key,
)

SCHEMA = T.StructType(
    [
        T.StructField("k", T.StringType(), False),
        T.StructField("a", T.LongType(), True),
        T.StructField("b", T.LongType(), True),
    ]
)


@pytest.fixture()
def grid(spark):
    """4096 rows over a 64x64 grid; a and b are decorrelated (b strides
    by 37, coprime with 64) so lexicographic clustering by a says nothing
    about b."""
    rows = [(f"k{i:05d}", i % 64, (i * 37) % 64) for i in range(4096)]
    # a handful of NULL rows — they must bucket to the curve origin and
    # never break pruning soundness
    rows += [(f"n{i}", None, None) for i in range(8)]
    return spark.createDataFrame(rows, SCHEMA)


def _make_table(spark, tmp_path, grid):
    t = LakeTable.create(
        spark,
        str(tmp_path / "zt"),
        schema=SCHEMA,
        key_col="k",
        version_col="a",
        n_buckets=4,
        properties={"stats_cols": ["a", "b"]},
    )
    t.overwrite(grid)
    return t


def _values(df, lo, hi, col):
    return sorted(
        (r.k, r.a, r.b)
        for r in df.filter(
            (F.col(col) >= F.lit(lo)) & (F.col(col) < F.lit(hi))
        ).collect()
    )


def test_zorder_key_pure_catalyst_and_deterministic(spark, grid):
    bounds = quantile_bounds(grid, ["a", "b"], bits=4)
    keyed = grid.select("k", zorder_key(bounds, bits=4).alias("z"))
    plan = keyed._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    first = {r.k: r.z for r in keyed.collect()}
    second = {r.k: r.z for r in keyed.collect()}
    assert first == second
    # interleave sanity: 4-bit indices over 2 dims fit in 8 bits
    assert all(0 <= z < 256 for z in first.values())


def test_cluster_zorder_prunes_both_dimensions(spark, tmp_path, grid):
    t = _make_table(spark, tmp_path, grid)

    # baseline: hash-bucketed files each span the full a AND b ranges —
    # nothing can be skipped on either dimension
    for col in ("a", "b"):
        kept, skipped = t.plan_scan(predicates=[(col, "between", (10, 15))])
        assert skipped == [], f"unexpected pre-zorder pruning on {col}"

    v = cluster_zorder(t, ["a", "b"], bits=6, files_per_bucket=8)
    assert v == t.current_version()
    snap = t.snapshot()
    n_files = sum(len(fs) for fs in snap.bucket_files.values())
    assert n_files > snap.n_buckets  # bucket subdivision actually happened

    # effectiveness: a narrow window on EITHER dimension now skips files
    for col in ("a", "b"):
        kept, skipped = t.plan_scan(predicates=[(col, "between", (10, 15))])
        assert skipped, f"z-order skipped nothing on {col}"
        assert kept, f"z-order kept nothing on {col}"

    # soundness: pruned read + row filter == full read + row filter
    for col in ("a", "b"):
        preds = [(col, ">=", 10), (col, "<", 16)]
        pruned = t.read(predicates=preds)
        full = t.read()
        assert _values(pruned, 10, 16, col) == _values(full, 10, 16, col)

    # hash bucketing preserved: every key still lands in its bucket dir
    assert set(snap.bucket_files) <= {str(i) for i in range(snap.n_buckets)}


def test_cluster_zorder_sound_with_nulls(spark, tmp_path, grid):
    t = _make_table(spark, tmp_path, grid)
    cluster_zorder(t, ["a", "b"], bits=5, files_per_bucket=4)
    # NULL rows never match a range row-filter; totals must still add up
    total = t.read().count()
    assert total == 4096 + 8
    pruned = t.read(predicates=[("a", ">=", 0)])
    matched = pruned.filter(F.col("a") >= 0).count()
    assert matched == 4096


def test_cluster_zorder_guards(spark, tmp_path, grid):
    t = _make_table(spark, tmp_path, grid)
    with pytest.raises(ValueError, match="stats_cols"):
        cluster_zorder(t, ["a", "k"])  # k not a stats column
    nested = grid.withColumn("arr", F.array("a"))
    with pytest.raises(ValueError, match="type"):
        quantile_bounds(nested, ["arr"])  # nested: no quantile quantizer
    with pytest.raises(ValueError, match="bits"):
        quantile_bounds(grid, ["a"], bits=0)


# --- string dimensions -------------------------------------------------


def test_string_rank_proxy_order_preserving(spark):
    """_rank_expr's numeric order == bytewise order on the 6-byte prefix
    (the contract that makes approxQuantile boundaries meaningful)."""
    from aus_land_data_etl_spark.lake.zorder import _rank_expr

    vals = ["", "a", "aa", "ab", "az", "baa", "z", "zz-longer-than-prefix",
            "zz-longer-then-same", "éclair", "中文前缀"]
    df = spark.createDataFrame([(v,) for v in vals], ["s"])
    got = {
        r.s: r.p
        for r in df.select("s", _rank_expr("s", T.StringType()).alias("p")).collect()
    }
    by_bytes = sorted(vals, key=lambda v: v.encode("utf-8")[:6])
    by_proxy = sorted(vals, key=lambda v: (got[v], v.encode("utf-8")[:6]))
    assert by_proxy == by_bytes
    # distinct 6-byte prefixes ⇒ distinct proxies (48 bits exact in double)
    prefixes = {v.encode("utf-8")[:6] for v in vals}
    assert len({got[v] for v in vals}) == len(prefixes)


def test_cluster_zorder_string_dimension(spark, tmp_path):
    """Z-order over (source:string, n:long) — an equality probe on the
    string dimension and a window on the numeric one must BOTH skip
    files, and pruned+filter == full+filter on the string probe."""
    schema = T.StructType(
        [
            T.StructField("k", T.StringType(), False),
            T.StructField("source", T.StringType(), True),
            T.StructField("n", T.LongType(), True),
        ]
    )
    sources = [f"host-{i:02d}.example" for i in range(16)]
    rows = [(f"k{i:05d}", sources[i % 16], (i * 37) % 64) for i in range(4096)]
    rows += [(f"n{i}", None, None) for i in range(4)]
    df = spark.createDataFrame(rows, schema)
    t = LakeTable.create(
        spark,
        str(tmp_path / "zs"),
        schema=schema,
        key_col="k",
        version_col="n",
        n_buckets=4,
        properties={"stats_cols": ["source", "n"]},
    )
    t.overwrite(df)
    for preds in ([("source", "==", "host-03.example")], [("n", "between", (10, 15))]):
        _, skipped = t.plan_scan(predicates=preds)
        assert skipped == [], f"unexpected pre-zorder pruning for {preds}"

    cluster_zorder(t, ["source", "n"], bits=5, files_per_bucket=8)

    for preds in ([("source", "==", "host-03.example")], [("n", "between", (10, 15))]):
        kept, skipped = t.plan_scan(predicates=preds)
        assert skipped, f"z-order skipped nothing for {preds}"
        assert kept, f"z-order kept nothing for {preds}"

    preds = [("source", "==", "host-03.example")]
    flt = F.col("source") == "host-03.example"
    pruned = sorted(
        (r.k, r.source, r.n) for r in t.read(predicates=preds).filter(flt).collect()
    )
    full = sorted((r.k, r.source, r.n) for r in t.read().filter(flt).collect())
    assert pruned == full and len(full) == 256


# --- incremental (bucket-scoped) z-order --------------------------------


def _file_bytes(root, rels):
    import os

    return {rel: open(os.path.join(root, rel), "rb").read() for rel in rels}


def test_incremental_zorder_explicit_buckets(spark, tmp_path, grid):
    """cluster_zorder_buckets([0,1]) subdivides ONLY those buckets; the
    others keep their files byte-for-byte, and state is unchanged."""
    t = _make_table(spark, tmp_path, grid)
    snap0 = t.snapshot()
    untouched = {
        b: list(snap0.bucket_files[b]) for b in ("2", "3") if b in snap0.bucket_files
    }
    before_bytes = {
        b: _file_bytes(t.root, fs) for b, fs in untouched.items()
    }
    expected = sorted((r.k, r.a, r.b) for r in t.read().collect())

    v = cluster_zorder_buckets(
        t, ["a", "b"], buckets=[0, 1], bits=5, files_per_bucket=4,
        tiebreak_col="k",
    )
    assert v == t.current_version()
    snap1 = t.snapshot()
    for b in ("0", "1"):
        assert len(snap1.bucket_files[b]) > 1, f"bucket {b} not subdivided"
    for b, fs in untouched.items():
        assert snap1.bucket_files[b] == fs
        assert _file_bytes(t.root, fs) == before_bytes[b]
    got = sorted((r.k, r.a, r.b) for r in t.read().collect())
    assert got == expected


def test_incremental_zorder_auto_selects_deep_stacks(spark, tmp_path_factory):
    """min_files auto-selection: only the bucket whose base+delta stack is
    deep gets re-clustered; the shallow bucket keeps base AND delta files
    byte-identical, and the resolved state is preserved."""
    import datetime as dt

    from aus_land_data_etl_spark.lake.merge import (
        cluster_fanout_deltas,
        delta_merge_into,
        read_current,
    )
    from aus_land_data_etl_spark.lake.table import bucket_expr

    schema = T.StructType(
        [
            T.StructField("url", T.StringType(), False),
            T.StructField("warc_ts", T.TimestampType(), False),
            T.StructField("event_id", T.StringType(), False),
            T.StructField("text", T.StringType(), True),
        ]
    )
    n_buckets = 4
    urls = [f"https://d{i}.example.com/p/{i}" for i in range(40)]
    probe = spark.createDataFrame([(u,) for u in urls], "url string").select(
        "url", bucket_expr("url", n_buckets).alias("b")
    )
    by_bucket: dict[int, list[str]] = {}
    for r in probe.collect():
        by_bucket.setdefault(int(r["b"]), []).append(r["url"])
    hot_b, cold_b = sorted(by_bucket)[:2]
    hot, cold = by_bucket[hot_b], by_bucket[cold_b]

    def batch(us, ts, tag, op="update"):
        # text varies PER URL in its first 6 bytes (u[8:14] = "d7.exa",
        # "d12.ex", ...) so the resolved rows span the string-proxy range
        # — constant text would make the z-key degenerate and the range
        # split a no-op
        rows = [
            (u, dt.datetime(2024, 1, 1, 0, 0, ts), f"e-{u}-{ts}",
             f"{u[8:14]}-{tag}-{ts}")
            for u in us
        ]
        return spark.createDataFrame(rows, schema).withColumn("op", F.lit(op))

    d = str(tmp_path_factory.mktemp("zinc"))
    t = LakeTable.create(
        spark, d, schema=schema, key_col="url", version_col="warc_ts",
        n_buckets=n_buckets,
        properties={"stats_cols": ["warc_ts", "text"]},
    )
    t.overwrite(batch(hot + cold, 1, "base").drop("op"))
    # per-bucket delta layers: each fanout append clustered before the next
    for ts in (2, 3, 4):
        delta_merge_into(
            t, batch(hot, ts, f"hot-{ts}"), "event_id", compact_depth=100
        )
        cluster_fanout_deltas(t, "event_id")
    delta_merge_into(t, batch(cold, 5, "cold-5"), "event_id", compact_depth=100)
    cluster_fanout_deltas(t, "event_id")
    snap = t.snapshot()
    cold_base = list(snap.bucket_files[str(cold_b)])
    cold_deltas = list(snap.delta_files[str(cold_b)])
    cold_bytes = _file_bytes(t.root, cold_base + cold_deltas)
    expected = {(r["url"], r["text"]) for r in read_current(t).collect()}
    texts = sorted(x[1] for x in expected if x[0] in set(hot))

    # hot stack = 1 base + 3 deltas = 4 files ≥ min_files; cold = 2 < 4
    cluster_zorder_buckets(
        t, ["warc_ts", "text"], min_files=4, bits=4, files_per_bucket=3
    )

    snap2 = t.snapshot()
    assert str(hot_b) not in snap2.delta_files  # stack consumed
    assert len(snap2.bucket_files[str(hot_b)]) > 1  # subdivided
    assert snap2.bucket_files[str(cold_b)] == cold_base
    assert snap2.delta_files[str(cold_b)] == cold_deltas
    assert _file_bytes(t.root, cold_base + cold_deltas) == cold_bytes
    got = {(r["url"], r["text"]) for r in read_current(t).collect()}
    assert got == expected

    # the re-clustered bucket's files carry tight zonemaps on the STRING
    # dimension: a point probe on one resolved text value skips files
    # inside the hot bucket (warc_ts is constant post-LWW, so the z order
    # is text order and files cover disjoint text ranges)
    _, skipped = t.plan_scan(
        buckets=[hot_b],
        predicates=[("text", "==", texts[0])],
    )
    assert skipped, "no files skipped inside the re-clustered bucket"


def test_incremental_zorder_noop_when_nothing_deep(spark, tmp_path, grid):
    t = _make_table(spark, tmp_path, grid)
    v0 = t.current_version()
    # every bucket has exactly 1 file < min_files=2 → no commit at all
    assert cluster_zorder_buckets(t, ["a", "b"], min_files=2) == v0
    assert t.current_version() == v0
    with pytest.raises(ValueError, match="out of range"):
        cluster_zorder_buckets(t, ["a", "b"], buckets=[99])


def test_read_current_pushes_predicates_when_folded(spark, tmp_path, grid):
    """Serving reads over the LIVE view file-skip on z-ordered dimensions
    once folded; with live deltas the predicates are ignored (pruning
    does not commute with LWW) but the filtered result stays identical."""
    from aus_land_data_etl_spark.lake.merge import (
        cluster_fanout_deltas,
        delta_merge_into,
        read_current,
    )

    t = _make_table(spark, tmp_path, grid)
    cluster_zorder(t, ["a", "b"], bits=5, files_per_bucket=4, tiebreak_col="k")

    preds = [("a", ">=", 10), ("a", "<", 16)]
    flt = (F.col("a") >= 10) & (F.col("a") < 16)
    pruned = read_current(t, tiebreak_col="k", predicates=preds).filter(flt)
    full = read_current(t, tiebreak_col="k")
    assert sorted((r.k, r.a, r.b) for r in pruned.collect()) == sorted(
        (r.k, r.a, r.b) for r in full.filter(flt).collect()
    )
    assert len(pruned.inputFiles()) < len(full.inputFiles())

    # live deltas: predicates ignored, result still exact
    upd = spark.createDataFrame(
        [("k00000", 10, 11)], SCHEMA
    ).withColumn("op", F.lit("update"))
    delta_merge_into(t, upd, "k", compact_depth=100)
    cluster_fanout_deltas(t, "k")
    got = sorted(
        (r.k, r.a, r.b)
        for r in read_current(t, tiebreak_col="k", predicates=preds)
        .filter(flt)
        .collect()
    )
    exp = sorted(
        (r.k, r.a, r.b)
        for r in read_current(t, tiebreak_col="k").filter(flt).collect()
    )
    assert got == exp
    assert ("k00000", 10, 11) in got
