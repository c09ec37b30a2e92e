"""Driver-side Murmur3 parity with Spark's F.hash + lookup job count.

Round-3 verdict #5: the serving-side point read must not launch a Spark
job just to compute the bucket id.  key_bucket is driver-side Python
Murmur3 now; these tests pin (a) exact hash parity with Spark over 1k
randomized keys per type, (b) that lookup() issues exactly one job.
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F
from pyspark.sql import types as T

from aus_land_data_etl_spark.cdc.apply import apply_batch, create_pages_table
from aus_land_data_etl_spark.cdc.generator import generate_events
from aus_land_data_etl_spark.lake.table import bucket_of, spark_hash_value


def test_driver_side_murmur3_parity_1k_keys(spark):
    """bucket_of (pure-Python Murmur3) must equal Spark's own
    pmod(hash(key), n) for 1k randomized keys per type: strings covering
    all byte-length residues mod 4 (Spark's tail handling) including
    multi-byte UTF-8 and empty, binary, int, long."""
    rng = random.Random(7)
    pieces = ["a", "é", "日", "\U0001f680", "-", "0", "/", " ", "x" * 7]
    strings = ["", "a", "ab", "abc", "abcd"] + [
        "".join(rng.choice(pieces) for _ in range(rng.randint(1, 24)))
        for _ in range(495)
    ]
    ints = [0, 1, -1, 2**31 - 1, -(2**31)] + [
        rng.randint(-(2**31), 2**31 - 1) for _ in range(245)
    ]
    longs = [0, -1, 2**63 - 1, -(2**63)] + [
        rng.randint(-(2**63), 2**63 - 1) for _ in range(246)
    ]
    n = 32

    sdf = spark.createDataFrame(
        [(s,) for s in strings],
        T.StructType([T.StructField("k", T.StringType())]),
    ).select(F.hash("k").alias("h"), F.pmod(F.hash("k"), F.lit(n)).alias("b"))
    for s, r in zip(strings, sdf.collect()):
        assert spark_hash_value(s, T.StringType()) == r["h"], repr(s)
        assert bucket_of(s, n, T.StringType()) == r["b"], repr(s)

    bdf = spark.createDataFrame(
        [(s.encode(),) for s in strings],
        T.StructType([T.StructField("k", T.BinaryType())]),
    ).select(F.hash("k").alias("h"))
    for s, r in zip(strings, bdf.collect()):
        assert spark_hash_value(s.encode(), T.BinaryType()) == r["h"], repr(s)

    idf = spark.createDataFrame(
        [(i,) for i in ints],
        T.StructType([T.StructField("k", T.IntegerType())]),
    ).select(F.hash("k").alias("h"))
    for i, r in zip(ints, idf.collect()):
        assert spark_hash_value(i, T.IntegerType()) == r["h"], i

    ldf = spark.createDataFrame(
        [(i,) for i in longs],
        T.StructType([T.StructField("k", T.LongType())]),
    ).select(F.hash("k").alias("h"))
    for i, r in zip(longs, ldf.collect()):
        assert spark_hash_value(i, T.LongType()) == r["h"], i


def test_lookup_issues_exactly_one_job(spark, tmp_table_dir):
    t = create_pages_table(spark, tmp_table_dir, n_buckets=8)
    ev = generate_events(spark, 500, seed=13)
    apply_batch(t, ev, epoch=0, mode="cow")
    key = ev.select("url").first()["url"]

    sc = spark.sparkContext

    def lookup_jobs(group):
        sc.setJobGroup(group, "point lookup job count")
        try:
            rows = t.lookup(key).collect()
            return rows, len(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setJobGroup("", "")

    rows, n_jobs = lookup_jobs("lookup-one-job")
    assert len(rows) == 1
    assert n_jobs == 1, f"lookup launched {n_jobs} jobs, expected 1"
    # over merge-on-read delta layers too: the key's rows resolve in one
    # partition, with no exchange
    apply_batch(t, generate_events(spark, 500, seed=14), epoch=1, mode="mor")
    rows, n_jobs = lookup_jobs("lookup-one-job-mor")
    assert t.snapshot().delta_files and len(rows) == 1
    assert n_jobs == 1, f"lookup over deltas launched {n_jobs} jobs, expected 1"


def test_timestamp_hash_parity(spark):
    """Timestamp keys hash as epoch microseconds (incl. pre-epoch and
    microsecond-precision values) — the driver-side path must match
    F.hash exactly or a timestamp-keyed lookup would silently open the
    wrong bucket."""
    import datetime as dt

    rng = random.Random(3)
    tss = [
        dt.datetime(1970, 1, 1),
        dt.datetime(2024, 2, 29, 23, 59, 59),
        dt.datetime(1969, 12, 31, 23, 0, 0),  # negative epoch micros
    ] + [
        dt.datetime(2000, 1, 1)
        + dt.timedelta(
            seconds=rng.randint(0, 10**9), microseconds=rng.randint(0, 999999)
        )
        for _ in range(60)
    ]
    tz = spark.conf.get("spark.sql.session.timeZone")
    df = spark.createDataFrame(
        [(t,) for t in tss],
        T.StructType([T.StructField("k", T.TimestampType())]),
    ).select(F.hash("k").alias("h"))
    for t, r in zip(tss, df.collect()):
        assert spark_hash_value(t, T.TimestampType(), session_tz=tz) == r["h"], t


def test_naive_timestamp_hash_honours_session_timezone(spark):
    """Round-4 ADVICE (medium): Spark interprets a naive timestamp in
    ``spark.sql.session.timeZone``; the driver-side mirror must apply the
    SAME zone or key_bucket opens the wrong bucket on non-UTC sessions.
    Pinned via SQL timestamp literals (defined to parse in the session
    zone), across a DST boundary, on a zone with a :30 offset."""
    import datetime as dt

    import pytest

    from aus_land_data_etl_spark.lake.table import bucket_of

    cases = [
        dt.datetime(2024, 1, 15, 10, 30, 0),       # AEDT (+11)
        dt.datetime(2024, 7, 15, 10, 30, 0),       # AEST (+10)
        dt.datetime(2024, 4, 7, 1, 59, 59),        # minute before fallback
        dt.datetime(2024, 10, 6, 3, 0, 0, 123456), # just after springfwd
    ]
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Australia/Sydney")
    try:
        for t in cases:
            lit = t.strftime("%Y-%m-%d %H:%M:%S") + (
                f".{t.microsecond:06d}" if t.microsecond else ""
            )
            h = spark.sql(f"SELECT hash(timestamp'{lit}') AS h").first()["h"]
            got = spark_hash_value(
                t, T.TimestampType(), session_tz="Australia/Sydney"
            )
            assert got == h, t
            # and the UTC interpretation must DIFFER (the old bug)
            assert got != spark_hash_value(
                t, T.TimestampType(), session_tz="UTC"
            ), t
        # without a session zone a naive key must refuse (Spark fallback
        # in key_bucket), never silently hash as UTC
        with pytest.raises(TypeError):
            bucket_of(cases[0], 8, T.TimestampType())
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_date_decimal_double_bool_hash_parity(spark):
    """Driver-side parity for the remaining plausible key types (round-4
    verdict #8): date (int32 days), decimal ≤18 digits (unscaled long),
    decimal >18 digits (BigInteger.toByteArray bytes), double/float
    (IEEE bits, -0.0 normalised), boolean."""
    import datetime as dt
    from decimal import Decimal

    rng = random.Random(11)
    dates = [
        dt.date(1970, 1, 1),
        dt.date(1969, 7, 20),
        dt.date(2400, 2, 29),
    ] + [
        dt.date(1970, 1, 1) + dt.timedelta(days=rng.randint(-40000, 40000))
        for _ in range(120)
    ]
    ddf = spark.createDataFrame(
        [(d,) for d in dates], T.StructType([T.StructField("k", T.DateType())])
    ).select(F.hash("k").alias("h"))
    for d, r in zip(dates, ddf.collect()):
        assert spark_hash_value(d, T.DateType()) == r["h"], d

    small = [Decimal("0.00"), Decimal("-1.50"), Decimal("12345678901234.56")] + [
        Decimal(rng.randint(-(10**15), 10**15)).scaleb(-2) for _ in range(120)
    ]
    t_small = T.DecimalType(18, 2)
    sdf = spark.createDataFrame(
        [(d,) for d in small], T.StructType([T.StructField("k", t_small)])
    ).select(F.hash("k").alias("h"))
    for d, r in zip(small, sdf.collect()):
        assert spark_hash_value(d, t_small) == r["h"], d

    wide = [Decimal("0"), Decimal("-0.0000000001")] + [
        Decimal(rng.randint(-(10**27), 10**27)).scaleb(-10) for _ in range(120)
    ]
    t_wide = T.DecimalType(38, 10)
    wdf = spark.createDataFrame(
        [(d,) for d in wide], T.StructType([T.StructField("k", t_wide)])
    ).select(F.hash("k").alias("h"))
    for d, r in zip(wide, wdf.collect()):
        assert spark_hash_value(d, t_wide) == r["h"], d

    dbls = [0.0, -0.0, 1.5, -2.25, float("inf"), float("-inf")] + [
        rng.uniform(-1e18, 1e18) for _ in range(120)
    ]
    fdf = spark.createDataFrame(
        [(v,) for v in dbls], T.StructType([T.StructField("k", T.DoubleType())])
    ).select(F.hash("k").alias("h"))
    for v, r in zip(dbls, fdf.collect()):
        assert spark_hash_value(v, T.DoubleType()) == r["h"], v

    for b in (True, False):
        h = spark.sql(f"SELECT hash({str(b).lower()}) AS h").first()["h"]
        assert spark_hash_value(b, T.BooleanType()) == h, b


def test_lookup_many_one_job_and_parity(spark, tmp_table_dir):
    """Batched point lookup: k keys resolve in ONE Spark job over the
    union of their (driver-side-computed) buckets, and the result equals
    the union of per-key lookup() rows."""
    t = create_pages_table(spark, tmp_table_dir, n_buckets=8)
    ev = generate_events(spark, 800, seed=17)
    apply_batch(t, ev, epoch=0, mode="cow")
    keys = [r["url"] for r in ev.select("url").distinct().limit(6).collect()]

    sc = spark.sparkContext
    group = "lookup-many-one-job"
    sc.setJobGroup(group, "batched point lookup job count")
    try:
        rows = t.lookup_many(keys).collect()
        n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setJobGroup("", "")
    assert n_jobs == 1, f"lookup_many launched {n_jobs} jobs, expected 1"
    got = {(r["url"], r["warc_ts"], r["event_id"]) for r in rows}
    exp = set()
    for k in keys:
        exp |= {
            (r["url"], r["warc_ts"], r["event_id"])
            for r in t.lookup(k).collect()
        }
    assert got == exp and len(got) >= len(keys) - 1  # tombstones may drop keys


def test_lookup_naive_timestamp_key_non_utc_session(spark, tmp_table_dir):
    """A naive datetime key on a non-UTC session is interpreted in the
    SESSION zone for BOTH the bucket choice and the row filter — the key
    is normalised to an aware instant once at the API boundary
    (LakeTable._normalize_key).  Left naive, F.lit/py4j would convert it
    in the OS zone while the driver hash used the session zone: right
    bucket, wrong instant, silently empty result."""
    import datetime as dt
    from zoneinfo import ZoneInfo

    from aus_land_data_etl_spark.lake.table import LakeTable

    schema = T.StructType(
        [
            T.StructField("ts_key", T.TimestampType()),
            T.StructField("v", T.LongType()),
            T.StructField("event_id", T.StringType()),
        ]
    )
    t = LakeTable.create(
        spark, tmp_table_dir, schema=schema, key_col="ts_key",
        version_col="v", n_buckets=8,
    )
    base = dt.datetime(2024, 1, 15, 10, 30, tzinfo=ZoneInfo("Australia/Sydney"))
    rows = [(base + dt.timedelta(hours=i), i, f"e{i}") for i in range(16)]
    t.overwrite(spark.createDataFrame(rows, schema))
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Australia/Sydney")
    try:
        for i in (0, 7, 15):
            # the Sydney wall clock of the stored instant, as a naive key
            naive = (base + dt.timedelta(hours=i)).replace(tzinfo=None)
            got = t.lookup(naive, tiebreak_col="event_id").collect()
            assert len(got) == 1 and got[0]["v"] == i, (i, got)
        many = t.lookup_many(
            [(base + dt.timedelta(hours=i)).replace(tzinfo=None) for i in (1, 2, 3)],
            tiebreak_col="event_id",
        ).collect()
        assert sorted(r["v"] for r in many) == [1, 2, 3]
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_decimal_key_inexact_scale_refuses(spark):
    """A decimal key with more fractional digits than the column scale
    cannot equal any stored value: the driver hash raises TypeError
    (key_bucket then falls back to the Spark evaluation, whose filter
    matches nothing) instead of silently half-even-rounding to a
    plausible-but-wrong bucket."""
    from decimal import Decimal

    import pytest

    with pytest.raises(TypeError, match="does not fit scale"):
        spark_hash_value(Decimal("1.005"), T.DecimalType(18, 2))
    # exact-scale values still hash (sanity)
    assert isinstance(spark_hash_value(Decimal("1.00"), T.DecimalType(18, 2)), int)
