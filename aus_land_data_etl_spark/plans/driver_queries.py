"""Driver-contract query inventory (SURVEY.md §2 → queries()/oracle_sql()).

Each entry is a named query over the driver's testdata tables with, where
SQL-expressible, an exactly-matching DuckDB oracle.  Column names are
aliased identically on both sides; float aggregates are rounded on both
sides; orderings that feed LIMIT/rank are total (explicit tiebreaks) so
the comparison is deterministic.

Queries that exercise the *engine itself* (cdc_engine_converge,
cdc_stream_pipeline) run the real lake/merge/streaming machinery on
tempdirs and are still oracle-checked where the semantics are
SQL-expressible (LWW final state is).
"""

from __future__ import annotations

import datetime as _datetime
import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aus_land_data_etl_spark.functions.core import code_label
from aus_land_data_etl_spark.functions.text import (
    lang_id,
    quality_score,
    token_count,
)
from aus_land_data_etl_spark.operators.agg import (
    first_by_order,
    ordered_string_agg,
    segment_stats,
)
from aus_land_data_etl_spark.operators.dedup import latest_per_key
from aus_land_data_etl_spark.operators.dedup_ml import (
    exact_duplicates,
    jaccard_all_pairs,
    minhash_dedup,
    simhash_candidates,
)
from aus_land_data_etl_spark.operators.explode import unnest_parallel_columns
from aus_land_data_etl_spark.operators.joins import anti_join, exists_flag, null_safe_join
from aus_land_data_etl_spark.operators.multimodal import extract_media_features
from aus_land_data_etl_spark.operators.similarity import (
    cosine_neardup_pairs,
    cosine_topk_bruteforce,
    cosine_topk_lsh,
    ivf_topk,
)

QueryFn = Callable[[SparkSession, str], DataFrame]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # The driver runs these in its own session: pin UTC so timestamp
    # results hash identically to the (UTC-naive) DuckDB oracle.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# CDC engine (the flagship): events table replayed through the real engine
# ---------------------------------------------------------------------------


def events_as_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map the driver's ``events`` table onto the CDC envelope:
    key=user_id, version=(ts, event_id), op: 'error' → delete, else upsert."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        F.col("event_id").cast("string").alias("event_id"),
        F.when(F.col("event_type") == "error", "delete")
        .otherwise("update")
        .alias("op"),
        F.concat(F.lit("user:"), F.col("user_id").cast("string")).alias("url"),
        F.col("ts").alias("warc_ts"),
        F.encode(
            F.concat(
                F.lit("<html><body><p>"),
                F.col("event_type"),
                F.lit(" value="),
                F.col("value").cast("string"),
                F.lit("</p></body></html>"),
            ),
            "UTF-8",
        ).alias("html"),
        F.lit(None).cast("string").alias("lang"),
        F.lit(1).alias("schema_version"),
        F.lit(None).cast("string").alias("payload_extra"),
        F.pmod(F.col("user_id"), F.lit(4)).cast("int").alias("source_partition"),
        F.col("event_id").cast("long").alias("source_offset"),
        F.lit("events.parquet").alias("source_file"),
        F.col("event_id").cast("long").alias("source_pos"),
    )


def q_cdc_engine_converge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the full batch CDC engine (LWW merge, tombstones, exactly-once)
    over the events table delivered as 4 micro-batches; return final state."""
    from aus_land_data_etl_spark.cdc.apply import apply_batch, create_pages_table
    from aus_land_data_etl_spark.lake.merge import read_current

    changes = events_as_changes(spark, sf_dir)
    d = tempfile.mkdtemp(prefix="cdc_q_")
    try:
        table = create_pages_table(spark, d, n_buckets=8)
        for i in range(4):
            batch = changes.filter(F.pmod(F.col("source_pos"), F.lit(4)) == i)
            apply_batch(table, batch, epoch=i)
        out = (
            read_current(table)
            .select(
                F.col("url"),
                F.col("warc_ts"),
                F.col("event_id").cast("long").alias("event_id"),
                F.col("text"),
            )
        )
        # Durable materialisation: localCheckpoint truncates lineage so no
        # recompute can ever touch the deleted tempdir (cache() blocks can
        # be evicted under memory pressure and would recompute from it).
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def q_lake_rollback_converge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recover-from-bad-deploy flow: apply 2 of 4 epochs, ``tag`` the
    good snapshot, apply the rest, ``rollback_to`` the tag (metadata-only
    — the new descriptor re-references the tagged version's files AND
    its exactly-once offset watermarks), then REPLAY the rolled-back
    epochs from the change stream.  Because rollback restored the
    watermarks, the replayed batches genuinely re-apply (not no-op) and
    the table reconverges to the same LWW final state — shares
    ``ORACLE_CDC_CONVERGE``.  A rollback that kept stale epoch state
    (replay skipped ⇒ missing rows) or restored files wrongly hashes
    differently."""
    from aus_land_data_etl_spark.cdc.apply import apply_batch, create_pages_table
    from aus_land_data_etl_spark.lake.merge import read_current

    changes = events_as_changes(spark, sf_dir)
    d = tempfile.mkdtemp(prefix="cdc_rb_")
    try:
        table = create_pages_table(spark, d, n_buckets=8)
        batches = [
            changes.filter(F.pmod(F.col("source_pos"), F.lit(4)) == i)
            for i in range(4)
        ]
        for i in (0, 1):
            apply_batch(table, batches[i], epoch=i)
        table.tag("known-good")
        for i in (2, 3):
            apply_batch(table, batches[i], epoch=i)
        table.rollback_to("known-good")
        for i in (2, 3):  # replay from the stream — must re-apply
            apply_batch(table, batches[i], epoch=i)
        out = read_current(table).select(
            F.col("url"),
            F.col("warc_ts"),
            F.col("event_id").cast("long").alias("event_id"),
            F.col("text"),
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def q_lake_wap_converge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-audit-publish: the whole change stream is staged as
    exactly-once commits on a BRANCH (main readers see none of it), the
    staged state is audited, then ``publish_branch`` fast-forwards main
    metadata-only — and replaying every batch against published main is
    a pure no-op because the exactly-once bookkeeping was published with
    the data.  Final main state shares ``ORACLE_CDC_CONVERGE``: a
    publish that lost a staged commit, leaked the fork's epoch state, or
    exposed partial data hashes differently."""
    from aus_land_data_etl_spark.cdc.apply import apply_batch, create_pages_table
    from aus_land_data_etl_spark.lake.merge import read_current

    changes = events_as_changes(spark, sf_dir)
    d = tempfile.mkdtemp(prefix="cdc_wap_")
    try:
        table = create_pages_table(spark, d, n_buckets=8)
        branch = table.create_branch("ingest-candidate")
        batches = [
            changes.filter(F.pmod(F.col("source_pos"), F.lit(4)) == i)
            for i in range(4)
        ]
        for i, b in enumerate(batches):
            apply_batch(branch, b, epoch=i)
        if table.current_version() != 0 or read_current(table).count() != 0:
            raise AssertionError("staged commits leaked into main")
        table.publish_branch("ingest-candidate")
        v = table.current_version()
        for i, b in enumerate(batches):  # replay: must no-op
            apply_batch(table, b, epoch=i)
        if table.current_version() != v:
            raise AssertionError("replay after publish was not exactly-once")
        out = read_current(table).select(
            F.col("url"),
            F.col("warc_ts"),
            F.col("event_id").cast("long").alias("event_id"),
            F.col("text"),
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(d, ignore_errors=True)


ORACLE_CDC_CONVERGE = """
WITH ranked AS (
  SELECT 'user:' || CAST(user_id AS VARCHAR) AS url,
         ts AS warc_ts,
         event_id,
         event_type,
         value,
         ROW_NUMBER() OVER (
           PARTITION BY user_id ORDER BY ts DESC, event_id DESC
         ) AS rn
  FROM events
)
SELECT url, warc_ts, event_id,
       event_type || ' value=' || CAST(value AS VARCHAR) AS text
FROM ranked
WHERE rn = 1 AND event_type <> 'error'
"""


def q_cdc_schema_evolution_converge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC convergence with MIXED schema versions — the north star's
    schema-evolution contract on the hard oracle path, not just unit
    tests.  ``schema_version = 1 + event_id % 4`` interleaves all four
    registry projections in every batch: v1 bare (lang falls back to the
    n-gram heuristic — deterministically 'und' on these marker-free
    texts), v2 typed ``lang`` column, v3 renames lang into the JSON
    side-car, v4 adds ``fetch_status`` (ALTER TABLE ADD COLUMN analog,
    promoted by the merge's superset union).  The LWW winner's version
    decides each row's projection; DuckDB recomputes the same projection
    arithmetically."""
    from aus_land_data_etl_spark.cdc.apply import apply_batch, create_pages_table
    from aus_land_data_etl_spark.lake.merge import read_current

    ev = _t(spark, sf_dir, "events")
    sv = (F.pmod(F.col("event_id"), F.lit(4)) + 1).cast("int")
    langval = F.element_at(
        F.array(F.lit("en"), F.lit("de"), F.lit("fr")),
        (F.pmod(F.col("user_id"), F.lit(3)) + 1).cast("int"),
    )
    fsval = (F.lit(200) + F.pmod(F.col("event_id"), F.lit(3)) * 100).cast("int")
    extra = F.when(
        sv == 3, F.to_json(F.struct(langval.alias("language")))
    ).when(
        sv == 4,
        F.to_json(
            F.struct(langval.alias("language"), fsval.alias("fetch_status"))
        ),
    )
    changes = ev.select(
        F.col("event_id").cast("string").alias("event_id"),
        F.when(F.col("event_type") == "error", "delete")
        .otherwise("update")
        .alias("op"),
        F.concat(F.lit("user:"), F.col("user_id").cast("string")).alias("url"),
        F.col("ts").alias("warc_ts"),
        F.encode(
            F.concat(
                F.lit("<html><body><p>"),
                F.col("event_type"),
                F.lit(" value="),
                F.col("value").cast("string"),
                F.lit("</p></body></html>"),
            ),
            "UTF-8",
        ).alias("html"),
        F.when(sv == 2, langval).otherwise(F.lit(None).cast("string")).alias("lang"),
        sv.alias("schema_version"),
        extra.alias("payload_extra"),
        F.pmod(F.col("user_id"), F.lit(4)).cast("int").alias("source_partition"),
        F.col("event_id").cast("long").alias("source_offset"),
        F.lit("events.parquet").alias("source_file"),
        F.col("event_id").cast("long").alias("source_pos"),
    )
    d = tempfile.mkdtemp(prefix="cdc_ev_")
    try:
        table = create_pages_table(spark, d, n_buckets=8)
        for i in range(4):
            batch = changes.filter(F.pmod(F.col("source_pos"), F.lit(4)) == i)
            apply_batch(table, batch, epoch=i)
        out = read_current(table).select(
            F.col("url"),
            F.col("warc_ts"),
            F.col("event_id").cast("long").alias("event_id"),
            F.col("lang"),
            F.col("fetch_status").cast("int").alias("fetch_status"),
            F.col("text"),
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(d, ignore_errors=True)


ORACLE_CDC_SCHEMA_EVOLUTION = """
WITH ranked AS (
  SELECT 'user:' || CAST(user_id AS VARCHAR) AS url,
         ts AS warc_ts,
         event_id,
         user_id,
         event_type,
         value,
         (event_id % 4) + 1 AS sv,
         ROW_NUMBER() OVER (
           PARTITION BY user_id ORDER BY ts DESC, event_id DESC
         ) AS rn
  FROM events
)
SELECT url, warc_ts, event_id,
       CASE WHEN sv = 1 THEN 'und'
            ELSE CASE (user_id % 3) + 1
                 WHEN 1 THEN 'en' WHEN 2 THEN 'de' ELSE 'fr' END
       END AS lang,
       CASE WHEN sv = 4 THEN CAST(200 + (event_id % 3) * 100 AS INT)
            ELSE NULL END AS fetch_status,
       event_type || ' value=' || CAST(value AS VARCHAR) AS text
FROM ranked
WHERE rn = 1 AND event_type <> 'error'
"""


def q_cdc_stream_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same convergence through the Structured Streaming shell (WAL file
    source, checkpointed, availableNow drain)."""
    from aus_land_data_etl_spark.cdc.apply import create_pages_table
    from aus_land_data_etl_spark.lake.merge import read_current
    from aus_land_data_etl_spark.streaming.runner import run_stream, write_event_log

    changes = events_as_changes(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="cdc_s_")
    try:
        wal, ckpt, tbl = (os.path.join(root, k) for k in ("wal", "ckpt", "tbl"))
        write_event_log(changes, wal, n_files=4)
        table = create_pages_table(spark, tbl, n_buckets=8)
        run_stream(spark, table, wal, ckpt, max_files_per_trigger=2)
        out = (
            read_current(table)
            .select(
                F.col("url"),
                F.col("warc_ts"),
                F.col("event_id").cast("long").alias("event_id"),
                F.col("text"),
            )
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ---------------------------------------------------------------------------
# Window operators (W1–W4)
# ---------------------------------------------------------------------------


def q_w1_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Completeness-ranked canonicalisation (reference W1,
    005_populate_lrs/001_setup.sql:30-58): rank by non-null payload count
    then recency; keep canonical rows."""
    ev = _t(spark, sf_dir, "events")
    completeness = (
        F.when(F.col("value").isNotNull(), 1).otherwise(0)
        + F.when(F.col("props").isNotNull(), 1).otherwise(0)
    )
    w = Window.partitionBy("user_id", "event_type").orderBy(
        completeness.desc(), F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", "ts")
    )


ORACLE_W1 = """
SELECT user_id, event_type, event_id, ts FROM (
  SELECT user_id, event_type, event_id, ts,
         ROW_NUMBER() OVER (
           PARTITION BY user_id, event_type
           ORDER BY (CASE WHEN value IS NOT NULL THEN 1 ELSE 0 END
                   + CASE WHEN props IS NOT NULL THEN 1 ELSE 0 END) DESC,
                    ts DESC, event_id DESC
         ) AS rn
  FROM events
) WHERE rn = 1
"""


def q_w3_latest_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT ON (customer) latest order (reference W3 pattern)."""
    orders = _t(spark, sf_dir, "orders")
    return latest_per_key(
        orders.select("o_custkey", "o_orderkey", "o_orderdate"),
        keys=["o_custkey"],
        order_by=[F.col("o_orderdate").desc(), F.col("o_orderkey").desc()],
    )


ORACLE_W3 = """
SELECT o_custkey, o_orderkey, o_orderdate FROM (
  SELECT o_custkey, o_orderkey, o_orderdate,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate DESC, o_orderkey DESC) rn
  FROM orders
) WHERE rn = 1
"""


def q_w4_ntile_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE work segmentation + per-segment stats (reference W4/A5)."""
    orders = _t(spark, sf_dir, "orders")
    return segment_stats(orders.select("o_orderkey"), "o_orderkey", 8)


ORACLE_W4 = """
SELECT segment, MIN(o_orderkey) AS seg_min, MAX(o_orderkey) AS seg_max,
       COUNT(*) AS seg_count
FROM (SELECT o_orderkey, NTILE(8) OVER (ORDER BY o_orderkey) AS segment
      FROM orders)
GROUP BY segment
"""


# ---------------------------------------------------------------------------
# Aggregations (A1–A3)
# ---------------------------------------------------------------------------


def q_a2_ordered_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered aggregation (reference A2: STRING_AGG ... ORDER BY position;
    first-by-order via min_by)."""
    li = _t(spark, sf_dir, "lineitem")
    # l_linenumber alone is not unique per order in this dataset — extend
    # the ordering to a total order so both engines agree (SURVEY §7.4.1:
    # ordered aggregation must sort by a *total* position).
    pos = F.col("l_linenumber") * 1_000_000 + F.col("l_partkey")
    first_pos = F.col("l_linenumber") * 1_000_000 + F.col("l_suppkey")
    return li.groupBy("l_orderkey").agg(
        ordered_string_agg(pos, F.col("l_partkey").cast("string"), ",").alias(
            "parts_in_order"
        ),
        first_by_order(first_pos, "l_suppkey").alias("first_supp"),
        F.count("*").alias("n_lines"),
    )


ORACLE_A2 = """
SELECT l_orderkey,
       STRING_AGG(CAST(l_partkey AS VARCHAR), ','
                  ORDER BY l_linenumber * 1000000 + l_partkey) AS parts_in_order,
       MIN_BY(l_suppkey, l_linenumber * 1000000 + l_suppkey) AS first_supp,
       COUNT(*) AS n_lines
FROM lineitem GROUP BY l_orderkey
"""


def q_a1_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collect-list aggregation (A1), emitted as a joined string so the
    cross-engine value hash is stable."""
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_custkey").agg(
        F.array_join(F.array_sort(F.collect_set("o_orderpriority")), "|").alias(
            "priorities"
        ),
        F.countDistinct("o_orderpriority").alias("n_priorities"),
    )


ORACLE_A1 = """
SELECT o_custkey,
       ARRAY_TO_STRING(LIST_SORT(LIST(DISTINCT o_orderpriority)), '|') AS priorities,
       COUNT(DISTINCT o_orderpriority) AS n_priorities
FROM orders GROUP BY o_custkey
"""


def q_a3_distinct_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT DISTINCT dimension extraction (A3/K2 upsert source)."""
    part = _t(spark, sf_dir, "part")
    return part.select(F.upper(F.col("p_brand")).alias("brand"), "p_type").distinct()


ORACLE_A3 = "SELECT DISTINCT UPPER(p_brand) AS brand, p_type FROM part"


# ---------------------------------------------------------------------------
# Set ops / joins (U1, J1–J5)
# ---------------------------------------------------------------------------


def q_u1_distinct_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup union across heterogeneous sources (U1)."""
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey"), F.lit("customer").alias("src")
    )
    supp = _t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey"), F.lit("supplier").alias("src")
    )
    return cust.unionByName(supp).distinct()


ORACLE_U1 = """
SELECT c_nationkey AS nationkey, 'customer' AS src FROM customer
UNION
SELECT s_nationkey AS nationkey, 'supplier' AS src FROM supplier
"""


def q_j3_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join (J3: NOT EXISTS)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return anti_join(cust.select("c_custkey", "c_name"), orders, ["c_custkey"])


ORACLE_J3 = """
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""


def q_j4_exists_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join-as-flag (J4: seen_in_* columns)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return exists_flag(
        cust.select("c_custkey", "c_mktsegment"), orders, ["c_custkey"], "has_order"
    )


ORACLE_J4 = """
SELECT c_custkey, c_mktsegment,
       EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey) AS has_order
FROM customer c
"""


def q_j5_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe-key join (J5: NULL <=> NULL matches)."""
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", F.nullif(F.pmod(F.col("c_nationkey"), F.lit(5)), F.lit(0)).alias("grp")
    )
    supp = _t(spark, sf_dir, "supplier").select(
        "s_suppkey", F.nullif(F.pmod(F.col("s_nationkey"), F.lit(5)), F.lit(0)).alias("grp")
    )
    joined = null_safe_join(cust, supp, ["grp"], "inner")
    return joined.groupBy(cust["grp"].alias("grp")).agg(
        F.count("*").alias("n_pairs"),
        F.countDistinct("c_custkey").alias("n_cust"),
        F.countDistinct("s_suppkey").alias("n_supp"),
    )


ORACLE_J5 = """
WITH c AS (SELECT c_custkey, NULLIF(c_nationkey % 5, 0) AS grp FROM customer),
     s AS (SELECT s_suppkey, NULLIF(s_nationkey % 5, 0) AS grp FROM supplier)
SELECT c.grp, COUNT(*) AS n_pairs,
       COUNT(DISTINCT c_custkey) AS n_cust,
       COUNT(DISTINCT s_suppkey) AS n_supp
FROM c JOIN s ON c.grp IS NOT DISTINCT FROM s.grp
GROUP BY c.grp
"""


def q_j2_unnest_parallel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral-unnest wide→long pivot (J2): zip the three lineitem measures
    into (idx, measure) rows — the reference's UNNEST(ARRAY[..1..5]) zip."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 500)
    out = unnest_parallel_columns(
        li,
        groups={
            "measure": ["l_quantity", "l_extendedprice", "l_discount"],
        },
        keep=["l_orderkey", "l_linenumber"],
        index_col="idx",
    )
    return out.select(
        "l_orderkey", "l_linenumber", "idx", F.round("measure", 4).alias("measure")
    )


ORACLE_J2 = """
SELECT l_orderkey, l_linenumber, 1 AS idx, ROUND(l_quantity, 4) AS measure
FROM lineitem WHERE l_orderkey < 500
UNION ALL
SELECT l_orderkey, l_linenumber, 2, ROUND(l_extendedprice, 4)
FROM lineitem WHERE l_orderkey < 500
UNION ALL
SELECT l_orderkey, l_linenumber, 3, ROUND(l_discount, 4)
FROM lineitem WHERE l_orderkey < 500
"""


# ---------------------------------------------------------------------------
# Analytics joins + aggregation (J1, Q1/Q3/Q5-style)
# ---------------------------------------------------------------------------


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style grouped aggregation (the headline scan+agg)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


ORACLE_PRICING = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       ROUND(AVG(l_quantity), 4) AS avg_qty,
       ROUND(AVG(l_discount), 4) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-join star query (J1): lineitem⋈orders⋈customer⋈nation⋈region
    with small dims broadcast — the Q5-style volume report."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        .groupBy("r_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.countDistinct("o_orderkey").alias("n_orders"),
        )
    )


ORACLE_REVENUE_NATION = """
SELECT r_name, n_name,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       COUNT(DISTINCT o_orderkey) AS n_orders
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


def q_top_orders_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k with total ordering (O-class: deterministic LIMIT)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    rev = (
        li.groupBy("l_orderkey")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .select("o_orderkey", "o_orderdate", "revenue")
    )
    return rev.orderBy(F.desc("revenue"), F.asc("o_orderkey")).limit(10)


ORACLE_TOP_ORDERS = """
SELECT o_orderkey, o_orderdate, revenue FROM (
  SELECT o_orderkey, o_orderdate,
         ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY o_orderkey, o_orderdate
) ORDER BY revenue DESC, o_orderkey ASC LIMIT 10
"""


# ---------------------------------------------------------------------------
# Scalar function suite (F-class)
# ---------------------------------------------------------------------------


def q_scalar_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar inventory in one projection: CASE mapping (F4), coalesce
    fallback (F2), upper (F1), concat (F13), date extraction (F6)."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        code_label(
            "event_type",
            {
                "click": "Click",
                "view": "View",
                "purchase": "Purchase",
                "signup": "Signup",
            },
            default="Other",
        ).alias("type_label"),
        F.round(F.coalesce(F.col("value"), F.lit(0.0)), 4).alias("value_or_zero"),
        F.upper("event_type").alias("type_u"),
        F.concat_ws("#", F.col("user_id").cast("string"), F.col("event_type")).alias(
            "user_tag"
        ),
        F.year("ts").cast("long").alias("y"),
        F.month("ts").cast("long").alias("m"),
        F.date_format("ts", "yyyyMMdd").alias("compact_date"),
    )


ORACLE_SCALAR = """
SELECT event_id,
       CASE event_type WHEN 'click' THEN 'Click' WHEN 'view' THEN 'View'
            WHEN 'purchase' THEN 'Purchase' WHEN 'signup' THEN 'Signup'
            ELSE 'Other' END AS type_label,
       ROUND(COALESCE(value, 0.0), 4) AS value_or_zero,
       UPPER(event_type) AS type_u,
       CAST(user_id AS VARCHAR) || '#' || event_type AS user_tag,
       YEAR(ts) AS y, MONTH(ts) AS m,
       STRFTIME(ts, '%Y%m%d') AS compact_date
FROM events
"""


# ---------------------------------------------------------------------------
# Training-data ops: dedup / text analysis / similarity / multimodal
# ---------------------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups over documents (hash-groupBy)."""
    docs = _t(spark, sf_dir, "documents")
    groups = exact_duplicates(docs, "doc_id", "text")
    return groups.select(
        "digest",
        "keeper_id",
        "n_members",
        F.array_join(F.transform("member_ids", lambda x: x.cast("string")), ",").alias(
            "members"
        ),
    )


ORACLE_DEDUP_EXACT = """
SELECT digest, MIN(doc_id) AS keeper_id, COUNT(*) AS n_members,
       STRING_AGG(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS members
FROM (SELECT doc_id,
             MD5(TRIM(REGEXP_REPLACE(LOWER(COALESCE(text, '')), '\\s+', ' ', 'g'))) AS digest
      FROM documents)
GROUP BY digest HAVING COUNT(*) > 1
"""


def q_text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting over documents (whitespace segmentation)."""
    docs = _t(spark, sf_dir, "documents")
    simple = F.size(
        F.filter(
            F.split(F.coalesce(F.col("text"), F.lit("")), r"\s+"),
            lambda x: x != "",
        )
    ).cast("long")
    return docs.select("doc_id", simple.alias("n_tokens"), token_count("text").alias("n_tokens_bpe"))


ORACLE_TOKEN_COUNT = """
SELECT doc_id,
       LEN(LIST_FILTER(STRING_SPLIT_REGEX(COALESCE(text, ''), '\\s+'),
                       x -> x <> '')) AS n_tokens,
       LEN(REGEXP_EXTRACT_ALL(COALESCE(text, ''),
                              '[\\p{L}\\p{N}]+|[^\\p{L}\\p{N}\\s]')) AS n_tokens_bpe
FROM documents
"""


def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-marker language id over documents."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", "lang", lang_id("text").alias("lang_pred"))


_MARKER_SQL = {
    "en": "('the','and','of','to','is','that','with')",
    "de": "('der','und','die','das','nicht','ist','ein')",
    "fr": "('le','la','les','des','est','une','dans')",
    "es": "('el','los','las','una','por','como','para')",
}

ORACLE_LANG_ID = f"""
WITH toks AS (
  SELECT doc_id, lang,
         STRING_SPLIT_REGEX(LOWER(COALESCE(text, '')), '[^\\p{{L}}]+') AS t
  FROM documents
), scores AS (
  SELECT doc_id, lang,
         LEN(LIST_FILTER(t, x -> x IN {_MARKER_SQL['en']})) AS s_en,
         LEN(LIST_FILTER(t, x -> x IN {_MARKER_SQL['de']})) AS s_de,
         LEN(LIST_FILTER(t, x -> x IN {_MARKER_SQL['fr']})) AS s_fr,
         LEN(LIST_FILTER(t, x -> x IN {_MARKER_SQL['es']})) AS s_es
  FROM toks
), ranked AS (
  SELECT doc_id, lang, cand, s,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY s DESC, cand DESC) rn
  FROM (
    SELECT doc_id, lang, 'en' AS cand, s_en AS s FROM scores UNION ALL
    SELECT doc_id, lang, 'de', s_de FROM scores UNION ALL
    SELECT doc_id, lang, 'fr', s_fr FROM scores UNION ALL
    SELECT doc_id, lang, 'es', s_es FROM scores
  )
)
SELECT doc_id, lang, CASE WHEN s > 0 THEN cand ELSE 'und' END AS lang_pred
FROM ranked WHERE rn = 1
"""


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring over documents (length/alpha/stopword components)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", quality_score("text").alias("quality"))


_STOP_SQL = "('the','and','of','to','a','in','is','that','it','for')"

ORACLE_QUALITY = f"""
WITH base AS (
  SELECT doc_id, COALESCE(text, '') AS t FROM documents
), parts AS (
  SELECT doc_id, t,
         LENGTH(t) AS n_chars,
         LIST_FILTER(STRING_SPLIT_REGEX(LOWER(t), '\\s+'), x -> LENGTH(x) > 0) AS toks,
         LENGTH(REGEXP_REPLACE(t, '[^\\p{{L}}]', '', 'g')) AS n_alpha
  FROM base
), m AS (
  SELECT doc_id, n_chars, n_alpha, LEN(toks) AS n_tokens,
         CASE WHEN n_chars > 0 THEN n_alpha / CAST(n_chars AS DOUBLE) ELSE 0.0 END AS alpha_ratio,
         CASE WHEN LEN(toks) > 0 THEN n_chars / CAST(LEN(toks) AS DOUBLE) ELSE 0.0 END AS mean_word_len,
         CASE WHEN LEN(toks) > 0
              THEN LEN(LIST_FILTER(toks, x -> x IN {_STOP_SQL})) / CAST(LEN(toks) AS DOUBLE)
              ELSE 0.0 END AS stop_ratio
  FROM parts
)
SELECT doc_id,
       ROUND(0.25 * LEAST(n_chars / 500.0, 1.0)
           + 0.35 * alpha_ratio
           + 0.2 * (CASE WHEN mean_word_len >= 3 AND mean_word_len <= 12 THEN 1.0 ELSE 0.3 END)
           + 0.2 * LEAST(stop_ratio * 5.0, 1.0), 6) AS quality
FROM m
"""


def q_emb_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 neighbours for the first 20 vectors."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    return cosine_topk_bruteforce(emb, queries, k=5).select(
        "query_id", "neighbour_id", "rank", "cosine_sim"
    )


ORACLE_EMB_TOPK = """
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) qv
           FROM embeddings WHERE vec_id < 20),
     c AS (SELECT vec_id AS neighbour_id, CAST(embedding AS DOUBLE[]) cv
           FROM embeddings),
scored AS (
  SELECT query_id, neighbour_id,
         ROUND(LIST_COSINE_SIMILARITY(qv, cv), 6) AS cosine_sim
  FROM q JOIN c ON query_id <> neighbour_id
), ranked AS (
  SELECT query_id, neighbour_id, cosine_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine_sim DESC, neighbour_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbour_id, rank, cosine_sim FROM ranked WHERE rank <= 5
"""


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload plumbing: documents' text bytes as opaque media
    payloads through the mapInPandas feature extractor (decode stubbed)."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.encode(F.coalesce(F.col("text"), F.lit("")), "UTF-8").alias("payload"),
        F.lit("text").alias("media_type"),
    )
    feats = extract_media_features(docs)
    return feats.select("doc_id", "media_type", "n_bytes", "content_hash")


ORACLE_MULTIMODAL = """
SELECT doc_id, 'text' AS media_type,
       OCTET_LENGTH(ENCODE(COALESCE(text, ''))) AS n_bytes,
       SHA256(COALESCE(text, '')) AS content_hash
FROM documents
"""


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL container-header metadata extraction, value-checked: per
    doc_id, synthesize a header-correct PNG/JPEG/GIF/WAV payload
    (``synth_media_bytes`` — deterministic arithmetic on doc_id), then
    parse width/height/duration back OUT OF THE BYTES with the pure-
    Python header readers (``parse_media_meta_bytes``, Arrow-batched by
    ``media_meta``).  The oracle recomputes the expected values from
    doc_id directly, so a parser that doesn't actually read the spec'd
    header offsets cannot pass.  Codec decode stays stubbed; this is
    the honest metadata tier (PNG IHDR / JPEG SOFn / GIF LSD /
    WAV RIFF fmt+data)."""
    from collections.abc import Iterator

    import pandas as pd

    from aus_land_data_etl_spark.operators.multimodal import (
        media_meta,
        synth_media_bytes,
    )

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id")
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [
                        synth_media_bytes(int(i))[0] for i in pdf["doc_id"]
                    ],
                }
            )

    with_payload = docs.mapInPandas(
        synth, schema="doc_id long, payload binary"
    )
    out = media_meta(with_payload)
    return out.select(
        "doc_id",
        F.col("media_meta.media_type").alias("media_type"),
        F.col("media_meta.format").alias("format"),
        F.col("media_meta.width").cast("int").alias("width"),
        F.col("media_meta.height").cast("int").alias("height"),
        F.col("media_meta.duration_ms").cast("long").alias("duration_ms"),
    )


# Mirror of synth_media_bytes' doc_id arithmetic — matching these values
# requires the Spark side to actually parse them back out of the bytes.
ORACLE_MULTIMODAL_META = """
SELECT doc_id,
       CASE WHEN doc_id % 4 = 3 THEN 'audio' ELSE 'image' END AS media_type,
       CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
            WHEN 2 THEN 'gif' ELSE 'wav' END AS format,
       CAST(CASE doc_id % 4 WHEN 0 THEN 1 + doc_id % 1000
            WHEN 1 THEN 1 + doc_id % 640
            WHEN 2 THEN 1 + doc_id % 320 END AS INTEGER) AS width,
       CAST(CASE doc_id % 4 WHEN 0 THEN 1 + doc_id % 777
            WHEN 1 THEN 1 + doc_id % 480
            WHEN 2 THEN 1 + doc_id % 200 END AS INTEGER) AS height,
       CAST(CASE WHEN doc_id % 4 = 3
            THEN ((100 + doc_id % 900) * 1000) // (8000 * (1 + doc_id % 3))
            END AS BIGINT) AS duration_ms
FROM documents
"""


def q_f_classifiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar classifiers (F3 unit conversion, F9 zone-standard) over
    synthetic codes derived from ``part`` columns."""
    from aus_land_data_etl_spark.functions.core import sqm_area, zone_standard

    part = _t(spark, sf_dir, "part")
    code = F.when(
        F.pmod(F.col("p_size"), F.lit(3)) == 0,
        F.upper(F.substring("p_type", 1, 1)),
    ).otherwise(F.concat(F.lit("R"), F.pmod(F.col("p_size"), F.lit(10)).cast("string")))
    unit = F.when(F.pmod(F.col("p_size"), F.lit(2)) == 0, "H").otherwise(
        F.when(F.pmod(F.col("p_size"), F.lit(5)) == 0, "X").otherwise("M")
    )
    return part.select(
        "p_partkey",
        code.alias("code"),
        zone_standard(code).alias("zone_std"),
        F.round(sqm_area(F.col("p_retailprice"), unit), 4).alias("sqm"),
    )


ORACLE_F_CLASSIFIERS = """
WITH src AS (
  SELECT p_partkey,
         CASE WHEN p_size % 3 = 0 THEN UPPER(SUBSTRING(p_type, 1, 1))
              ELSE 'R' || CAST(p_size % 10 AS VARCHAR) END AS code,
         CASE WHEN p_size % 2 = 0 THEN 'H'
              WHEN p_size % 5 = 0 THEN 'X' ELSE 'M' END AS unit,
         p_retailprice
  FROM part
)
SELECT p_partkey, code,
       CASE WHEN code IS NULL THEN NULL
            WHEN code IN ('A','B','C','D','E','I','M','N','O','P','R','S',
                          'T','U','V','W','X','Y','Z') THEN 'legacy_vg_2011'
            WHEN REGEXP_MATCHES(code, '^(IN|MU|RE|RU|SP|AGB|B|C|E|R|W)[0-9]$')
                 THEN 'ep&a_2006'
            ELSE 'unknown' END AS zone_std,
       ROUND(CASE WHEN unit = 'H' THEN p_retailprice * 10000.0
                  WHEN unit = 'M' THEN p_retailprice
                  ELSE NULL END, 4) AS sqm
FROM src
"""


def q_derive_change_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive-DAG stage (plans.derive.change_history): per-entity change
    audit over the CDC envelope view of the events table."""
    from aus_land_data_etl_spark.plans.derive import change_history

    return change_history(events_as_changes(spark, sf_dir))


ORACLE_CHANGE_HISTORY = """
SELECT 'user:' || CAST(user_id AS VARCHAR) AS url,
       COUNT(*) AS n_changes,
       COUNT(*) FILTER (WHERE event_type = 'error') AS n_deletes,
       MIN(ts) AS first_ts,
       MAX(ts) AS last_ts
FROM events GROUP BY user_id
"""


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard over every pair sharing ≥ 1 shingle (doc_id
    subset), threshold 0.2 — the oracle-checked ground truth the MinHash
    pipeline approximates."""
    docs = _t(spark, sf_dir, "documents").filter(F.pmod("doc_id", F.lit(5)) == 0)
    return jaccard_all_pairs(docs, "doc_id", "text", shingle_n=5, threshold=0.2).select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


ORACLE_NGRAM_JACCARD = """
WITH docs AS (
  SELECT doc_id, REGEXP_REPLACE(LOWER(COALESCE(text, '')), '\\s+', ' ', 'g') AS t
  FROM documents WHERE doc_id % 5 = 0
),
pos AS (
  SELECT doc_id, t,
         UNNEST(GENERATE_SERIES(1, GREATEST(LENGTH(t) - 4, 0))) AS i
  FROM docs
),
sh AS (SELECT DISTINCT doc_id, SUBSTRING(t, CAST(i AS INT), 5) AS sh FROM pos),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b,
       ROUND(n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) >= 0.2
"""


def q_neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup clustering: connected components over the exact n-gram
    Jaccard near-dup graph (same edge set as ``ngram_jaccard_pairs``),
    every sampled document assigned to its similarity component
    (singletons keep themselves; component id = min doc_id — the
    deterministic canonical representative downstream keeps).  Iterative
    min-label propagation with path halving — O(log diameter) rounds of
    shuffle-bounded joins (operators/graph.py); the oracle recomputes
    the components with a recursive CTE over the identical pair SQL."""
    from aus_land_data_etl_spark.operators.graph import neardup_clusters

    docs = _t(spark, sf_dir, "documents").filter(F.pmod("doc_id", F.lit(5)) == 0)
    pairs = jaccard_all_pairs(
        docs, "doc_id", "text", shingle_n=5, threshold=0.2
    ).select("id_a", "id_b")
    out = neardup_clusters(pairs, docs, id_col="doc_id")
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("component").cast("long").alias("component"),
    )


# Same shingle/Jaccard CTEs as ORACLE_NGRAM_JACCARD, then transitive
# closure by recursive min-label reachability: component = min reachable
# doc_id.  Matching this requires the Spark side to compute the same
# fixpoint, not just the pair list.
ORACLE_NEARDUP_COMPONENTS = """
WITH RECURSIVE docs AS (
  SELECT doc_id, REGEXP_REPLACE(LOWER(COALESCE(text, '')), '\\s+', ' ', 'g') AS t
  FROM documents WHERE doc_id % 5 = 0
),
pos AS (
  SELECT doc_id, t,
         UNNEST(GENERATE_SERIES(1, GREATEST(LENGTH(t) - 4, 0))) AS i
  FROM docs
),
sh AS (SELECT DISTINCT doc_id, SUBSTRING(t, CAST(i AS INT), 5) AS sh FROM pos),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
pairs AS (
  SELECT id_a, id_b
  FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) >= 0.2
),
e AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b AS u, id_a AS v FROM pairs
),
reach(u, r) AS (
  SELECT doc_id AS u, doc_id AS r FROM docs
  UNION
  SELECT e.u, reach.r FROM e JOIN reach ON e.v = reach.u
)
SELECT u AS doc_id, MIN(r) AS component FROM reach GROUP BY u
"""


def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-spam domain caps: keep at most 5 documents per synthetic
    domain (doc_id mod 37), preferring longer text, deterministic ties
    to the smaller doc_id — one window with group-limit pushdown, no
    UDF (operators/curation.cap_per_group)."""
    from aus_land_data_etl_spark.operators.curation import cap_per_group

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.pmod("doc_id", F.lit(37)).cast("long").alias("domain"),
        F.length(F.coalesce(F.col("text"), F.lit(""))).alias("len"),
    )
    out = cap_per_group(
        docs,
        "domain",
        order_by=[F.desc("len"), F.asc("doc_id")],
        max_per_group=5,
    )
    return out.select("doc_id", "domain", F.col("len").cast("long").alias("len"))


ORACLE_DOMAIN_CAP = """
WITH d AS (
  SELECT doc_id, doc_id % 37 AS domain,
         LENGTH(COALESCE(text, '')) AS len
  FROM documents
),
r AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY domain ORDER BY len DESC, doc_id ASC) AS rn
  FROM d
)
SELECT doc_id, domain, len FROM r WHERE rn <= 5
"""


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: documents sharing any 5-word shingle
    with the synthetic benchmark set (doc_id mod 97 = 0) are dropped —
    shingle explode + broadcast LEFT ANTI join, never a cross join
    (operators/curation.decontaminate).  The oracle recomputes the same
    shingle sets with list slicing and NOT EXISTS."""
    from aus_land_data_etl_spark.operators.curation import decontaminate

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    bench = docs.filter(F.pmod("doc_id", F.lit(97)) == 0)
    clean = decontaminate(
        docs.filter(F.pmod("doc_id", F.lit(97)) != 0), bench, n=5
    )
    return clean.select("doc_id")


ORACLE_DECONTAMINATE = """
WITH toks AS (
  SELECT doc_id,
         REGEXP_SPLIT_TO_ARRAY(
           TRIM(REGEXP_REPLACE(LOWER(COALESCE(text, '')), '\\s+', ' ', 'g')),
           ' ') AS tk
  FROM documents
),
sh AS (
  SELECT doc_id, ARRAY_TO_STRING(tk[CAST(i AS BIGINT):CAST(i + 4 AS BIGINT)], ' ') AS s
  FROM toks, UNNEST(GENERATE_SERIES(1, GREATEST(LEN(tk) - 4, 0))) AS t(i)
  WHERE LEN(tk) >= 5 AND ARRAY_TO_STRING(tk, '') <> ''
),
bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0),
dirty AS (
  SELECT DISTINCT doc_id FROM sh
  WHERE doc_id % 97 <> 0 AND s IN (SELECT s FROM bench)
)
SELECT doc_id FROM documents
WHERE doc_id % 97 <> 0 AND doc_id NOT IN (SELECT doc_id FROM dirty)
"""


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: documents assigned to 4096-token bins by
    contiguous fill over (doc_id) order — the streaming-dataloader
    policy as ONE running-sum window; the assignment is a pure function
    of the order, so it is reproducible and partition-independent
    (operators/curation.pack_sequences).  Token counts via the engine's
    whitespace tokenizer (functions/text.token_count)."""
    from aus_land_data_etl_spark.functions.text import token_count
    from aus_land_data_etl_spark.operators.curation import pack_sequences

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        token_count(F.col("text")).cast("long").alias("n_tokens"),
    )
    out = pack_sequences(
        docs, "n_tokens", budget=4096, order_by=[F.asc("doc_id")]
    )
    return out.select("doc_id", "n_tokens", "bin_id")


ORACLE_PACK_SEQUENCES = """
WITH d AS (
  SELECT doc_id,
         LEN(REGEXP_EXTRACT_ALL(COALESCE(text, ''),
             '[\\p{L}\\p{N}]+|[^\\p{L}\\p{N}\\s]')) AS n_tokens
  FROM documents
)
SELECT doc_id, n_tokens,
       CAST(FLOOR(
         (SUM(n_tokens) OVER (ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)
         / 4096.0) AS BIGINT) AS bin_id
FROM d
"""


def q_pack_sequences_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parallel sequence packing — the 100× path of ``pack_sequences``:
    documents pre-split into 8 deterministic md5 hash buckets, contiguous
    4096-token fill WITHIN each bucket, global
    ``bin_id = local_bin·8 + bucket``.  The window partitions by the
    bucket, so the plan is a hash exchange + 8 independent running sums —
    NO single-partition exchange (plan-asserted in
    tests/test_curation.py); wasted capacity vs the global policy is
    bounded by one open bin per bucket."""
    from aus_land_data_etl_spark.functions.text import token_count
    from aus_land_data_etl_spark.operators.curation import (
        pack_sequences_bucketed,
    )

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        token_count(F.col("text")).cast("long").alias("n_tokens"),
    )
    out = pack_sequences_bucketed(
        docs,
        "doc_id",
        "n_tokens",
        budget=4096,
        order_by=[F.asc("doc_id")],
        n_buckets=8,
    )
    return out.select("doc_id", "n_tokens", "pack_bucket", "bin_id")


ORACLE_PACK_SEQUENCES_BUCKETED = """
WITH d AS (
  SELECT doc_id,
         LEN(REGEXP_EXTRACT_ALL(COALESCE(text, ''),
             '[\\p{L}\\p{N}]+|[^\\p{L}\\p{N}\\s]')) AS n_tokens,
         CAST(CONCAT('0x', SUBSTRING(
           md5(CONCAT(CAST(doc_id AS VARCHAR), '|', 'v1')), 1, 8)
         ) AS BIGINT) % 1000000 % 8 AS pb
  FROM documents
)
SELECT doc_id, n_tokens, pb AS pack_bucket,
       CAST(FLOOR(
         (SUM(n_tokens) OVER (PARTITION BY pb ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)
         / 4096.0) AS BIGINT) * 8 + pb AS bin_id
FROM d
"""


def _corpus_build_downstream(
    spark: SparkSession, sf_dir: str, docs: DataFrame, pairs: DataFrame
) -> DataFrame:
    """Shared tail of the corpus-build pipeline: near-dup components →
    keep-longest canonical → decontamination → domain caps → md5 split.
    ``pairs`` is the near-dup edge set — exact (``q_corpus_build``) or
    LSH-candidates-then-exact-verify (``q_corpus_build_lsh``); both
    produce the same edges at the threshold, so both match
    ``ORACLE_CORPUS_BUILD``."""
    from aus_land_data_etl_spark.functions.sampling import hash_split
    from aus_land_data_etl_spark.operators.curation import (
        cap_per_group,
        decontaminate,
    )
    from aus_land_data_etl_spark.operators.graph import neardup_clusters

    comps = neardup_clusters(pairs, docs, id_col="doc_id")
    scored = comps.join(docs, "doc_id").select(
        "component",
        "doc_id",
        "text",
        F.length(F.coalesce(F.col("text"), F.lit(""))).alias("len"),
    )
    canonical = scored.groupBy("component").agg(
        F.max_by(
            F.struct("doc_id", "text", "len"),
            F.struct(F.col("len"), (-F.col("doc_id")).alias("neg")),
        ).alias("w")
    ).select(
        F.col("w.doc_id").alias("doc_id"),
        F.col("w.text").alias("text"),
        F.col("w.len").alias("len"),
        "component",
    )
    bench = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    ).filter(F.pmod("doc_id", F.lit(97)) == 0)
    clean = decontaminate(
        canonical.filter(F.pmod("doc_id", F.lit(97)) != 0), bench, n=5
    )
    capped = cap_per_group(
        clean.withColumn("domain", F.pmod("doc_id", F.lit(37)).cast("long")),
        "domain",
        order_by=[F.desc("len"), F.asc("doc_id")],
        max_per_group=3,
    )
    out = hash_split(
        capped, "doc_id", {"train": 0.9, "val": 0.05, "test": 0.05}
    )
    return out.select(
        "doc_id",
        F.col("component").cast("long").alias("component"),
        "domain",
        F.col("len").cast("long").alias("len"),
        "split",
    )


def _corpus_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "documents")
        .select(F.col("doc_id").cast("long").alias("doc_id"), "text")
        .filter(F.pmod("doc_id", F.lit(5)) == 0)
    )


def q_corpus_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE curation pipeline composed end-to-end, value-checked as
    one unit: near-dup graph → connected components → one canonical doc
    per component (keep-longest) → benchmark decontamination (5-word
    shingle overlap vs the doc_id%97 eval set) → domain caps (≤3 per
    doc_id%37 domain, longest first) → deterministic md5 train/val/test
    split.  Every stage is an already-oracle-green operator; this query
    pins that they COMPOSE (the oracle chains the same SQL pieces).
    Edge generation here is the EXACT all-shared-shingle-pairs path
    (oracle-checkable ground truth); ``q_corpus_build_lsh`` swaps in the
    10^10-document candidate generator and must produce the same rows."""
    docs = _corpus_docs(spark, sf_dir)
    pairs = jaccard_all_pairs(
        docs, "doc_id", "text", shingle_n=5, threshold=0.2
    ).select("id_a", "id_b")
    return _corpus_build_downstream(spark, sf_dir, docs, pairs)


def q_corpus_build_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE path of ``q_corpus_build``, composed end-to-end: banded
    MinHash LSH candidates → exact n-gram-Jaccard verification ≥ 0.2 →
    connected components → the same canonical/decontaminate/cap/split
    tail.  Cost is O(colliding candidates), never all nonzero-overlap
    pairs — the pipeline a 10^10-document corpus runs.

    Value-checked against ``ORACLE_CORPUS_BUILD`` — the SAME oracle as
    the exact variant: with r=1 rows per band (k=64 independent MinHash
    permutations, 64 bands) a true pair at Jaccard j collides with
    p = 1−(1−j)^64 ≥ 0.999999 at j ≥ 0.2, and the exact-Jaccard verify
    makes precision 1.0, so the edge set — and therefore every
    downstream row — is identical to the exact path's (the driver
    hash-compares the full output)."""
    from aus_land_data_etl_spark.operators.dedup_ml import (
        minhash_lsh_candidates,
        ngram_jaccard,
    )

    docs = _corpus_docs(spark, sf_dir)
    # eager checkpoint, not persist: the result is consumed lazily after
    # this function returns, and ngram_jaccard references the candidate
    # set three times per evaluation — a persist released in a finally
    # would be a no-op and the LSH pipeline would recompute per reference
    cands = minhash_lsh_candidates(
        docs, "doc_id", "text", k=64, n_bands=64, shingle_n=5
    ).localCheckpoint(eager=True)
    pairs = (
        ngram_jaccard(docs, cands, "doc_id", "text", shingle_n=5)
        .filter(F.col("jaccard") >= 0.2)
        .select("id_a", "id_b")
    )
    return _corpus_build_downstream(spark, sf_dir, docs, pairs)


# The same pipeline as one SQL chain: components (recursive CTE) →
# keep-longest canonical → shingle-overlap decontamination → domain
# caps → md5 split.  Composition is the property under test.
ORACLE_CORPUS_BUILD = """
WITH RECURSIVE docs AS (
  SELECT doc_id, text,
         REGEXP_REPLACE(LOWER(COALESCE(text, '')), '\\s+', ' ', 'g') AS t
  FROM documents WHERE doc_id % 5 = 0
),
pos AS (
  SELECT doc_id, t,
         UNNEST(GENERATE_SERIES(1, GREATEST(LENGTH(t) - 4, 0))) AS i
  FROM docs
),
shc AS (SELECT DISTINCT doc_id, SUBSTRING(t, CAST(i AS INT), 5) AS sh FROM pos),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shc GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
  FROM shc a JOIN shc b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
pairs AS (
  SELECT id_a, id_b
  FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) >= 0.2
),
e AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b AS u, id_a AS v FROM pairs
),
reach(u, r) AS (
  SELECT doc_id AS u, doc_id AS r FROM docs
  UNION
  SELECT e.u, reach.r FROM e JOIN reach ON e.v = reach.u
),
comp AS (SELECT u AS doc_id, MIN(r) AS component FROM reach GROUP BY u),
canon AS (
  SELECT component, doc_id, text, len FROM (
    SELECT c.component, c.doc_id, d.text,
           LENGTH(COALESCE(d.text, '')) AS len,
           ROW_NUMBER() OVER (
             PARTITION BY c.component
             ORDER BY LENGTH(COALESCE(d.text, '')) DESC, c.doc_id ASC
           ) AS rn
    FROM comp c JOIN docs d ON d.doc_id = c.doc_id
  ) WHERE rn = 1
),
wtoks AS (
  SELECT doc_id,
         REGEXP_SPLIT_TO_ARRAY(
           TRIM(REGEXP_REPLACE(LOWER(COALESCE(text, '')), '\\s+', ' ', 'g')),
           ' ') AS tk
  FROM documents
),
wsh AS (
  SELECT doc_id, ARRAY_TO_STRING(tk[CAST(i AS BIGINT):CAST(i + 4 AS BIGINT)], ' ') AS s
  FROM wtoks, UNNEST(GENERATE_SERIES(1, GREATEST(LEN(tk) - 4, 0))) AS t(i)
  WHERE LEN(tk) >= 5 AND ARRAY_TO_STRING(tk, '') <> ''
),
benchsh AS (SELECT DISTINCT s FROM wsh WHERE doc_id % 97 = 0),
dirty AS (
  SELECT DISTINCT doc_id FROM wsh
  WHERE s IN (SELECT s FROM benchsh)
),
clean AS (
  SELECT * FROM canon
  WHERE doc_id % 97 <> 0 AND doc_id NOT IN (SELECT doc_id FROM dirty)
),
capped AS (
  SELECT doc_id, component, domain, len FROM (
    SELECT *, doc_id % 37 AS domain,
           ROW_NUMBER() OVER (
             PARTITION BY doc_id % 37 ORDER BY len DESC, doc_id ASC
           ) AS rn
    FROM clean
  ) WHERE rn <= 3
)
SELECT doc_id, component, domain, len,
       CASE WHEN b < 900000 THEN 'train'
            WHEN b < 950000 THEN 'val'
            ELSE 'test' END AS split
FROM (
  SELECT *,
         CAST(CONCAT('0x', SUBSTRING(
           md5(CONCAT(CAST(doc_id AS VARCHAR), '|', 'v1')), 1, 8)
         ) AS BIGINT) % 1000000 AS b
  FROM capped
)
"""


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-family repetition signal: fraction of duplicated word
    2-grams and 3-grams per document (boilerplate/spam repeats phrases;
    filter above a threshold before training).  Pure array expressions
    (operators/curation.dup_ngram_frac); the oracle recomputes the
    shingle multisets with list slicing."""
    from aus_land_data_etl_spark.operators.curation import dup_ngram_frac

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        dup_ngram_frac(F.col("text"), 2).alias("dup2"),
        dup_ngram_frac(F.col("text"), 3).alias("dup3"),
    )


ORACLE_TEXT_REPETITION = """
WITH toks AS (
  SELECT doc_id,
         REGEXP_SPLIT_TO_ARRAY(
           TRIM(REGEXP_REPLACE(LOWER(COALESCE(text, '')), '\\s+', ' ', 'g')),
           ' ') AS tk
  FROM documents
),
sh2 AS (
  SELECT doc_id,
         ARRAY_TO_STRING(tk[CAST(i AS BIGINT):CAST(i + 1 AS BIGINT)], ' ') AS s
  FROM toks, UNNEST(GENERATE_SERIES(1, GREATEST(LEN(tk) - 1, 0))) AS t(i)
  WHERE LEN(tk) >= 2 AND ARRAY_TO_STRING(tk, '') <> ''
),
sh3 AS (
  SELECT doc_id,
         ARRAY_TO_STRING(tk[CAST(i AS BIGINT):CAST(i + 2 AS BIGINT)], ' ') AS s
  FROM toks, UNNEST(GENERATE_SERIES(1, GREATEST(LEN(tk) - 2, 0))) AS t(i)
  WHERE LEN(tk) >= 3 AND ARRAY_TO_STRING(tk, '') <> ''
),
fr2 AS (
  SELECT doc_id,
         CASE WHEN COUNT(*) > 1
              THEN ROUND(1.0 - COUNT(DISTINCT s) / CAST(COUNT(*) AS DOUBLE), 6)
              ELSE 0.0 END AS f
  FROM sh2 GROUP BY doc_id
),
fr3 AS (
  SELECT doc_id,
         CASE WHEN COUNT(*) > 1
              THEN ROUND(1.0 - COUNT(DISTINCT s) / CAST(COUNT(*) AS DOUBLE), 6)
              ELSE 0.0 END AS f
  FROM sh3 GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(fr2.f, 0.0) AS dup2,
       COALESCE(fr3.f, 0.0) AS dup3
FROM documents d
LEFT JOIN fr2 ON fr2.doc_id = d.doc_id
LEFT JOIN fr3 ON fr3.doc_id = d.doc_id
"""


def q_text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (emails / IPv4 / phone numbers → typed placeholder
    tokens) — the standard pre-training privacy pass.  PII is
    synthesised deterministically from doc_id inside the query (the
    test corpus carries none), so the redactor runs against known
    ground truth and the oracle applies the byte-identical RE2
    patterns with ``regexp_replace(..., 'g')``.  One projection, three
    chained regexes, zero shuffles (functions/text.redact_pii)."""
    from aus_land_data_etl_spark.functions.text import redact_pii

    docs = _t(spark, sf_dir, "documents")
    synth = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or 10.1."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7 call +1 415-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" end"),
    )
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        redact_pii(synth).alias("redacted"),
    )


ORACLE_TEXT_PII_REDACT = r"""
SELECT doc_id,
       REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(
         text || ' contact user' || doc_id || '@example.com or 10.1.'
              || (doc_id % 256) || '.7 call +1 415-555-'
              || LPAD(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' end',
         '[A-Za-z0-9._%+-]+@[A-Za-z0-9-]+(\.[A-Za-z0-9-]+)+', '<EMAIL>', 'g'),
         '\b(\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'),
         '(\+?\d{1,2}[ .-]?)?\(?\d{3}\)?[ .-]?\d{3}[ .-]?\d{4}', '<PHONE>', 'g')
         AS redacted
FROM documents
"""


def q_dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate line removal (CCNet/RefinedWeb pass):
    lines repeating verbatim across ≥2 distinct documents are dropped
    from every document, text rebuilt from the survivors in order.
    The single-line test corpus is reshaped into deterministic 3-word
    lines inside the query (both engines compute the same reshaping);
    the tiny vocabulary guarantees real cross-document duplicates.
    Scale shape: explode → line-key count_distinct → anti join →
    per-doc rebuild (operators/curation.dedup_lines)."""
    from aus_land_data_etl_spark.operators.curation import dedup_lines

    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    lines_arr = F.transform(
        F.sequence(F.lit(1), F.size(toks), F.lit(3)),
        lambda i: F.array_join(F.slice(toks, i, 3), " "),
    )
    ml = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.array_join(lines_arr, "\n").alias("text"),
    )
    return dedup_lines(ml, min_docs=2)


ORACLE_DEDUP_LINES = """
WITH ml AS (
  SELECT doc_id,
         ARRAY_TO_STRING(
           LIST_TRANSFORM(GENERATE_SERIES(1, LEN(ts), 3),
                          i -> ARRAY_TO_STRING(LIST_SLICE(ts, i, i + 2), ' ')),
           CHR(10)) AS text
  FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS ts FROM documents)
),
lines AS (
  SELECT d.doc_id, t.i AS pos, LIST_EXTRACT(d.ls, t.i) AS line
  FROM (SELECT doc_id, STRING_SPLIT(text, CHR(10)) AS ls FROM ml) d,
       UNNEST(GENERATE_SERIES(1, LEN(d.ls))) AS t(i)
),
boiler AS (
  SELECT LOWER(TRIM(line)) AS k FROM lines WHERE TRIM(line) <> ''
  GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2
),
kept AS (
  SELECT l.* FROM lines l
  WHERE NOT EXISTS (SELECT 1 FROM boiler b WHERE b.k = LOWER(TRIM(l.line)))
),
totals AS (SELECT doc_id, COUNT(*) AS n_lines FROM lines GROUP BY doc_id),
rebuilt AS (
  SELECT doc_id, STRING_AGG(line, CHR(10) ORDER BY pos) AS text,
         COUNT(*) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id, COALESCE(r.text, '') AS text, t.n_lines,
       COALESCE(r.n_kept, 0) AS n_kept
FROM totals t LEFT JOIN rebuilt r USING (doc_id)
"""


def q_cdc_corpus_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tier capstone: a curated training corpus built DIRECTLY off
    the exactly-once CDC serving view — the composition a continuously
    refreshed pretraining corpus runs on every ingest cycle.

    Chain: events → 4 CDC micro-batches (LWW merge, tombstones,
    exactly-once) → serving view → domain from the extracted text's
    leading token → per-domain cap (newest first, deterministic ties)
    → engine-portable md5 train/val/test split.  The oracle replays the
    same chain in SQL (ranked LWW → ROW_NUMBER cap → md5 arithmetic),
    so the value check covers the composition end-to-end: a wrong LWW
    winner, a dropped tombstone, a non-deterministic cap order or a
    drifting split assignment all surface as a hash mismatch."""
    from aus_land_data_etl_spark.cdc.apply import apply_batch, create_pages_table
    from aus_land_data_etl_spark.functions.sampling import hash_split
    from aus_land_data_etl_spark.lake.merge import read_current
    from aus_land_data_etl_spark.operators.curation import cap_per_group

    changes = events_as_changes(spark, sf_dir)
    d = tempfile.mkdtemp(prefix="cdc_corpus_")
    try:
        table = create_pages_table(spark, d, n_buckets=8)
        for i in range(4):
            batch = changes.filter(F.pmod(F.col("source_pos"), F.lit(4)) == i)
            apply_batch(table, batch, epoch=i)
        cur = read_current(table).select(
            F.col("url"),
            F.col("warc_ts"),
            F.col("event_id").cast("long").alias("event_id"),
            F.split(F.col("text"), " ").getItem(0).alias("domain"),
        )
        capped = cap_per_group(
            cur,
            "domain",
            [F.col("warc_ts").desc(), F.col("url").asc()],
            20,
        )
        out = hash_split(
            capped, "url", {"train": 0.9, "val": 0.05, "test": 0.05}
        ).select("url", "domain", "warc_ts", "event_id", "split")
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(d, ignore_errors=True)


ORACLE_CDC_CORPUS_REFRESH = """
WITH ranked AS (
  SELECT 'user:' || CAST(user_id AS VARCHAR) AS url,
         ts AS warc_ts,
         event_id,
         event_type,
         ROW_NUMBER() OVER (
           PARTITION BY user_id ORDER BY ts DESC, event_id DESC
         ) AS rn
  FROM events
),
serving AS (
  SELECT url, warc_ts, event_id, event_type AS domain
  FROM ranked WHERE rn = 1 AND event_type <> 'error'
),
capped AS (
  SELECT *, ROW_NUMBER() OVER (
           PARTITION BY domain ORDER BY warc_ts DESC, url ASC
         ) AS rk
  FROM serving
)
SELECT url, domain, warc_ts, event_id,
       CASE WHEN b < 900000 THEN 'train'
            WHEN b < 950000 THEN 'val'
            ELSE 'test' END AS split
FROM (
  SELECT url, domain, warc_ts, event_id,
         CAST(CONCAT('0x', SUBSTRING(
           md5(CONCAT(url, '|', 'v1')), 1, 8)
         ) AS BIGINT) % 1000000 AS b
  FROM capped WHERE rk <= 20
)
"""


def q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment for every document —
    hash-bucketed on md5 (NOT xxhash/murmur) so the assignment is
    byte-identical in every engine: stable under repartitioning, re-runs
    and incremental arrivals, and the oracle recomputes it exactly.
    90/5/5 by ppm thresholds (functions/sampling.py)."""
    from aus_land_data_etl_spark.functions.sampling import hash_split

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id")
    )
    out = hash_split(
        docs, "doc_id", {"train": 0.9, "val": 0.05, "test": 0.05}
    )
    return out.select("doc_id", "split")


ORACLE_DATASET_SPLIT = """
WITH b AS (
  SELECT doc_id,
         CAST(CONCAT('0x', SUBSTRING(
           md5(CONCAT(CAST(doc_id AS VARCHAR), '|', 'v1')), 1, 8)
         ) AS BIGINT) % 1000000 AS bucket
  FROM documents
)
SELECT doc_id,
       CASE WHEN bucket < 900000 THEN 'train'
            WHEN bucket < 950000 THEN 'val'
            ELSE 'test' END AS split
FROM b
"""


def q_domain_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain mixing (temperature sampling): keep a per-domain target
    fraction of documents — up-weighting scarce, high-quality domains
    and down-weighting boilerplate-heavy ones is how pretraining mixes
    are tuned.  Deterministic md5 stratified sampling
    (functions/sampling.hash_sample_by): same keys kept on every run,
    partitioning, and engine; no shuffle, no UDF, one scan + filter.
    Domains here are doc_id%5; fractions 1.0/0.5/0.25/0.1 with a 0.02
    default for the unlisted stratum."""
    from aus_land_data_etl_spark.functions.sampling import hash_sample_by

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.pmod("doc_id", F.lit(5)).cast("long").alias("domain"),
    )
    out = hash_sample_by(
        docs,
        "doc_id",
        "domain",
        {0: 1.0, 1: 0.5, 2: 0.25, 3: 0.1},
        default=0.02,
        salt="mix",
    )
    return out.select("doc_id", "domain")


ORACLE_DOMAIN_MIX = """
WITH b AS (
  SELECT doc_id, doc_id % 5 AS domain,
         CAST(CONCAT('0x', SUBSTRING(
           md5(CONCAT(CAST(doc_id AS VARCHAR), '|', 'mix')), 1, 8)
         ) AS BIGINT) % 1000000 AS bucket
  FROM documents
)
SELECT doc_id, domain
FROM b
WHERE bucket < CASE domain
  WHEN 0 THEN 1000000 WHEN 1 THEN 500000
  WHEN 2 THEN 250000 WHEN 3 THEN 100000 ELSE 20000 END
"""


def q_neardup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full production dedup flow composed end-to-end: near-dup graph
    → connected components → ONE canonical document kept per component
    (keep-longest rule, ties to the smallest doc_id — the standard
    web-corpus policy).  Pure Catalyst on top of the component labels:
    one ``max_by`` aggregation per component, no window needed."""
    from aus_land_data_etl_spark.operators.graph import neardup_clusters

    docs = _t(spark, sf_dir, "documents").filter(F.pmod("doc_id", F.lit(5)) == 0)
    pairs = jaccard_all_pairs(
        docs, "doc_id", "text", shingle_n=5, threshold=0.2
    ).select("id_a", "id_b")
    comps = neardup_clusters(pairs, docs, id_col="doc_id")
    scored = comps.join(docs.select("doc_id", "text"), "doc_id").select(
        "component",
        "doc_id",
        F.length(F.coalesce(F.col("text"), F.lit(""))).alias("len"),
    )
    return scored.groupBy(F.col("component").cast("long").alias("component")).agg(
        F.max_by(
            F.col("doc_id").cast("long"),
            F.struct(F.col("len"), (-F.col("doc_id")).alias("neg")),
        ).alias("canonical_doc_id"),
        F.count("*").cast("long").alias("n_members"),
        F.max("len").cast("long").alias("max_len"),
    )


ORACLE_NEARDUP_CANONICAL = """
WITH RECURSIVE docs AS (
  SELECT doc_id, text,
         REGEXP_REPLACE(LOWER(COALESCE(text, '')), '\\s+', ' ', 'g') AS t
  FROM documents WHERE doc_id % 5 = 0
),
pos AS (
  SELECT doc_id, t,
         UNNEST(GENERATE_SERIES(1, GREATEST(LENGTH(t) - 4, 0))) AS i
  FROM docs
),
sh AS (SELECT DISTINCT doc_id, SUBSTRING(t, CAST(i AS INT), 5) AS sh FROM pos),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
pairs AS (
  SELECT id_a, id_b
  FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) >= 0.2
),
e AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b AS u, id_a AS v FROM pairs
),
reach(u, r) AS (
  SELECT doc_id AS u, doc_id AS r FROM docs
  UNION
  SELECT e.u, reach.r FROM e JOIN reach ON e.v = reach.u
),
comp AS (SELECT u AS doc_id, MIN(r) AS component FROM reach GROUP BY u),
scored AS (
  SELECT c.component, c.doc_id,
         LENGTH(COALESCE(d.text, '')) AS len,
         ROW_NUMBER() OVER (
           PARTITION BY c.component
           ORDER BY LENGTH(COALESCE(d.text, '')) DESC, c.doc_id ASC
         ) AS rn
  FROM comp c JOIN docs d ON d.doc_id = c.doc_id
)
SELECT component,
       MAX(CASE WHEN rn = 1 THEN doc_id END) AS canonical_doc_id,
       COUNT(*) AS n_members,
       MAX(len) AS max_len
FROM scored
GROUP BY component
"""


def q_emb_neardup_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs: exact all-pairs, cosine ≥ 0.5."""
    emb = _t(spark, sf_dir, "embeddings")
    return cosine_neardup_pairs(emb, "vec_id", "embedding", threshold=0.5)


ORACLE_EMB_NEARDUP = """
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) ve FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(LIST_COSINE_SIMILARITY(a.ve, b.ve), 6) AS cosine_sim
FROM v a JOIN v b ON a.vec_id < b.vec_id
WHERE ROUND(LIST_COSINE_SIMILARITY(a.ve, b.ve), 6) >= 0.5
"""


# -- approximate ops: rows-only checks (no SQL oracle possible) -------------


def q_emb_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-5 (8 cells, nprobe 3, deterministic k-means quantizer)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    return ivf_topk(emb, queries, k=5, n_cells=8, nprobe=3).select(
        "query_id", "neighbour_id", "rank", "cosine_sim"
    )



def q_emb_topk_ivf_fullprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with ``nprobe == n_cells`` — exhaustive search through the
    full IVF machinery (quantizer training, cell assignment, probe
    explode, cell equi-join).  By construction equal to
    ``cosine_topk_bruteforce`` (operators/similarity.py docstring pins
    this; tests/test_similarity paths assert it), so it shares the
    brute-force DuckDB oracle — a hard value check on the IVF plumbing
    rather than a rows-only smoke check."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    return ivf_topk(emb, queries, k=5, n_cells=8, nprobe=8).select(
        "query_id", "neighbour_id", "rank", "cosine_sim"
    )


def q_emb_topk_ivf_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN through the PERSISTED index (``IvfIndex.build`` →
    parquet cells partitioned by cell id → ``search``): index once,
    query many — the serving shape a 100 TB embedding corpus needs.
    Full probe (nprobe == n_cells) makes the search exhaustive, so it
    shares the brute-force DuckDB oracle — a hard value check on the
    whole build→persist→reload→search path, incl. the partition-pruned
    cell read."""
    from aus_land_data_etl_spark.operators.similarity import IvfIndex

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    d = tempfile.mkdtemp(prefix="ivf_idx_")
    try:
        IvfIndex.build(emb, d, n_cells=8, seed=42)
        idx = IvfIndex(spark, d)  # reload from disk — no retraining
        out = idx.search(queries, k=5, nprobe=8).select(
            "query_id", "neighbour_id", "rank", "cosine_sim"
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def q_emb_topk_ivf_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index MAINTENANCE: build on half the corpus, ``add`` the other
    half incrementally (frozen quantizer, O(new) cell-partitioned
    appends — the CDC-composable shape: a changelog feed keeps the index
    current without rebuilds).  Full probe makes the search exhaustive
    over old ∪ new, so the grown index shares the brute-force DuckDB
    oracle over the WHOLE corpus — a missing/mis-assigned added vector
    cannot pass."""
    from aus_land_data_etl_spark.operators.similarity import IvfIndex

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    d = tempfile.mkdtemp(prefix="ivf_inc_")
    try:
        IvfIndex.build(emb.filter(F.pmod("vec_id", F.lit(2)) == 0), d, n_cells=8, seed=42)
        idx = IvfIndex(spark, d)
        idx.add(emb.filter(F.pmod("vec_id", F.lit(2)) == 1))
        out = idx.search(queries, k=5, nprobe=8).select(
            "query_id", "neighbour_id", "rank", "cosine_sim"
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def q_neardup_index_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup detection through the PERSISTED incremental LSH index
    (``NearDupIndex``): empty create → the corpus arrives in three
    ingest batches, each ``add`` probing only the band buckets its own
    hashes land in (partition-pruned directory read) and returning the
    candidate pairs that touch the batch — the O(batch)-per-cycle shape
    a 10^10-document continuously-deduplicated corpus needs, vs
    re-banding the whole corpus every ingest.

    The union of the three adds' candidates is verified with exact
    n-gram Jaccard ≥ 0.2, so it shares ``ORACLE_NGRAM_JACCARD``
    verbatim: with r=1 rows per band (k=64, 64 bands) a true pair at
    j ≥ 0.2 collides with p = 1−(1−j)^64 ≥ 0.999999 (deterministic for
    the fixed hash family — the same guarantee ``corpus_build_lsh``
    rides), and the exact verify makes precision 1.0.  A missed
    cross-batch probe, a dropped append, or a wrong band bucket hashes
    differently."""
    from aus_land_data_etl_spark.operators.dedup_ml import ngram_jaccard
    from aus_land_data_etl_spark.operators.neardup_index import NearDupIndex

    docs = _t(spark, sf_dir, "documents").filter(F.pmod("doc_id", F.lit(5)) == 0)
    d = tempfile.mkdtemp(prefix="ndi_")
    try:
        idx = NearDupIndex.create(
            spark, d, k=64, n_bands=64, shingle_n=5, seed=42, n_buckets=16
        )
        cands = None
        for b in range(3):
            p = idx.add(docs.filter(F.pmod("doc_id", F.lit(3)) == b))
            cands = p if cands is None else cands.unionAll(p)
        cands = cands.distinct().localCheckpoint(eager=True)
        out = (
            ngram_jaccard(docs, cands, "doc_id", "text", shingle_n=5)
            .filter(F.col("jaccard") >= 0.2)
            .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def q_minhash_dedup(
    spark: SparkSession,
    sf_dir: str,
    k: int = 32,
    n_bands: int | None = None,
) -> DataFrame:
    """MinHash-LSH near-dup pairs verified by exact n-gram Jaccard ≥ 0.8.

    (k, n_bands) are exposed as tuning knobs; the default lets
    ``pick_bands`` align the LSH S-curve midpoint with the threshold
    (b=4/r=8 at 0.8) — ~10× fewer junk candidates than a fixed b=8 with
    recall 1.0 on the fixture corpus (tests/test_operators.py pins both)."""
    docs = _t(spark, sf_dir, "documents")
    return minhash_dedup(
        docs, "doc_id", "text", threshold=0.8, k=k, n_bands=n_bands
    ).select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))


def q_simhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup candidates (hamming ≤ 3 via block pigeonhole)."""
    docs = _t(spark, sf_dir, "documents")
    return simhash_candidates(docs, "doc_id", "text", max_hamming=3)


def q_emb_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate ANN top-5 via random-hyperplane LSH buckets."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    return cosine_topk_lsh(emb, queries, dim=64, k=5).select(
        "query_id", "neighbour_id", "rank", "cosine_sim"
    )


def q_dim_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2 dimension upsert through the real lake machinery:
    ``append_if_absent`` (MERGE ... WHEN NOT MATCHED THEN INSERT) fed the
    same distinct rows twice — the second pass must be a pure no-op — then
    once more with a superset; final dim contents == SELECT DISTINCT."""
    from pyspark.sql import types as T

    from aus_land_data_etl_spark.lake.merge import append_if_absent
    from aus_land_data_etl_spark.lake.table import LakeTable

    ev = _t(spark, sf_dir, "events")
    dim_rows = ev.select(
        F.col("event_type").alias("type_code"),
        F.upper("event_type").alias("type_label"),
    ).distinct()
    d = tempfile.mkdtemp(prefix="dim_q_")
    try:
        schema = T.StructType(
            [
                T.StructField("type_code", T.StringType()),
                T.StructField("type_label", T.StringType()),
            ]
        )
        dim = LakeTable.create(
            spark, d, schema=schema, key_col="type_code",
            version_col="type_code", n_buckets=4,
        )
        half = dim_rows.filter(F.length("type_code") <= 5)
        append_if_absent(dim, half)
        append_if_absent(dim, half)  # replay: no-op
        append_if_absent(dim, dim_rows)  # rest inserted, existing kept
        out = dim.read().select("type_code", "type_label")
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(d, ignore_errors=True)


ORACLE_DIM_UPSERT = """
SELECT DISTINCT event_type AS type_code, UPPER(event_type) AS type_label
FROM events
"""


def q_cdc_rebucket_converge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-count evolution mid-stream: apply two batches into an
    8-bucket table, ``rebucket(16)`` while the stream is live (unfolded
    MoR deltas present), apply the remaining two batches into the new
    layout — final state must STILL equal the LWW oracle, and the replay
    guard must hold across the boundary (batch 1 re-applied post-rebucket
    is a no-op)."""
    from aus_land_data_etl_spark.cdc.apply import apply_batch, create_pages_table
    from aus_land_data_etl_spark.lake.merge import read_current

    changes = events_as_changes(spark, sf_dir)
    d = tempfile.mkdtemp(prefix="cdc_rb_")
    try:
        table = create_pages_table(spark, d, n_buckets=8)
        for i in range(2):
            batch = changes.filter(F.pmod(F.col("source_pos"), F.lit(4)) == i)
            apply_batch(table, batch, epoch=i)
        table.rebucket(16)
        # replay across the boundary: must be a committed no-op
        v = table.current_version()
        apply_batch(
            table,
            changes.filter(F.pmod(F.col("source_pos"), F.lit(4)) == 1),
            epoch=1,
        )
        assert table.current_version() == v, "replay applied after rebucket"
        for i in range(2, 4):
            batch = changes.filter(F.pmod(F.col("source_pos"), F.lit(4)) == i)
            apply_batch(table, batch, epoch=i)
        out = (
            read_current(table)
            .select(
                F.col("url"),
                F.col("warc_ts"),
                F.col("event_id").cast("long").alias("event_id"),
                F.col("text"),
            )
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def q_lineage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the engine over 4 micro-batches, then audit the committed
    lineage manifests (``cdc.audit.coverage_summary``): per source
    partition — applied offset span, row count, batch count, duplicate /
    re-applied offsets, contiguity.  The oracle recomputes the same facts
    from the raw events (offset = event_id, partition = user_id mod 4,
    epoch = event_id mod 4), including the gap detection and the exact
    multiset re-application identity (Σ distinct − covered span) — so
    the manifest trail itself is value-checked, not just row-counted."""
    from aus_land_data_etl_spark.cdc.apply import apply_batch, create_pages_table
    from aus_land_data_etl_spark.cdc.audit import coverage_summary

    changes = events_as_changes(spark, sf_dir)
    d = tempfile.mkdtemp(prefix="cdc_a_")
    try:
        table = create_pages_table(spark, d, n_buckets=8)
        for i in range(4):
            batch = changes.filter(F.pmod(F.col("source_pos"), F.lit(4)) == i)
            apply_batch(table, batch, epoch=i)
        out = coverage_summary(table).select(
            F.col("source_partition").cast("long").alias("source_partition"),
            F.col("first_offset").cast("long").alias("first_offset"),
            F.col("last_offset").cast("long").alias("last_offset"),
            F.col("rows_applied").cast("long").alias("rows_applied"),
            F.col("n_batches").cast("long").alias("n_batches"),
            F.col("dup_rows").cast("long").alias("dup_rows"),
            F.col("reapplied_offsets").cast("long").alias("reapplied_offsets"),
            F.col("contiguous"),
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(d, ignore_errors=True)


# Recompute the manifest coverage from the raw events: one manifest row
# per (partition = user_id%4, epoch = event_id%4) with offset = event_id,
# then the same running-max gap detection and the same exact multiset
# re-application identity (Σ distinct − covered span) the audit uses.
ORACLE_LINEAGE_AUDIT = """
WITH man AS (
  SELECT user_id % 4 AS source_partition,
         event_id % 4 AS epoch,
         MIN(event_id) AS s,
         MAX(event_id) AS e,
         COUNT(*) AS rc
  FROM events
  GROUP BY 1, 2
),
ranked AS (
  SELECT *,
         MAX(e) OVER (
           PARTITION BY source_partition ORDER BY s, e
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ) AS prev_max
  FROM man
)
SELECT source_partition,
       MIN(s) AS first_offset,
       MAX(e) AS last_offset,
       CAST(SUM(rc) AS BIGINT) AS rows_applied,
       COUNT(*) AS n_batches,
       CAST(0 AS BIGINT) AS dup_rows,
       CAST(GREATEST(0, SUM(rc) - (MAX(e) - MIN(s) + 1
            - SUM(CASE WHEN prev_max IS NOT NULL AND s > prev_max + 1
                       THEN s - prev_max - 1 ELSE 0 END))) AS BIGINT)
         AS reapplied_offsets,
       SUM(CASE WHEN prev_max IS NOT NULL AND s > prev_max + 1
                THEN s - prev_max - 1 ELSE 0 END) = 0 AS contiguous
FROM ranked
GROUP BY source_partition
"""


def q_j7_asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join: attribute each ``error`` event to the same
    user's latest preceding non-error event (inclusive, tie-broken by
    event_id) — the point-in-time lookup CDC consumers run against a
    versioned table.  The reference resolves these with correlated
    latest-version subqueries in SQL; Spark has no ASOF JOIN, so
    ``operators.joins.asof_join`` implements it as one key-partitioned
    running window over the tagged union (no O(n·m) range join)."""
    from aus_land_data_etl_spark.operators.joins import asof_join

    ev = _t(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("user_id").cast("long").alias("user_id"),
        F.col("ts"),
    )
    actions = ev.filter(F.col("event_type") != "error").select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("ts"),
        F.col("event_id").cast("long").alias("event_id"),
        F.col("event_type"),
        F.col("value"),
    )
    out = asof_join(
        errors,
        actions,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        tiebreaks=["event_id"],
        prefix="prior_",
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.col("prior_event_id").cast("long").alias("prior_event_id"),
        "prior_ts",
        "prior_event_type",
        "prior_value",
    )


ORACLE_ASOF_ATTRIBUTION = """
WITH errors AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'
),
cand AS (
  SELECT er.event_id,
         a.event_id AS prior_event_id,
         a.ts AS prior_ts,
         a.event_type AS prior_event_type,
         a.value AS prior_value,
         ROW_NUMBER() OVER (
           PARTITION BY er.event_id ORDER BY a.ts DESC, a.event_id DESC
         ) AS rn
  FROM errors er
  JOIN events a
    ON a.user_id = er.user_id
   AND a.event_type <> 'error'
   AND a.ts <= er.ts
)
SELECT er.event_id, er.user_id, er.ts,
       c.prior_event_id, c.prior_ts, c.prior_event_type, c.prior_value
FROM errors er
LEFT JOIN cand c ON c.event_id = er.event_id AND c.rn = 1
"""


def q_lake_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot time travel (Iceberg ``VERSION AS OF`` analog): apply the
    full 4-batch stream, then read the table AT the version committed by
    batch 1 — the result must equal LWW convergence over the first two
    batches only, proving later commits never mutate earlier snapshots'
    files (the property ``expire_snapshots`` retention relies on)."""
    from aus_land_data_etl_spark.cdc.apply import apply_batch, create_pages_table
    from aus_land_data_etl_spark.lake.merge import DELETED_COL

    changes = events_as_changes(spark, sf_dir)
    d = tempfile.mkdtemp(prefix="cdc_tt_")
    try:
        table = create_pages_table(spark, d, n_buckets=8)
        v_mid = None
        for i in range(4):
            batch = changes.filter(F.pmod(F.col("source_pos"), F.lit(4)) == i)
            v = apply_batch(table, batch, epoch=i)
            if i == 1:
                v_mid = v
        df = table.read_resolved(version=v_mid)
        if DELETED_COL in df.columns:
            df = df.filter(~F.coalesce(F.col(DELETED_COL), F.lit(False)))
        out = df.select(
            F.col("url"),
            F.col("warc_ts"),
            F.col("event_id").cast("long").alias("event_id"),
            F.col("text"),
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(d, ignore_errors=True)


# Same LWW convergence as ORACLE_CDC_CONVERGE, restricted to the events
# the first two micro-batches carried (source_pos % 4 ∈ {0, 1}).
ORACLE_TIME_TRAVEL = """
WITH ranked AS (
  SELECT 'user:' || CAST(user_id AS VARCHAR) AS url,
         ts AS warc_ts,
         event_id,
         event_type,
         value,
         ROW_NUMBER() OVER (
           PARTITION BY user_id ORDER BY ts DESC, event_id DESC
         ) AS rn
  FROM events
  WHERE event_id % 4 IN (0, 1)
)
SELECT url, warc_ts, event_id,
       event_type || ' value=' || CAST(value AS VARCHAR) AS text
FROM ranked
WHERE rn = 1 AND event_type <> 'error'
"""


def q_cdc_compacted_converge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3/K5 lifecycle: converge, then ``compact()`` (tombstone-dropping
    full rewrite — the REINDEX/rewrite_data_files analog) and
    ``expire_snapshots`` — the compacted table must read identically to
    the LWW oracle."""
    from aus_land_data_etl_spark.cdc.apply import apply_batch, create_pages_table
    from aus_land_data_etl_spark.lake.merge import compact, read_current

    changes = events_as_changes(spark, sf_dir)
    d = tempfile.mkdtemp(prefix="cdc_c_")
    try:
        table = create_pages_table(spark, d, n_buckets=8)
        for i in range(4):
            batch = changes.filter(F.pmod(F.col("source_pos"), F.lit(4)) == i)
            apply_batch(table, batch, epoch=i)
        compact(table)
        table.expire_snapshots(keep_last=1)
        out = (
            read_current(table)
            .select(
                F.col("url"),
                F.col("warc_ts"),
                F.col("event_id").cast("long").alias("event_id"),
                F.col("text"),
            )
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _patch_fixture(spark: SparkSession, sf_dir: str):
    """Deterministic partial-image change stream + empty patch table.

    Op mix per event: error→delete; event_id%7<2→full insert; else a
    patch naming {text if id%2=0} ∪ {lang if id%3=0, NULL value when
    id%9=0 — an explicit-NULL assignment} ∪ {score always}.  Returns
    (table, changes-with-_b-batch-column, tmpdir)."""
    from pyspark.sql import types as T

    from aus_land_data_etl_spark.lake.table import LakeTable

    ev = _t(spark, sf_dir, "events")
    eid = F.col("event_id")
    is_del = F.col("event_type") == "error"
    is_full = ~is_del & (F.pmod(eid, F.lit(7)) < 2)
    sets_text = F.pmod(eid, F.lit(2)) == 0
    sets_lang = F.pmod(eid, F.lit(3)) == 0
    full_text = F.concat(
        F.col("event_type"), F.lit(" value="), F.col("value").cast("string")
    )
    full_lang = F.concat(F.lit("l"), F.pmod(F.col("user_id"), F.lit(3)).cast("string"))
    p_text = F.concat(F.lit("patched:"), F.col("value").cast("string"))
    # explicit-NULL lang assignment every 9th event (still NAMED in
    # _set_cols, so it overwrites — the SQL "SET lang = NULL" case)
    p_lang = F.when(
        F.pmod(eid, F.lit(9)) == 0, F.lit(None).cast("string")
    ).otherwise(F.concat(F.lit("p"), F.pmod(eid, F.lit(5)).cast("string")))
    empty = F.array().cast("array<string>")
    patch_sets = F.concat(
        F.when(sets_text, F.array(F.lit("text"))).otherwise(empty),
        F.when(sets_lang, F.array(F.lit("lang"))).otherwise(empty),
        F.array(F.lit("score")),
    )
    changes = ev.select(
        F.concat(F.lit("user:"), F.col("user_id").cast("string")).alias("url"),
        F.col("ts").alias("warc_ts"),
        eid.cast("string").alias("event_id"),
        F.when(is_del, "delete").when(is_full, "insert").otherwise("patch").alias(
            "op"
        ),
        F.when(is_full, full_text).when(sets_text, p_text).alias("text"),
        F.when(is_full, full_lang).when(sets_lang, p_lang).alias("lang"),
        F.when(is_full, F.col("value")).otherwise(F.col("value") + 0.5).alias(
            "score"
        ),
        F.when(~is_del & ~is_full, patch_sets).alias("_set_cols"),
        F.pmod(eid, F.lit(4)).alias("_b"),
    )
    schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("warc_ts", T.TimestampType()),
            T.StructField("event_id", T.StringType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("score", T.DoubleType()),
        ]
    )
    d = tempfile.mkdtemp(prefix="cdc_p_")
    table = LakeTable.create(
        spark, d, schema=schema, key_col="url", version_col="warc_ts",
        n_buckets=8,
    )
    return table, changes, d


def q_cdc_patch_converge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-image (binlog_row_image=MINIMAL) CDC: a deterministic mix of
    full images, deletes, and **patch** events that each set only a named
    subset of cells — including explicit-NULL assignments — applied in 4
    micro-batches through ``merge_into`` (per-cell LWW, persisted
    ``_cvers``).  The DuckDB oracle recomputes the same state as per-cell
    ``arg_max`` over ALL events at once: equality proves the engine's
    resolution is batching-independent (operators/patch.py)."""
    from aus_land_data_etl_spark.lake.merge import merge_into, read_current

    table, changes, d = _patch_fixture(spark, sf_dir)
    try:
        for i in range(4):
            batch = changes.filter(F.col("_b") == i).drop("_b")
            merge_into(table, batch, "event_id", epoch_id=str(i))
        out = read_current(table, tiebreak_col="event_id").select(
            "url",
            "warc_ts",
            F.col("event_id").cast("long").alias("event_id"),
            "text",
            "lang",
            F.round(F.col("score"), 2).alias("score"),
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def q_cdc_patch_mor_converge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same partial-image stream through the MERGE-ON-READ path:
    O(batch) fanout delta appends (base never rewritten per epoch), a
    leveled fold mid-stream, resolution off mixed base+delta stacks.
    Shares ORACLE_CDC_PATCH — per-cell LWW is associative, so CoW and MoR
    must land byte-identical states."""
    from aus_land_data_etl_spark.lake.merge import (
        delta_merge_into,
        fold_deltas,
        read_current,
    )

    table, changes, d = _patch_fixture(spark, sf_dir)
    try:
        for i in range(4):
            batch = changes.filter(F.col("_b") == i).drop("_b")
            delta_merge_into(
                table, batch, "event_id", epoch_id=str(i), compact_depth=3
            )
        fold_deltas(table, "event_id")
        out = read_current(table, tiebreak_col="event_id").select(
            "url",
            "warc_ts",
            F.col("event_id").cast("long").alias("event_id"),
            "text",
            "lang",
            F.round(F.col("score"), 2).alias("score"),
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def patch_events_as_wal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events table → deterministic PATCH_EVENT_SCHEMA change stream.

    Same op mix as ``_patch_fixture`` but shipped the way a binlog
    shipper would: content as html BYTES (patches naming ``html`` imply
    re-extraction of the derived ``text`` cell), explicit-NULL lang
    patches, and patches naming NOTHING (id%2≠0 ∧ id%3≠0 → empty set:
    provenance-only events that bump the row version without touching a
    payload cell)."""
    ev = _t(spark, sf_dir, "events")
    eid = F.col("event_id")
    is_del = F.col("event_type") == "error"
    is_full = ~is_del & (F.pmod(eid, F.lit(7)) < 2)
    sets_html = F.pmod(eid, F.lit(2)) == 0
    sets_lang = F.pmod(eid, F.lit(3)) == 0
    body = F.when(
        is_full,
        F.concat(F.col("event_type"), F.lit(" value="), F.col("value").cast("string")),
    ).when(sets_html, F.concat(F.lit("patched:"), F.col("value").cast("string")))
    html = F.when(
        ~is_del & (is_full | sets_html),
        F.encode(
            F.concat(F.lit("<html><body><p>"), body, F.lit("</p></body></html>")),
            "UTF-8",
        ),
    )
    p_lang = F.when(
        F.pmod(eid, F.lit(9)) == 0, F.lit(None).cast("string")
    ).otherwise(F.concat(F.lit("p"), F.pmod(eid, F.lit(5)).cast("string")))
    full_lang = F.concat(F.lit("l"), F.pmod(F.col("user_id"), F.lit(3)).cast("string"))
    empty = F.array().cast("array<string>")
    patch_sets = F.concat(
        F.when(sets_html, F.array(F.lit("html"))).otherwise(empty),
        F.when(sets_lang, F.array(F.lit("lang"))).otherwise(empty),
    )
    return ev.select(
        eid.cast("string").alias("event_id"),
        F.when(is_del, "delete").when(is_full, "insert").otherwise("patch").alias("op"),
        F.concat(F.lit("user:"), F.col("user_id").cast("string")).alias("url"),
        F.col("ts").alias("warc_ts"),
        F.when(~is_del & ~is_full, patch_sets).alias("set_cols"),
        html.alias("html"),
        F.when(is_full, full_lang).when(~is_del & sets_lang, p_lang).alias("lang"),
        # per-partition DENSE monotone offsets (the binlog shipper contract
        # the offset watermarks need): partition = id mod 4, offset = id
        # div 4 — a contiguous WAL chunk is dense in every namespace
        F.pmod(eid, F.lit(4)).cast("int").alias("source_partition"),
        (eid / 4).cast("long").alias("source_offset"),
        F.lit("events.parquet").alias("source_file"),
        eid.cast("long").alias("source_pos"),
    )


def q_cdc_patch_stream_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The partial-image stream through the Structured Streaming shell:
    checkpointed WAL file source → ``apply_batch`` per micro-batch
    (content-addressed exactly-once, offset watermarks, O(patch) MoR
    appends) — patches naming ``html`` re-extract the derived ``text``
    cell, so the byte-identical invariant holds per cell."""
    from aus_land_data_etl_spark.cdc.apply import create_pages_table
    from aus_land_data_etl_spark.lake.merge import read_current
    from aus_land_data_etl_spark.streaming.runner import (
        run_patch_stream,
        write_event_log,
    )

    changes = patch_events_as_wal(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="cdc_ps_")
    try:
        wal, ckpt, tbl = (os.path.join(root, k) for k in ("wal", "ckpt", "tbl"))
        write_event_log(changes, wal, n_files=4)
        table = create_pages_table(spark, tbl, n_buckets=8)
        run_patch_stream(spark, table, wal, ckpt, max_files_per_trigger=2)
        out = read_current(table).select(
            "url",
            "warc_ts",
            F.col("event_id").cast("long").alias("event_id"),
            "text",
            "lang",
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# The stream fixture's oracle: per-cell arg_max over ALL events (no
# batching) — text determined by full images, deletes and html-naming
# patches (extraction recovers the inner body string byte-identically);
# lang by full images, deletes and lang-naming patches; provenance-only
# patches (empty set) still advance the row version.
ORACLE_CDC_PATCH_STREAM = """
WITH ev AS (
  SELECT 'user:' || CAST(user_id AS VARCHAR) AS url,
         ts, event_id,
         event_type = 'error' AS is_del,
         event_type <> 'error' AND (event_id % 7) < 2 AS is_full,
         printf('%020d|%020d', CAST(epoch_us(ts) AS BIGINT), event_id) AS vkey,
         event_type || ' value=' || CAST(value AS VARCHAR) AS full_text,
         'l' || CAST(user_id % 3 AS VARCHAR) AS full_lang,
         'patched:' || CAST(value AS VARCHAR) AS p_text,
         CASE WHEN event_id % 9 = 0 THEN NULL
              ELSE 'p' || CAST(event_id % 5 AS VARCHAR) END AS p_lang,
         (event_id % 2) = 0 AS sets_html,
         (event_id % 3) = 0 AS sets_lang
  FROM events
)
SELECT url,
       arg_max(ts, vkey) AS warc_ts,
       arg_max(event_id, vkey) AS event_id,
       (arg_max({'v': CASE WHEN is_del THEN NULL
                           WHEN is_full THEN full_text
                           ELSE p_text END}, vkey)
          FILTER (WHERE is_del OR is_full OR sets_html)).v AS text,
       (arg_max({'v': CASE WHEN is_del THEN NULL
                           WHEN is_full THEN full_lang
                           ELSE p_lang END}, vkey)
          FILTER (WHERE is_del OR is_full OR sets_lang)).v AS lang
FROM ev
GROUP BY url
HAVING NOT arg_max(is_del, vkey)
"""


# Per-cell LWW over ALL events at once (no batching): cell value = value
# from the newest event that DETERMINES the cell (full images and deletes
# determine everything; patches the named subset).  Values are struct-
# wrapped because DuckDB's bare arg_max skips NULL args and an explicit-
# NULL patch must win.  vkey zero-pads (epoch_us, event_id) into one
# lexicographically-ordered key (DuckDB arg_max takes scalar orderings).
ORACLE_CDC_PATCH = """
WITH ev AS (
  SELECT 'user:' || CAST(user_id AS VARCHAR) AS url,
         ts, event_id,
         event_type = 'error' AS is_del,
         event_type <> 'error' AND (event_id % 7) < 2 AS is_full,
         printf('%020d|%020d', CAST(epoch_us(ts) AS BIGINT), event_id) AS vkey,
         event_type || ' value=' || CAST(value AS VARCHAR) AS full_text,
         'l' || CAST(user_id % 3 AS VARCHAR) AS full_lang,
         'patched:' || CAST(value AS VARCHAR) AS p_text,
         CASE WHEN event_id % 9 = 0 THEN NULL
              ELSE 'p' || CAST(event_id % 5 AS VARCHAR) END AS p_lang,
         value,
         (event_id % 2) = 0 AS sets_text,
         (event_id % 3) = 0 AS sets_lang
  FROM events
)
SELECT url,
       arg_max(ts, vkey) AS warc_ts,
       arg_max(event_id, vkey) AS event_id,
       (arg_max({'v': CASE WHEN is_del THEN NULL
                           WHEN is_full THEN full_text
                           ELSE p_text END}, vkey)
          FILTER (WHERE is_del OR is_full OR sets_text)).v AS text,
       (arg_max({'v': CASE WHEN is_del THEN NULL
                           WHEN is_full THEN full_lang
                           ELSE p_lang END}, vkey)
          FILTER (WHERE is_del OR is_full OR sets_lang)).v AS lang,
       ROUND((arg_max({'v': CASE WHEN is_del THEN NULL
                                 WHEN is_full THEN value
                                 ELSE value + 0.5 END}, vkey)).v, 2) AS score
FROM ev
GROUP BY url
HAVING NOT arg_max(is_del, vkey)
"""


def q_changelog_subscribe_reconstruct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-out round trip: a downstream mirror built ONLY from
    ``ChangelogSubscription`` poll/ack batches (never reading the table
    directly) must equal the table's final LWW state — the contract that
    makes the lake a change *source* for derived pipelines, not just a
    sink.  Oracle: the same final state straight from the events
    (ORACLE_CDC_CONVERGE)."""
    from aus_land_data_etl_spark.cdc.apply import apply_batch, create_pages_table
    from aus_land_data_etl_spark.lake.changelog import ChangelogSubscription

    changes = events_as_changes(spark, sf_dir)
    d = tempfile.mkdtemp(prefix="cdc_sub_")
    try:
        table = create_pages_table(spark, d, n_buckets=8)
        sub = ChangelogSubscription(
            table, os.path.join(d, "_subscribers", "mirror.json"),
            start_at="origin",
        )
        mirror = (
            table.read(buckets=[])
            .select("url", "warc_ts", "event_id", "text")
            .limit(0)
            .localCheckpoint(eager=True)
        )
        for i in range(4):
            batch = changes.filter(F.pmod(F.col("source_pos"), F.lit(4)) == i)
            apply_batch(table, batch, epoch=i)
            got = sub.poll()
            if got is None:
                continue
            ch, target = got
            ch = ch.select("change_type", "url", "warc_ts", "event_id", "text")
            # idempotent keyed sink: drop every changed key, re-insert
            # the after images (deletes contribute no after image)
            mirror = (
                mirror.join(ch.select("url"), "url", "left_anti")
                .unionByName(
                    ch.filter(F.col("change_type") != "delete").drop(
                        "change_type"
                    )
                )
                .localCheckpoint(eager=True)
            )
            sub.ack(target)
        return mirror.select(
            "url",
            "warc_ts",
            F.col("event_id").cast("long").alias("event_id"),
            "text",
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def q_text_grammar_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured extraction grammar over free text (the reference F14
    analog beyond plain text: its property-description parser classifies
    substrings into ids / named flags / residue —
    /root/reference/lib/pipeline/nsw_lrs/property_description/parse/
    grammar.py:29-193).  Here: pattern classes extracted with one regex
    pass each, residue = text with all matches removed, whitespace
    re-normalised.  All JVM-side regexp — no UDF."""
    docs = _t(spark, sf_dir, "documents")
    ops_pat = "(scan|join|merge|filter|sort|agg)"
    ref_pat = "(table|row|column)"
    residue = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.col("text"), "(scan|join|merge|filter|sort|agg|table|row|column)", ""
            ),
            r"\s+",
            " ",
        )
    )
    return docs.select(
        "doc_id",
        F.array_join(
            F.array_sort(F.regexp_extract_all("text", F.lit(ops_pat), F.lit(1))), "|"
        ).alias("ops"),
        F.size(F.regexp_extract_all("text", F.lit(ref_pat), F.lit(1))).alias("n_refs"),
        F.length(residue).alias("residue_len"),
    )


ORACLE_TEXT_GRAMMAR = """
SELECT doc_id,
       COALESCE(ARRAY_TO_STRING(LIST_SORT(regexp_extract_all(text, '(scan|join|merge|filter|sort|agg)', 1)), '|'), '') AS ops,
       CAST(LEN(regexp_extract_all(text, '(table|row|column)', 1)) AS INT) AS n_refs,
       CAST(LENGTH(TRIM(regexp_replace(regexp_replace(text, '(scan|join|merge|filter|sort|agg|table|row|column)', '', 'g'), '\\s+', ' ', 'g'))) AS INT) AS residue_len
FROM documents
"""


def q_rollup_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical totals via ROLLUP (flag → flag+status → grand total) —
    one shuffle, partial aggregation map-side; subtotal rows carry NULL
    group keys exactly as the SQL ROLLUP contract defines."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
    )


ORACLE_ROLLUP = """
SELECT l_returnflag, l_linestatus,
       COUNT(*) AS n_items,
       ROUND(SUM(l_quantity), 2) AS sum_qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


# ---------------------------------------------------------------------------
# Event-time analytics (batch forms of streaming/windowed.py over the
# driver's events table)
# ---------------------------------------------------------------------------


def q_t_windowed_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-day event-time windows — the batch form of
    ``streaming.windowed.windowed_rollup`` (same ``F.window`` expression;
    the streaming path adds only the watermark).  Epoch-aligned windows
    match DuckDB ``time_bucket``."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("w_start"), "event_type", "n_events", "sum_value"
        )
    )


ORACLE_WINDOWED_ROLLUP = """
SELECT time_bucket(INTERVAL '1 day', ts) AS w_start,
       event_type,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 2) AS sum_value
FROM events
GROUP BY 1, 2
"""


def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity gap) per user — the
    classic event-time session window, expressed relationally: a session
    starts where the gap from the previous event exceeds the threshold;
    the session id is the running count of such starts (one cumulative
    window, no self-join)."""
    ev = _t(spark, sf_dir, "events")
    by_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # microsecond-exact integer gap (matches DuckDB epoch_us) —
    # second-truncation would misclassify gaps like 1800.5s on one side
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))  # NTZ→UTC, session TZ pinned
    gap = ts_us - F.lag(ts_us).over(by_user)
    new_session = F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0)
    sess = ev.withColumn(
        "session_no",
        F.sum(new_session)
        .over(by_user.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long"),
    )
    return sess.groupBy("user_id", "session_no").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


ORACLE_SESSIONIZE = """
WITH gaps AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800 * 1000000
                OR LAG(ts) OVER w IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT *,
         CAST(SUM(new_session) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS session_no
  FROM gaps
)
SELECT user_id, session_no,
       MIN(ts) AS session_start,
       MAX(ts) AS session_end,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 2) AS sum_value
FROM numbered
GROUP BY user_id, session_no
"""


def q_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured payload projection: extract a typed field from the
    JSON ``props`` column (the schema-evolution payload_extra path uses
    the same construct) and aggregate by its decile."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        # floor() on both sides: DuckDB CAST(double AS INT) rounds while
        # Spark's truncates — floor first makes them agree
        ev.withColumn("k_decile", F.floor(k / 10).cast("int"))
        .groupBy("k_decile")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(k).alias("k_min"),
            F.max(k).alias("k_max"),
        )
    )


ORACLE_PROPS_JSON = """
SELECT CAST(FLOOR(CAST(json_extract(props, '$.k') AS INT) / 10) AS INT) AS k_decile,
       COUNT(*) AS n_events,
       MIN(CAST(json_extract(props, '$.k') AS INT)) AS k_min,
       MAX(CAST(json_extract(props, '$.k') AS INT)) AS k_max
FROM events
GROUP BY 1
"""


def q_text_parcel_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed parcel-list expansion (the reference's hardest
    vectorization — parcel_parser.py:17-175): descriptions synthesised
    deterministically from the ``part`` table over five grammar templates
    (simple / PT / compressed list / partial terminal + residue / residue
    tail), expanded window-function-style into (folio, part) rows.  The
    oracle derives the expected rows from the template arithmetic — an
    independent ground-truth path, no parser on the oracle side."""
    from aus_land_data_etl_spark.operators.parcels import expand_parcels

    p = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("doc_id"),
        F.pmod("p_partkey", F.lit(5)).alias("tpl"),
        F.pmod("p_partkey", F.lit(40)).cast("string").alias("a"),
        (F.pmod("p_partkey", F.lit(40)) + 1).cast("string").alias("b"),
        (F.pmod("p_partkey", F.lit(40)) + 2).cast("string").alias("c"),
        (F.pmod("p_partkey", F.lit(997)) + 1000).cast("string").alias("plan"),
    )
    desc = (
        F.when(F.col("tpl") == 0, F.concat("a", F.lit("/"), "plan"))
        .when(F.col("tpl") == 1, F.concat(F.lit("PT "), "a", F.lit("/"), "plan"))
        .when(
            F.col("tpl") == 2,
            F.concat("a", F.lit(", PT "), "b", F.lit(", "), "c", F.lit("/"), "plan"),
        )
        .when(
            F.col("tpl") == 3,
            F.concat(
                "a", F.lit(", "), "b", F.lit(", /"), "plan",
                F.lit(" Licence "), F.col("doc_id").cast("string"),
            ),
        )
        .otherwise(
            F.concat(
                "a", F.lit("/"), "plan",
                F.lit(" rubbish tail "), F.col("doc_id").cast("string"),
            )
        )
    )
    docs = p.select("doc_id", desc.alias("desc"))
    return expand_parcels(docs).select(
        "doc_id", F.col("pos").cast("int").alias("pos"), "folio_id", "part"
    )


def q_dat_scan_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 + §1.3 depth: versioned positional .DAT factories end-to-end —
    synthesise a 2012-format sales file from the supplier table (text
    writer, no driver loop), scan it with the multi-record S1 source,
    and project B rows onto the typed superset schema (variant probe,
    try-cast readers, zone standard).  Reference:
    file_format/parse.py:136-166, factories.py:35-265."""
    from aus_land_data_etl_spark.sources.dat_factories import parse_dat_records
    from aus_land_data_etl_spark.sources.readers import scan_delimited_records

    sup = _t(spark, sf_dir, "supplier")
    k = F.col("s_suppkey")
    line = F.concat(
        F.lit("B;"),
        F.pmod(k, F.lit(200)).cast("string"), F.lit(";"),
        k.cast("string"), F.lit(";1;20240101 00:00;;;"),
        F.lit(";S STREET;CITY;"),
        (F.pmod(k, F.lit(999)) + 2000).cast("string"), F.lit(";"),
        (F.pmod(k, F.lit(50)) * 10).cast("string"), F.lit(";M;20240110;20240215;"),
        (k * 37 + 1000).cast("string"),
        F.lit(";R1;3;HOME;;CC;;0;DN"),
        k.cast("string"), F.lit(";"),
    )
    d = tempfile.mkdtemp(prefix="dat_q_")
    try:
        sup.select(line.alias("value")).write.mode("overwrite").text(
            os.path.join(d, "sales_01042012.DAT")
        )
        recs = scan_delimited_records(spark, os.path.join(d, "sales_01042012.DAT"))
        frames = parse_dat_records(
            recs, download_date=_datetime.datetime(2012, 4, 1),
            published_year=2012,
        )
        out = frames["B"].select(
            "property_id",
            "district_code",
            "sale_counter",
            "date_provided",
            "street_name",
            "postcode",
            "area",
            "contract_date",
            "settlement_date",
            "purchase_price",
            "zone_code",
            "zone_standard",
            "dealing_number",
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(d, ignore_errors=True)


ORACLE_DAT_SCAN = """
SELECT s_suppkey AS property_id,
       CAST(s_suppkey % 200 AS INT) AS district_code,
       CAST(1 AS INT) AS sale_counter,
       TIMESTAMP '2024-01-01 00:00:00' AS date_provided,
       'S STREET' AS street_name,
       CAST(2000 + s_suppkey % 999 AS VARCHAR) AS postcode,
       CAST(s_suppkey % 50 * 10 AS DOUBLE) AS area,
       DATE '2024-01-10' AS contract_date,
       DATE '2024-02-15' AS settlement_date,
       CAST(1000 + s_suppkey * 37 AS DOUBLE) AS purchase_price,
       'R1' AS zone_code,
       'ep&a_2006' AS zone_standard,
       'DN' || CAST(s_suppkey AS VARCHAR) AS dealing_number
FROM supplier
"""


ORACLE_PARCEL_EXPAND = """
WITH src AS (
  SELECT p_partkey AS doc_id,
         p_partkey % 5 AS tpl,
         CAST(p_partkey % 40 AS VARCHAR) AS a,
         CAST(p_partkey % 40 + 1 AS VARCHAR) AS b,
         CAST(p_partkey % 40 + 2 AS VARCHAR) AS c,
         CAST(1000 + p_partkey % 997 AS VARCHAR) AS plan
  FROM part
)
SELECT doc_id, CAST(0 AS INT) AS pos, a || '/' || plan AS folio_id, FALSE AS part
FROM src WHERE tpl = 0
UNION ALL SELECT doc_id, 1, a || '/' || plan, TRUE  FROM src WHERE tpl = 1
UNION ALL SELECT doc_id, 0, a || '/' || plan, FALSE FROM src WHERE tpl = 2
UNION ALL SELECT doc_id, 2, b || '/' || plan, TRUE  FROM src WHERE tpl = 2
UNION ALL SELECT doc_id, 3, c || '/' || plan, FALSE FROM src WHERE tpl = 2
UNION ALL SELECT doc_id, 0, a || '/' || plan, FALSE FROM src WHERE tpl = 3
UNION ALL SELECT doc_id, 1, b || '/' || plan, FALSE FROM src WHERE tpl = 3
UNION ALL SELECT doc_id, 0, a || '/' || plan, FALSE FROM src WHERE tpl = 4
"""


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

def q_lake_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental changelog read (CDC-out): apply the events stream as 4
    micro-batches, snapshot after batch 2, and emit the net row-level diff
    (insert/update/delete + image) between that snapshot and the final one
    — Iceberg's net-changes incremental read over this repo's lake."""
    from aus_land_data_etl_spark.cdc.apply import apply_batch, create_pages_table
    from aus_land_data_etl_spark.lake.changelog import read_changes

    changes = events_as_changes(spark, sf_dir)
    d = tempfile.mkdtemp(prefix="cdc_cl_")
    try:
        table = create_pages_table(spark, d, n_buckets=8)
        for i in range(3):
            batch = changes.filter(F.pmod(F.col("source_pos"), F.lit(4)) == i)
            apply_batch(table, batch, epoch=i)
        v_from = table.current_version()
        apply_batch(
            table,
            changes.filter(F.pmod(F.col("source_pos"), F.lit(4)) == 3),
            epoch=3,
        )
        out = read_changes(table, v_from, table.current_version()).select(
            F.col("change_type"),
            F.col("url"),
            F.col("warc_ts"),
            F.col("event_id").cast("long").alias("event_id"),
            F.col("text"),
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(d, ignore_errors=True)


# The oracle rebuilds both LWW states in SQL (cutoff = first three
# batches vs all events) and full-outer-joins them; winner identity is
# (warc_ts, event_id), so an unchanged winner emits no row and a key
# whose winner at the cutoff was a tombstone ('error') counts as absent.
ORACLE_LAKE_CHANGELOG = """
WITH ranked_a AS (
  SELECT 'user:' || CAST(user_id AS VARCHAR) AS url,
         ts AS warc_ts, event_id, event_type, value,
         ROW_NUMBER() OVER (
           PARTITION BY user_id ORDER BY ts DESC, event_id DESC
         ) AS rn
  FROM events
  WHERE event_id % 4 <> 3
),
a AS (
  SELECT url, warc_ts, event_id,
         event_type || ' value=' || CAST(value AS VARCHAR) AS text
  FROM ranked_a WHERE rn = 1 AND event_type <> 'error'
),
ranked_b AS (
  SELECT 'user:' || CAST(user_id AS VARCHAR) AS url,
         ts AS warc_ts, event_id, event_type, value,
         ROW_NUMBER() OVER (
           PARTITION BY user_id ORDER BY ts DESC, event_id DESC
         ) AS rn
  FROM events
),
b AS (
  SELECT url, warc_ts, event_id,
         event_type || ' value=' || CAST(value AS VARCHAR) AS text
  FROM ranked_b WHERE rn = 1 AND event_type <> 'error'
)
SELECT
  CASE WHEN a.url IS NULL THEN 'insert'
       WHEN b.url IS NULL THEN 'delete'
       ELSE 'update' END AS change_type,
  COALESCE(b.url, a.url) AS url,
  CASE WHEN b.url IS NOT NULL THEN b.warc_ts ELSE a.warc_ts END AS warc_ts,
  CASE WHEN b.url IS NOT NULL THEN b.event_id ELSE a.event_id END AS event_id,
  CASE WHEN b.url IS NOT NULL THEN b.text ELSE a.text END AS text
FROM a FULL OUTER JOIN b ON a.url = b.url
WHERE a.url IS NULL OR b.url IS NULL
   OR a.event_id <> b.event_id OR a.warc_ts <> b.warc_ts
"""


def q_lake_stats_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zonemap file-skipping scan (Iceberg lower/upper_bounds analog):
    the events stream is applied as 4 weekly time-banded MoR epochs, so
    each delta layer's files carry a narrow ``warc_ts`` zonemap recorded
    at commit time; a one-week window scan then plans via
    ``LakeTable.plan_scan`` and OPENS only the two overlapping epochs'
    files — the query raises if pruning skipped nothing, so the driver
    check covers both the result values and the pruning claim."""
    import datetime as _dt

    from aus_land_data_etl_spark.cdc.apply import apply_batch, create_pages_table

    changes = events_as_changes(spark, sf_dir)
    cuts = [
        _dt.datetime(2024, 1, 8),
        _dt.datetime(2024, 1, 15),
        _dt.datetime(2024, 1, 22),
    ]
    d = tempfile.mkdtemp(prefix="cdc_zp_")
    try:
        table = create_pages_table(spark, d, n_buckets=8)
        lo_b = None
        for i, hi_b in enumerate(cuts + [None]):
            b = changes
            if lo_b is not None:
                b = b.filter(F.col("warc_ts") >= F.lit(lo_b))
            if hi_b is not None:
                b = b.filter(F.col("warc_ts") < F.lit(hi_b))
            apply_batch(table, b, epoch=i, compact_depth=100)
            lo_b = hi_b
        lo, hi = _dt.datetime(2024, 1, 10), _dt.datetime(2024, 1, 17)
        preds = [("warc_ts", ">=", lo), ("warc_ts", "<", hi)]
        kept, skipped = table.plan_scan(predicates=preds)
        if not skipped:
            raise RuntimeError(
                f"zonemap pruning skipped no files ({len(kept)} kept)"
            )
        out = (
            table.read(predicates=preds)  # pruned raw scan (advisory) ...
            .filter(  # ... + the residual row filter (the sound contract)
                (F.col("warc_ts") >= F.lit(lo)) & (F.col("warc_ts") < F.lit(hi))
            )
            .select(
                "url",
                "warc_ts",
                F.col("event_id").cast("long").alias("event_id"),
                "is_deleted",
                "text",
            )
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def q_lake_count_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg-style COUNT-from-manifests over the serving view: the CDC
    stream is applied, folded, and z-ordered by ``warc_ts``; per-file
    stats then carry exact live-row counts (rows − tombstones), so the
    unpredicated COUNT answers with ZERO data files opened and the
    windowed COUNTs open only the boundary files their window cuts
    through (``lake/metadata_agg.py``).  The query raises unless the
    metadata path actually engaged, so the driver check covers both the
    values and the zero-scan claim."""
    import datetime as _dt

    from aus_land_data_etl_spark.cdc.apply import apply_batch, create_pages_table
    from aus_land_data_etl_spark.lake.merge import fold_deltas
    from aus_land_data_etl_spark.lake.metadata_agg import count_current
    from aus_land_data_etl_spark.lake.zorder import cluster_zorder

    changes = events_as_changes(spark, sf_dir)
    d = tempfile.mkdtemp(prefix="cdc_cnt_")
    try:
        table = create_pages_table(spark, d, n_buckets=8)
        for i in range(4):
            batch = changes.filter(F.pmod(F.col("source_pos"), F.lit(4)) == i)
            apply_batch(table, batch, epoch=i)
        fold_deltas(table, "event_id")
        cluster_zorder(table, ["warc_ts"], files_per_bucket=4)
        windows = [
            ("all", None, None),
            ("w1", _dt.datetime(2024, 1, 5), _dt.datetime(2024, 1, 12)),
            ("w2", _dt.datetime(2024, 1, 12), _dt.datetime(2024, 1, 19)),
            ("w3", _dt.datetime(2024, 1, 19), _dt.datetime(2024, 1, 26)),
        ]
        rows, n_meta, n_scanned = [], 0, 0
        for wid, lo, hi in windows:
            preds = []
            if lo is not None:
                preds = [("warc_ts", ">=", lo), ("warc_ts", "<", hi)]
            plan = count_current(table, predicates=preds)
            if plan.fallback:
                raise RuntimeError(f"window {wid} fell back to a full scan")
            if wid == "all" and plan.scanned_files:
                raise RuntimeError(
                    f"unpredicated count opened {len(plan.scanned_files)} "
                    "files; expected a pure-metadata answer"
                )
            n_meta += len(plan.metadata_files)
            n_scanned += len(plan.scanned_files)
            rows.append((wid, plan.count))
        if n_meta == 0:
            raise RuntimeError("no file was ever answered from metadata")
        return spark.createDataFrame(rows, "window_id string, cnt long")
    finally:
        shutil.rmtree(d, ignore_errors=True)


ORACLE_LAKE_COUNT_METADATA = """
WITH ranked AS (
  SELECT ts, event_type,
         ROW_NUMBER() OVER (
           PARTITION BY user_id ORDER BY ts DESC, event_id DESC
         ) AS rn
  FROM events
), cur AS (
  SELECT ts FROM ranked WHERE rn = 1 AND event_type <> 'error'
)
SELECT 'all' AS window_id, COUNT(*) AS cnt FROM cur
UNION ALL
SELECT 'w1', COUNT(*) FROM cur
WHERE ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-12'
UNION ALL
SELECT 'w2', COUNT(*) FROM cur
WHERE ts >= TIMESTAMP '2024-01-12' AND ts < TIMESTAMP '2024-01-19'
UNION ALL
SELECT 'w3', COUNT(*) FROM cur
WHERE ts >= TIMESTAMP '2024-01-19' AND ts < TIMESTAMP '2024-01-26'
"""


def q_lake_minmax_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only MIN/MAX/COUNT (``lake/metadata_agg.minmax_current``):
    orders land in a LakeTable z-ordered by ``o_totalprice``, so a price
    window answers min/max/count of the order date AND the priority
    string from the per-file zonemaps of interior files, scanning only
    the files the window cuts through.  Exercises the timestamp and
    string bound decoders; raises unless the metadata path engaged and
    the windows pruned files, so the driver check covers the claims.
    Window bounds use IEEE double arithmetic the DuckDB oracle
    reproduces bit-for-bit (0.3e0/0.6e0 literals)."""
    from aus_land_data_etl_spark.lake.metadata_agg import minmax_current
    from aus_land_data_etl_spark.lake.table import LakeTable
    from aus_land_data_etl_spark.lake.zorder import cluster_zorder

    orders = _t(spark, sf_dir, "orders")
    mn_tp, mx_tp = orders.agg(F.min("o_totalprice"), F.max("o_totalprice")).first()
    cut1 = mn_tp + 0.3 * (mx_tp - mn_tp)
    cut2 = mn_tp + 0.6 * (mx_tp - mn_tp)
    d = tempfile.mkdtemp(prefix="cdc_mm_")
    try:
        table = LakeTable.create(
            spark,
            d,
            schema=orders.schema,
            key_col="o_orderkey",
            version_col="o_orderdate",
            n_buckets=4,
            properties={
                "stats_cols": ["o_totalprice", "o_orderdate", "o_orderpriority"]
            },
        )
        table.overwrite(orders)
        cluster_zorder(
            table, ["o_totalprice"], bits=6, files_per_bucket=8,
            tiebreak_col="o_orderkey",
        )
        windows = [
            ("all", None, None),
            ("lo", None, cut1),
            ("mid", cut1, cut2),
            ("hi", cut2, None),
        ]
        rows, n_meta, n_pruned = [], 0, 0
        for wid, lo, hi in windows:
            preds = []
            if lo is not None:
                preds.append(("o_totalprice", ">=", lo))
            if hi is not None:
                preds.append(("o_totalprice", "<", hi))
            kw = dict(predicates=preds, tiebreak_col="o_orderkey")
            p_date = minmax_current(table, "o_orderdate", **kw)
            p_prio = minmax_current(table, "o_orderpriority", **kw)
            for p in (p_date, p_prio):
                if p.fallback:
                    raise RuntimeError(f"window {wid} fell back to a full scan")
                n_meta += len(p.metadata_files)
                n_pruned += len(p.pruned_files)
            if p_date.count_nonnull != p_prio.count_nonnull:
                raise RuntimeError("count disagreement between columns")
            rows.append(
                (wid, p_date.lo, p_date.hi, p_prio.lo, p_prio.hi,
                 p_date.count_nonnull)
            )
        if n_meta == 0:
            raise RuntimeError("no file was ever answered from metadata")
        if n_pruned == 0:
            raise RuntimeError("the price windows pruned no files")
        return spark.createDataFrame(
            rows,
            "window_id string, date_lo timestamp, date_hi timestamp, "
            "prio_lo string, prio_hi string, cnt long",
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


ORACLE_LAKE_MINMAX_METADATA = """
WITH b AS (
  SELECT MIN(o_totalprice) AS mn, MAX(o_totalprice) AS mx FROM orders
), w AS (
  SELECT mn + 0.3e0 * (mx - mn) AS cut1, mn + 0.6e0 * (mx - mn) AS cut2
  FROM b
)
SELECT 'all' AS window_id,
       MIN(o_orderdate) AS date_lo, MAX(o_orderdate) AS date_hi,
       MIN(o_orderpriority) AS prio_lo, MAX(o_orderpriority) AS prio_hi,
       CAST(COUNT(o_orderdate) AS BIGINT) AS cnt
FROM orders
UNION ALL
SELECT 'lo', MIN(o_orderdate), MAX(o_orderdate),
       MIN(o_orderpriority), MAX(o_orderpriority),
       CAST(COUNT(o_orderdate) AS BIGINT)
FROM orders, w WHERE o_totalprice < w.cut1
UNION ALL
SELECT 'mid', MIN(o_orderdate), MAX(o_orderdate),
       MIN(o_orderpriority), MAX(o_orderpriority),
       CAST(COUNT(o_orderdate) AS BIGINT)
FROM orders, w WHERE o_totalprice >= w.cut1 AND o_totalprice < w.cut2
UNION ALL
SELECT 'hi', MIN(o_orderdate), MAX(o_orderdate),
       MIN(o_orderpriority), MAX(o_orderpriority),
       CAST(COUNT(o_orderdate) AS BIGINT)
FROM orders, w WHERE o_totalprice >= w.cut2
"""


ORACLE_LAKE_STATS_PRUNE = """
SELECT 'user:' || CAST(user_id AS VARCHAR) AS url,
       ts AS warc_ts,
       event_id,
       event_type = 'error' AS is_deleted,
       CASE WHEN event_type = 'error' THEN NULL
            ELSE event_type || ' value=' || CAST(value AS VARCHAR) END AS text
FROM events
WHERE ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-17'
"""


def q_lake_zorder_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustered rewrite + multi-dimensional zonemap pruning
    (Databricks OPTIMIZE ZORDER BY analog, ``lake/zorder.py``): orders
    land in a hash-bucketed LakeTable, then one ``cluster_zorder``
    maintenance rewrite range-splits each bucket along the
    (o_custkey, o_totalprice) Morton curve.  A ~10%-wide window on
    EITHER dimension must then skip files — including o_totalprice,
    which a lexicographic ``sort_cols`` layout could never prune — and
    the query raises if either dimension skipped nothing, so the driver
    check covers the values AND the cross-dimension pruning claim.
    Window bounds are derived from min/max in IEEE double arithmetic the
    DuckDB oracle reproduces bit-for-bit (0.45e0/0.55e0 literals)."""
    from aus_land_data_etl_spark.lake.table import LakeTable
    from aus_land_data_etl_spark.lake.zorder import cluster_zorder

    orders = _t(spark, sf_dir, "orders")
    mn_ck, mx_ck, mn_tp, mx_tp = orders.agg(
        F.min("o_custkey"), F.max("o_custkey"),
        F.min("o_totalprice"), F.max("o_totalprice"),
    ).first()
    lo_ck, hi_ck = mn_ck + 0.45 * (mx_ck - mn_ck), mn_ck + 0.55 * (mx_ck - mn_ck)
    lo_tp, hi_tp = mn_tp + 0.45 * (mx_tp - mn_tp), mn_tp + 0.55 * (mx_tp - mn_tp)
    d = tempfile.mkdtemp(prefix="cdc_zo_")
    try:
        table = LakeTable.create(
            spark,
            d,
            schema=orders.schema,
            key_col="o_orderkey",
            version_col="o_orderdate",
            n_buckets=4,
            properties={"stats_cols": ["o_custkey", "o_totalprice"]},
        )
        table.overwrite(orders)
        cluster_zorder(
            table,
            ["o_custkey", "o_totalprice"],
            bits=6,
            files_per_bucket=8,
        )
        windows = {
            "o_custkey": (lo_ck, hi_ck),
            "o_totalprice": (lo_tp, hi_tp),
        }
        for col, (lo, hi) in windows.items():
            _, skipped = table.plan_scan(predicates=[(col, ">=", lo), (col, "<", hi)])
            if not skipped:
                raise RuntimeError(f"z-order pruning skipped no files on {col}")
        preds = [
            ("o_custkey", ">=", lo_ck), ("o_custkey", "<", hi_ck),
            ("o_totalprice", ">=", lo_tp), ("o_totalprice", "<", hi_tp),
        ]
        out = (
            table.read(predicates=preds)  # pruned raw scan (advisory) ...
            .filter(  # ... + the residual row filter (the sound contract)
                (F.col("o_custkey") >= F.lit(lo_ck))
                & (F.col("o_custkey") < F.lit(hi_ck))
                & (F.col("o_totalprice") >= F.lit(lo_tp))
                & (F.col("o_totalprice") < F.lit(hi_tp))
            )
            .select("o_orderkey", "o_custkey", "o_totalprice")
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def q_lake_zorder_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-scoped incremental z-order (``cluster_zorder_buckets``):
    at 100 TB a maintenance tick never rewrites the whole table — only
    the dirty buckets re-cluster through the copy-on-write
    ``commit_buckets`` path.  Orders land hash-bucketed, buckets {0,1}
    re-cluster along the (o_custkey, o_totalprice) Morton curve, and the
    query raises unless (a) buckets {2,3} kept their file lists
    UNCHANGED (bounded write amplification — the contract, not a vibe)
    and (b) a ~10%-wide o_custkey window skips files inside the
    re-clustered buckets.  Returned rows are the windowed selection over
    the whole table (pruned scan + residual filter), so the oracle also
    checks that partial re-clustering never loses or duplicates rows."""
    from aus_land_data_etl_spark.lake.table import LakeTable
    from aus_land_data_etl_spark.lake.zorder import cluster_zorder_buckets

    orders = _t(spark, sf_dir, "orders")
    mn_ck, mx_ck = orders.agg(F.min("o_custkey"), F.max("o_custkey")).first()
    lo_ck, hi_ck = mn_ck + 0.45 * (mx_ck - mn_ck), mn_ck + 0.55 * (mx_ck - mn_ck)
    d = tempfile.mkdtemp(prefix="cdc_zi_")
    try:
        table = LakeTable.create(
            spark,
            d,
            schema=orders.schema,
            key_col="o_orderkey",
            version_col="o_orderdate",
            n_buckets=4,
            properties={"stats_cols": ["o_custkey", "o_totalprice"]},
        )
        table.overwrite(orders)
        snap0 = table.snapshot()
        untouched_before = {
            b: list(snap0.bucket_files.get(b, [])) for b in ("2", "3")
        }
        cluster_zorder_buckets(
            table,
            ["o_custkey", "o_totalprice"],
            buckets=[0, 1],
            bits=6,
            files_per_bucket=8,
            tiebreak_col="o_orderkey",
        )
        snap1 = table.snapshot()
        for b, fs in untouched_before.items():
            if snap1.bucket_files.get(b, []) != fs:
                raise RuntimeError(
                    f"incremental z-order rewrote untouched bucket {b}"
                )
        _, skipped = table.plan_scan(
            buckets=[0, 1],
            predicates=[("o_custkey", ">=", lo_ck), ("o_custkey", "<", hi_ck)],
        )
        if not skipped:
            raise RuntimeError(
                "incremental z-order skipped no files in re-clustered buckets"
            )
        out = (
            table.read(predicates=[("o_custkey", ">=", lo_ck),
                                   ("o_custkey", "<", hi_ck)])
            .filter(
                (F.col("o_custkey") >= F.lit(lo_ck))
                & (F.col("o_custkey") < F.lit(hi_ck))
            )
            .select("o_orderkey", "o_custkey", "o_totalprice")
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def q_lake_zorder_string_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order with a STRING dimension — the webtext-native case
    (``lake/zorder.py _rank_expr``: order-preserving 6-byte UTF-8 prefix
    proxy, exact in a double, for the quantizer; pruning soundness rests
    on the REAL string min/max in the zonemaps).  ``documents`` cluster
    on (source, n_chars); an equality probe on the string dimension AND
    a ~20%-wide window on the numeric one must BOTH skip files (the
    query raises otherwise).  Returned rows are the source probe's
    pruned read + residual filter, so the oracle checks values too."""
    from aus_land_data_etl_spark.lake.table import LakeTable
    from aus_land_data_etl_spark.lake.zorder import cluster_zorder

    docs = _t(spark, sf_dir, "documents")
    d = tempfile.mkdtemp(prefix="cdc_zstr_")
    try:
        table = LakeTable.create(
            spark,
            d,
            schema=docs.schema,
            key_col="doc_id",
            version_col="n_chars",
            n_buckets=2,
            properties={"stats_cols": ["source", "n_chars"]},
        )
        table.overwrite(docs)
        cluster_zorder(
            table,
            ["source", "n_chars"],
            bits=5,
            files_per_bucket=8,
            tiebreak_col="doc_id",
        )
        for preds in (
            [("source", "==", "src13")],
            [("n_chars", ">=", 100), ("n_chars", "<", 200)],
        ):
            _, skipped = table.plan_scan(predicates=preds)
            if not skipped:
                raise RuntimeError(f"string z-order skipped no files for {preds}")
        out = (
            table.read(predicates=[("source", "==", "src13")])
            .filter(F.col("source") == "src13")
            .select("doc_id", "source", "n_chars")
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(d, ignore_errors=True)


ORACLE_LAKE_ZORDER_STRING_PRUNE = """
SELECT doc_id, source, n_chars
FROM documents
WHERE source = 'src13'
"""


ORACLE_LAKE_ZORDER_INCREMENTAL = """
WITH b AS (
  SELECT MIN(o_custkey) + 0.45e0 * (MAX(o_custkey) - MIN(o_custkey)) AS lo_ck,
         MIN(o_custkey) + 0.55e0 * (MAX(o_custkey) - MIN(o_custkey)) AS hi_ck
  FROM orders
)
SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
FROM orders o, b
WHERE o.o_custkey >= b.lo_ck AND o.o_custkey < b.hi_ck
"""


# 0.45e0/0.55e0: DOUBLE literals — a bare 0.45 is DECIMAL in DuckDB, whose
# exact arithmetic would disagree with the engine's IEEE-double bounds.
ORACLE_LAKE_ZORDER_PRUNE = """
WITH b AS (
  SELECT MIN(o_custkey) + 0.45e0 * (MAX(o_custkey) - MIN(o_custkey)) AS lo_ck,
         MIN(o_custkey) + 0.55e0 * (MAX(o_custkey) - MIN(o_custkey)) AS hi_ck,
         MIN(o_totalprice) + 0.45e0 * (MAX(o_totalprice) - MIN(o_totalprice)) AS lo_tp,
         MIN(o_totalprice) + 0.55e0 * (MAX(o_totalprice) - MIN(o_totalprice)) AS hi_tp
  FROM orders
)
SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
FROM orders o, b
WHERE o.o_custkey >= b.lo_ck AND o.o_custkey < b.hi_ck
  AND o.o_totalprice >= b.lo_tp AND o.o_totalprice < b.hi_tp
"""


def q_lake_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serving-side point reads: after the CDC apply, ``LakeTable.lookup``
    fetches the current LWW row (tombstones included) for each of 8 urls,
    opening ONLY the key's bucket — the query raises unless every lookup's
    ``inputFiles()`` is a strict subset of the table's files, so the
    driver check covers the O(table/n_buckets) claim, not just values."""
    from functools import reduce

    from aus_land_data_etl_spark.cdc.apply import apply_batch, create_pages_table

    changes = events_as_changes(spark, sf_dir)
    keys = [f"user:{i}" for i in range(1, 9)]
    d = tempfile.mkdtemp(prefix="cdc_pl_")
    try:
        table = create_pages_table(spark, d, n_buckets=8)
        for i in range(4):
            batch = changes.filter(F.pmod(F.col("source_pos"), F.lit(4)) == i)
            # CoW: point reads hit one-file-per-bucket base layout
            apply_batch(table, batch, epoch=i, mode="cow")
        snap = table.snapshot()
        n_total = sum(len(f) for f in snap.bucket_files.values()) + sum(
            len(f) for f in snap.delta_files.values()
        )
        parts = []
        for k in keys:
            one = table.lookup(k)
            if not len(one.inputFiles()) < n_total:
                raise RuntimeError(f"lookup({k!r}) opened the whole table")
            parts.append(one)
        out = reduce(DataFrame.unionByName, parts).select(
            "url",
            "warc_ts",
            F.col("event_id").cast("long").alias("event_id"),
            "is_deleted",
            "text",
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(d, ignore_errors=True)


ORACLE_LAKE_POINT_LOOKUP = """
WITH ranked AS (
  SELECT 'user:' || CAST(user_id AS VARCHAR) AS url,
         ts AS warc_ts,
         event_id,
         event_type,
         value,
         ROW_NUMBER() OVER (
           PARTITION BY user_id ORDER BY ts DESC, event_id DESC
         ) AS rn
  FROM events
  WHERE user_id BETWEEN 1 AND 8
)
SELECT url, warc_ts, event_id,
       event_type = 'error' AS is_deleted,
       CASE WHEN event_type = 'error' THEN NULL
            ELSE event_type || ' value=' || CAST(value AS VARCHAR) END AS text
FROM ranked
WHERE rn = 1
"""


def q_lake_delete_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate delete (GDPR erasure): after the CDC apply, erase 50
    users by url predicate via ``merge.delete_where`` — an O(victims)
    tombstone delta at an explicit version, exactly-once by op id (the
    query re-runs it and raises if the version moved) — then return the
    surviving live state."""
    import datetime as _dt

    from aus_land_data_etl_spark.cdc.apply import apply_batch, create_pages_table
    from aus_land_data_etl_spark.lake.merge import delete_where, read_current

    changes = events_as_changes(spark, sf_dir)
    d = tempfile.mkdtemp(prefix="cdc_dw_")
    try:
        table = create_pages_table(spark, d, n_buckets=8)
        for i in range(4):
            batch = changes.filter(F.pmod(F.col("source_pos"), F.lit(4)) == i)
            apply_batch(table, batch, epoch=i)
        as_of = read_current(table).agg(F.max("warc_ts")).first()[
            0
        ] + _dt.timedelta(seconds=1)
        cond = F.col("url").isin([f"user:{i}" for i in range(1, 51)])
        v = delete_where(table, cond, as_of, op_id="erase-users-1-50")
        if delete_where(table, cond, as_of, op_id="erase-users-1-50") != v:
            raise RuntimeError("delete_where replay advanced the version")
        out = read_current(table).select(
            "url",
            "warc_ts",
            F.col("event_id").cast("long").alias("event_id"),
            "text",
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(d, ignore_errors=True)


ORACLE_LAKE_DELETE_WHERE = """
WITH ranked AS (
  SELECT 'user:' || CAST(user_id AS VARCHAR) AS url,
         ts AS warc_ts,
         event_id,
         event_type,
         value,
         ROW_NUMBER() OVER (
           PARTITION BY user_id ORDER BY ts DESC, event_id DESC
         ) AS rn
  FROM events
)
SELECT url, warc_ts, event_id,
       event_type || ' value=' || CAST(value AS VARCHAR) AS text
FROM ranked
WHERE rn = 1 AND event_type <> 'error'
  AND url NOT IN (SELECT 'user:' || CAST(r AS VARCHAR) FROM range(1, 51) t(r))
"""


def q_incr_agg_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained materialized aggregate view: apply the
    events stream as 3 micro-batch intervals, refreshing a grouped
    (count/sum/avg by event type) view from the changelog after each —
    refresh cost O(interval changes), never a base-table rescan.  The
    final view state must equal a from-scratch SQL group-by over the LWW
    winners (the oracle)."""
    from aus_land_data_etl_spark.cdc.apply import apply_batch, create_pages_table
    from aus_land_data_etl_spark.lake.incremental import AggSpec, AggView

    changes = events_as_changes(spark, sf_dir)
    d = tempfile.mkdtemp(prefix="cdc_mv_")
    try:
        table = create_pages_table(spark, d, n_buckets=8)
        view = AggView.create(
            spark,
            os.path.join(d, "_mv"),
            table,
            keys=["etype"],
            aggs=[
                AggSpec("n_pages", "count"),
                AggSpec("sum_value", "sum", "val"),
                AggSpec("avg_value", "avg", "val"),
            ],
            derived={
                "etype": "substring_index(text, ' ', 1)",
                "val": "cast(substring_index(text, '=', -1) as double)",
            },
            n_buckets=8,
        )
        for i in range(3):
            batch = changes.filter(F.pmod(F.col("source_pos"), F.lit(3)) == i)
            apply_batch(table, batch, epoch=i)
            view.refresh()
        out = view.read().select(
            F.col("etype"),
            F.col("n_pages"),
            F.round(F.col("sum_value"), 3).alias("sum_value"),
            F.round(F.col("avg_value"), 6).alias("avg_value"),
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(d, ignore_errors=True)


# The oracle recomputes the view from scratch: LWW winner per key over
# ALL events (tombstones out), grouped by the winner's event type.
# Rounding on both sides absorbs the different summation order of an
# incremental fold vs a single-pass aggregate.
ORACLE_INCR_AGG_VIEW = """
WITH ranked AS (
  SELECT event_type, value,
         ROW_NUMBER() OVER (
           PARTITION BY user_id ORDER BY ts DESC, event_id DESC
         ) AS rn
  FROM events
),
live AS (
  SELECT event_type, value FROM ranked
  WHERE rn = 1 AND event_type <> 'error'
)
SELECT event_type AS etype,
       COUNT(*) AS n_pages,
       ROUND(SUM(value), 3) AS sum_value,
       ROUND(AVG(value), 6) AS avg_value
FROM live
GROUP BY event_type
"""


#: Ordering contract: the driver's CORRECTNESS record caps at 50 rows and
#: takes the FIRST 50 entries, so (a) the 15 lake/cdc queries absent from
#: CORRECTNESS_r04.json lead, (b) round-5 additions follow, (c) queries
#: with green rows in r04 fill the remainder — the union of the r04 and
#: r05 records then covers every registered query.
QUERIES: dict[str, QueryFn] = {
    # --- (a) registered in r04 but beyond the driver's 50-row cap ---
    "dim_upsert": q_dim_upsert,
    "cdc_compacted_converge": q_cdc_compacted_converge,
    "lake_changelog": q_lake_changelog,
    "lake_stats_prune": q_lake_stats_prune,
    "lake_point_lookup": q_lake_point_lookup,
    "lake_delete_where": q_lake_delete_where,
    "incr_agg_view": q_incr_agg_view,
    "j7_asof_attribution": q_j7_asof_attribution,
    "lake_time_travel": q_lake_time_travel,
    "lineage_audit": q_lineage_audit,
    "cdc_rebucket_converge": q_cdc_rebucket_converge,
    "cdc_patch_converge": q_cdc_patch_converge,
    "cdc_patch_mor_converge": q_cdc_patch_mor_converge,
    "cdc_patch_stream_pipeline": q_cdc_patch_stream_pipeline,
    "changelog_subscribe_reconstruct": q_changelog_subscribe_reconstruct,
    # --- (b) round-5 additions ---
    "pack_sequences_bucketed": q_pack_sequences_bucketed,
    "corpus_build_lsh": q_corpus_build_lsh,
    "emb_topk_ivf_incremental": q_emb_topk_ivf_incremental,
    "neardup_index_incremental": q_neardup_index_incremental,
    "lake_rollback_converge": q_lake_rollback_converge,
    "lake_wap_converge": q_lake_wap_converge,
    "domain_mix_sample": q_domain_mix_sample,
    "lake_zorder_prune": q_lake_zorder_prune,
    "lake_zorder_incremental": q_lake_zorder_incremental,
    "lake_zorder_string_prune": q_lake_zorder_string_prune,
    "lake_count_metadata": q_lake_count_metadata,
    "lake_minmax_metadata": q_lake_minmax_metadata,
    "text_pii_redact": q_text_pii_redact,
    "dedup_lines": q_dedup_lines,
    "cdc_corpus_refresh": q_cdc_corpus_refresh,
    # --- (c) green in r04 ---
    "cdc_engine_converge": q_cdc_engine_converge,
    "cdc_schema_evolution_converge": q_cdc_schema_evolution_converge,
    "cdc_stream_pipeline": q_cdc_stream_pipeline,
    "w1_canonical": q_w1_canonical,
    "w3_latest_order_per_customer": q_w3_latest_order_per_customer,
    "w4_ntile_segments": q_w4_ntile_segments,
    "a1_collect_sorted": q_a1_collect_sorted,
    "a2_ordered_agg": q_a2_ordered_agg,
    "a3_distinct_dims": q_a3_distinct_dims,
    "u1_distinct_union": q_u1_distinct_union,
    "j2_unnest_parallel": q_j2_unnest_parallel,
    "j3_customers_without_orders": q_j3_customers_without_orders,
    "j4_exists_flag": q_j4_exists_flag,
    "j5_null_safe_join": q_j5_null_safe_join,
    "pricing_summary": q_pricing_summary,
    "revenue_by_nation": q_revenue_by_nation,
    "top_orders_by_revenue": q_top_orders_by_revenue,
    "scalar_suite": q_scalar_suite,
    "f_classifiers": q_f_classifiers,
    "dedup_exact": q_dedup_exact,
    "text_token_count": q_text_token_count,
    "text_lang_id": q_text_lang_id,
    "text_quality": q_text_quality,
    "emb_topk_bruteforce": q_emb_topk_bruteforce,
    "multimodal_features": q_multimodal_features,
    "multimodal_meta": q_multimodal_meta,
    "derive_change_history": q_derive_change_history,
    "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
    "neardup_components": q_neardup_components,
    "neardup_canonical": q_neardup_canonical,
    "dataset_split": q_dataset_split,
    "domain_cap": q_domain_cap,
    "decontaminate": q_decontaminate,
    "pack_sequences": q_pack_sequences,
    "text_repetition": q_text_repetition,
    "corpus_build": q_corpus_build,
    "emb_neardup_cosine": q_emb_neardup_cosine,
    "minhash_dedup": q_minhash_dedup,
    "simhash_candidates": q_simhash_candidates,
    "emb_topk_lsh": q_emb_topk_lsh,
    "emb_topk_ivf": q_emb_topk_ivf,
    "emb_topk_ivf_fullprobe": q_emb_topk_ivf_fullprobe,
    "emb_topk_ivf_indexed": q_emb_topk_ivf_indexed,
    "t_windowed_rollup": q_t_windowed_rollup,
    "sessionize_events": q_sessionize_events,
    "props_json": q_props_json,
    "rollup_pricing": q_rollup_pricing,
    "text_grammar_extract": q_text_grammar_extract,
    "text_parcel_expand": q_text_parcel_expand,
    "dat_scan_typed": q_dat_scan_typed,
}

ORACLES: dict[str, str] = {
    "cdc_engine_converge": ORACLE_CDC_CONVERGE,
    # rollback + stream replay reconverges to the identical LWW state
    "lake_rollback_converge": ORACLE_CDC_CONVERGE,
    # branch-staged ingest + publish + replay-noop lands the same state
    "lake_wap_converge": ORACLE_CDC_CONVERGE,
    "cdc_schema_evolution_converge": ORACLE_CDC_SCHEMA_EVOLUTION,
    "cdc_stream_pipeline": ORACLE_CDC_CONVERGE,
    "w1_canonical": ORACLE_W1,
    "w3_latest_order_per_customer": ORACLE_W3,
    "w4_ntile_segments": ORACLE_W4,
    "a1_collect_sorted": ORACLE_A1,
    "a2_ordered_agg": ORACLE_A2,
    "a3_distinct_dims": ORACLE_A3,
    "u1_distinct_union": ORACLE_U1,
    "j2_unnest_parallel": ORACLE_J2,
    "j3_customers_without_orders": ORACLE_J3,
    "j4_exists_flag": ORACLE_J4,
    "j5_null_safe_join": ORACLE_J5,
    "pricing_summary": ORACLE_PRICING,
    "revenue_by_nation": ORACLE_REVENUE_NATION,
    "top_orders_by_revenue": ORACLE_TOP_ORDERS,
    "scalar_suite": ORACLE_SCALAR,
    "f_classifiers": ORACLE_F_CLASSIFIERS,
    "dedup_exact": ORACLE_DEDUP_EXACT,
    "text_token_count": ORACLE_TOKEN_COUNT,
    "text_lang_id": ORACLE_LANG_ID,
    "text_quality": ORACLE_QUALITY,
    "emb_topk_bruteforce": ORACLE_EMB_TOPK,
    "emb_topk_ivf_fullprobe": ORACLE_EMB_TOPK,
    "emb_topk_ivf_indexed": ORACLE_EMB_TOPK,
    "emb_topk_ivf_incremental": ORACLE_EMB_TOPK,
    "multimodal_features": ORACLE_MULTIMODAL,
    "multimodal_meta": ORACLE_MULTIMODAL_META,
    "derive_change_history": ORACLE_CHANGE_HISTORY,
    "ngram_jaccard_pairs": ORACLE_NGRAM_JACCARD,
    # the incremental index + exact verify reproduces the exact edge set
    # (r=1 banding collision ≥ 0.999999 at the 0.2 threshold — see
    # q_neardup_index_incremental docstring), so it shares the oracle
    "neardup_index_incremental": ORACLE_NGRAM_JACCARD,
    "neardup_components": ORACLE_NEARDUP_COMPONENTS,
    "neardup_canonical": ORACLE_NEARDUP_CANONICAL,
    "dataset_split": ORACLE_DATASET_SPLIT,
    "domain_mix_sample": ORACLE_DOMAIN_MIX,
    "domain_cap": ORACLE_DOMAIN_CAP,
    "decontaminate": ORACLE_DECONTAMINATE,
    "pack_sequences": ORACLE_PACK_SEQUENCES,
    "pack_sequences_bucketed": ORACLE_PACK_SEQUENCES_BUCKETED,
    "lake_zorder_prune": ORACLE_LAKE_ZORDER_PRUNE,
    "lake_zorder_incremental": ORACLE_LAKE_ZORDER_INCREMENTAL,
    "lake_zorder_string_prune": ORACLE_LAKE_ZORDER_STRING_PRUNE,
    "text_repetition": ORACLE_TEXT_REPETITION,
    "corpus_build": ORACLE_CORPUS_BUILD,
    # the LSH scale path must equal the exact path's output row-for-row
    # (recall ≥ 1−1e-6 per edge at the threshold × exact verify):
    "corpus_build_lsh": ORACLE_CORPUS_BUILD,
    "emb_neardup_cosine": ORACLE_EMB_NEARDUP,
    "t_windowed_rollup": ORACLE_WINDOWED_ROLLUP,
    "sessionize_events": ORACLE_SESSIONIZE,
    "props_json": ORACLE_PROPS_JSON,
    "rollup_pricing": ORACLE_ROLLUP,
    "text_grammar_extract": ORACLE_TEXT_GRAMMAR,
    "text_parcel_expand": ORACLE_PARCEL_EXPAND,
    "dat_scan_typed": ORACLE_DAT_SCAN,
    "dim_upsert": ORACLE_DIM_UPSERT,
    "cdc_compacted_converge": ORACLE_CDC_CONVERGE,
    "lake_changelog": ORACLE_LAKE_CHANGELOG,
    "lake_stats_prune": ORACLE_LAKE_STATS_PRUNE,
    "lake_count_metadata": ORACLE_LAKE_COUNT_METADATA,
    "lake_minmax_metadata": ORACLE_LAKE_MINMAX_METADATA,
    "text_pii_redact": ORACLE_TEXT_PII_REDACT,
    "dedup_lines": ORACLE_DEDUP_LINES,
    "cdc_corpus_refresh": ORACLE_CDC_CORPUS_REFRESH,
    "lake_point_lookup": ORACLE_LAKE_POINT_LOOKUP,
    "lake_delete_where": ORACLE_LAKE_DELETE_WHERE,
    "incr_agg_view": ORACLE_INCR_AGG_VIEW,
    "j7_asof_attribution": ORACLE_ASOF_ATTRIBUTION,
    "lake_time_travel": ORACLE_TIME_TRAVEL,
    "lineage_audit": ORACLE_LINEAGE_AUDIT,
    "cdc_rebucket_converge": ORACLE_CDC_CONVERGE,
    "cdc_patch_converge": ORACLE_CDC_PATCH,
    "cdc_patch_mor_converge": ORACLE_CDC_PATCH,
    "cdc_patch_stream_pipeline": ORACLE_CDC_PATCH_STREAM,
    "changelog_subscribe_reconstruct": ORACLE_CDC_CONVERGE,
    # minhash_dedup / simhash_candidates / emb_topk_lsh / emb_topk_ivf:
    # approximate — rows-only driver check; exact counterparts above
    # (ngram_jaccard_pairs, emb_neardup_cosine, emb_topk_bruteforce) are
    # oracle-checked.
}
