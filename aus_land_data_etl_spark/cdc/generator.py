"""Deterministic synthetic CDC stream generator (seeded, fully distributed).

Generates a Common-Crawl-style change stream of the exact ``input_hint``
shape without any driver-side loops or nondeterminism: every column is a
pure hash expression of ``spark.range`` ids mixed with the seed, so the
same (n_events, seed) always yields byte-identical events — the property
the replay/state-equivalence suite depends on.

Properties baked in (FIXTURES.md §2):
- hot-domain skew: domain 0 receives ~30% of all events (north rule's
  skew case; exercised by the salted two-level LWW);
- out-of-order delivery: ``warc_ts`` is decorrelated from event order;
- duplicate delivery: ~2% of events are emitted twice with identical
  ``event_id`` (at-least-once transport);
- schema versions 1–4 over the stream (§1.3 schema-evolution analog);
- ~5% deletes, remainder inserts/updates;
- per-partition monotone offsets (binlog position analog).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aus_land_data_etl_spark.cdc.events import EVENT_SCHEMA


def _h(seed: int, *cols) -> F.Column:
    """Deterministic 64-bit mix of seed + columns."""
    return F.xxhash64(F.lit(seed), *cols)


def generate_events(
    spark: SparkSession,
    n_events: int,
    n_urls: int | None = None,
    seed: int = 42,
    n_source_partitions: int = 8,
    hot_fraction: float = 0.30,
    dup_fraction: float = 0.02,
    n_domains: int = 50,
    n_partitions: int | None = None,
    n_paragraphs: int = 12,
    offset_base: int = 0,
) -> DataFrame:
    """Return a DataFrame of EVENT_SCHEMA rows, deterministic in (args).

    ``offset_base`` shifts the lineage identity (source offsets,
    positions, event ids) so a SECOND generated WAL segment continues
    the binlog positions of the first instead of re-using them — offsets
    identify deliveries, and a fresh segment starting at 0 would
    (correctly) be skipped as replays by the offset watermarks.
    """
    n_urls = n_urls or max(1, n_events // 4)
    if n_partitions is None:
        # Size partitions to ~4k events each (≈5 MB of html), capped at
        # the cluster parallelism: a small stream must not fan out into
        # dozens of near-empty tasks — task and Python-worker overhead
        # would dominate — while anything from ~1 core-count of rows
        # upward fills every core for the downstream extraction UDF
        # (measured: 51k-row batches write 1.6-7x faster at 12-32 tasks
        # than at 3, warm workers — see cdc/apply.py BYTES_PER_WRITE_TASK).
        n_partitions = max(
            1,
            min(spark.sparkContext.defaultParallelism, n_events // 4_000 or 1),
        )
    base = spark.range(0, n_events, numPartitions=n_partitions)

    # ---- entity key with hot-domain skew --------------------------------
    u = F.pmod(_h(seed * 7 + 1, F.col("id")), F.lit(1_000_000))
    hot = u < int(hot_fraction * 1_000_000)
    # hot events all land in domain 0; others spread across domains 1..n-1
    page_id = F.pmod(_h(seed * 7 + 2, F.col("id")), F.lit(n_urls))
    domain = F.when(hot, F.lit(0)).otherwise(
        F.pmod(_h(seed * 7 + 3, F.col("id")), F.lit(n_domains - 1)) + 1
    )
    url = F.concat(
        F.lit("https://d"),
        domain.cast("string"),
        F.lit(".example.com/p/"),
        page_id.cast("string"),
    )

    # ---- op mix ----------------------------------------------------------
    op_roll = F.pmod(_h(seed * 7 + 4, F.col("id")), F.lit(100))
    op = (
        F.when(op_roll < 5, F.lit("delete"))
        .when(op_roll < 40, F.lit("insert"))
        .otherwise(F.lit("update"))
    )

    # ---- version time: decorrelated from event order (out-of-order) -----
    ts_off = F.pmod(_h(seed * 7 + 5, F.col("id")), F.lit(86_400 * 30))
    warc_ts = F.timestamp_seconds(F.lit(1_700_000_000) + ts_off)

    # ---- schema version: evolves over the stream ------------------------
    q = F.col("id") * 4
    schema_version = (
        F.when(q < n_events, 1)
        .when(q < 2 * n_events, 2)
        .when(q < 3 * n_events, 3)
        .otherwise(4)
    ).cast("int")

    # ---- payload ---------------------------------------------------------
    # Deterministic pseudo-HTML whose text varies per (url, warc_ts) —
    # includes entities, tags and a script block so extraction is exercised.
    body_word = F.pmod(_h(seed * 7 + 6, F.col("id")), F.lit(9999))
    # Realistic page weight (~100 B/paragraph): extraction cost should
    # resemble Common-Crawl pages, not 50-byte toys, or the benchmark is
    # pure scheduler overhead.
    paragraphs = F.array_join(
        F.transform(
            F.sequence(F.lit(1), F.lit(n_paragraphs)),
            lambda i: F.concat(
                F.lit(
                    "<p>the quick brown fox jumps over the lazy dog "
                    "&amp; chases segment no. "
                ),
                (body_word + i).cast("string"),
                F.lit(" through markup</p>"),
            ),
        ),
        "",
    )
    html_str = F.concat(
        F.lit("<html><head><title>Page "),
        page_id.cast("string"),
        F.lit("</title><script>var x=1;</script></head><body><h1>Doc "),
        page_id.cast("string"),
        F.lit("</h1><p>the quick fox &amp; hound no. "),
        body_word.cast("string"),
        F.lit(" of version "),
        ts_off.cast("string"),
        F.lit("</p>"),
        paragraphs,
        F.lit("</body></html>"),
    )
    html = F.when(op != "delete", F.encode(html_str, "UTF-8")).otherwise(
        F.lit(None).cast("binary")
    )
    lang_pick = F.element_at(
        F.array(F.lit("en"), F.lit("de"), F.lit("fr"), F.lit("es")),
        (F.pmod(_h(seed * 7 + 7, F.col("id")), F.lit(4)) + 1).cast("int"),
    )
    # v1: no lang; v2: lang column; v3: renamed into payload_extra.language;
    # v4: payload_extra gains fetch_status (added-column promotion).
    lang = F.when((schema_version == 2) & (op != "delete"), lang_pick)
    payload_extra = (
        F.when(
            schema_version == 3,
            F.to_json(F.struct(lang_pick.alias("language"))),
        )
        .when(
            schema_version == 4,
            F.to_json(
                F.struct(
                    lang_pick.alias("language"),
                    (200 + F.pmod(_h(seed * 7 + 8, F.col("id")), F.lit(3)) * 100)
                    .cast("int")
                    .alias("fetch_status"),
                )
            ),
        )
        .otherwise(F.lit(None))
    )

    # ---- lineage / offsets ----------------------------------------------
    oid = F.col("id") + F.lit(offset_base)
    source_partition = F.pmod(oid, F.lit(n_source_partitions)).cast("int")
    source_offset = (oid / n_source_partitions).cast("long")
    source_file = F.concat(
        F.lit("wal/part-"), source_partition.cast("string"), F.lit(".log")
    )
    source_pos = oid.cast("long")
    event_id = F.sha2(F.concat_ws("|", source_file, source_pos.cast("string")), 256)

    ev = base.select(
        event_id.alias("event_id"),
        op.alias("op"),
        url.alias("url"),
        warc_ts.alias("warc_ts"),
        html.alias("html"),
        lang.alias("lang"),
        schema_version.alias("schema_version"),
        payload_extra.alias("payload_extra"),
        source_partition.alias("source_partition"),
        source_offset.alias("source_offset"),
        source_file.alias("source_file"),
        source_pos.alias("source_pos"),
    )

    # ---- duplicate delivery (at-least-once transport) --------------------
    if dup_fraction > 0:
        dup = ev.filter(
            F.pmod(F.xxhash64(F.lit(seed * 7 + 9), F.col("event_id")), F.lit(1000))
            < int(dup_fraction * 1000)
        )
        ev = ev.unionAll(dup)

    return ev
