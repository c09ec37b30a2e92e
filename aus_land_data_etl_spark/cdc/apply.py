"""Micro-batch apply: project → extract → MERGE, with the lineage
manifest computed beside the write (merge-on-read) or before it
(copy-on-write, which needs the touched buckets first).

This is the ``foreachBatch`` body of the streaming pipeline and the unit
the replay/state-equivalence suite drives directly.  Everything in the hot
path is a Catalyst expression or an Arrow-batched pandas UDF — no per-row
Python (input_hint).
"""

from __future__ import annotations

import logging
from contextlib import contextmanager
from typing import Any, Callable, Iterator

from pyspark import InheritableThread
from pyspark.sql import DataFrame, Observation, Row, SparkSession
from pyspark.sql import functions as F

from aus_land_data_etl_spark.cdc.events import PAGES_SCHEMA
from aus_land_data_etl_spark.cdc.registry import SchemaRegistry
from aus_land_data_etl_spark.functions.text import extract_text_udf, lang_id
from aus_land_data_etl_spark.lake.merge import merge_into
from aus_land_data_etl_spark.lake.table import LakeTable

log = logging.getLogger(__name__)

#: Target input bytes per write task, against the size estimate of the
#: batch's optimized plan (``write_tasks``), which for parquet inputs —
#: the WAL, the streaming runner's micro-batches — is their on-disk size.
#: 384 KiB is about 4,100 generator events of WAL parquet as the engine's
#: own writer (``streaming.runner.write_event_log``) lays it out (95
#: B/event), the 4,000 rows per task the row-count rule used to target.
#: Other inputs get smaller tasks: about 1,700 events of WAL parquet as
#: pyarrow writes it (234 B/event), and about 1,500 rows of an in-memory
#: ``generate_events`` frame (its plan estimates 260 B/row) — though such
#: a frame is already partitioned at about 4,000 rows, which coalesce
#: never splits.  Sizing is a balance: too little per task and
#: Python-worker + task overhead dominates (a 5k-row batch must not fan
#: into 32 near-empty tasks); too much and the extraction UDF — the
#: per-batch critical path — underfills the cluster (measured on
#: local[32], 51k-row batches, warm workers, best-of-3 interleaved
#: trials: 7.4s at 3 tasks vs 4.7s at 12–32 tasks; worse under
#: contention).  coalesce only ever shrinks partitioning, so a large
#: batch keeps its own.
BYTES_PER_WRITE_TASK = 384 << 10
#: coalesce takes a JVM int
_JVM_INT_MAX = 2**31 - 1


def write_dead_letters(
    table: LakeTable, events: DataFrame, epoch: int | str,
    registry: SchemaRegistry,
) -> None:
    """Persist events the registry cannot project (unknown
    ``schema_version``) under ``<root>/_dead_letter/e<epoch>/``.

    The reference's typed readers keep error rows instead of dropping
    them (raw_data/rows.py:106-127); a 10^10-event WAL tail needs the
    same: a producer that ships a version this consumer predates must
    not silently lose data — the rows are quarantined raw (full
    envelope, byte-complete html) for replay once the registry learns
    the version.  The write is keyed by epoch and ``overwrite``-mode, so
    a crash-retry of the same batch leaves one copy (same idempotency
    class as the commit itself).  Cost: none in the common case —
    ``apply_batch`` counts dead rows as an ``observe()`` metric of its
    manifest job and calls this only when there are some.
    """
    import os
    import re as _re

    safe = _re.sub(r"[^A-Za-z0-9_.-]", "_", str(epoch))[:64]
    out = os.path.join(table.root, "_dead_letter", f"e{safe}")
    registry.dead_letter(events).write.mode("overwrite").parquet(out)


def read_dead_letters(table: LakeTable) -> DataFrame:
    """All quarantined events (empty frame if none yet)."""
    import os

    from aus_land_data_etl_spark.cdc.events import EVENT_SCHEMA

    d = os.path.join(table.root, "_dead_letter")
    if not os.path.isdir(d):
        return table.spark.createDataFrame([], EVENT_SCHEMA)
    return (
        table.spark.read.schema(EVENT_SCHEMA)
        .option("recursiveFileLookup", "true")
        .parquet(d)
    )


def replay_dead_letters(
    table: LakeTable,
    registry: SchemaRegistry | None = None,
    mode: str = "mor",
) -> dict[str, int]:
    """Re-inject quarantined events once the registry has learned their
    schema versions — the repair half of the dead-letter contract
    (``write_dead_letters`` quarantines "for replay once the registry
    learns the version"; this is that replay).

    Per quarantined epoch directory ``e<id>``:

    - events the given registry NOW understands re-apply through the
      normal exactly-once path under the distinct epoch key
      ``dlq-<id>`` (LWW makes late application safe: a quarantined
      update older than the current row loses, exactly as if it had
      arrived on time — the same total order);
    - events still unknown stay quarantined (the directory is rewritten
      with only those rows, or removed when none remain);
    - crash-safe: a crash between the apply and the directory rewrite
      re-replays the same rows under the same ``dlq-<id>`` epoch on the
      next run, which the exactly-once guard skips, and the rewrite
      then completes.

    Returns ``{"replayed": rows re-applied, "still_dead": rows left
    quarantined, "epochs": directories replayed}``.
    """
    import os
    import shutil as _shutil

    from aus_land_data_etl_spark.cdc.events import EVENT_SCHEMA

    registry = registry or SchemaRegistry()
    d = os.path.join(table.root, "_dead_letter")
    out = {"replayed": 0, "still_dead": 0, "epochs": 0}
    if not os.path.isdir(d):
        return out
    for sub in sorted(os.listdir(d)):
        full = os.path.join(d, sub)
        if not (os.path.isdir(full) and sub.startswith("e")):
            continue
        events = table.spark.read.schema(EVENT_SCHEMA).parquet(full)
        # materialise BOTH splits before any directory rewrite — the
        # still-dead write below must never read the files it replaces
        ready = registry.valid(events).localCheckpoint(eager=True)
        still = registry.dead_letter(events).localCheckpoint(eager=True)
        n_ready, n_still = ready.count(), still.count()
        if n_ready == 0:
            out["still_dead"] += n_still
            continue
        # content-keyed commit, NOT the bare directory name: two partial
        # replays of the same directory (registry learned version A,
        # later version B) carry different row sets and must both
        # apply, while a crash-retry of the SAME row set must skip —
        # exactly the content-identity contract the streaming runner
        # uses (a fixed "dlq-<id>" epoch key silently no-ops the second
        # partial replay; caught by the partial-knowledge test)
        apply_batch(
            table,
            ready,
            epoch=f"dlq-{sub[1:]}",
            registry=registry,
            mode=mode,
            content_keyed=True,
            dead_letter=False,  # ready rows are known-projectable
        )
        if n_still:
            tmp = full + ".tmp"
            still.write.mode("overwrite").parquet(tmp)
            _shutil.rmtree(full)
            os.rename(tmp, full)
        else:
            _shutil.rmtree(full)
        out["replayed"] += n_ready
        out["still_dead"] += n_still
        out["epochs"] += 1
    return out


def create_pages_table(
    spark: SparkSession, root: str, n_buckets: int = 32
) -> LakeTable:
    return LakeTable.create(
        spark,
        root,
        schema=PAGES_SCHEMA,
        key_col="url",
        version_col="warc_ts",
        n_buckets=n_buckets,
        properties={
            # zonemap columns recorded per data file at commit time: time-
            # range scans (recent-changes export, changelog windows) skip
            # whole files via plan_scan; each MoR delta layer covers one
            # epoch's narrow warc_ts band, so time predicates prune old
            # epochs without opening them.
            # "is_deleted" additionally records per-file live-row counts
            # (stats.py `dels`) so COUNT over the serving view answers
            # from metadata (lake/metadata_agg.py), Iceberg-manifest style.
            "stats_cols": ["warc_ts", "lang", "is_deleted"],
            # cluster rows by version time inside each bucket file —
            # tight zonemaps + better RLE; per-partition sort, no shuffle.
            "sort_cols": ["warc_ts"],
            # parquet bloom filter on the key: point lookups (LakeTable.
            # lookup) skip row groups inside the one bucket they open —
            # zonemaps can't help there, hash bucketing gives every file
            # the full url range.
            "bloom_cols": ["url"],
        },
    )


def manifest_frame(
    batch: DataFrame, n_buckets: int | None = None, runs: bool = False
) -> DataFrame:
    """The (lazy) per-source-partition lineage aggregation — exposed
    separately so plan-evidence tooling can assert the extraction UDF is
    pruned out of this job (it reads envelope columns only).

    ``runs=True`` emits one row per **maximal dense offset run** per
    namespace (gaps-and-islands over the distinct offsets) instead of one
    min/max row per namespace.  Streaming callers need this: a file
    source groups WAL chunks by modification time, so one micro-batch can
    legally contain two non-adjacent chunks of the same namespace — a
    min/max manifest then fails the watermark's density proof and the
    offsets stay unwatermarked forever, while per-run rows park as
    pending ranges and fold in when the gap closes.  Watermark advance
    becomes independent of micro-batch file grouping.  Batch-mode
    lineage keeps the coarser one-row-per-namespace form (the audit
    oracle's granularity).
    """
    from aus_land_data_etl_spark.lake.table import bucket_sql

    # The row hash MUST include the total-order tiebreak (event_id):
    # hashing only (url, warc_ts, op) made two distinct events sharing
    # those fields byte-identical in the manifest, so two batches with
    # degenerate source offsets produced colliding content keys and the
    # second batch was falsely skipped (silent event loss — caught by
    # tests/test_property_lww.py).  event_id is unique per event, so it
    # also covers patch payloads (_set_cols/html/lang) implicitly.
    row_hash = "xxhash64(url, CAST(warc_ts AS STRING), op, event_id)"
    # Multiset checksum: SUM of row hashes mod 2^64, NOT xor.  xor
    # self-cancels under at-least-once duplication — a batch holding the
    # same event twice xors to 0, so {e,e} and {e',e'} collide and the
    # second batch is falsely skipped (Hypothesis-found).  Addition mod
    # 2^64 is equally commutative/associative (runs re-fold) but
    # duplicate-sensitive: k copies contribute k·h.  decimal(38,0)
    # accumulation keeps the sum exact under Spark's ANSI overflow rules
    # for any feasible batch size (10^10 rows × 2^63 < 10^38).  Written
    # as SQL text: one parse per aggregate instead of a Column tree.
    msum = lambda c: (  # noqa: E731
        f"pmod(sum(CAST({c} AS DECIMAL(38,0))), "
        "CAST('18446744073709551616' AS DECIMAL(38,0)))"
    )
    checksum = lambda c: (  # noqa: E731
        f"conv(CAST(CAST({msum(c)} AS DECIMAL(38,0)) AS STRING), 10, 16) AS checksum"
    )
    # The offset namespace is the COMPOSITE (source_file, source_partition):
    # a late/backfill segment arrives as a different file whose offsets
    # restart and must not alias the main shard's applied prefix.
    ns = ["source_partition", "source_file"]
    # ONE exchange: every aggregate below (the distinct-offset count's two
    # phases; per offset, the run window and per run) clusters on a
    # superset of the namespace, so all reuse this partitioning — the
    # window funnels each namespace into one task anyway
    batch = batch.repartition(*ns)
    buckets = None
    if n_buckets is not None:
        buckets = f"collect_set({bucket_sql('url', n_buckets)})"
    if not runs:
        aggs = [
            "min(source_offset) AS start_offset",
            "max(source_offset) AS end_offset",
            "count(*) AS row_count",
            # density evidence for the offset watermark: at-least-once
            # transport duplicates inflate row_count, so contiguity is
            # proven on the distinct-offset count instead
            "count(DISTINCT source_offset) AS distinct_offsets",
            checksum(row_hash),
        ] + ([f"{buckets} AS buckets"] if buckets else [])
        return batch.groupBy(*ns).agg(*map(F.expr, aggs))

    # modular sum is associative: runs re-fold (see msum above)
    per_off_aggs = ["count(*) AS n_rows", f"{msum(row_hash)} AS h"] + (
        [f"{buckets} AS bs"] if buckets else []
    )
    per_off = batch.groupBy(*ns, "source_offset").agg(*map(F.expr, per_off_aggs))
    runs_df = per_off.withColumn("_run", F.expr(
        "source_offset - row_number() OVER "
        "(PARTITION BY source_partition, source_file ORDER BY source_offset)"
    ))
    aggs = [
        "min(source_offset) AS start_offset",
        "max(source_offset) AS end_offset",
        "sum(n_rows) AS row_count",
        "count(*) AS distinct_offsets",  # dense by construction
        checksum("h"),
    ] + (["array_distinct(flatten(collect_list(bs))) AS buckets"] if buckets else [])
    return runs_df.groupBy(*ns, "_run").agg(*map(F.expr, aggs)).drop("_run")


def compute_manifest(
    batch: DataFrame,
    n_buckets: int | None = None,
    runs: bool = False,
    collected: Callable[[], list[Row]] | None = None,
) -> tuple[list[dict[str, Any]], list[int]]:
    """Per-source-partition lineage + the touched-bucket set, in ONE action.

    Lineage: offset range, row count, order-insensitive checksum of
    (url, warc_ts, op, event_id).  The checksum SUMS per-row hashes mod
    2^64 — commutative AND duplicate-sensitive, so the same *multiset*
    of rows yields the same checksum regardless of partitioning or
    arrival order (replay comparability), while at-least-once duplicates
    still perturb it (xor would self-cancel).
    The reference analog is its per-file row-count telemetry + unique
    file_path lineage (/root/reference/lib/pipeline/nsw_vg/land_values/
    telemetry.py:25-84, sql/meta/schema/001_APPLY_init.sql:36-56).

    The touched-bucket ids piggyback on the same aggregation
    (``collect_set`` per group, unioned driver-side — bounded by
    n_buckets) so the merge needs no separate probe job.

    ``collected``: waits for ``manifest_frame``'s rows collected on
    another thread (``_beside``); by default they are collected here.
    """
    if collected is not None:
        rows = collected()
    else:
        rows = manifest_frame(batch, n_buckets, runs=runs).collect()
    touched: set[int] = set()
    manifest = []
    for r in rows:
        manifest.append(
            {
                "source_partition": int(r["source_partition"]),
                "source_file": str(r["source_file"]),
                "start_offset": int(r["start_offset"]),
                "end_offset": int(r["end_offset"]),
                "row_count": int(r["row_count"]),
                "distinct_offsets": int(r["distinct_offsets"]),
                "checksum": str(r["checksum"]),
            }
        )
        if n_buckets is not None:
            touched.update(int(b) for b in r["buckets"])
    return manifest, sorted(touched)


def prepare_batch(events: DataFrame, registry: SchemaRegistry | None = None) -> DataFrame:
    """Raw events → merge-ready rows (projection + text extraction).

    ``text`` is extracted here (not post-merge) so the converged table is
    the pure function of applied events the byte-identical invariant needs;
    ``lang`` falls back to the heuristic classifier when the event carried
    none (v1 events).
    """
    registry = registry or SchemaRegistry()
    canon = registry.project(registry.valid(events))
    text = F.when(F.col("op") != "delete", extract_text_udf(F.col("html")))
    canon = canon.withColumn("text", text)
    return canon.withColumn(
        "lang",
        F.when(F.col("op") == "delete", F.lit(None).cast("string")).otherwise(
            F.coalesce(F.col("lang"), lang_id("text"))
        ),
    )


def content_epoch_key(manifest: list[dict[str, Any]]) -> str:
    """Content-addressed exactly-once key for a batch: a digest of its
    per-source-partition lineage (offset ranges, row counts, checksums).

    Spark batch ids are only unique within one checkpoint lineage — a
    fresh checkpoint over the same WAL regroups files into batches that
    reuse ids 0..N.  Keying commits by *content identity* gives the right
    behaviour in every replay scenario: an identical batch (foreachBatch
    retry, same-grouping WAL replay) is a commit no-op, while a
    differently-grouped batch carrying unapplied events is applied.
    """
    import hashlib
    import json

    payload = json.dumps(
        sorted(
            [
                m["source_partition"],
                m.get("source_file", ""),
                m["start_offset"],
                m["end_offset"],
                m["row_count"],
                m["checksum"],
            ]
            for m in manifest
        )
    )
    return "c:" + hashlib.sha256(payload.encode()).hexdigest()[:24]


def apply_batch(
    table: LakeTable,
    events: DataFrame,
    epoch: int | str,
    registry: SchemaRegistry | None = None,
    mode: str = "mor",
    compact_depth: int = 8,
    content_keyed: bool = False,
    wal_offsets: bool = False,
    dead_letter: bool = True,
    run_manifests: bool = False,
) -> int:
    """Apply one micro-batch of raw change events exactly once.

    ``events`` are ``EVENT_SCHEMA`` rows (full images) or
    ``PATCH_EVENT_SCHEMA`` rows (partial images, told apart by their
    ``set_cols`` column): the latter resolve per cell
    (operators/patch.py), so an update that flips one column on a
    multi-MB page appends bytes proportional to the patch.

    ``mode='mor'`` (default): merge-on-read — O(batch) per epoch, deltas
    folded when any bucket's stack reaches ``compact_depth`` (the scale
    path for a 10^10-event stream).  ``mode='cow'``: copy-on-write — every
    epoch rewrites touched buckets, read side stays one-row-per-key.
    Both converge to identical state (same LWW total order).

    ``content_keyed=True`` (the streaming runner's setting) keys the
    commit by the batch's content identity only (``content_epoch_key``) —
    bare Spark batch ids are not recorded because they collide across
    checkpoint lineages.  Batch-mode callers record BOTH the caller's
    epoch id and the content key, so a batch applied one way is recognised
    as committed the other way (mixed batch/streaming replay safety).
    Replays older than the recent-epoch window are caught by the offset
    watermarks (see ``lake.table``).  A replay of an explicit epoch id is
    a no-op before any job runs.  A content-key or watermark replay is
    only known once the manifest is: copy-on-write checks it before its
    merge; merge-on-read runs its manifest job beside its write, so the
    commit finds the replay and deletes the write it no longer needs.
    That trade favours batches that are not replays: a merge-on-read
    replay pays its extraction and write, where it used to pay only the
    manifest job.  A streaming runner meets one such replay per restart
    (the batch in flight when it stopped), and a whole WAL of them when
    it re-drains the log under a fresh checkpoint.

    ``dead_letter`` (default on, full images only): events whose
    ``schema_version`` the registry does not know are quarantined raw
    under ``<root>/_dead_letter/`` (``write_dead_letters``) instead of
    being silently dropped by the valid-only projection;
    ``read_dead_letters`` surfaces them for replay once the registry
    learns the version.
    """
    from aus_land_data_etl_spark.lake.merge import delta_merge_into

    epoch_id = str(epoch)
    snap = table.snapshot()
    if not content_keyed and snap.is_applied(epoch_id):
        return snap.version  # replayed batch: no-op (exactly-once)
    dead = None
    if "set_cols" in events.columns:
        # partial images carry no schema_version: no registry, no dead letters
        batch = prepare_patch_batch(events)
    else:
        registry = registry or SchemaRegistry()
        scanned = events
        if dead_letter:
            # count unknown-schema events BEFORE the valid-only projection
            # drops them, as a metric of the manifest job (no job of its own)
            dead = Observation()
            scanned = events.observe(dead, F.count_if(registry.unknown()).alias("n"))
        batch = prepare_batch(scanned, registry)

    def commit_keys(
        manifest: list[dict[str, Any]],
    ) -> tuple[list[str], list[dict[str, Any]]]:
        """Quarantine the batch's dead letters (before the skip check and
        the commit), then return its epoch keys and lineage rows."""
        if dead is not None:
            n_dead = (
                dead.get["n"]
                if manifest
                # no valid rows: Spark may have proven the input empty and
                # run no job, which reports no metric — ask directly (rare)
                else registry.dead_letter(events).count()
            )
            if n_dead:
                # overwrite by epoch: replay-safe
                write_dead_letters(table, events, epoch, registry)
                log.warning(
                    "%s: quarantined %d event(s) of unknown schema_version "
                    "from batch %s", table.root, n_dead, epoch_id,
                )
        content_key = content_epoch_key(manifest)
        epoch_num = int(epoch) if epoch_id.lstrip("-").isdigit() else -1
        for m in manifest:
            m["epoch"] = epoch_num
        return [content_key] if content_keyed else [epoch_id, content_key], manifest

    # Right-size the write without a job: coalesce (no shuffle; the
    # projection+extraction run inside the merged tasks) to the input's
    # size estimate over BYTES_PER_WRITE_TASK.
    payload = batch.drop("source_partition", "source_offset").coalesce(
        write_tasks(events)
    )
    # No persist: the manifest aggregation reads only envelope columns, so
    # Catalyst's column pruning drops the (deterministic) extraction UDF
    # from that job entirely — the expensive html→text pass runs exactly
    # once, inside the merge write.  (Persisting here would force a full
    # materialisation including extraction — strictly worse.)
    n_buckets = snap.n_buckets
    if mode == "mor":
        # The append needs neither the touched buckets nor the row count,
        # so the manifest job runs beside the write and only the commit
        # waits for it (Delta's rule: data files first, then the commit
        # decides; a write no commit references is deleted).
        with _beside(
            lambda: manifest_frame(batch, n_buckets, runs=run_manifests).collect()
        ) as rows:
            # the merge resolves per cell when the payload carries _set_cols
            return delta_merge_into(
                table,
                payload,
                tiebreak_col="event_id",
                lineage=lambda: commit_keys(
                    compute_manifest(
                        batch, n_buckets, runs=run_manifests, collected=rows
                    )[0]
                ),
                compact_depth=compact_depth,
                wal_offsets=wal_offsets,
            )
    manifest, touched = compute_manifest(batch, n_buckets, runs=run_manifests)
    epoch_ids, manifest = commit_keys(manifest)
    # merge_into skips a batch it finds applied (content key, or the
    # watermarks — sound only under the WAL contract, which the caller
    # declares via ``wal_offsets``) before reading or writing anything
    return merge_into(
        table,
        payload,
        tiebreak_col="event_id",
        epoch_id=epoch_ids,
        manifest_rows=manifest,
        touched=touched,
        wal_offsets=wal_offsets,
    )


def write_tasks(events: DataFrame) -> int:
    """Tasks for the write of ``events``: the size estimate of its
    optimized plan (no job runs) over ``BYTES_PER_WRITE_TASK``, at least
    one.  Spark reports an unknown size (an RDD-backed frame) as
    ``Long.MaxValue``; clamped to the JVM int range, the ``coalesce``
    then keeps the input's own partitioning."""
    stats = events._jdf.queryExecution().optimizedPlan().stats()
    size = int(str(stats.sizeInBytes()))  # a scala BigInt
    return max(1, min(_JVM_INT_MAX, -(-size // BYTES_PER_WRITE_TASK)))


@contextmanager
def _beside(action: Callable[[], Any]) -> Iterator[Callable[[], Any]]:
    """Run ``action`` on a helper thread beside the body of the ``with``;
    yields a callable that waits for its result and re-raises its error
    on the caller.

    An ``InheritableThread``, so the action's Spark jobs carry the
    caller's job group and local properties.  Only read actions belong
    here: lake writes set and restore session conf around themselves
    (``_stats_bearing_timestamps``), which is not thread-safe.  The
    thread is joined on every exit path, so none outlives the call.
    """
    out: dict[str, Any] = {}

    def run() -> None:
        try:
            out["value"] = action()
        except BaseException as e:  # re-raised on the caller by result()
            out["error"] = e

    helper = InheritableThread(target=run, name="cdc-manifest", daemon=True)
    helper.start()

    def result() -> Any:
        helper.join()
        if "error" in out:
            raise out["error"]
        return out["value"]

    try:
        yield result
    finally:
        helper.join()


def prepare_patch_batch(events: DataFrame) -> DataFrame:
    """PATCH_EVENT_SCHEMA rows → cell-merge-ready rows.

    The ``text`` cell is DERIVED: it is determined exactly when ``html``
    is (full image, or a patch naming ``html``), and its value is the
    extraction of the shipped bytes — so the per-cell LWW winner for
    ``text`` always corresponds to the winner for ``html`` and the
    byte-identical text-per-url invariant holds cell-wise.  Provenance
    cells (``source_file``/``source_pos``) are determined by every event:
    row provenance means "the newest event touching this row".  Patches
    never derive ``lang`` from text (a patch determines only what it
    names); full images keep the heuristic fallback.
    """
    is_patch = F.col("op") == "patch"
    # a malformed patch with NULL set_cols must not silently become a
    # full image (it would null every unnamed cell): empty set instead
    named = F.coalesce(F.col("set_cols"), F.array().cast("array<string>"))
    html_set = ~is_patch | F.array_contains(named, "html")
    text = F.when((F.col("op") != "delete") & html_set, extract_text_udf(F.col("html")))
    lang = F.when(
        F.col("op") == "delete", F.lit(None).cast("string")
    ).otherwise(
        F.when(is_patch, F.col("lang")).otherwise(
            F.coalesce(F.col("lang"), lang_id("text"))
        )
    )
    # html implies the derived text cell; provenance cells always
    sets = F.when(
        is_patch,
        F.array_union(
            F.when(
                F.array_contains(named, "html"),
                F.array_union(named, F.array(F.lit("text"))),
            ).otherwise(named),
            F.array(F.lit("source_file"), F.lit("source_pos")),
        ),
    )
    return events.withColumn("text", text).select(
        "event_id",
        "op",
        "url",
        "warc_ts",
        sets.alias("_set_cols"),
        "html",
        "text",
        lang.alias("lang"),
        "source_partition",
        "source_offset",
        "source_file",
        "source_pos",
    )
