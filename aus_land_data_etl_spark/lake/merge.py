"""Copy-on-write CDC MERGE with LWW resolution and tombstones.

The Spark-first restatement of the reference's apply-changes path
(``DISTINCT ON ... ORDER BY last_update DESC`` over staging rows with
``change_type`` metadata — /root/reference/sql/nsw_spatial/tasks/
dedup_lot_layer.sql:16-35, sql/nsw_spatial/schema/002_APPLY_staging.sql:14-21):

1. Flag deletes and union the batch with the touched buckets, so each
   key resolves in ONE aggregation (operators.dedup.lww_latest per row,
   operators.patch.resolve_cells per cell for partial images).
2. Bucket-prune: only buckets whose keys appear in the batch are read and
   rewritten (bounded write amplification; Iceberg ``MERGE INTO`` with
   bucket partitioning does the same on a real cluster).
3. Resolve target-vs-source per key by the total order
   (version, tiebreak): the MERGE guard ``src.version >= tgt.version``.
   Deletes become *tombstones* (is_deleted = true, payload nulled) so a
   late update older than a processed delete cannot resurrect the row
   (SURVEY.md §7.4.4); tombstones are dropped at compaction, not at apply.
4. Commit atomically with the epoch manifest; replaying a committed epoch
   is a no-op (exactly-once).
"""

from __future__ import annotations

import logging
from typing import Any, Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aus_land_data_etl_spark.lake.table import (
    BUCKET_COL,
    LakeTable,
    Lineage,
    bucket_expr,
)
from aus_land_data_etl_spark.operators.dedup import lww_latest
from aus_land_data_etl_spark.operators.patch import (
    CELL_VERS,
    SET_COLS,
    per_cell,
    resolve,
    resolve_cells,
)

log = logging.getLogger(__name__)

#: Internal columns the merge maintains on the target table.
DELETED_COL = "is_deleted"
OP_COL = "op"
#: SQL over a raw CDC batch: is this row a delete (a NULL ``op`` is not)
_IS_DELETE = f"coalesce({OP_COL} = 'delete', false)"


def _q(name: str) -> str:
    """``name`` as a quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _tombstoned(
    batch: DataFrame, fixed: list[str], patch: bool = False
) -> dict[str, tuple[str, Any]]:
    """The tombstone projection of a raw CDC batch as name → (SQL, type):
    ``fixed`` columns as they are, ``op`` consumed into the ``is_deleted``
    flag, and every payload cell NULL on a delete (so deletes never ship
    stale data).  ``patch`` adds the determined-cell list: only patches
    carry one, and a patch arriving with NULL ``_set_cols`` gets the
    empty set — never a full image, which would null every unnamed cell
    (matching prepare_patch_batch's streaming guard)."""
    types = {f.name: f.dataType for f in batch.schema.fields}
    cols = {c: (_q(c), types[c]) for c in fixed}
    cols[DELETED_COL] = (_IS_DELETE, T.BooleanType())
    if patch:
        named = "CAST(array() AS array<string>)"
        if SET_COLS in types:
            named = f"coalesce({SET_COLS}, {named})"
        cols[SET_COLS] = (
            f"CASE WHEN {OP_COL} = 'patch' THEN {named} END",
            T.ArrayType(T.StringType()),
        )
    for c, t in types.items():
        if c not in cols and c != OP_COL:
            cols[c] = (f"CASE WHEN {_IS_DELETE} THEN NULL ELSE {_q(c)} END", t)
    return cols


def _select(df: DataFrame, cols: dict[str, tuple[str, Any]], schema=None) -> DataFrame:
    """ONE select of ``cols`` (name → (SQL, type)) — a SQL select list is
    one parse, where a Column tree costs a py4j round trip per node.  With
    ``schema``: onto its column order and types (cast where the type
    differs, missing → typed NULL)."""
    if schema is None:
        return df.selectExpr(*[f"{e} AS {_q(c)}" for c, (e, _) in cols.items()])
    out = []
    for f in schema.fields:
        e, t = cols.get(f.name, ("NULL", None))
        if t != f.dataType:
            e = f"CAST({e} AS {f.dataType.simpleString()})"
        out.append(f"{e} AS {_q(f.name)}")
    return df.selectExpr(*out)


def _applied(table: LakeTable, snap, epoch_id, wm_rows) -> bool:
    """``snap.is_applied``, logged: a merge that finds its batch applied
    before it writes discards nothing (the commit loop logs the skips it
    finds after a write, with the files they discard)."""
    if not snap.is_applied(epoch_id, wm_rows):
        return False
    log.debug(
        "%s: batch %s already applied at v%d; "
        "skipped before the write, 0 files discarded",
        table.root, epoch_id, snap.version,
    )
    return True


def merge_into(
    table: LakeTable,
    batch: DataFrame,
    tiebreak_col: str,
    epoch_id: str | list[str] | None = None,
    manifest_rows: list[dict[str, Any]] | None = None,
    touched: list[int] | None = None,
    wal_offsets: bool = False,
    properties_update: dict[str, Any] | None = None,
) -> int:
    """Apply a CDC batch (op ∈ insert/update/delete, and ``patch`` for
    partial images) to the table, copy-on-write.

    ``batch`` must carry the table's key and version columns, ``op``, the
    tiebreak column, and any payload columns.  Payload columns absent from
    the current table schema trigger schema evolution (added as nullable).
    Rows resolve per cell (operators/patch.py) when the batch names its
    cells in ``_set_cols`` or the table is already cell-versioned, per row
    otherwise.  Returns the committed snapshot version.
    """
    snap = table.snapshot()
    if _applied(table, snap, epoch_id, manifest_rows if wal_offsets else None):
        return snap.version  # idempotent replay: already applied
    key, ver = snap.key_col, snap.version_col
    cells = per_cell(batch.columns, snap.schema.names)

    # 1. flag deletes (``_tombstoned``).  LWW is associative, so the batch
    # needs no separate pre-dedupe pass — target ∪ source resolve in ONE
    # aggregation.
    src = _select(batch, _tombstoned(batch, [key, ver, tiebreak_col], patch=cells))

    # 2. bucket pruning — only buckets containing batch keys are read and
    # rewritten.  The caller usually supplies ``touched`` piggybacked on
    # its manifest aggregation (one action total); otherwise probe here.
    if touched is None:
        probe = src.select(bucket_expr(key, snap.n_buckets).alias("b")).distinct()
        touched = [r[0] for r in probe.collect()]
    current = table.read(buckets=touched)
    if DELETED_COL not in current.columns:
        current = current.withColumn(DELETED_COL, F.lit(False))

    # 3. schema evolution: union target ∪ source on the superset schema,
    # then LWW-resolve per key.  Missing columns (either side) become NULL;
    # tombstone rows carry NULL payload so deletes never ship stale data.
    merged_all = current.unionByName(src, allowMissingColumns=True)
    if not cells:
        fixed = (key, ver, tiebreak_col, DELETED_COL)
        merged_all = merged_all.selectExpr(
            *map(_q, fixed),
            *[
                f"CASE WHEN {DELETED_COL} THEN NULL ELSE {_q(c)} END AS {_q(c)}"
                for c in merged_all.columns
                if c not in fixed
            ],
        )
    # THE one payload shuffle: repartition by key onto n_buckets partitions.
    # bucket_expr is Spark's own hash-partitioning function, so (a) the LWW
    # groupBy below reuses this partitioning (no second exchange — check
    # .explain()), and (b) partition i holds exactly bucket i, so the
    # bucketed write needs no further shuffle either.
    merged_all = merged_all.repartition(snap.n_buckets, F.col(key))
    if cells:
        # resolution consumes _set_cols and materialises _cvers — but a
        # bucket-scoped commit does NOT retire fanout ("*") delta layers or
        # untouched buckets' stacks, and those files are re-read under the
        # COMMITTED schema.  Dropping _set_cols from it would make surviving
        # patch deltas replay as full images, nulling every cell they never
        # determined; so align to the pre-merge schema as fold_deltas does.
        resolved = resolve_cells(merged_all, key, ver, tiebreak_col)
        resolved = _align_to(resolved, snap.schema)
    else:
        resolved = lww_latest(merged_all, key, version_cols=[ver, tiebreak_col])
    resolved = resolved.withColumn(BUCKET_COL, bucket_expr(key, snap.n_buckets))

    # 4. atomic commit of the touched buckets + manifest + epoch guard
    new_schema = resolved.drop(BUCKET_COL).schema
    return table.commit_buckets(
        resolved,
        touched_buckets=touched,
        schema=new_schema,
        manifest_rows=manifest_rows,
        epoch_id=epoch_id,
        wal_offsets=wal_offsets,
        properties_update=properties_update,
        computed_from=snap,
    )


#: Safe widening chains (Spark 4's parquet reader can read the narrower
#: physical type under the wider imposed schema, pinned by
#: tests/test_maintenance.py::test_widened_int_files_read_as_long —
#: the REVERSE read is a hard PARQUET_COLUMN_DATA_TYPE_MISMATCH error).
_WIDENING_RANKS = (
    {"byte": 0, "short": 1, "integer": 2, "long": 3},
    {"float": 0, "double": 1},
)


def _widened(cur, new):
    """The wider of two types within a numeric family; otherwise ``cur``
    (non-numeric or cross-family conflicts keep the table's type — the
    aligned write casts the batch into it)."""
    a, b = cur.typeName(), new.typeName()
    for rank in _WIDENING_RANKS:
        if a in rank and b in rank:
            return cur if rank[a] >= rank[b] else new
    return cur


def _superset_schema(snap, batch_types: dict[str, Any]):
    """Current table schema ∪ batch columns (schema evolution: added
    columns appended as nullable; a same-named numeric column widens to
    the batch's type when the batch's is wider — int→long, float→double —
    the ALTER COLUMN TYPE analog the input_hint's "type widening"
    contract names.  Widening must happen HERE, not just in the commit's
    schema union: the delta write lands the batch's physical type, and a
    snapshot still declaring the narrow type would make every subsequent
    read fail with PARQUET_COLUMN_DATA_TYPE_MISMATCH."""
    fields = []
    for f in snap.schema.fields:
        bt = batch_types.get(f.name)
        if bt is None or bt == f.dataType:
            fields.append(f)
        else:
            fields.append(T.StructField(f.name, _widened(f.dataType, bt), True))
    existing = {f.name for f in snap.schema.fields}
    for name, bt in batch_types.items():
        if name not in existing:
            fields.append(T.StructField(name, bt, True))
    return T.StructType(fields)


def delta_merge_into(
    table: LakeTable,
    batch: DataFrame,
    tiebreak_col: str,
    epoch_id: str | list[str] | None = None,
    manifest_rows: list[dict[str, Any]] | None = None,
    compact_depth: int = 8,
    wal_offsets: bool = False,
    lineage: Callable[[], Lineage] | None = None,
) -> int:
    """Merge-on-read apply: O(batch) per epoch.

    Tombstone-flag the batch and append it as delta files; the base table
    is neither read nor rewritten, and the write needs NO shuffle at all —
    rows land in delta files with their source partitioning, and LWW
    resolution + bucket clustering are deferred to readers / the next
    fold.  Partial images (a batch with ``_set_cols``) persist their cell
    lists, so a patch flipping one small column on a multi-MB ``html`` row
    appends bytes proportional to the PATCH; readers and folds then
    resolve per cell (operators/patch.py).  The projection is aligned to
    the superset schema in the same select (a narrower batch column
    upcasts into a widened table type, so the written file always matches
    the snapshot schema).  When the delta stack reaches ``compact_depth``
    commits the table is folded (the amortised rewrite the reference's
    REINDEX step performs in bulk).

    ``lineage`` (``apply_batch``): waits for the batch's epoch keys and
    lineage rows, computed beside the write; ``commit_delta`` calls it
    after the write, in place of ``epoch_id``/``manifest_rows``.
    """
    snap = table.snapshot()
    if _applied(table, snap, epoch_id, manifest_rows if wal_offsets else None):
        return snap.version
    cols = _tombstoned(
        batch,
        [snap.key_col, snap.version_col, tiebreak_col],
        patch=per_cell(batch.columns, snap.schema.names),
    )
    schema = _superset_schema(snap, {c: t for c, (_, t) in cols.items()})
    v = table.commit_delta(
        _select(batch, cols, schema),
        schema=schema,
        manifest_rows=manifest_rows,
        epoch_id=epoch_id,
        wal_offsets=wal_offsets,
        lineage=lineage,
    )
    if table.max_delta_depth() >= compact_depth:
        v = fold_deltas(table, tiebreak_col, min_stack=compact_depth)
    return v


def _align_to(df: DataFrame, schema) -> DataFrame:
    """Project df onto schema's column set/order (missing → typed NULL)."""
    return df.select(
        *[
            F.col(f.name)
            if f.name in df.columns
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in schema.fields
        ],
        *[c for c in df.columns if c not in {f.name for f in schema.fields}],
    )


def cluster_fanout_deltas(table: LakeTable, tiebreak_col: str) -> int:
    """L0→L1: cluster the fanout (``"*"``) delta files into one per-bucket
    delta layer.

    Reads ONLY the fanout delta data (never the base) — O(unfolded
    batches) — LWW-pre-reduces it (associative, tombstones preserved) and
    lands it bucket-clustered, so subsequent reads bucket-prune the deltas
    and the eventual base fold touches only deep stacks.
    """
    import os

    snap = table.snapshot()
    files = snap.delta_files.get("*")
    if not files:
        return snap.version
    df = table.spark.read.schema(snap.schema).parquet(
        *[os.path.join(table.root, f) for f in files]
    )
    df = df.repartition(snap.n_buckets, F.col(snap.key_col))
    df = resolve(df, snap.key_col, snap.version_col, tiebreak_col)
    df = _align_to(df, snap.schema)  # keep _set_cols etc. readable in situ
    df = df.withColumn(BUCKET_COL, bucket_expr(snap.key_col, snap.n_buckets))
    return table.commit_clustered_deltas(
        df, schema=df.drop(BUCKET_COL).schema
    )


def fold_deltas(table: LakeTable, tiebreak_col: str, min_stack: int = 1) -> int:
    """Leveled compaction: cluster fanout deltas into per-bucket layers,
    then resolve base ∪ deltas and rewrite as base ONLY for buckets whose
    stack depth is ≥ ``min_stack`` (keeps tombstones — they guard against
    late updates until ``compact``).

    ``min_stack=1`` (default) folds every delta — the full fold the
    maintenance paths (``compact``, ``append_if_absent`` preconditions)
    rely on.  The auto-trigger passes ``min_stack=compact_depth``, so a
    fold triggered by fanout commits first pays only the O(batches)
    clustering pass; base buckets are rewritten every ~compact_depth²
    epochs instead of every compact_depth — and buckets untouched by
    recent batches are never rewritten at all.
    """
    cluster_fanout_deltas(table, tiebreak_col)
    snap = table.snapshot()
    touched = sorted(
        int(b)
        for b, fs in snap.delta_files.items()
        if len(fs) >= max(1, min_stack)
    )
    if not touched:
        return snap.version
    log.debug(
        "%s: folding %d bucket(s) %s into the base (stacks >= %d)",
        table.root, len(touched), touched, max(1, min_stack),
    )
    resolved = table.read_resolved(buckets=touched, tiebreak_col=tiebreak_col)
    resolved = resolved.repartition(snap.n_buckets, F.col(snap.key_col))
    # patch tables: resolution consumed _set_cols and materialised _cvers;
    # align so remaining (unfolded) delta layers stay readable
    resolved = _align_to(resolved, snap.schema)
    resolved = resolved.withColumn(
        BUCKET_COL, bucket_expr(snap.key_col, snap.n_buckets)
    )
    return table.commit_buckets(
        resolved,
        touched_buckets=touched,
        schema=resolved.drop(BUCKET_COL).schema,
        computed_from=snap,
    )


def read_current(
    table: LakeTable,
    tiebreak_col: str = "event_id",
    columns: list[str] | None = None,
    predicates: list[tuple] | None = None,
) -> DataFrame:
    """The live view: LWW-resolved (merge-on-read) minus tombstones.

    ``columns`` projects payload cells BELOW the resolution (see
    ``LakeTable.read_resolved``): a lang-only consumer never shuffles
    the html blobs.

    ``predicates`` — zonemap file-skipping pushed into the scan, same
    contract as ``LakeTable.read_resolved``: advisory (the caller still
    applies the row filter) and only honoured on a folded table (with
    live delta stacks pruning does not commute with LWW resolution, so
    the predicates are ignored — fold first for pruned serving reads).
    On a z-ordered table (``lake/zorder.py``) every clustered dimension
    prunes, so a time-window or lang probe over the live view opens a
    fraction of the files."""
    df = table.read_resolved(
        tiebreak_col=tiebreak_col, columns=columns, predicates=predicates
    )
    if DELETED_COL in df.columns:
        df = df.filter(~F.col(DELETED_COL)).drop(DELETED_COL)
    for internal in (CELL_VERS, SET_COLS):
        if internal in df.columns:
            df = df.drop(internal)
    return df


def append_if_absent(table: LakeTable, rows: DataFrame) -> int:
    """Dimension upsert: insert rows whose key is not yet present.

    ``MERGE INTO dim USING src ON key WHEN NOT MATCHED THEN INSERT`` — the
    reference's ``INSERT ... SELECT DISTINCT ... ON CONFLICT DO NOTHING``
    dimension loads (K2, /root/reference/sql/nsw_vg/tasks/from_raw_derive/
    001_identifiers.sql:8-41).  Implemented as bucket-pruned anti-join +
    copy-on-write append; idempotent under replay by construction.
    """
    snap = table.snapshot()
    if snap.delta_files:
        # Dimension tables are copy-on-write by construction; the raw read
        # below would copy unresolved delta versions into the base (same
        # hazard the compact() fix addresses).  Fold first if this ever
        # fires.
        raise ValueError(
            "append_if_absent requires a table without delta stacks; "
            "run fold_deltas/compact first"
        )
    key = snap.key_col
    fresh = rows.dropDuplicates([key])
    probe = fresh.select(bucket_expr(key, snap.n_buckets).alias("b")).distinct()
    touched = [r[0] for r in probe.collect()]
    current = table.read(buckets=touched)
    new_rows = fresh.join(current.select(key), key, "left_anti")
    merged = current.unionByName(new_rows, allowMissingColumns=True)
    merged = merged.repartition(snap.n_buckets, F.col(key)).withColumn(
        BUCKET_COL, bucket_expr(key, snap.n_buckets)
    )
    return table.commit_buckets(
        merged, touched_buckets=touched, computed_from=snap
    )


def delete_where(
    table: LakeTable,
    condition,
    as_of,
    op_id: str,
    tiebreak_col: str = "event_id",
    compact_depth: int = 8,
) -> int:
    """Predicate delete: tombstone every live row matching ``condition``
    (GDPR erasure / retention sweep — ``DELETE FROM t WHERE ...``).

    Semantics are CDC-native rather than imperative: the delete is itself
    a change event at version ``as_of``.  Only rows whose current version
    is STRICTLY older than ``as_of`` are tombstoned — a row updated at or
    after the delete decision is newer information and survives, exactly
    as a racing source delete would behave under last-writer-wins.  The
    synthesized tombstones carry a deterministic per-key tiebreak id
    derived from ``op_id``, and the commit is keyed by ``op_id`` too, so
    re-running the same logical delete is an exactly-once no-op.

    Scale shape: one filtered scan of the live view (bucket files +
    deltas, zonemap/bucket pruning applies through ``condition`` pushdown)
    and one O(victims) merge-on-read delta append — the base is never
    rewritten; the next fold/compact reclaims the dead payload bytes.
    """
    snap = table.snapshot()
    epoch_key = f"delete_where:{op_id}"
    if snap.is_applied(epoch_key, None):
        return snap.version
    key, ver = snap.key_col, snap.version_col
    victims = (
        read_current(table, tiebreak_col)
        .filter(condition)
        .filter(F.col(ver) < F.lit(as_of))
    )
    payload_cols = [
        c for c in victims.columns if c not in (key, ver, tiebreak_col)
    ]
    batch = victims.select(
        key,
        F.lit(as_of).cast("timestamp").alias(ver),
        F.sha2(F.concat_ws("|", F.lit(op_id), F.col(key)), 256).alias(
            tiebreak_col
        ),
        F.lit("delete").alias(OP_COL),
        *payload_cols,
    )
    if batch.isEmpty():
        return snap.version
    return delta_merge_into(
        table,
        batch,
        tiebreak_col,
        epoch_id=epoch_key,
        compact_depth=compact_depth,
    )


def compact(
    table: LakeTable, drop_tombstones: bool = True, tiebreak_col: str = "event_id"
) -> int:
    """Full rewrite dropping tombstones (REINDEX / rewrite_data_files analog,
    /root/reference/lib/tasks/nsw_vg/ingest_deduplicate.py:100-106).

    Reads the LWW-*resolved* view, not the raw file set: on a
    merge-on-read table with unfolded delta stacks the raw read returns
    multiple versions per key, and compacting those verbatim would
    materialise duplicates (caught by the ``cdc_compacted_converge``
    driver oracle)."""
    df = table.read_resolved(tiebreak_col=tiebreak_col)
    if drop_tombstones and DELETED_COL in df.columns:
        df = df.filter(~F.col(DELETED_COL))
    return table.overwrite(df)


def seal_patches(
    table: LakeTable,
    tiebreak_col: str = "event_id",
    drop_tombstones: bool = False,
) -> int:
    """Convert a per-cell-versioned table back to plain row-LWW: one full
    rewrite of the resolved view with ``_cvers``/``_set_cols`` dropped.

    The cell-version map costs ~one (name, version, tiebreak) entry per
    payload column per row — worth carrying while partial images are
    flowing, dead weight after the patching source drains (e.g. a
    backfill completes).  Sealing freezes every row as a full image at
    its row version: exact whenever the upstream delivered per-key in
    order (the binlog contract), and afterwards an out-of-order patch
    older than a row's version loses whole-row — the documented
    approximation every row-LWW table already makes.  Later full-image
    batches resolve per row again: the reducer follows the marker
    columns (``operators.patch.per_cell``), which sealing drops.
    """
    df = table.read_resolved(tiebreak_col=tiebreak_col)
    for c in (CELL_VERS, SET_COLS):
        if c in df.columns:
            df = df.drop(c)
    if drop_tombstones and DELETED_COL in df.columns:
        df = df.filter(~F.col(DELETED_COL))
    return table.overwrite(df)
