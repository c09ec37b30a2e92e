"""Partial-image (patch) CDC resolution with per-cell LWW versions.

Binlog/WAL sources frequently ship *partial* row images — MySQL
``binlog_row_image=MINIMAL``, Debezium incremental updates, Mongo
``$set`` ops: an update event carries only the columns it changed.  The
reference pipeline side-steps this (its staging tables always receive
full rows, e.g. /root/reference/sql/nsw_vg/schema/002_APPLY_staging.sql),
but a 10^10-event web CDC stream cannot: re-shipping a multi-MB ``html``
blob because ``fetch_status`` flipped is the difference between a
feasible stream and an infeasible one.

Semantics (the Cassandra / BigTable cell-timestamp model, restated for
Spark aggregation):

- every event carries the total-order version vector ``(version_col,
  tiebreak_col)`` and *determines* a set of cells: full images
  (insert/update) and deletes determine EVERY payload cell; a patch
  determines exactly the cells named in its ``_set_cols`` array (an
  explicit SQL ``NULL`` assignment is expressible: name the column in
  ``_set_cols`` and ship NULL);
- the resolved value of cell ``c`` is the value from the NEWEST event
  that determines ``c``; row existence (``is_deleted``) is determined by
  every event (a patch asserts the row exists, so a patch newer than a
  delete resurrects the row with only its patched cells non-NULL);
- each resolved row persists a ``_cvers`` map (cell → version vector of
  the event that last determined it), which makes the reduction fully
  **associative and delivery-order independent**: merging batches in any
  grouping — micro-batch boundaries, folds, checkpoint replays —
  converges to the same state, the property the north rule's
  replay/state-equivalence contract demands.

Which reduction a merge, fold or read uses follows from column names
alone (``per_cell``): a frame or table carrying either marker column
resolves per cell, anything else per row.  A full-image batch on a
per-cell table therefore needs no special entry point — with no
``_set_cols`` its rows are full images, determining every cell.

Rows from tables written before patch support (no ``_cvers``) are
treated as full images sealed at their row version — exact whenever the
per-key stream is in commit order (a binlog is), and the documented
upper-bound approximation otherwise.

Everything below is pure Catalyst (``max_by`` / ``max`` aggregate pairs
per cell, struct-wrapped so an explicit NULL patch survives); partial
aggregation (map-side combine) applies as with any agg, so hot keys
pre-reduce before the shuffle.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aus_land_data_etl_spark.operators.dedup import lww_latest

#: array<string> column naming the cells a patch determines; NULL = full image.
SET_COLS = "_set_cols"
#: map<string, struct<v,t>> column: cell -> version vector that last set it.
CELL_VERS = "_cvers"


def per_cell(*names: Iterable[str]) -> bool:
    """Do these column names (a batch's, a snapshot schema's) call for
    per-cell LWW?  Yes when any carries ``SET_COLS`` or ``CELL_VERS``:
    row-level LWW there would let a whole-row winner erase cells an older
    patch still owns."""
    return any(c in (SET_COLS, CELL_VERS) for cols in names for c in cols)


def resolve(
    df: DataFrame, key: str, version_col: str, tiebreak_col: str
) -> DataFrame:
    """One row per key by LWW: per cell (``resolve_cells``) when ``df``'s
    columns call for it, per row (``lww_latest``) otherwise.  Both are
    associative, so folds and clustering may apply it to any subset of
    layers."""
    if per_cell(df.columns):
        return resolve_cells(df, key, version_col, tiebreak_col)
    return lww_latest(df, key, [version_col, tiebreak_col])


def resolve_cells(
    df: DataFrame,
    key: str | list[str],
    version_col: str,
    tiebreak_col: str,
    deleted_col: str = "is_deleted",
) -> DataFrame:
    """Reduce a mixed stream of full images / patches / deletes / stored
    rows to one resolved row per key (per-cell LWW).

    ``df`` columns: keys, ``version_col``, ``tiebreak_col``,
    ``deleted_col``, optionally ``SET_COLS`` (fresh events) and
    ``CELL_VERS`` (stored rows), plus payload cells.  Missing marker
    columns are treated as all-NULL (full images).

    Output: keys + version/tiebreak/deleted of the newest event + every
    payload cell resolved + ``CELL_VERS``.  ``SET_COLS`` is consumed.
    The output is itself a valid *stored row* input, so the reduction
    can be re-applied across any batching (associativity).
    """
    keys = [key] if isinstance(key, str) else list(key)
    d = df
    if SET_COLS not in d.columns:
        d = d.withColumn(SET_COLS, F.lit(None).cast("array<string>"))
    if CELL_VERS not in d.columns:
        vt = dict(d.dtypes)
        d = d.withColumn(
            CELL_VERS,
            F.lit(None).cast(
                f"map<string,struct<v:{vt[version_col]},t:{vt[tiebreak_col]}>>"
            ),
        )
    payload = [
        c
        for c in d.columns
        if c not in (*keys, version_col, tiebreak_col, deleted_col, SET_COLS, CELL_VERS)
    ]
    row_ver = F.struct(
        F.col(version_col).alias("v"), F.col(tiebreak_col).alias("t")
    )
    cvers = F.col(CELL_VERS)

    def cell_ver(c: str) -> F.Column:
        # stored rows (cvers map present) speak ONLY through their map —
        # a cell absent from the map was never determined; fresh events
        # determine c when full-image (SET_COLS null) or c is named.
        fresh = F.when(
            F.col(SET_COLS).isNull()
            | F.array_contains(F.col(SET_COLS), F.lit(c)),
            row_ver,
        )
        return F.when(cvers.isNotNull(), F.element_at(cvers, F.lit(c))).otherwise(
            fresh
        )

    aggs = [
        F.max(row_ver).alias("_rv"),
        # newest event decides row existence; max_by ignores NULL order
        # keys, never NULL args (probed: Spark keeps a NULL arg at max).
        F.max_by(F.col(deleted_col), row_ver).alias(deleted_col),
    ]
    for c in payload:
        cv = cell_ver(c)
        # struct-wrap the value so an explicit-NULL patch is carried as a
        # non-NULL struct{v: NULL} (symmetric with the DuckDB oracle,
        # where bare arg_max would skip NULL args).
        aggs.append(
            F.max_by(F.struct(F.col(c).alias("v")), cv).alias(f"_val_{c}")
        )
        aggs.append(F.max(cv).alias(f"_cv_{c}"))

    out = d.groupBy(*keys).agg(*aggs)
    if payload:
        entries = F.filter(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("key"), F.col(f"_cv_{c}").alias("value")
                    )
                    for c in payload
                ]
            ),
            lambda s: s["value"].isNotNull(),
        )
        cv_map = F.map_from_entries(entries)
    else:
        # projection kept zero payload cells (e.g. a count-only or
        # version-only read): F.array() would be array<void> and the
        # lambda's s["value"] an invalid VOID extraction.  The exact
        # semantic is a stored row that determines no cells — an empty
        # (not NULL: NULL means full image) typed map.
        vt = dict(d.dtypes)
        cv_map = F.expr("map()").cast(
            f"map<string,struct<v:{vt[version_col]},t:{vt[tiebreak_col]}>>"
        )
    return out.select(
        *keys,
        F.col("_rv.v").alias(version_col),
        F.col("_rv.t").alias(tiebreak_col),
        F.col(deleted_col),
        *[F.col(f"_val_{c}.v").alias(c) for c in payload],
        cv_map.alias(CELL_VERS),
    )
