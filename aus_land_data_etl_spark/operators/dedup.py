"""Last-writer-wins / canonicalisation operators (SURVEY.md §2.6 W1–W3).

These are the reference's core dedup semantics re-expressed as Spark
primitives:

- ``latest_per_key``  — ``DISTINCT ON (keys) ... ORDER BY version DESC``
  (used ~10× in the reference, e.g.
  /root/reference/sql/nsw_spatial/tasks/dedup_lot_layer.sql:16-35,
  sql/nsw_gnb/schema/001_APPLY_init.sql:46-67).
- ``lww_latest``      — aggregate formulation (``max_by(struct, version)``):
  map-side partial combine per key before the shuffle, so a hot key ships
  one row per map partition, not one per event.
- ``canonicalize``    — completeness-ranked LWW: rank by non-null count then
  version (the reference's canonical-row selection,
  sql/nsw_vg/tasks/from_raw_derive/005_populate_lrs/001_setup.sql:30-58).

Tie-breaks are total orders (version, tiebreak-id) — the reference
implicitly tie-broke on scan order, which is not reproducible in a
distributed engine (SURVEY.md §7.4.2).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def latest_per_key(
    df: DataFrame,
    keys: list[str],
    order_by: list[Column],
) -> DataFrame:
    """Top-1-per-group via row_number (Spark plans partial top-k).

    ``order_by`` must define a total order (include a tiebreak column) for
    deterministic replay.
    """
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def lww_latest(
    df: DataFrame,
    key: str | list[str],
    version_cols: list[str],
) -> DataFrame:
    """LWW winner per key as an aggregation (map-side partial combine).

    Unlike the window formulation, ``max_by`` benefits from partial
    aggregation: each map task pre-reduces its local rows per key before
    the shuffle, so a key with millions of duplicate events ships only one
    row per map partition.

    ``version_cols`` is the total-order version vector, highest wins
    (e.g. ``["warc_ts", "event_id"]``).
    """
    keys = [key] if isinstance(key, str) else list(key)
    payload = [c for c in df.columns if c not in keys]
    # SQL text: one parse instead of a Column per payload cell
    struct = lambda cs: "struct(" + ", ".join(f"`{c}`" for c in cs) + ")"  # noqa: E731
    winner = F.expr(f"max_by({struct(payload)}, {struct(version_cols)}) AS _win")
    return df.groupBy(*keys).agg(winner).select(*keys, "_win.*")


def canonicalize(
    df: DataFrame,
    keys: list[str],
    completeness_cols: list[str],
    version_col: str,
    tiebreak_col: str,
    flag_col: str = "canonical",
) -> DataFrame:
    """Completeness-ranked LWW flag (reference W1).

    Score = count of non-null completeness columns; rank by (score DESC,
    version DESC, tiebreak DESC); rank 1 → canonical=true.  Returns the
    input with the boolean flag added (the reference materialises this in a
    complement table; here it's a column — join-back not needed, J6).
    """
    score = sum(
        (F.when(F.col(c).isNotNull(), 1).otherwise(0) for c in completeness_cols),
        F.lit(0),
    )
    w = Window.partitionBy(*keys).orderBy(
        score.desc(), F.col(version_col).desc(), F.col(tiebreak_col).desc()
    )
    return df.withColumn(flag_col, F.row_number().over(w) == 1)


def distinct_union(dfs: list[DataFrame]) -> DataFrame:
    """Schema-superset dedup union (reference U1/U2): ``unionByName(
    allowMissingColumns=True)`` then distinct."""
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d, allowMissingColumns=True)
    return out.distinct()
