"""Event-metadata-driven schema registry (SURVEY.md §1.3).

The reference selects one of five positional syntaxes by data vintage and
maps each onto a superset schema with defaults for missing fields
(/root/reference/lib/pipeline/nsw_vg/property_sales/file_format/
syntax.py:10-63, factories.py:156-265).  Here each change event carries
``schema_version``; the registry projects every version onto the current
canonical superset with pure column expressions:

- v1  base columns only (``lang`` missing → NULL, the 1990-format analog);
- v2  adds ``lang`` as a typed column (added column);
- v3  renames ``lang`` → ``language`` inside the JSON side-car (rename
  mapping);
- v4  adds ``fetch_status`` (promoted to a real table column — the
  ``ALTER TABLE ADD COLUMN`` analog, applied by merge's superset union)
  and widens ``source_pos`` semantics int→long (type widening — parquet
  readers handle int32→int64 natively).

Adding a future version = registering one more projection case; no
pipeline code changes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from aus_land_data_etl_spark.cdc.events import PAYLOAD_EXTRA_SCHEMA

#: Versions this registry understands.  An event with an unknown version is
#: routed to the dead-letter output rather than guessed at.
KNOWN_VERSIONS = (1, 2, 3, 4)

_EXTRA = f"from_json(payload_extra, '{PAYLOAD_EXTRA_SCHEMA.simpleString()}')"


class SchemaRegistry:
    """Projects raw change events onto the canonical superset columns."""

    def __init__(self, versions: tuple[int, ...] = KNOWN_VERSIONS):
        self.versions = versions

    @property
    def _known(self) -> str:
        """SQL predicate: the event's ``schema_version`` is registered."""
        return f"schema_version IN ({', '.join(str(int(v)) for v in self.versions)})"

    def project(self, events: DataFrame) -> DataFrame:
        """Raw events → canonical columns.  Pure expressions, single pass,
        written as one SQL select list (one parse, not a Column tree)."""
        return events.selectExpr(
            "event_id",
            "op",
            "url",
            "warc_ts",
            "html",
            # v3+: renamed field in side-car
            "CASE WHEN schema_version <= 1 THEN CAST(NULL AS STRING) "
            f"WHEN schema_version = 2 THEN lang ELSE {_EXTRA}.language END AS lang",
            f"CAST(CASE WHEN schema_version >= 4 THEN {_EXTRA}.fetch_status END "
            "AS INT) AS fetch_status",
            "source_partition",
            "source_offset",
            "source_file",
            "CAST(source_pos AS BIGINT) AS source_pos",
        )

    def unknown(self) -> Column:
        """True for events whose ``schema_version`` this registry does not
        know (NULL for a NULL version, which neither path keeps)."""
        return F.expr(f"NOT {self._known}")

    def dead_letter(self, events: DataFrame) -> DataFrame:
        """Events with unknown schema versions (validation predicate path —
        the analog of the reference's typed-reader error rows,
        raw_data/rows.py:106-127)."""
        return events.filter(self.unknown())

    def valid(self, events: DataFrame) -> DataFrame:
        return events.filter(self._known)
