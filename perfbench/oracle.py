"""Independent output checks: a DuckDB last-writer-wins (LWW) oracle over
the same WAL parquet files the engine consumed, plus the byte-identical
text check.

The LWW total order is the engine's documented one: highest
``(warc_ts, event_id)`` per ``url`` wins; a winning delete removes the
row from the live view.
"""

from __future__ import annotations

import duckdb

_LWW = """
SELECT url, epoch_us(warc_ts) AS ts, event_id, op, source_pos FROM (
  SELECT url, warc_ts, event_id, op, source_pos,
         row_number() OVER (PARTITION BY url
                            ORDER BY warc_ts DESC, event_id DESC) AS rn
  FROM read_parquet({files})
) WHERE rn = 1
"""


class Oracle:
    def __init__(self, tmp_dir: str, threads: int):
        self.con = duckdb.connect()
        self.con.execute(f"SET temp_directory='{tmp_dir}'")
        self.con.execute(f"SET threads={int(threads)}")
        self.con.execute("SET memory_limit='1GB'")

    def close(self) -> None:
        self.con.close()

    def _lww(self, files: list[str]) -> str:
        return _LWW.format(files="[" + ", ".join(f"'{f}'" for f in files) + "]")

    def winners(self, files: list[str], min_source_pos: int = 0) -> int:
        """LWW winners, tombstones included, among events at or after
        ``min_source_pos`` — the rows extraction produced that survive."""
        return self.con.execute(
            f"SELECT count(*) FROM ({self._lww(files)}) WHERE source_pos >= ?",
            [min_source_pos],
        ).fetchone()[0]

    def converged_matches(self, files: list[str], got) -> tuple[bool, int, int]:
        """Does the engine's live view (an Arrow table of url, warc_ts,
        event_id) equal the oracle's?  Returns (ok, expected, got)."""
        self.con.register("got_rows", got)
        try:
            want = f"SELECT url, ts, event_id FROM ({self._lww(files)}) WHERE op <> 'delete'"
            have = "SELECT url, epoch_us(warc_ts) AS ts, event_id FROM got_rows"
            n_want = self.con.execute(f"SELECT count(*) FROM ({want})").fetchone()[0]
            n_have = self.con.execute(f"SELECT count(*) FROM ({have})").fetchone()[0]
            diff = self.con.execute(
                f"SELECT count(*) FROM (({want}) EXCEPT ({have})"
                f" UNION ALL (({have}) EXCEPT ({want})))"
            ).fetchone()[0]
        finally:
            self.con.unregister("got_rows")
        return diff == 0 and n_want == n_have, n_want, n_have

    def changelog_count(self, before: list[str], after: list[str]) -> int:
        """Net changes between the live views of two WAL prefixes:
        inserts, deletes and updates (the winning event changed)."""
        live = "SELECT url, ts, event_id FROM ({}) WHERE op <> 'delete'"
        a = live.format(self._lww(before))
        b = live.format(self._lww(after))
        return self.con.execute(
            f"SELECT count(*) FROM ({a}) a FULL OUTER JOIN ({b}) b ON a.url = b.url"
            " WHERE a.url IS NULL OR b.url IS NULL"
            " OR a.ts <> b.ts OR a.event_id <> b.event_id"
        ).fetchone()[0]

    def history(self, files: list[str], urls: list[str]) -> dict[str, list[tuple]]:
        """Every event for ``urls``: url -> [(source_pos, ts, event_id)]."""
        rows = self.con.execute(
            f"SELECT url, source_pos, epoch_us(warc_ts), event_id"
            f" FROM read_parquet({'[' + ', '.join(repr(f) for f in files) + ']'})"
            f" WHERE url IN (SELECT unnest(?))",
            [list(urls)],
        ).fetchall()
        out: dict[str, list[tuple]] = {}
        for url, pos, ts, eid in rows:
            out.setdefault(url, []).append((pos, ts, eid))
        return out
