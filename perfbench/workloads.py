"""The benchmark's workloads.

Each workload generates its inputs from the seed during set-up (outside
the timed region), then runs one or more *phases*.  A phase prepares a
fresh table (untimed), runs the timed ingest and reads, and returns the
raw samples; ``check`` then verifies the phase's table against the DuckDB
oracle.  All engine calls go through the public API of
``aus_land_data_etl_spark``; module attributes are looked up at call time
so the tracer's runtime wrappers see every call.
"""

from __future__ import annotations

import os
import random
import sys
import threading
import time
from dataclasses import dataclass, field

from perfbench.oracle import Oracle
from perfbench.trace import maybe_span


T_START = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_START:7.2f}s] {msg}",
          file=sys.stderr, flush=True)


def percentile(samples: list[tuple[float, float]], q: float) -> float:
    """Weighted nearest-rank percentile of ``(value, weight)`` samples."""
    ordered = sorted(samples)
    total = sum(w for _, w in ordered)
    acc = 0.0
    for v, w in ordered:
        acc += w
        if acc >= q * total - 1e-9:
            return v
    return ordered[-1][0]


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    seconds: float
    cores: int
    oracle: Oracle
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)

    def op(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)
        return ok

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


@dataclass
class PhaseResult:
    events: int
    ingest_s: float
    freshness: list[tuple[float, float]]  # (seconds, events)
    reads_ms: list[float]
    batches: int = 0


def _rows(path: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows


def _write_segments(events, bounds: list[int], out_dir: str, prefix: str) -> list[str]:
    """Split generated events (an Arrow table) into WAL parquet files of
    contiguous ``source_pos`` ranges ``[bounds[i], bounds[i+1])`` — what a
    binlog shipper writes.  Redeliveries share their original's position,
    so they land in the same file."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    events = events.sort_by([("source_pos", "ascending"), ("event_id", "ascending")])
    pos = events.column("source_pos")
    files = []
    for i, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
        part = events.filter(pc.and_(pc.greater_equal(pos, lo), pc.less(pos, hi)))
        path = os.path.join(out_dir, f"{prefix}-{i:05d}.parquet")
        pq.write_table(part, path)
        files.append(path)
    return files


def _urls(path: str) -> list[str]:
    import pyarrow.parquet as pq

    return sorted(set(pq.read_table(path, columns=["url"]).column("url").to_pylist()))


def _check_common(ctx: Ctx, table, files: list[str], tag: str) -> None:
    """Converged winners against the LWW oracle, and ``text`` against
    ``extract_text_bytes(html)`` on a seeded sample, from one read."""
    from pyspark.sql import functions as F

    from aus_land_data_etl_spark.functions.text import extract_text_bytes
    from aus_land_data_etl_spark.lake import merge

    sampled = F.pmod(F.xxhash64(F.lit(ctx.seed), "url"), F.lit(16)) == 0
    got = merge.read_current(table).select(
        "url", "warc_ts", "event_id",
        F.when(sampled, F.col("html")).alias("html"),
        F.when(sampled, F.col("text")).alias("text"),
        sampled.alias("sampled"),
    ).toArrow()
    ok, want, have = ctx.oracle.converged_matches(files, got.select(["url", "warc_ts", "event_id"]))
    ctx.op(ok, f"{tag}: converged winners differ from the LWW oracle "
               f"({have} rows, oracle {want})")
    rows = got.filter(got.column("sampled")).select(["html", "text"]).to_pylist()
    bad = sum(1 for r in rows if r["text"] != extract_text_bytes(r["html"]))
    ctx.op(len(rows) > 0 and bad == 0, f"{tag}: text differs from extract_text_bytes "
                                       f"on {bad} of {len(rows)} sampled rows")


def _timed_apply(ctx: Ctx, what: str, fn) -> tuple[float, float]:
    """Run one apply; an exception counts as a failed op, never aborts."""
    s = time.perf_counter()
    err = ""
    try:
        fn()
    except Exception as exc:  # noqa: BLE001 - counted and reported
        err = f": {exc!r}"
    e = time.perf_counter()
    ctx.op(not err, what + err)
    return s, e


# ---------------------------------------------------------------------------
# trickle_fresh
# ---------------------------------------------------------------------------

class TrickleFresh:
    """Open loop: small WAL chunks come due on a fixed schedule and one
    driver loop applies everything due as one ``apply_batch`` call with
    the streaming runner's settings, while a second driver thread issues
    point lookups on its own fixed schedule.  Both are timed from the
    scheduled due time."""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.base_events = 1_000
        # the base is drained by the streaming runner as this many
        # micro-batches, one commit each, so the delta stack reaches the
        # default compact_depth (8) at the 2nd batch of the timed loop:
        # every run folds once, in the same batch
        self.base_commits = 6
        self.chunk = 50
        self.period_s = 0.25
        # a lookup's service time under ingest is about 0.5 s on 4 cores
        self.lookup_period_s = 1.0
        self.n_chunks = max(2, int(ctx.seconds / self.period_s))
        # the runner's maintenance tick (expire + vacuum), every N batches
        self.expire_every = 4
        self.phase_no = 0

    def setup(self) -> None:
        from aus_land_data_etl_spark.cdc.generator import generate_events

        ctx = self.ctx
        total = self.base_events + self.n_chunks * self.chunk
        events = generate_events(ctx.spark, total, seed=ctx.seed).toArrow()
        step = self.base_events // self.base_commits
        base_bounds = [i * step for i in range(self.base_commits)] + [self.base_events]
        self.base_files = _write_segments(events, base_bounds, ctx.path("wal-base"), "base")
        bounds = [self.base_events + i * self.chunk for i in range(self.n_chunks + 1)]
        self.chunk_files = _write_segments(events, bounds, ctx.path("wal"), "wal")
        self.base_urls = sorted({u for f in self.base_files for u in _urls(f)})
        self.chunk_urls = [_urls(f) for f in self.chunk_files]
        self.chunk_rows = [_rows(f) for f in self.chunk_files]
        log(f"inputs written: {self.base_events} base + {self.n_chunks} chunks")

    def prepare(self) -> None:
        """Fresh table holding the base, drained from its WAL directory by
        the streaming runner (which warms the write path), and one lookup
        to warm the read path."""
        from aus_land_data_etl_spark.cdc.apply import create_pages_table
        from aus_land_data_etl_spark.streaming import runner

        ctx = self.ctx
        self.phase_no += 1
        self.table = create_pages_table(
            ctx.spark, ctx.path(f"t{self.phase_no}"), n_buckets=ctx.cores
        )
        res = runner.run_stream(ctx.spark, self.table, ctx.path("wal-base"),
                                ctx.path(f"ck{self.phase_no}"), max_files_per_trigger=1)
        ctx.op(res.batches == self.base_commits,
               f"trickle_fresh: base drained in {res.batches} micro-batches, "
               f"expected {self.base_commits}")
        self.table.lookup(self.base_urls[0]).collect()
        log("base drained")

    def _apply(self, files: list[str], epoch: int) -> None:
        from aus_land_data_etl_spark.cdc import apply as apply_mod
        from aus_land_data_etl_spark.cdc.events import EVENT_SCHEMA

        batch = self.ctx.spark.read.schema(EVENT_SCHEMA).parquet(*files)
        apply_mod.apply_batch(
            self.table, batch, epoch=epoch, content_keyed=True, wal_offsets=True,
            run_manifests=True,
        )
        if epoch and epoch % self.expire_every == 0:
            self.table.expire_snapshots(keep_last=4)
            self.table.vacuum_orphans(grace_seconds=3600.0)

    def run(self, tracer) -> PhaseResult:
        from aus_land_data_etl_spark.lake import merge

        ctx = self.ctx
        n = self.n_chunks
        state = {"committed": 0, "inflight": 0}
        lock = threading.Lock()
        self.lookups: list[dict] = []
        t0 = time.perf_counter() + 0.05
        due = [t0 + i * self.period_s for i in range(n)]
        # lookups keep their schedule until the last chunk is committed, so
        # every batch runs beside the same read load
        ingest_done = threading.Event()

        def lookup_loop() -> None:
            rng = random.Random(ctx.seed * 7919 + self.phase_no)
            j = 0
            while True:
                d = t0 + 0.1 + j * self.lookup_period_s
                if ingest_done.wait(timeout=max(0.0, d - time.perf_counter())):
                    return
                with lock:
                    c0 = state["committed"]
                urls = self.chunk_urls[c0 - 1] if c0 else self.base_urls
                url = urls[rng.randrange(len(urls))]
                rec = {"due": d, "url": url, "c0": c0, "rows": None}
                try:
                    with maybe_span(tracer, "lake.table.lookup"):
                        rec["rows"] = [
                            (_epoch_us(r["warc_ts"]), r["event_id"])
                            for r in self.table.lookup(url).collect()
                        ]
                except Exception as exc:  # noqa: BLE001 - counted in check
                    rec["error"] = repr(exc)
                rec["end"] = time.perf_counter()
                with lock:
                    rec["c1"] = state["inflight"]
                self.lookups.append(rec)
                j += 1

        reader = threading.Thread(target=lookup_loop, name="lookups")
        reader.start()
        applied, epoch = 0, 1
        commit = [0.0] * n
        busy = 0.0
        backlog: list[int] = []
        try:
            while applied < n:
                now = time.perf_counter()
                ready = min(n, int((now - t0) / self.period_s) + 1) if now >= t0 else 0
                if ready <= applied:
                    time.sleep(max(0.0, due[applied] - now))
                    continue
                backlog.append(ready - applied)
                with lock:
                    state["inflight"] = ready
                s, e = _timed_apply(
                    ctx, f"trickle_fresh: apply of chunks {applied}..{ready - 1}",
                    lambda: self._apply(self.chunk_files[applied:ready], epoch),
                )
                busy += e - s
                log(f"batch {epoch}: chunks {applied}..{ready - 1} in {e - s:.2f}s")
                for i in range(applied, ready):
                    commit[i] = e
                with lock:
                    state["committed"] = ready
                applied, epoch = ready, epoch + 1
        finally:
            ingest_done.set()
            reader.join()
        self.backlog = backlog
        # sustainable means the backlog a batch finds stays level: compare
        # the later half with the earlier one, leaving out the first batch
        # (it starts on an empty queue)
        steady = backlog[1:]
        half = len(steady) // 2
        growing = half >= 2 and max(steady[half:]) > 1.5 * max(steady[:half]) + 2
        ctx.op(not growing, f"trickle_fresh: backlog grew across the run {backlog}")
        if tracer is not None:
            # the converged read of a merge-on-read table (traced runs only)
            with maybe_span(tracer, "lake.merge.read_current"):
                ctx.op(merge.read_current(self.table).count() > 0,
                       "trickle_fresh: empty converged read")
        # the first batch starts on an empty queue, before the loop reaches
        # its steady state: its chunks do not count towards freshness
        first = backlog[0] if backlog and backlog[0] < n else 0
        return PhaseResult(
            events=sum(self.chunk_rows),
            ingest_s=busy,
            freshness=[(commit[i] - due[i], float(self.chunk_rows[i]))
                       for i in range(first, n)],
            reads_ms=[(r["end"] - r["due"]) * 1000 for r in self.lookups],
            batches=len(backlog),
        )

    def check(self) -> int:
        ctx = self.ctx
        files = self.base_files + self.chunk_files
        _check_common(ctx, self.table, files, "trickle_fresh")
        hist = ctx.oracle.history(files, sorted({r["url"] for r in self.lookups}))
        for r in self.lookups:
            if "error" in r:
                ctx.op(False, f"trickle_fresh: lookup {r['url']} raised {r['error']}")
                continue
            # any prefix committed between the lookup's start and end is a
            # correct answer: the table may commit while the lookup runs
            ok = False
            for k in range(r["c0"], r["c1"] + 1):
                limit = self.base_events + k * self.chunk
                seen = [(ts, eid) for pos, ts, eid in hist.get(r["url"], []) if pos < limit]
                if seen and r["rows"] == [max(seen)]:
                    ok = True
                    break
            ctx.op(ok, f"trickle_fresh: lookup {r['url']} returned {r['rows']}")
        return ctx.oracle.winners(files, min_source_pos=self.base_events)


def _epoch_us(ts) -> int:
    # PySpark hands timestamps back as naive local-time datetimes
    return int(ts.timestamp()) * 1_000_000 + ts.microsecond


# ---------------------------------------------------------------------------
# hot_redelivery
# ---------------------------------------------------------------------------

class HotRedelivery:
    """Closed loop: a duplicate-heavy stream over a small key space applied
    as copy-on-write (CoW) batches, then changelog reads of the last one."""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.n_events = 6_000
        self.n_urls = 150
        # segment 0 is applied untimed in ``prepare`` (warm-up and a
        # non-empty table); the timed loop applies the other three, an odd
        # count so the median event falls inside a batch, not between two
        self.n_segments = 4
        self.reads = 15
        self.phase_no = 0

    def _apply(self, table, path: str, epoch: int) -> None:
        from aus_land_data_etl_spark.cdc import apply as apply_mod
        from aus_land_data_etl_spark.cdc.events import EVENT_SCHEMA

        batch = self.ctx.spark.read.schema(EVENT_SCHEMA).parquet(path)
        apply_mod.apply_batch(table, batch, epoch=epoch, mode="cow")

    def setup(self) -> None:
        from aus_land_data_etl_spark.cdc.generator import generate_events

        ctx = self.ctx
        events = generate_events(
            ctx.spark, self.n_events, n_urls=self.n_urls, seed=ctx.seed,
            dup_fraction=0.3, hot_fraction=0.6,
        ).toArrow()
        step = self.n_events // self.n_segments
        bounds = [i * step for i in range(self.n_segments)] + [self.n_events]
        self.files = _write_segments(events, bounds, ctx.path("wal"), "wal")
        self.rows = [_rows(f) for f in self.files]
        self.first_timed_pos = bounds[1]
        log(f"inputs written: {sum(self.rows)} events in {len(self.files)} segments")

    def prepare(self) -> None:
        from aus_land_data_etl_spark.cdc.apply import create_pages_table
        from aus_land_data_etl_spark.lake import changelog

        ctx = self.ctx
        self.phase_no += 1
        self.table = create_pages_table(
            ctx.spark, ctx.path(f"t{self.phase_no}"), n_buckets=ctx.cores
        )
        self._apply(self.table, self.files[0], 0)
        v = self.table.current_version()
        changelog.read_changes(self.table, v - 1, v).count()
        log("segment 0 applied, changelog read warm")

    def run(self, tracer) -> PhaseResult:
        from aus_land_data_etl_spark.lake import changelog, merge

        ctx = self.ctx
        self.versions = []
        freshness = []
        t0 = time.perf_counter()
        for i in range(1, len(self.files)):
            s, e = _timed_apply(ctx, f"hot_redelivery: CoW batch {i}",
                                lambda: self._apply(self.table, self.files[i], i))
            log(f"batch {i}: {self.rows[i]} events in {e - s:.2f}s")
            self.versions.append(self.table.current_version())
            freshness.append((e - t0, float(self.rows[i])))
        t1 = time.perf_counter()
        v_from, v_to = self.versions[-2], self.versions[-1]
        reads = []
        self.changes = []
        for _ in range(self.reads):
            s = time.perf_counter()
            with maybe_span(tracer, "lake.changelog.read_changes"):
                self.changes.append(changelog.read_changes(self.table, v_from, v_to).count())
            reads.append((time.perf_counter() - s) * 1000)
        with maybe_span(tracer, "lake.merge.read_current"):
            ctx.op(merge.read_current(self.table).count() > 0,
                   "hot_redelivery: empty converged read")
        return PhaseResult(
            events=sum(self.rows[1:]), ingest_s=t1 - t0, freshness=freshness,
            reads_ms=reads, batches=len(self.files) - 1,
        )

    def check(self) -> int:
        ctx = self.ctx
        _check_common(ctx, self.table, self.files, "hot_redelivery")
        want_versions = list(range(2, len(self.files) + 1))
        ctx.op(self.versions == want_versions,
               f"hot_redelivery: one commit per batch expected, got {self.versions}")
        want = ctx.oracle.changelog_count(self.files[:-1], self.files)
        for n in self.changes:
            ctx.op(n == want, f"hot_redelivery: changelog has {n} rows, oracle {want}")
        return ctx.oracle.winners(self.files, min_source_pos=self.first_timed_pos)


WORKLOADS = {
    "trickle_fresh": TrickleFresh,
    "hot_redelivery": HotRedelivery,
}
