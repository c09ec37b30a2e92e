"""Layer tracing from outside the engine.

``Tracer.install`` wraps the public functions of each engine layer at the
name where their caller looks them up (a module global or a class
attribute) and records one span per call: name, thread, start, end and
the enclosing span.  Spans that can launch Spark jobs also publish their
span path as the Spark local property ``perfbench.span``, and every
``apply_batch`` call runs under its own job group, so the Spark event
log attributes each job, stage and task to a layer and a batch.
``uninstall`` puts every original back.

Nothing here changes what the engine computes: wrappers call the
original with the same arguments and return its result.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import threading
import time
from dataclasses import dataclass, field
from typing import Any, Callable

SPAN_PROP = "perfbench.span"
BATCH_GROUP = "perfbench-b"


@dataclass
class Span:
    name: str
    path: str
    thread: int
    t0: float
    t1: float = 0.0
    batch: int | None = None
    parent: "Span | None" = None
    #: seconds the tracer itself spent entering and leaving this span
    cost: float = 0.0
    attrs: dict[str, Any] = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.n_batches = 0
        self._lock = threading.Lock()
        self._local = threading.local()
        self._undo: list[tuple[Any, str, Any]] = []

    # -- spans -------------------------------------------------------------
    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, spark_jobs: bool = True, batch: bool = False):
        enter = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else None
        path = f"{parent.path}>{name}" if parent else name
        sp = Span(name, path, threading.get_ident(), 0.0, parent=parent)
        sp.batch = parent.batch if parent else None
        saved: dict[str, str | None] = {}
        if batch:
            with self._lock:
                sp.batch = self.n_batches
                self.n_batches += 1
            for k in ("spark.jobGroup.id", "spark.job.description",
                      "spark.job.interruptOnCancel"):
                saved[k] = self.sc.getLocalProperty(k)
            self.sc.setJobGroup(f"{BATCH_GROUP}{sp.batch}", f"apply batch {sp.batch}")
        if spark_jobs:
            saved[SPAN_PROP] = self.sc.getLocalProperty(SPAN_PROP)
            self.sc.setLocalProperty(SPAN_PROP, path)
        stack.append(sp)
        sp.t0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp.t1 = time.perf_counter()
            stack.pop()
            for k, v in saved.items():
                self.sc.setLocalProperty(k, v)
            sp.cost = (sp.t0 - enter) + (time.perf_counter() - sp.t1)
            with self._lock:
                self.spans.append(sp)

    # -- runtime wrappers --------------------------------------------------
    def wrap(
        self,
        owner: Any,
        attr: str,
        name: str,
        spark_jobs: bool = True,
        batch: bool = False,
        on_result: Callable[[Span, tuple, dict, Any], None] | None = None,
    ) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name, spark_jobs=spark_jobs, batch=batch) as sp:
                out = orig(*args, **kwargs)
                if on_result is not None:
                    on_result(sp, args, kwargs, out)
                return out

        self._undo.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def install(self) -> "Tracer":
        from aus_land_data_etl_spark.cdc import apply as apply_mod
        from aus_land_data_etl_spark.lake import merge as merge_mod
        from aus_land_data_etl_spark.lake import stats as stats_mod
        from aus_land_data_etl_spark.lake.table import LakeTable
        from aus_land_data_etl_spark.streaming import runner as runner_mod

        def swept(sp, args, kwargs, out):
            sp.attrs["files"] = len(args[1])

        def kept(sp, args, kwargs, out):
            sp.attrs["files"] = len(out[0])

        # the streaming runner's foreachBatch body looks apply_batch up in
        # its own module; direct callers look it up in cdc.apply
        self.wrap(runner_mod, "apply_batch", "cdc.apply.apply_batch", batch=True)
        self.wrap(apply_mod, "apply_batch", "cdc.apply.apply_batch", batch=True)
        self.wrap(runner_mod, "run_stream", "streaming.runner.run_stream")
        self.wrap(apply_mod, "write_dead_letters", "cdc.apply.dead_letter")
        self.wrap(apply_mod, "compute_manifest", "cdc.apply.manifest")
        self.wrap(apply_mod, "merge_into", "lake.merge.cow_merge")
        self.wrap(merge_mod, "delta_merge_into", "lake.merge.delta_merge")
        self.wrap(merge_mod, "fold_deltas", "lake.merge.fold")
        self.wrap(stats_mod, "collect_file_stats", "lake.stats.footer_sweep",
                  spark_jobs=False, on_result=swept)
        for attr in ("commit_delta", "commit_buckets", "commit_clustered_deltas"):
            self.wrap(LakeTable, attr, "lake.table.commit")
        for attr in ("expire_snapshots", "vacuum_orphans"):
            self.wrap(LakeTable, attr, "lake.table.maintenance", spark_jobs=False)
        self.wrap(LakeTable, "snapshot", "lake.table.snapshot", spark_jobs=False)
        self.wrap(LakeTable, "plan_scan", "lake.table.plan_scan",
                  spark_jobs=False, on_result=kept)
        return self

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)


@contextlib.contextmanager
def maybe_span(tracer: Tracer | None, name: str):
    """A benchmark-side span around a call plus its Spark action."""
    if tracer is None:
        yield None
    else:
        with tracer.span(name) as sp:
            yield sp


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

@dataclass
class StageAgg:
    tasks: int = 0
    run_ms: int = 0
    shuffle_write_bytes: int = 0
    output_bytes: int = 0
    py_sent: int = 0
    py_recv: int = 0
    py_rows: int = 0
    py_run_ms: int = 0


@dataclass
class JobInfo:
    job_id: int
    group: str | None
    span: str | None
    stages: list[int]


def _plan_nodes(info: dict):
    yield info
    for child in info.get("children", []):
        yield from _plan_nodes(child)


def _num(v: Any) -> int:
    try:
        return int(float(v))
    except (TypeError, ValueError):
        return 0


def parse_event_log(log_dir: str) -> tuple[list[JobInfo], dict[int, StageAgg]]:
    """Jobs (with their job group and span path) and per-stage task sums."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    with open(files[0]) as f:
        events = [json.loads(line) for line in f if line.strip()]
    # accumulator ids of the Arrow Python UDF nodes' row counters ("number
    # of output rows" is a name every operator shares)
    udf_row_ids: set[int] = set()
    for ev in events:
        info = ev.get("sparkPlanInfo")
        if not info:
            continue
        for node in _plan_nodes(info):
            if "EvalPython" in node.get("nodeName", ""):
                for m in node.get("metrics", []):
                    if m.get("name") == "number of output rows":
                        udf_row_ids.add(int(m["accumulatorId"]))
    jobs: list[JobInfo] = []
    stages: dict[int, StageAgg] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs.append(
                JobInfo(
                    ev["Job ID"],
                    props.get("spark.jobGroup.id"),
                    props.get(SPAN_PROP),
                    list(ev.get("Stage IDs", [])),
                )
            )
        elif kind == "SparkListenerTaskEnd":
            agg = stages.setdefault(ev["Stage ID"], StageAgg())
            agg.tasks += 1
            tm = ev.get("Task Metrics") or {}
            run_ms = _num(tm.get("Executor Run Time"))
            agg.run_ms += run_ms
            agg.shuffle_write_bytes += _num(
                (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written")
            )
            agg.output_bytes += _num((tm.get("Output Metrics") or {}).get("Bytes Written"))
            sent = 0
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                name = acc.get("Name")
                if name == "data sent to Python workers":
                    sent += _num(acc.get("Update"))
                elif name == "data returned from Python workers":
                    agg.py_recv += _num(acc.get("Update"))
                elif acc.get("ID") in udf_row_ids:
                    agg.py_rows += _num(acc.get("Update"))
            agg.py_sent += sent
            if sent:
                agg.py_run_ms += run_ms
    return jobs, stages


# ---------------------------------------------------------------------------
# per-layer metrics
# ---------------------------------------------------------------------------

def _self_time(spans: list[Span], of: list[Span]) -> float:
    """Summed duration of ``of`` minus the time their child spans cover."""
    ids = {id(s) for s in of}
    child = sum(s.dur for s in spans if s.parent is not None and id(s.parent) in ids)
    return sum(s.dur for s in of) - child


def _mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def layer_metrics(
    tracer: Tracer, jobs: list[JobInfo], stages: dict[int, StageAgg],
    window: tuple[float, float], winners: int,
) -> dict[str, float]:
    """Every per-layer metric of the traced phase (see design.json).

    Batch metrics cover the ``apply_batch`` calls that started inside the
    measured ``window``; the streaming runner's metrics cover its drains
    (the workload's untimed base load)."""
    spans = tracer.spans
    lo, hi = window
    batch_spans = [s for s in spans if s.name == "cdc.apply.apply_batch"]
    measured = [s for s in batch_spans if lo <= s.t0 <= hi]
    ids = {s.batch for s in measured}
    groups = {f"{BATCH_GROUP}{b}" for b in ids}
    nb = max(1, len(measured))
    in_batch = [s for s in spans if s.batch in ids]

    def named(name: str) -> list[Span]:
        return [s for s in in_batch if s.name == name]

    # Spark side: a stage belongs to the first job that lists it
    stage_job: dict[int, JobInfo] = {}
    for j in jobs:
        for st in j.stages:
            stage_job.setdefault(st, j)
    # job and task counts per batch leave out fold batches: a fold's jobs
    # are counted by the fold metrics, and the rest stay an exact count
    fold_groups = {f"{BATCH_GROUP}{s.batch}" for s in named("lake.merge.fold")}
    jobs_of: dict[str, int] = {g: 0 for g in groups - fold_groups}
    tasks_of: dict[str, int] = dict(jobs_of)
    for j in jobs:
        if j.group in jobs_of:
            jobs_of[j.group] += 1
    batch_stages = []
    for st, agg in stages.items():
        j = stage_job.get(st)
        if j is not None and j.group in groups:
            if j.group in tasks_of:
                tasks_of[j.group] += agg.tasks
            batch_stages.append((j.span or "", agg))
    udf_rows = sum(a.py_rows for _, a in batch_stages)

    runs = [s for s in spans if s.name == "streaming.runner.run_stream"]
    runner_applies = [a for a in batch_spans
                      if any(r.t0 <= a.t0 and a.t1 <= r.t1 for r in runs)]
    scans = [s for s in spans if s.name == "lake.table.plan_scan"]
    lookups = [s for s in spans if s.name == "lake.table.lookup"]
    sweeps = named("lake.stats.footer_sweep")
    maint = [s for s in spans if s.name == "lake.table.maintenance" and lo <= s.t0 <= hi]

    def files_opened(lk: Span) -> float:
        return sum(s.attrs.get("files", 0) for s in scans
                   if s.thread == lk.thread and lk.t0 <= s.t0 and s.t1 <= lk.t1)

    def per_batch(name: str) -> float:
        return sum(s.dur for s in named(name)) / nb

    m = {
        "spark.jobs_per_batch": statistics.median(jobs_of.values()) if jobs_of else 0,
        "spark.tasks_per_batch": statistics.median(tasks_of.values()) if tasks_of else 0,
        "cdc.apply.batches": len(measured),
        "cdc.apply.dead_letter_s": per_batch("cdc.apply.dead_letter"),
        "cdc.apply.manifest_s": per_batch("cdc.apply.manifest"),
        "cdc.apply.self_s": _self_time(spans, measured) / nb,
        "lake.table.snapshot_calls_per_batch": len(named("lake.table.snapshot")) / nb,
        "lake.table.snapshot_s": per_batch("lake.table.snapshot"),
        "lake.stats.footer_sweep_s": per_batch("lake.stats.footer_sweep"),
        "lake.stats.files_swept": sum(s.attrs.get("files", 0) for s in sweeps) / nb,
        "functions.text.udf_rows": udf_rows,
        "functions.text.udf_bytes_to_python": sum(a.py_sent for _, a in batch_stages),
        "functions.text.udf_bytes_from_python": sum(a.py_recv for _, a in batch_stages),
        "functions.text.udf_stage_task_s": sum(a.py_run_ms for _, a in batch_stages) / 1000.0,
        "functions.text.winner_share": winners / udf_rows if udf_rows else 0.0,
        "lake.table.commit_s": per_batch("lake.table.commit"),
        "lake.table.bytes_written": sum(
            a.output_bytes for p, a in batch_stages if "lake.table.commit" in p),
        "lake.table.files_written": sum(s.attrs.get("files", 0) for s in sweeps),
        "lake.table.maintenance_s": sum(s.dur for s in maint),
        "lake.merge.fold_s": sum(s.dur for s in named("lake.merge.fold")),
        "lake.merge.folds": len(named("lake.merge.fold")),
        "lake.merge.delta_merge_self_s":
            _self_time(spans, named("lake.merge.delta_merge")) / nb,
        "lake.merge.cow_merge_self_s":
            _self_time(spans, named("lake.merge.cow_merge")) / nb,
        "operators.dedup.shuffle_write_bytes": sum(
            a.shuffle_write_bytes for p, a in batch_stages if "lake.merge." in p),
        "lake.table.lookup_s": _mean([s.dur for s in lookups]),
        "lake.table.lookup_files_opened": _mean([files_opened(s) for s in lookups]),
        "lake.merge.read_current_s": _mean(
            [s.dur for s in spans if s.name == "lake.merge.read_current"]),
        "lake.changelog.read_changes_s": _mean(
            [s.dur for s in spans if s.name == "lake.changelog.read_changes"]),
        "streaming.runner.self_s": (
            sum(r.dur for r in runs) - sum(a.dur for a in runner_applies)
        ) / max(1, len(runner_applies)),
        "streaming.runner.batches": len(runner_applies),
        # the tracer's own enter/exit work inside the timed apply calls, as
        # a share of their time: what tracing takes off events_per_s
        "tracing_overhead_share": sum(s.cost for s in in_batch)
        / max(1e-9, sum(s.dur for s in measured)),
    }
    return {k: float(v) for k, v in m.items()}
