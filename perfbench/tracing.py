"""Traced run: spans around the public calls of each layer, Spark job
groups per pipeline stage, and per-stage counters folded from the status
store after the run.

Nothing here changes the program. :class:`Tracer.patched` swaps the module
attributes that ``plans.pipeline`` and ``plans.incremental`` call through
(``blocking.record_features``, ``scoring.score_pairs``, ...) and the
catalog's ``read_table`` / ``write_table`` for thin wrappers, and restores
them on exit. Each wrapper opens a span and tags the Spark jobs that follow
with the stage's job group. The operators are lazy, so the jobs that
compute a stage run after its operator call returns; the group stays set
until the next stage's operator is called, and in ``light=False`` every
stage ends with a count barrier, so every job falls inside one stage.

Counts the benchmark itself needs (hot keys and the accepted edges, which
the incremental plan does not report) run under a separate ``tracer``
group and their time is subtracted from the stage they interrupt.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field

STAGES = (
    "exact_groups",
    "features",
    "blocking_keys",
    "candidate_pairs",
    "pair_scores",
    "clusters",
)
CATALOG = "catalog"
TRACER = "tracer"

# operator functions both plans call through module attributes -> stage
OPERATORS = (
    ("blocking", "record_features", "features"),
    ("blocking", "blocking_keys", "blocking_keys"),
    ("blocking", "split_hot_keys", "blocking_keys"),
    ("blocking", "candidate_pairs", "candidate_pairs"),
    ("scoring", "score_pairs", "pair_scores"),
    ("clustering", "accepted_edges", "clusters"),
    ("clustering", "connected_components", "clusters"),
)

_N_ITER = re.compile(r"\b(\d+) AS n_iter#")


@dataclass
class Span:
    name: str
    kind: str  # "run" | "stage" | "call" | "catalog" | "tracer"
    start: float
    end: float | None = None
    parent: str | None = None
    span_id: str = field(default_factory=lambda: uuid.uuid4().hex[:12])

    @property
    def duration(self) -> float:
        return (self.end or time.monotonic()) - self.start


class Tracer:
    """Span recorder and job-group switcher for one traced resolution."""

    def __init__(self, spark, run_name: str, count_keys: bool = False):
        self.sc = spark.sparkContext
        self.run_id = uuid.uuid4().hex[:12]
        self.run_name = run_name
        self.spans: list[Span] = []
        self.root: Span | None = None
        self.stage_span: Span | None = None
        self.stage_name: str | None = None
        self.first_job_id = _max_job_id(self.sc)
        # figures the benchmark counts itself (tracer group)
        self.hot_keys: int | None = None
        self.cold_rows: int | None = None
        self.accepted_edges: int | None = None
        self.n_iter: int | None = None
        self.catalog_bytes = 0
        # the incremental plan reports no posting or hot-key counts
        self.count_keys = count_keys

    # ---- groups and spans --------------------------------------------------
    def group(self, name: str) -> str:
        return f"perfbench-{self.run_id}-{name}"

    def _set_group(self, name: str) -> None:
        self.sc.setJobGroup(self.group(name), f"perfbench {self.run_name} {name}")

    def _open(self, name: str, kind: str, parent: Span | None) -> Span:
        s = Span(name, kind, time.monotonic(), parent=parent.span_id if parent else None)
        self.spans.append(s)
        return s

    def start(self, first_stage: str) -> None:
        self.root = self._open(self.run_name, "run", None)
        self.enter_stage(first_stage)

    def enter_stage(self, stage: str) -> None:
        if stage == self.stage_name:
            return
        now = time.monotonic()
        if self.stage_span is not None:
            self.stage_span.end = now
        self.stage_name = stage
        self.stage_span = self._open(stage, "stage", self.root)
        self._set_group(stage)

    def finish(self) -> None:
        now = time.monotonic()
        for s in (self.stage_span, self.root):
            if s is not None and s.end is None:
                s.end = now
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    @contextmanager
    def side_span(self, name: str, kind: str, group: str):
        """A span whose jobs go to ``group``; the stage's group is restored
        afterwards."""
        s = self._open(name, kind, self.stage_span)
        self._set_group(group)
        try:
            yield s
        finally:
            s.end = time.monotonic()
            if self.stage_name is not None:
                self._set_group(self.stage_name)

    def tracer_count(self, name: str, df) -> int:
        with self.side_span(name, "tracer", TRACER):
            return df.count()

    # ---- wrappers --------------------------------------------------------------
    def _wrap_operator(self, fn, fn_name: str, stage: str):
        tracer = self

        def wrapper(*args, **kwargs):
            tracer.enter_stage(stage)
            span = tracer._open(fn_name, "call", tracer.stage_span)
            try:
                out = fn(*args, **kwargs)
            finally:
                span.end = time.monotonic()
            tracer._observe(fn_name, out)
            return out

        wrapper.__wrapped__ = fn
        return wrapper

    def _observe(self, fn_name: str, out) -> None:
        if fn_name == "split_hot_keys" and self.count_keys:
            cold, hot = out
            self.cold_rows = self.tracer_count("count_cold_keys", cold)
            self.hot_keys = self.tracer_count("count_hot_keys", hot)
        elif fn_name == "accepted_edges":
            self.accepted_edges = self.tracer_count("count_accepted_edges", out)
        elif fn_name == "connected_components":
            m = _N_ITER.search(out._jdf.queryExecution().analyzed().toString())
            if m:
                self.n_iter = max(self.n_iter or 0, int(m.group(1)))

    def _wrap_catalog(self, fn, fn_name: str):
        tracer = self

        def wrapper(cat, *args, **kwargs):
            root = getattr(cat, "root", None)  # parquet backend: the table directories
            before = _dir_bytes(root) if fn_name == "write_table" else 0
            with tracer.side_span(f"catalog.{fn_name}", "catalog", CATALOG):
                out = fn(cat, *args, **kwargs)
            if fn_name == "write_table":
                tracer.catalog_bytes += max(0, _dir_bytes(root) - before)
            return out

        wrapper.__wrapped__ = fn
        return wrapper

    @contextmanager
    def patched(self):
        """Install the wrappers for the duration of the block."""
        from sbb_ned_spark.operators import blocking, clustering, scoring
        from sbb_ned_spark.sources import catalog

        modules = {"blocking": blocking, "scoring": scoring, "clustering": clustering}
        saved: list[tuple[object, str, object]] = []
        try:
            for mod_name, fn_name, stage in OPERATORS:
                mod = modules[mod_name]
                fn = getattr(mod, fn_name)
                saved.append((mod, fn_name, fn))
                setattr(mod, fn_name, self._wrap_operator(fn, fn_name, stage))
            for cls in (catalog.ParquetCatalog, catalog.IcebergCatalog):
                for fn_name in ("read_table", "write_table"):
                    fn = cls.__dict__[fn_name]
                    saved.append((cls, fn_name, fn))
                    setattr(cls, fn_name, self._wrap_catalog(fn, fn_name))
            yield self
        finally:
            for owner, fn_name, fn in reversed(saved):
                setattr(owner, fn_name, fn)

    # ---- results ---------------------------------------------------------------
    def write_spans(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = self.root.start if self.root else 0.0
        with open(path, "w") as f:
            for s in self.spans:
                f.write(
                    json.dumps(
                        {
                            "run_id": self.run_id,
                            "span_id": s.span_id,
                            "parent": s.parent,
                            "name": s.name,
                            "kind": s.kind,
                            "start_s": round(s.start - t0, 6),
                            "end_s": round((s.end or s.start) - t0, 6),
                        }
                    )
                    + "\n"
                )

    def stage_walls(self) -> dict[str, float]:
        """Wall seconds per stage: the stage intervals minus the tracer's own
        counting spans inside them."""
        by_id = {s.span_id: s for s in self.spans}
        walls = {st: 0.0 for st in STAGES}
        for s in self.spans:
            if s.kind == "stage":
                walls[s.name] = walls.get(s.name, 0.0) + s.duration
            elif s.kind == "tracer" and s.parent in by_id:
                name = by_id[s.parent].name
                walls[name] = walls.get(name, 0.0) - s.duration
        return walls

    def catalog_seconds(self, fn_name: str) -> float:
        return sum(s.duration for s in self.spans if s.name == f"catalog.{fn_name}")

    def catalog_calls(self, fn_name: str) -> int:
        return sum(1 for s in self.spans if s.name == f"catalog.{fn_name}")


def _dir_bytes(root: str | None) -> int:
    if not root or not os.path.isdir(root):
        return 0
    total = 0
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, name))
            except OSError:  # a file removed mid-walk (swap of a staged table)
                pass
    return total


# ---- status-store folding ------------------------------------------------------


def _jvm_store(sc):
    jsc = sc._jsc.sc()
    # the status store is filled by an asynchronous listener: drain it first
    jsc.listenerBus().waitUntilEmpty()
    return jsc.statusStore()


def _max_job_id(sc) -> int:
    jobs = _jvm_store(sc).jobsList(None)
    return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)


@dataclass
class JobCounters:
    jobs: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    jvm_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


def fold_counters(tracer: Tracer) -> tuple[dict[str, JobCounters], JobCounters, int]:
    """Per-group counters for every job the traced run started, the run's
    totals, and the number of jobs that carry none of the run's groups.

    Groups come from ``statusTracker().getJobIdsForGroup``; each stage id is
    counted once, for the first job that lists it (a shuffle map stage that
    a later job reuses shows up there as skipped)."""
    sc = tracer.sc
    store = _jvm_store(sc)
    jobs = store.jobsList(None)
    run_jobs = sorted(
        jid
        for jid in (jobs.apply(i).jobId() for i in range(jobs.size()))
        if jid > tracer.first_job_id
    )
    st = sc.statusTracker()
    names = (*STAGES, CATALOG, TRACER)
    group_of: dict[int, str] = {}
    for name in names:
        for jid in st.getJobIdsForGroup(tracer.group(name)):
            group_of[int(jid)] = name
    per = {name: JobCounters() for name in names}
    total = JobCounters()
    seen: set[int] = set()
    for jid in run_jobs:
        info = st.getJobInfo(jid)
        name = group_of.get(jid)
        targets = [total] + ([per[name]] if name else [])
        for c in targets:
            c.jobs += 1
        for sid in sorted(info.stageIds) if info else ():
            if sid in seen:
                continue
            seen.add(sid)
            sd = store.lastStageAttempt(sid)
            for c in targets:
                c.tasks += sd.numCompleteTasks()
                c.executor_run_s += sd.executorRunTime() / 1e3
                c.jvm_cpu_s += sd.executorCpuTime() / 1e9
                c.gc_s += sd.jvmGcTime() / 1e3
                c.shuffle_read_bytes += sd.shuffleReadBytes()
                c.shuffle_write_bytes += sd.shuffleWriteBytes()
                c.spill_bytes += sd.diskBytesSpilled()
    unattributed = sum(1 for jid in run_jobs if jid not in group_of)
    return per, total, unattributed
