"""Spans and Spark status-store reads for the traced run.

Nothing in the engine is changed. The tracer replaces public functions of
the engine's layers with timing wrappers, at every module that binds them
(plan modules import ``load_table`` and ``memoized_relation`` by name, so
patching the defining module alone would miss their calls). Each wrapper
records a span: name, start, end, parent and op id. A span's self time is
its duration minus the time its child spans cover.

Spark work is attributed through ``setJobGroup(op, phase)``: a span
snapshots the job ids of the op's group when it opens and closes, and the
difference minus its children's jobs are its own. Stage metrics (tasks,
executor run and CPU time, shuffle, spill) come from the status store,
which Spark keeps with the UI disabled.
"""

from __future__ import annotations

import functools
import inspect
import json
import os
import sys
import time
from collections import Counter
from contextlib import contextmanager

MB = 1 << 20


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._tracker = self.sc.statusTracker()
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._no_quantiles = self.sc._gateway.new_array(self.sc._gateway.jvm.double, 0)
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: str | None = None
        self.counts: Counter = Counter()
        self._stage_seen: set[int] = set()

    def count(self, key: str, n: float = 1) -> None:
        """Add to a per-run counter; calls outside an op are not counted."""
        if self.op is not None:
            self.counts[key] += n

    # ------------------------------------------------------------ spans
    def _group_jobs(self) -> set[int]:
        if self.op is None:
            return set()
        self._jsc.listenerBus().waitUntilEmpty()
        return set(self._tracker.getJobIdsForGroup(self.op))

    @contextmanager
    def span(self, name: str, phase: str | None = None):
        """Time one call into a layer. ``phase`` relabels the Spark job
        group's description (build or sink) for the span's duration."""
        if self.op is None:  # outside an op (set-up, checks): not traced
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "op": self.op, "parent": parent, "children": []}
        if phase is not None:
            rec["phase"] = phase
            self.sc.setJobGroup(self.op, phase)
        idx = len(self.spans)
        self.spans.append(rec)
        if parent is not None:
            self.spans[parent]["children"].append(idx)
        self._stack.append(idx)
        before = self._group_jobs()
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["jobs"] = sorted(self._group_jobs() - before)
            self._stack.pop()
            if phase is not None:
                self.sc.setJobGroup(self.op, self.phase_of(parent) or "op")

    def phase_of(self, idx: int | None) -> str | None:
        while idx is not None:
            if "phase" in self.spans[idx]:
                return self.spans[idx]["phase"]
            idx = self.spans[idx]["parent"]
        return None

    @contextmanager
    def op_span(self, op_id: str, name: str, phase: str | None = None):
        self.op = op_id
        self.sc.setJobGroup(op_id, phase or "op")
        try:
            with self.span(name, phase) as rec:
                yield rec
        finally:
            self.op = None
            self.sc.setJobGroup("untraced", "untraced")

    # ------------------------------------------------------ attribution
    def self_time(self, idx: int) -> float:
        rec = self.spans[idx]
        covered = _union_length(
            [(self.spans[c]["start"], self.spans[c]["end"]) for c in rec["children"]]
        )
        return rec["end"] - rec["start"] - covered

    def self_jobs(self, idx: int) -> list[int]:
        rec = self.spans[idx]
        child = set()
        for c in rec["children"]:
            child.update(self.spans[c]["jobs"])
        return [j for j in rec["jobs"] if j not in child]

    def job_work(self, job_ids) -> Counter:
        """Jobs, non-skipped stages, tasks, executor time, shuffle and
        spill of the given jobs. A stage shared by two jobs counts once
        over the whole run."""
        out = Counter(jobs=len(job_ids))
        for jid in job_ids:
            info = self._tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                if sid in self._stage_seen:
                    continue
                attempts = self._store.stageData(sid, False, None, False, self._no_quantiles)
                it = attempts.iterator()
                ran = False
                while it.hasNext():
                    d = it.next()
                    if d.status().toString() == "SKIPPED":
                        continue
                    ran = True
                    out["tasks"] += d.numCompleteTasks() + d.numFailedTasks()
                    out["executor_run_s"] += d.executorRunTime() / 1e3
                    out["executor_cpu_s"] += d.executorCpuTime() / 1e9
                    out["shuffle_read_mb"] += d.shuffleReadBytes() / MB
                    out["shuffle_write_mb"] += d.shuffleWriteBytes() / MB
                    out["spill_mb"] += (d.memoryBytesSpilled() + d.diskBytesSpilled()) / MB
                if ran:
                    self._stage_seen.add(sid)
                    out["stages"] += 1
        return out

    def storage_mb(self) -> float:
        """Block-manager storage in use (memory plus disk) by cached RDDs."""
        return sum(i.memSize() + i.diskSize() for i in self._jsc.getRDDStorageInfo()) / MB

    def dump(self, path: str) -> None:
        base = self.spans[0]["start"] if self.spans else 0.0
        rows = [
            {
                "id": i,
                "name": s["name"],
                "op": s["op"],
                "parent": s["parent"],
                "start": round(s["start"] - base, 6),
                "end": round(s["end"] - base, 6),
                "jobs": s["jobs"],
            }
            for i, s in enumerate(self.spans)
        ]
        with open(path, "w") as f:
            json.dump(rows, f)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ------------------------------------------------------------ wrapping
def _rebind(orig, wrapper) -> int:
    """Point every engine module attribute bound to ``orig`` at ``wrapper``."""
    n = 0
    for mod in list(sys.modules.values()):
        if mod is None or not getattr(mod, "__name__", "").startswith("etl_pipeline_spark"):
            continue
        for attr, val in list(vars(mod).items()):
            if val is orig:
                setattr(mod, attr, wrapper)
                n += 1
    return n


def wrap_function(tracer: Tracer, orig, span_name: str, on_call=None, on_return=None):
    @functools.wraps(orig)
    def wrapper(*args, **kwargs):
        if on_call is not None:
            on_call(*args, **kwargs)
        with tracer.span(span_name):
            out = orig(*args, **kwargs)
        if on_return is not None:
            on_return(out, *args, **kwargs)
        return out

    _rebind(orig, wrapper)
    return wrapper


def _driver_side(fn) -> bool:
    """Public functions that take or return a DataFrame run on the driver;
    helpers without one may be captured by UDFs and shipped to workers,
    so they are left alone."""
    try:
        sig = inspect.signature(fn)
    except (TypeError, ValueError):
        return False
    notes = [p.annotation for p in sig.parameters.values()] + [sig.return_annotation]
    return any("DataFrame" in str(a) for a in notes)


def install(tracer: Tracer, warehouse: str) -> None:
    """Wrap every traced layer. Besides spans, the wrappers count
    ``load_table`` calls, memo hits and builds, graph operator calls, and
    the rows and bytes each sink wrote, in ``tracer.counts``."""
    from etl_pipeline_spark import pipeline as pipeline_mod
    from etl_pipeline_spark.operators import dedup, graph, similarity
    from etl_pipeline_spark.sinks import writers
    from etl_pipeline_spark.sources import staging, star
    from etl_pipeline_spark.utils import session_cache

    wrap_function(
        tracer, star.load_table, "sources.load_table",
        on_call=lambda *a, **k: tracer.count("sources.load_table.calls"),
    )

    orig_memo = session_cache.memoized_relation

    @functools.wraps(orig_memo)
    def memo(cache, spark, extra_key, build):
        hit = (session_cache.session_key(spark), *extra_key) in cache
        tracer.count("session_cache.hits" if hit else "session_cache.builds")

        def traced_build():
            with tracer.span("session_cache.build"):
                return build()

        with tracer.span("session_cache"):
            return orig_memo(cache, spark, extra_key, traced_build)

    _rebind(orig_memo, memo)

    for mod, layer in ((graph, "operators.graph"), (dedup, "operators.dedup"),
                       (similarity, "operators.similarity")):
        for attr, fn in list(vars(mod).items()):
            if (attr.startswith("_") or not inspect.isfunction(fn)
                    or fn.__module__ != mod.__name__ or not _driver_side(fn)):
                continue
            on_call = None
            if layer == "operators.graph":
                on_call = lambda *a, **k: tracer.count("operators.graph.calls")  # noqa: E731
            wrap_function(tracer, fn, layer, on_call=on_call)

    for phase_name, phase in (("fetch", "build"), ("stage", "build"),
                              ("transform", "build"), ("load", "sink")):
        orig = getattr(pipeline_mod.Pipeline, phase_name)

        def make(orig=orig, span_name=f"pipeline.{phase_name}", phase=phase):
            @functools.wraps(orig)
            def method(self, *args, **kwargs):
                with tracer.span(span_name, phase):
                    return orig(self, *args, **kwargs)
            return method

        setattr(pipeline_mod.Pipeline, phase_name, make())

    wrap_function(tracer, staging.stage_path, "staging")

    def written(report, df, table, *a, **k):
        tracer.count("sinks.rows_written", report.rows)
        tracer.count("sinks.bytes_written", table_bytes(warehouse, table))

    for fn in (writers.truncate_and_load, writers.replace, writers.append):
        wrap_function(tracer, fn, "sinks", on_return=written)


def table_bytes(warehouse: str, table: str) -> int:
    """Size of a managed table's data files under the warehouse directory."""
    db, _, name = table.rpartition(".")
    root = os.path.join(warehouse, f"{db}.db" if db else "", name)
    total = 0
    for dirpath, _dirs, files in os.walk(root):
        total += sum(
            os.path.getsize(os.path.join(dirpath, f))
            for f in files
            if not f.startswith((".", "_"))
        )
    return total


# ----------------------------------------------------------- reduction
def reduce_op(tracer: Tracer, first: int) -> Counter:
    """Per-span-name totals for the spans of one op (``spans[first:]``):
    ``<name>.self_s``, ``<name>.jobs``, ``.stages`` and ``.tasks`` for the
    span's own jobs, and ``spark.<phase>.<work>`` for every job, where the
    phase is that of the innermost enclosing build or sink span."""
    out: Counter = Counter()
    for idx in range(first, len(tracer.spans)):
        name = tracer.spans[idx]["name"]
        out[f"{name}.self_s"] += tracer.self_time(idx)
        work = tracer.job_work(tracer.self_jobs(idx))
        for key in ("jobs", "stages", "tasks"):
            out[f"{name}.{key}"] += work[key]
        phase = tracer.phase_of(idx) or "build"
        for key, val in work.items():
            out[f"spark.{phase}.{key}"] += val
    return out
