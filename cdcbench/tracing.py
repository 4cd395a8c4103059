"""Outside-in layer trace of the engine, installed at runtime.

``Tracer.install`` wraps the public entry points of each engine layer
(no engine file is edited) so every call records a span: name, start,
end and parent. Each span runs under its own Spark job group, so after
the run the jobs a span started itself can be read back from Spark's
status store, with their stage metrics. Spans stay in memory until
``Tracer.write``.
"""

from __future__ import annotations

import functools
import inspect
import json
import os
import time
from dataclasses import asdict, dataclass, field

from pyspark import SparkContext

# (module path, attribute owner or None for the module, attribute, span name)
WRAPPED = [
    ("cdc_export_system_spark.session", None, "get_spark", "session.start"),
    ("cdc_export_system_spark.datagen", None, "generate_users", "datagen.users"),
    ("cdc_export_system_spark.io.txn_table", "LogTable", "create", "txn_table.create"),
    ("cdc_export_system_spark.io.txn_table", "LogTable", "merge", "txn_table.merge"),
    ("cdc_export_system_spark.io.txn_table", "LogTable", "read", "txn_table.read"),
    ("cdc_export_system_spark.cdc.jobs", None, "start_export_job", "jobs.start_export_job"),
    ("cdc_export_system_spark.cdc.exports", None, "run_full_export", "exports.run_full_export"),
    ("cdc_export_system_spark.cdc.exports", None, "run_incremental_export",
     "exports.run_incremental_export"),
    ("cdc_export_system_spark.cdc.exports", None, "run_delta_export", "exports.run_delta_export"),
    # the name cdc.exports imported, which is the one its exports call
    ("cdc_export_system_spark.cdc.exports", None, "write_users_csv", "csv_sink.write_users_csv"),
    ("cdc_export_system_spark.state.watermark", "WatermarkStore", "get", "watermark.get"),
    ("cdc_export_system_spark.state.watermark", "WatermarkStore", "upsert", "watermark.upsert"),
]


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0
    self_s: float = 0.0
    info: dict = field(default_factory=dict)
    jobs: int = 0
    stages: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def group(self) -> str:
        return f"cdcbench-span-{self.id}"


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._undo: list[tuple[object, str, object]] = []

    # -- wrapping ---------------------------------------------------------

    def install(self) -> None:
        import importlib

        for mod_path, owner, attr, name in WRAPPED:
            target = importlib.import_module(mod_path)
            if owner is not None:
                target = getattr(target, owner)
            raw = vars(target)[attr]  # a classmethod stays a classmethod here
            if isinstance(raw, classmethod):
                wrapped = classmethod(self._wrap(raw.__func__, name))
            else:
                wrapped = self._wrap(raw, name)
            self._undo.append((target, attr, raw))
            setattr(target, attr, wrapped)

    def uninstall(self) -> None:
        for target, attr, raw in reversed(self._undo):
            setattr(target, attr, raw)
        self._undo.clear()

    def _wrap(self, fn, name):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span = self._open(name)
            try:
                out = fn(*args, **kwargs)
            finally:
                self._close(span)
            if name == "txn_table.merge":
                span.info.update(out[1])
            elif name == "csv_sink.write_users_csv" and out:
                path = args[1] if len(args) > 1 else kwargs["filepath"]
                span.info.update(rows=out, bytes=os.path.getsize(path))
            return out

        return traced

    def _open(self, name: str) -> Span:
        parent = self._stack[-1] if self._stack else None
        span = Span(len(self.spans), parent.id if parent else None, name, time.monotonic())
        self.spans.append(span)
        self._stack.append(span)
        _set_group(span.group)
        return span

    def _close(self, span: Span) -> None:
        span.end = time.monotonic()
        self._stack.pop()
        _set_group(self._stack[-1].group if self._stack else None)

    # -- analysis ---------------------------------------------------------

    def compute_self_times(self) -> None:
        """A span's self time is its duration minus its children's; the
        caller is single-threaded, so children never overlap."""
        children: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                children[s.parent] = children.get(s.parent, 0.0) + s.duration
        for s in self.spans:
            s.self_s = s.duration - children.get(s.id, 0.0)

    def finish(self, spark) -> None:
        """Compute self times, then attach each span's own jobs and the
        metrics of the stages they ran, from the live context's status
        store (spans of an earlier, stopped context keep zero jobs)."""
        self.compute_self_times()
        by_group = {s.group: s for s in self.spans}
        store = spark.sparkContext._jsc.sc().statusStore()
        jobs = store.jobsList(None)
        seen_stages: set[int] = set()
        # oldest job first: a stage id that several jobs list ran in the
        # first of them, and is listed (skipped) by the later ones
        for i in reversed(range(jobs.length())):
            job = jobs.apply(i)
            group = job.jobGroup()
            span = by_group.get(group.get()) if group.isDefined() else None
            if span is None:
                continue
            span.jobs += 1
            ids = job.stageIds()
            for k in range(ids.length()):
                sid = ids.apply(k)
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                st = store.lastStageAttempt(sid)
                if st.status().toString() != "COMPLETE":
                    continue
                for key, val in (
                    ("executor_run_s", st.executorRunTime() / 1000.0),
                    ("gc_s", st.jvmGcTime() / 1000.0),
                    ("shuffle_write_bytes", st.shuffleWriteBytes()),
                    ("spill_bytes", st.memoryBytesSpilled() + st.diskBytesSpilled()),
                    ("tasks", st.numCompleteTasks()),
                ):
                    span.stages[key] = span.stages.get(key, 0) + val

    def root(self, span: Span) -> Span:
        while span.parent is not None:
            span = self.spans[span.parent]
        return span

    def subtree(self, span: Span) -> list[Span]:
        ids = {span.id}
        out = [span]
        for s in self.spans[span.id + 1:]:
            if s.parent in ids:
                ids.add(s.id)
                out.append(s)
        return out

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": [asdict(s) for s in self.spans], **extra}, f)


def _set_group(group: str | None) -> None:
    sc = SparkContext._active_spark_context
    if sc is None:
        return
    if group is None:
        sc._jsc.clearJobGroup()
    else:
        sc.setJobGroup(group, group)


def untraced(fn):
    """The engine function under any tracer wrapper, for the benchmark's
    own checks, which must not count as engine work."""
    return inspect.unwrap(fn)
