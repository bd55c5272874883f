"""Per-layer tracing, measured from outside the engine.

Nothing here edits the package: the tracer wraps the public functions
of ``sources.tables`` and ``functions/*`` before the operator modules
import them, counts py4j round trips by wrapping the connection's
``send_command``, tags every Spark job with a per-call job group, and
reads stage metrics from Spark's status store (which works with the
UI disabled).

Spans (name, start, end, parent, call id) are kept in memory and
written out as JSON once, at the end of a run. Each call of a query
key gives one tree::

    call ─┬─ build ─┬─ sources.load   (one per table read)
          │         └─ functions      (outermost helper calls only)
          └─ exec                     (noop-sink materialisation)
"""

from __future__ import annotations

import functools
import inspect
import json
import sys
import time
from collections import Counter, defaultdict
from contextlib import contextmanager
from typing import Any

from py4j.protocol import MEMORY_COMMAND_NAME, Py4JJavaError


class Tracer:
    """Spans and counters of one benchmark process. Instrumentation is
    installed once (``install``) and records only while ``enabled``;
    ``call`` is the id of the query call being traced."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self.call: int | None = None
        self.py4j_calls = 0
        self._stack: list[int] = []
        self._building = False  # py4j round trips count only while building
        self._fn_depth = 0
        self._sc: Any = None
        self._group: str | None = None

    # -- spans ------------------------------------------------------------

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "call": self.call,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    # -- instrumentation --------------------------------------------------

    def install(self, spark, tables_module, function_modules, skip: set[int]) -> None:
        """Wrap ``tables.load`` (wherever it is bound), the public
        functions of ``function_modules`` (except the objects whose ids
        are in ``skip``, i.e. registered query functions) and py4j's
        ``send_command``."""
        self._sc = spark.sparkContext
        orig = tables_module.load
        wrapped = self._wrap_load(orig)
        # Modules imported so far (``functions/*``, ``sources``) bound the
        # original ``load`` by name; rebind them to the wrapped one.
        pkg = tables_module.__name__.split(".", 1)[0] + "."
        for name, mod in list(sys.modules.items()):
            if name.startswith(pkg) and getattr(mod, "load", None) is orig:
                mod.load = wrapped
        for mod in function_modules:
            short = mod.__name__.rsplit(".", 1)[-1]
            for name, fn in list(vars(mod).items()):
                if (
                    name.startswith("_")
                    or not inspect.isfunction(fn)
                    or fn.__module__ != mod.__name__
                    or id(fn) in skip
                    or hasattr(fn, "evalType")  # pandas UDF wrappers
                ):
                    continue
                setattr(mod, name, self._wrap_function(f"{short}.{name}", fn))
        from py4j import clientserver, java_gateway

        for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
            cls.send_command = self._wrap_send(cls.send_command)

    def _wrap_send(self, orig):
        tracer = self

        @functools.wraps(orig)
        def send_command(conn, command, *a, **kw):
            # Memory commands release JVM references when Python garbage
            # collects a proxy; they follow the collector's timing, not the
            # query, so they are left out of the count.
            if tracer._building and not command.startswith(MEMORY_COMMAND_NAME):
                tracer.py4j_calls += 1
            return orig(conn, command, *a, **kw)

        return send_command

    def _wrap_load(self, orig):
        @functools.wraps(orig)
        def load(*a, **kw):
            if not self.enabled:
                return orig(*a, **kw)
            table = a[2] if len(a) > 2 else kw.get("name")
            with self.span("sources.load", table=table):
                outer = self._group
                self.set_group(f"{self.call}:load")
                try:
                    return orig(*a, **kw)
                finally:
                    self.set_group(outer)

        return load

    def _wrap_function(self, label: str, fn):
        @functools.wraps(fn)
        def wrapper(*a, **kw):
            if not self.enabled or self._fn_depth or not self._building:
                return fn(*a, **kw)
            self._fn_depth += 1
            try:
                with self.span("functions", fn=label):
                    return fn(*a, **kw)
            finally:
                self._fn_depth -= 1

        return wrapper

    # -- Spark side -------------------------------------------------------

    def set_group(self, group: str | None) -> None:
        """Tag the following jobs; the tracer's own round trips are not
        counted as the engine's."""
        building, self._building = self._building, False
        try:
            if group is None:
                self._sc._jsc.clearJobGroup()
            else:
                self._sc.setJobGroup(group, group)
            self._group = group
        finally:
            self._building = building

    @contextmanager
    def building(self):
        self._building = True
        try:
            yield
        finally:
            self._building = False

    def jobs(self, group: str) -> list[int]:
        return list(self._sc.statusTracker().getJobIdsForGroup(group))

    def stage_stats(self, group: str) -> Counter:
        """Totals over the stages that ran tasks for ``group``'s jobs,
        plus the task skew (max / median task run time) of the slowest
        multi-task stage as ``skew`` and that stage's run time as
        ``skew_stage_ms``."""
        tracker = self._sc.statusTracker()
        store = self._sc._jsc.sc().statusStore()
        jobs = self.jobs(group)
        sids: set[int] = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                sids.update(info.stageIds)
        out: Counter = Counter(jobs=len(jobs))
        slowest = None
        for sid in sorted(sids):
            try:
                s = store.lastStageAttempt(sid)
            except Py4JJavaError:
                continue
            n = s.numCompleteTasks()
            if n == 0:  # skipped: its shuffle output was reused
                continue
            run_ms = s.executorRunTime()
            out["stages"] += 1
            out["tasks"] += n
            out["task_run_s"] += run_ms / 1e3
            out["task_cpu_s"] += s.executorCpuTime() / 1e9
            out["gc_s"] += s.jvmGcTime() / 1e3
            out["input_bytes"] += s.inputBytes()
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            if n > 1 and (slowest is None or run_ms > slowest[0]):
                slowest = (run_ms, sid, s.attemptId())
        out["skew"] = 1.0
        out["skew_stage_ms"] = 0
        if slowest is not None:
            out["skew"] = self._task_skew(store, slowest[1], slowest[2])
            out["skew_stage_ms"] = slowest[0]
        return out

    def _task_skew(self, store, sid: int, attempt: int) -> float:
        gw = self._sc._gateway
        qs = gw.new_array(gw.jvm.double, 2)
        qs[0], qs[1] = 0.5, 1.0
        opt = store.taskSummary(sid, attempt, qs)
        if not opt.isDefined():
            return 1.0
        rt = opt.get().executorRunTime()
        med, mx = rt.apply(0), rt.apply(1)
        return mx / med if med > 0 else 1.0

    def cache_stats(self) -> tuple[int, int]:
        """(RDDs with cached partitions, their memory + disk bytes)."""
        n = size = 0
        for info in self._sc._jsc.sc().getRDDStorageInfo():
            if info.numCachedPartitions() > 0:
                n += 1
                size += info.memSize() + info.diskSize()
        return n, size

    def totals(self, span0: int, py4j0: int) -> dict[str, float]:
        """Per-layer totals of the calls traced since span ``span0`` and
        py4j count ``py4j0``, named as the benchmark's per-layer metrics.
        ``cache.*`` sums what each call left persisted (the ``call``
        span's ``cached_rdds``/``cached_bytes``)."""
        m: Counter = Counter()
        calls: set[int] = set()
        for sp in self.spans[span0:]:
            d = sp["end"] - sp["start"]
            if sp["name"] == "sources.load":
                m["sources.load_calls"] += 1
                m["sources.load_s"] += d
            elif sp["name"] == "functions":
                m["functions.calls"] += 1
                m["functions.s"] += d
            elif sp["name"] == "build":
                m["operators.build_s"] += d
            elif sp["name"] == "exec":
                m["exec.s"] += d
            elif sp["name"] == "call":
                m["cache.rdds"] += sp.get("cached_rdds", 0)
                m["cache.bytes"] += sp.get("cached_bytes", 0)
            calls.add(sp["call"])
        m["operators.build_self_s"] = (
            m["operators.build_s"] - m["sources.load_s"] - m["functions.s"]
        )
        m["py4j.calls"] = self.py4j_calls - py4j0
        skew_ms = -1
        for cid in sorted(calls):
            st = self.stage_stats(f"{cid}:exec")
            call = self.spans[cid]  # a call's id is its call span's id
            call["load_jobs"] = len(self.jobs(f"{cid}:load"))
            call["build_jobs"] = len(self.jobs(f"{cid}:build"))
            call["exec_stats"] = dict(st)
            m["sources.load_jobs"] += call["load_jobs"]
            m["operators.build_jobs"] += call["build_jobs"]
            for k in ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
                      "input_bytes", "shuffle_write_bytes", "spill_bytes"):
                m[f"exec.{k}"] += st[k]
            if st["skew_stage_ms"] > skew_ms:
                skew_ms, m["exec.task_skew"] = st["skew_stage_ms"], st["skew"]
        return dict(m)

    # -- output -----------------------------------------------------------

    def self_times(self) -> dict[str, float]:
        """Per span name, the summed self time: duration minus the part
        covered by child spans."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)

    def write(self, path: str, **meta) -> None:
        with open(path, "w") as fh:
            json.dump({**meta, "self_s": self.self_times(), "spans": self.spans}, fh)
