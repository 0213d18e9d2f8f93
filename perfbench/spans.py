"""Tracing from outside the package: spans, wrappers and Spark's job
accounting.

- ``Tracer`` keeps spans in memory: name, start, end, the id of the
  span that caused it, and attributes.  Spans nest as workload → pass
  → query → phase (``construct`` or ``execute``) → Spark job; wrapper
  spans (scan, floor, materialize_once, sink) sit under the phase that
  called them.
- ``Tracer.install`` wraps public functions of the package in every
  loaded module that bound them, and ``uninstall`` restores them.
- ``read_jobs`` reads the jobs of one job group from Spark's status
  store as soon as the phase ends (the store keeps only the last 1000
  jobs and stages).
- ``stray_jobs`` names the jobs whose times the store did not record or
  that fall outside the phase that ran them.
- ``union_s`` and ``self_time`` are the interval arithmetic the
  per-layer metrics use.
"""

from __future__ import annotations

import glob
import importlib
import os
import sys
import time
from contextlib import contextmanager

#: ``(module, function, span name)`` of every wrapped public function
WRAPPED = (
    ("sources.scans", "scan", "scan"),
    ("sources.scans", "scan_text", "scan"),
    ("operators._parallel", "ensure_parallelism", "floor"),
    ("operators._materialize", "materialize_once", "materialize_once"),
    ("sources.sinks", "write_tokens", "sink"),
)

#: StageData accessors summed per phase (names as Spark's REST API)
STAGE_FIELDS = (
    "numTasks",
    "numFailedTasks",
    "executorRunTime",
    "executorCpuTime",
    "jvmGcTime",
    "inputBytes",
    "inputRecords",
    "outputBytes",
    "outputRecords",
    "shuffleReadBytes",
    "shuffleReadRecords",
    "shuffleWriteBytes",
    "shuffleWriteRecords",
    "shuffleFetchWaitTime",
    "memoryBytesSpilled",
    "diskBytesSpilled",
)


def union_s(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Length of the union of ``(start, end)`` intervals, clipped to
    ``[lo, hi]`` when given."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    total, end = 0.0, None
    for a, b in sorted(clipped):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


#: Spark records job times in whole milliseconds
JOB_TOLERANCE_S = 0.002


def stray_jobs(phase: dict, jobs: list[dict]) -> list[int]:
    """Ids of ``jobs`` with a missing time or an interval outside
    ``phase`` (beyond the store's millisecond rounding)."""
    return [j["job"] for j in jobs
            if j["start"] is None or j["end"] is None
            or j["start"] < phase["start"] - JOB_TOLERANCE_S
            or j["end"] > phase["end"] + JOB_TOLERANCE_S]


def self_time(span: dict, children: list[dict]) -> float:
    """A span's duration minus the part of it its children cover."""
    cover = union_s([(c["start"], c["end"]) for c in children], span["start"], span["end"])
    return span["end"] - span["start"] - cover


class Tracer:
    def __init__(self, package: str):
        self.package = package
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patched: list[tuple[object, str, object]] = []

    def open(self, name: str, **attrs) -> dict:
        span = {
            "id": len(self.spans),
            "parent": self._stack[-1]["id"] if self._stack else None,
            "name": name,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(span)
        self._stack.append(span)
        return span

    def close(self, span: dict) -> dict:
        span["end"] = time.time()
        assert self._stack.pop() is span, "spans must close in order"
        return span

    @contextmanager
    def span(self, name: str, **attrs):
        s = self.open(name, **attrs)
        try:
            yield s
        finally:
            self.close(s)

    def add(self, name: str, parent: dict, start: float, end: float, **attrs) -> dict:
        """Record a finished span (a Spark job) under ``parent``."""
        span = {"id": len(self.spans), "parent": parent["id"], "name": name,
                "start": start, "end": end, **attrs}
        self.spans.append(span)
        return span

    def children(self, span: dict, name: str | None = None) -> list[dict]:
        return [s for s in self.spans
                if s["parent"] == span["id"] and (name is None or s["name"] == name)]

    def descendants(self, span: dict, name: str) -> list[dict]:
        out, frontier = [], [span["id"]]
        while frontier:
            kids = [s for s in self.spans if s["parent"] in frontier]
            out += [s for s in kids if s["name"] == name]
            frontier = [s["id"] for s in kids]
        return out

    # -- wrappers on the package's public functions -------------------

    def _wrapper(self, fn, name: str):
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name, fn=fn.__name__) as s:
                out = fn(*args, **kwargs)
            if name == "floor":
                s["repartitioned"] = out is not args[0]
            elif name == "sink":
                s["files"] = len(glob.glob(os.path.join(args[1], "part-*")))
            return out

        traced.__wrapped__ = fn
        return traced

    def install(self) -> None:
        """Rebind each wrapped function in every loaded module that holds
        it (``from x import f`` copies the binding)."""
        for mod_name, fn_name, span_name in WRAPPED:
            owner = importlib.import_module(f"{self.package}.{mod_name}")
            fn = getattr(owner, fn_name)
            traced = self._wrapper(fn, span_name)
            for mod in list(sys.modules.values()):
                name = getattr(mod, "__name__", "") or ""
                if not (name.startswith(self.package) or name == "__spark_entry__"):
                    continue
                for attr, val in list(vars(mod).items()):
                    if val is fn:
                        setattr(mod, attr, traced)
                        self._patched.append((mod, attr, fn))

    def uninstall(self) -> None:
        for mod, attr, fn in reversed(self._patched):
            setattr(mod, attr, fn)
        self._patched.clear()


def _date_s(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def read_jobs(spark, group: str) -> list[dict]:
    """Jobs of ``group`` with their stages, from Spark's status store."""
    sc = spark.sparkContext
    # the store is filled by the listener bus, behind the scheduler: let it
    # catch up, so every finished job has its completion time
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    jobs = []
    for jid in sorted(sc.statusTracker().getJobIdsForGroup(group)):
        jd = store.job(jid)
        stages = []
        ids = jd.stageIds()
        for i in range(ids.size()):
            sid = ids.apply(i)
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — a stage that never ran
                continue
            status = str(sd.status())
            if status == "SKIPPED":
                continue
            st = {f: getattr(sd, f)() for f in STAGE_FIELDS}
            st.update(id=sid, status=status,
                      start=_date_s(sd.submissionTime()), end=_date_s(sd.completionTime()))
            stages.append(st)
        jobs.append(
            {
                "job": jid,
                "status": str(jd.status()),
                "start": _date_s(jd.submissionTime()),
                "end": _date_s(jd.completionTime()),
                "stages": stages,
            }
        )
    return jobs
