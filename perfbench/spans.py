"""Spans around calls into the program's layers, from outside the program.

A span records name, layer, kind (``build``: the call that returns a
DataFrame; ``exec``: a parquet or noop write that runs it), start, end and
parent. Spans stay in memory until ``finish``. Each span runs under its own
Spark job group, so once the listener bus is drained the jobs, tasks,
shuffle and spill bytes of a span are read back from ``statusTracker`` and
the JVM status store. A span's *self* time is its duration minus that of its
child spans; per-layer numbers add up self times, so nothing is counted
twice.

With ``enabled=False`` every wrapper passes straight through: the untraced
run pays one Python attribute check per call.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager

LAYER_FIELDS = (
    "build_s", "exec_s", "jobs", "build_jobs", "tasks", "shuffle_mb", "spill_mb",
    "failed_tasks",
)


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patches: list[tuple[object, str, object]] = []

    # ---- spans
    @contextmanager
    def span(self, name: str, layer: str, kind: str, **attrs):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans), "name": name, "layer": layer, "kind": kind,
            "parent": parent["id"] if parent else None, **attrs,
        }
        self.spans.append(rec)
        rec["group"] = f"perfbench-{rec['id']}"
        sc.setJobGroup(rec["group"], name)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        except Exception as e:
            rec["error"] = type(e).__name__
            raise
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent:
                sc.setJobGroup(parent["group"], parent["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def current_layer(self) -> str | None:
        return self._stack[-1]["layer"] if self._stack else None

    def wrap(self, fn, layer: str, kind: str = "build", name: str | None = None):
        label = name or getattr(fn, "__qualname__", repr(fn))

        @functools.wraps(fn)
        def traced(*a, **k):
            if not self.enabled:
                return fn(*a, **k)
            with self.span(label, layer, kind):
                return fn(*a, **k)

        return traced

    def patch(self, owner, attr: str, layer: str, kind: str = "build") -> None:
        """Replace ``owner.attr`` with a traced wrapper until ``unpatch``."""
        orig = getattr(owner, attr)
        self._patches.append((owner, attr, owner.__dict__[attr]))
        wrapped = self.wrap(orig, layer, kind, name=f"{layer}.{attr}")
        if isinstance(owner, type) and isinstance(owner.__dict__[attr], classmethod):
            wrapped = staticmethod(wrapped)
        setattr(owner, attr, wrapped)

    def patch_with(self, owner, attr: str, replacement) -> None:
        self._patches.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, replacement)

    def unpatch(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # ---- counters
    def finish(self) -> None:
        """Drain the listener bus, then attach job/task/shuffle counts to
        every span."""
        if not self.enabled or not self.spans:
            return
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(60_000)
        tracker = sc.statusTracker()
        jvm = sc._jvm
        gw = sc._gateway
        stages: dict[int, list] = {}
        every_stage = jsc.statusStore().stageList(
            jvm.java.util.ArrayList(), False, False,
            gw.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
        )
        for sd in jvm.scala.jdk.javaapi.CollectionConverters.asJava(every_stage):
            stages.setdefault(sd.stageId(), []).append(sd)
        owner: dict[int, int] = {}  # stage id -> first job that ran it
        job_stages: dict[int, list[int]] = {}
        for rec in self.spans:
            for jid in tracker.getJobIdsForGroup(rec["group"]):
                info = tracker.getJobInfo(jid)
                job_stages[jid] = list(info.stageIds) if info else []
        for jid in sorted(job_stages):
            for sid in job_stages[jid]:
                owner.setdefault(sid, jid)
        for rec in self.spans:
            jobs = sorted(tracker.getJobIdsForGroup(rec["group"]))
            tasks = failed = 0
            shuffle = spill = 0
            for jid in jobs:
                for sid in job_stages.get(jid, []):
                    if owner.get(sid) != jid:
                        continue  # skipped here, counted in the job that ran it
                    for sd in stages.get(sid, []):
                        tasks += sd.numCompleteTasks() + sd.numFailedTasks() + sd.numKilledTasks()
                        failed += sd.numFailedTasks()
                        shuffle += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
                        spill += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            rec.update(
                jobs=len(jobs), tasks=tasks, failed_tasks=failed,
                shuffle_bytes=shuffle, spill_bytes=spill,
            )
            rec.pop("group", None)

    def self_seconds(self) -> dict[int, float]:
        out = {r["id"]: r["end"] - r["start"] for r in self.spans}
        for r in self.spans:
            if r["parent"] is not None:
                out[r["parent"]] -= r["end"] - r["start"]
        return out

    def layer_totals(self, layers, within: tuple[float, float] | None = None) -> dict[str, dict]:
        """Per-layer sums of span self time and counts; ``within`` limits
        them to spans that started inside a (start, end) window."""
        selfs = self.self_seconds()
        out = {layer: dict.fromkeys(LAYER_FIELDS, 0.0) for layer in layers}
        for r in self.spans:
            if within and not (within[0] <= r["start"] <= within[1]):
                continue
            # a boundary write counts for its stage's layer and, under
            # "also", for the persistence layer that wraps every boundary
            for layer in filter(None, (r["layer"], r.get("also"))):
                t = out.setdefault(layer, dict.fromkeys(LAYER_FIELDS, 0.0))
                t["build_s" if r["kind"] == "build" else "exec_s"] += selfs[r["id"]]
                t["jobs"] += r.get("jobs", 0)
                if r["kind"] == "build":
                    t["build_jobs"] += r.get("jobs", 0)
                t["tasks"] += r.get("tasks", 0)
                t["failed_tasks"] += r.get("failed_tasks", 0)
                t["shuffle_mb"] += r.get("shuffle_bytes", 0) / 1e6
                t["spill_mb"] += r.get("spill_bytes", 0) / 1e6
        return out

    def covered_seconds(self, start: float, end: float) -> float:
        """Time inside (start, end) covered by top-level spans."""
        return sum(
            min(r["end"], end) - max(r["start"], start)
            for r in self.spans
            if r["parent"] is None and r["end"] > start and r["start"] < end
        )
