"""Spans and Spark's own accounting, read from outside the engine.

Only the traced run (``--trace 1``) uses this module. Spans are kept in
memory and written out when the run ends; Spark's accounting is read from
its status store after each call, once the listener bus has drained.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict


class Tracer:
    """Spans with a name, start, end and parent; one trace per run."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def start(self, name: str, **attrs) -> int:
        sid = len(self.spans)
        self.spans.append({
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "attrs": attrs,
        })
        self._stack.append(sid)
        return sid

    def end(self, sid: int, **attrs) -> float:
        if not self._stack or self._stack[-1] != sid:
            raise RuntimeError(f"span {sid} closed out of order")
        self._stack.pop()
        span = self.spans[sid]
        span["end"] = time.perf_counter()
        span["attrs"].update(attrs)
        return span["end"] - span["start"]

    def record(self, name: str, start: float, end: float, **attrs) -> None:
        """A finished span under the currently open one."""
        self.spans.append({
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": start,
            "end": end,
            "attrs": attrs,
        })

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, each span's duration minus the part its
        child spans cover."""
        child: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["end"] is not None:
                out[s["name"]] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)

    def write(self, path: str, meta: dict) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        with open(path, "w") as f:
            json.dump({"meta": meta, "self_s": self.self_times()}, f)
            f.write("\n")
            for s in self.spans:
                rec = dict(s)
                rec["start"] = s["start"] - t0
                rec["end"] = None if s["end"] is None else s["end"] - t0
                f.write(json.dumps(rec) + "\n")


class SparkAccount:
    """Job, task, byte and planning counts for one statement's calls."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._gc_beans = list(
            spark._jvm.java.lang.management.ManagementFactory
            .getGarbageCollectorMXBeans()
        )
        self._seq = 0

    def group(self, label: str) -> str:
        self._seq += 1
        gid = f"perfbench-{self._seq}-{label}"
        self.sc.setJobGroup(gid, label, False)
        return gid

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def jobs(self, gid: str) -> dict[str, float]:
        """Totals over the jobs that ran under ``gid``."""
        self._jsc.listenerBus().waitUntilEmpty()
        out = dict(jobs=0, tasks=0, busy_s=0.0, input_bytes=0,
                   shuffle_bytes=0, spill_bytes=0)
        for jid in self.sc.statusTracker().getJobIdsForGroup(gid):
            jd = self._store.job(jid)
            out["jobs"] += 1
            out["tasks"] += jd.numCompletedTasks()
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                out["busy_s"] += (done.get().getTime() - sub.get().getTime()) / 1e3
            stages = jd.stageIds()
            for i in range(stages.length()):
                sd = self._store.lastStageAttempt(stages.apply(i))
                if sd.status().toString() == "SKIPPED":
                    continue
                out["input_bytes"] += sd.inputBytes()
                out["shuffle_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.diskBytesSpilled()
        return out

    @staticmethod
    def plan_phases(df) -> dict[str, float]:
        """Catalyst phase times of ``df``'s own query execution, planned
        here if the call had not planned it yet."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        out = {}
        for name in ("analysis", "optimization", "planning"):
            p = phases.get(name)
            out[name] = float(p.get().durationMs()) if p.isDefined() else 0.0
        return out

    def gc_s(self) -> float:
        return sum(b.getCollectionTime() for b in self._gc_beans) / 1e3
