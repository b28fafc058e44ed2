"""Spans over public calls, each with its own Spark job group.

A span records a wall interval and the Spark jobs its own job group ran.
Job, stage, task, CPU, shuffle and spill numbers are read afterwards from
Spark's status tracker and status store, so tracing runs no extra
Spark job. With tracing off, ``span`` only sets the job group of the
outermost span (one per run), which is what the untraced ``cpu_s`` reads.
"""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager

#: Span ids are unique per process, so no two spans share a job group.
_IDS = itertools.count(1)

_STAGE_KEYS = (
    "stages", "tasks", "exec_run_s", "exec_cpu_s", "shuffle_write_mb",
    "spill_mb", "max_task_s", "task_skew",
)


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        if parent is not None and not self.enabled:
            yield parent
            return
        sid = next(_IDS)
        sp = {
            "id": sid,
            "parent": parent["id"] if parent else None,
            "name": name,
            "group": f"perfbench-{sid}",
            "start": time.perf_counter(),
        }
        self.spans.append(sp)
        self._stack.append(sp)
        sc.setJobGroup(sp["group"], name)
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(parent["group"], parent["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def finish(self) -> None:
        """Attach job and stage metrics to every span: its own jobs, then
        totals over its subtree, and self time (wall minus children)."""
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        children: dict[int, list[dict]] = {}
        for sp in self.spans:
            sp["s"] = sp["end"] - sp["start"]
            sp["own_jobs"] = sorted(tracker.getJobIdsForGroup(sp["group"]))
            children.setdefault(sp["parent"], []).append(sp)

        def subtree_jobs(sp) -> list[int]:
            out = list(sp["own_jobs"])
            for c in children.get(sp["id"], []):
                out += subtree_jobs(c)
            return out

        for sp in self.spans:
            sp["self_s"] = sp["s"] - sum(c["s"] for c in children.get(sp["id"], []))
            jobs = subtree_jobs(sp)
            sp["jobs"] = len(jobs)
            sp.update(stage_metrics(self.spark, store, jobs))
            # time spent outside executor CPU: Python workers, Arrow
            # transfer and I/O waits
            sp["offjvm_s"] = sp["exec_run_s"] - sp["exec_cpu_s"]

    def roots(self) -> list[dict]:
        return [sp for sp in self.spans if sp["parent"] is None]

    def find(self, name: str) -> list[dict]:
        return [sp for sp in self.spans if sp["name"] == name]


def stage_metrics(spark, store, job_ids) -> dict:
    """Sum stage metrics over the stages of ``job_ids`` (each stage once).

    ``max_task_s`` is the longest task; ``task_skew`` is, for the stage
    holding that task, its max task time over its median task time.
    """
    jvm = spark.sparkContext._jvm
    gw = spark.sparkContext._gateway
    q = gw.new_array(jvm.double, 2)
    q[0], q[1] = 0.5, 1.0
    out = dict.fromkeys(_STAGE_KEYS, 0.0)
    seen = set()
    worst = (0.0, 0.0)  # (max task ms, median task ms) of the worst stage
    for jid in job_ids:
        try:
            jd = store.job(int(jid))
        except Exception:
            continue
        it = jd.stageIds().iterator()
        while it.hasNext():
            sid = int(it.next())
            if sid in seen:
                continue
            seen.add(sid)
            try:
                sd = store.stageAttempt(sid, 0, False, None, False, None)._1()
            except Exception:
                continue  # skipped stage: never ran
            if str(sd.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks()
            out["exec_run_s"] += sd.executorRunTime() / 1e3
            out["exec_cpu_s"] += sd.executorCpuTime() / 1e9
            out["shuffle_write_mb"] += sd.shuffleWriteBytes() / 1e6
            out["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 1e6
            summ = store.taskSummary(sid, 0, q)
            if summ.isDefined():
                rt = summ.get().executorRunTime()
                med, mx = float(rt.apply(0)), float(rt.apply(1))
                if mx > worst[0]:
                    worst = (mx, med)
    out["max_task_s"] = worst[0] / 1e3
    out["task_skew"] = worst[0] / max(worst[1], 1.0) if worst[0] else 0.0
    return out
