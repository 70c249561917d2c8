"""Spans around calls into the package, with Spark stage metrics per span.

Every span gets its own Spark job group. When the span ends, its stage
metrics are read from Spark's status store along
``statusTracker().getJobIdsForGroup`` -> ``getJobInfo(j).stageIds`` ->
``statusStore().lastStageAttempt(sid)``; this works with the UI off and needs
no listener jar. Stages that AQE or shuffle reuse skipped are counted as
skipped, not summed.

Spans are kept in memory and written out once, at the end of the run. A
disabled tracer records nothing and sets no job groups, so untraced runs pay
no tracing cost.
"""

from __future__ import annotations

import json
import time
import uuid
from contextlib import contextmanager

_STAGE_FIELDS = {
    "task_s": ("executorRunTime", 1e-3),
    "cpu_s": ("executorCpuTime", 1e-9),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spill_bytes": ("memoryBytesSpilled", 1),
    "disk_spill_bytes": ("diskBytesSpilled", 1),
    "gc_ms": ("jvmGcTime", 1),
    "peak_exec_mem_bytes": ("peakExecutionMemory", 1),
    "input_records": ("inputRecords", 1),
    "output_bytes": ("outputBytes", 1),
    "output_records": ("outputRecords", 1),
    "tasks": ("numTasks", 1),
}


def _ms(opt) -> float | None:
    """A Scala ``Option[java.util.Date]`` as epoch milliseconds."""
    return float(opt.get().getTime()) if opt.isDefined() else None


def stage_stats(sc, group: str, wait_s: float = 3.0) -> dict:
    """Stage metrics of every job that ran in ``group``."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    job_ids = list(tracker.getJobIdsForGroup(group))
    # the status store is fed by the asynchronous listener bus: wait
    # until it has seen every job of the group finish
    deadline = time.monotonic() + wait_s
    while time.monotonic() < deadline:
        infos = [tracker.getJobInfo(j) for j in job_ids]
        if all(i is not None and i.status in ("SUCCEEDED", "FAILED") for i in infos):
            break
        time.sleep(0.01)
    out = {k: 0 for k in _STAGE_FIELDS}
    out.update(jobs=len(job_ids), stages=0, skipped_stages=0, stage_list=[])
    for j in job_ids:
        info = tracker.getJobInfo(j)
        for sid in info.stageIds if info is not None else []:
            try:
                st = store.lastStageAttempt(int(sid))
            except Exception:  # never submitted: skipped before it ran
                out["skipped_stages"] += 1
                continue
            if st.status().toString() == "SKIPPED":
                out["skipped_stages"] += 1
                continue
            out["stages"] += 1
            rec = {"id": int(sid), "job": int(j), "name": st.name()}
            for key, (getter, scale) in _STAGE_FIELDS.items():
                rec[key] = getattr(st, getter)() * scale
                out[key] += rec[key]
            rec["submitted_ms"] = _ms(st.submissionTime())
            rec["completed_ms"] = _ms(st.completionTime())
            out["stage_list"].append(rec)
    return out


def busy_s(stages: list, start_ms: float, end_ms: float) -> float:
    """Length of the union of stage run intervals inside [start, end]:
    the stage critical path of a span whose stages may overlap."""
    iv = sorted(
        (max(s["submitted_ms"], start_ms), min(s["completed_ms"], end_ms))
        for s in stages
        if s["submitted_ms"] is not None and s["completed_ms"] is not None
    )
    total, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1000.0


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.self_s = 0.0  # time spent inside the tracer itself
        self.sc = None  # set once a session exists

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        """Time the enclosed block; when enabled, also record it as a span
        and attribute its Spark jobs to it."""
        rec = {"name": name, "layer": layer, **attrs}
        if not self.enabled:
            t0 = time.perf_counter()
            try:
                yield rec
            finally:
                rec["dur_s"] = time.perf_counter() - t0
            return
        o0 = time.perf_counter()
        sid = len(self.spans)
        rec.update(id=sid, parent=self._stack[-1] if self._stack else None, run_id=self.run_id)
        self.spans.append(rec)
        self._stack.append(sid)
        group = f"{self.run_id}-{sid}"
        sc = self.sc
        if sc is not None:
            sc.setJobGroup(group, name)
        self.self_s += time.perf_counter() - o0
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur_s"] = time.perf_counter() - t0
            rec["end"] = time.time()
            o0 = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                parent = rec["parent"]
                if parent is None:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                else:
                    sc.setJobGroup(f"{self.run_id}-{parent}", self.spans[parent]["name"])
                st = stage_stats(sc, group)
                st["driver_s"] = max(
                    0.0, rec["dur_s"] - busy_s(st["stage_list"], rec["start"] * 1000, rec["end"] * 1000)
                )
                rec["spark"] = st
            self.self_s += time.perf_counter() - o0

    def write(self, path: str, summary: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "summary": summary, "spans": self.spans}, fh, indent=1)
