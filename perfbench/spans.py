"""Trace recorder: spans around calls into the program, with the Spark
counters of the jobs each span ran.

A span has a name, a layer, start and end (``time.perf_counter`` seconds),
a parent span id and a request id shared by every span of one operation.
Spans that run Spark work get their own job group (``setJobGroup``); when
the span closes the recorder waits for the listener bus to drain, takes the
group's jobs from the status tracker and sums the per-stage numbers from
the status store, leaving skipped stages out. It reads them at close
because the status store keeps only the newest jobs and stages. Spans are
held in memory and written out by ``dump`` when the run ends.

Only the traced run uses this module; timed runs never touch it, so the
difference between the two is the tracing overhead.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import time

#: Counters summed over the non-skipped stages of a span's jobs.
STAGE_FIELDS = {
    "tasks": "numCompleteTasks",
    "executor_run_ms": "executorRunTime",
    "executor_cpu_ns": "executorCpuTime",
    "gc_ms": "jvmGcTime",
    "input_bytes": "inputBytes",
    "input_records": "inputRecords",
    "output_bytes": "outputBytes",
    "output_records": "outputRecords",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "memory_spill_bytes": "memoryBytesSpilled",
    "disk_spill_bytes": "diskBytesSpilled",
}


def _empty_counters() -> dict:
    out = {"jobs": 0, "stages": 0, "output_job_s": 0.0}
    out.update((k, 0) for k in STAGE_FIELDS)
    return out


@contextlib.contextmanager
def count_py4j_calls():
    """Count Py4J method calls (driver-to-JVM round trips) in the block,
    the way the plan lints count them: patch ``JavaMember.__call__``."""
    import py4j.java_gateway as jg

    counter = {"n": 0}
    orig = jg.JavaMember.__call__

    def patched(self, *a, **kw):
        counter["n"] += 1
        return orig(self, *a, **kw)

    jg.JavaMember.__call__ = patched
    try:
        yield counter
    finally:
        jg.JavaMember.__call__ = orig


class SparkCounters:
    """Reads job and stage numbers of one job group from a live context."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()

    def set_group(self, group: str, description: str) -> None:
        self._sc.setJobGroup(group, description)

    def clear_group(self) -> None:
        self._sc._jsc.clearJobGroup()

    def read(self, groups: list[str]) -> dict:
        self._jsc.listenerBus().waitUntilEmpty()
        tracker = self._sc.statusTracker()
        store = self._jsc.statusStore()
        out = _empty_counters()
        seen_stages: set[int] = set()
        for group in groups:
            for job_id in sorted(tracker.getJobIdsForGroup(group)):
                info = tracker.getJobInfo(job_id)
                if info is None:
                    continue
                out["jobs"] += 1
                wrote = False
                for stage_id in info.stageIds:
                    if stage_id in seen_stages:
                        continue
                    seen_stages.add(stage_id)
                    attempts = store.stageData(stage_id, False, None, False, None)
                    for i in range(attempts.size()):
                        sd = attempts.apply(i)
                        if sd.status().toString() == "SKIPPED":
                            continue
                        out["stages"] += 1
                        for key, getter in STAGE_FIELDS.items():
                            out[key] += getattr(sd, getter)()
                        wrote = wrote or sd.outputRecords() > 0
                if wrote:
                    out["output_job_s"] += self._job_seconds(store, job_id)
        return out

    @staticmethod
    def _job_seconds(store, job_id: int) -> float:
        job = store.job(job_id)
        start, end = job.submissionTime(), job.completionTime()
        if start.isEmpty() or end.isEmpty():
            return 0.0
        return (end.get().getTime() - start.get().getTime()) / 1000.0


class Recorder:
    """In-memory span log for one traced run."""

    def __init__(self, counters: SparkCounters | None):
        self._counters = counters
        self._ids = itertools.count(1)
        self.spans: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str, request: str, parent: int | None = None,
             spark_group: bool = False):
        """Open a span; with ``spark_group`` its jobs run in a job group of
        their own and the span's ``counters`` are filled at close. The
        yielded dict takes ``extra_groups`` (job groups set by Spark itself,
        e.g. a streaming query's run id) and free-form ``attrs``."""
        sid = next(self._ids)
        rec = {
            "id": sid,
            "name": name,
            "layer": layer,
            "request": request,
            "parent": parent,
            "extra_groups": [],
            "attrs": {},
        }
        group = f"perfbench-{sid}"
        if spark_group:
            self._counters.set_group(group, f"{request}/{name}")
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            if spark_group:
                self._counters.clear_group()
                rec["counters"] = self._counters.read([group] + rec["extra_groups"])
            self.spans.append(rec)

    def self_seconds(self) -> dict[str, float]:
        """Per layer: span time minus the part its child spans cover."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cursor = 0.0, s["start"]
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cursor), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            own = (s["end"] - s["start"]) - covered
            out[s["layer"]] = out.get(s["layer"], 0.0) + own
        return out

    def dump(self, path: str, header: dict) -> None:
        with open(path, "w") as fh:
            json.dump({**header, "self_s": self.self_seconds(), "spans": self.spans}, fh)
