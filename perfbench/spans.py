"""Spans and engine counters recorded by the benchmark around each call
into an engine layer.

A span is ``(trace_id, span_id, parent, name, start, end)``; spans are
kept in memory and written out once, when the run ends. Counters come
from two public Spark surfaces:

- ``statusTracker().getJobIdsForGroup(None)``: job ids, diffed around a
  call (streaming micro-batches run under their query's job group, so
  they are also counted from the REST job list, see ``Counters``);
- the monitoring REST API at ``sc.uiWebUrl`` (localhost only): per-stage
  input, shuffle, spill and executor CPU, and cached RDD bytes.
"""

from __future__ import annotations

import json
import time
import urllib.request
from contextlib import contextmanager
from urllib.parse import urlparse


class Tracer:
    """In-memory span recorder. ``enabled=False`` makes every method a
    no-op, so the untimed run pays nothing for it."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._trace = 0

    def new_trace(self) -> int:
        self._trace += 1
        return self._trace

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"trace": self._trace, "id": len(self.spans),
               "parent": self._stack[-1] if self._stack else None,
               "name": name, "start": time.perf_counter(), "end": None}
        rec.update(attrs)
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Self time per layer (first dotted segment of the span name):
        duration minus the part covered by child spans."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = (child.get(s["parent"], 0.0)
                                      + s["end"] - s["start"])
        out: dict[str, float] = {}
        for s in self.spans:
            layer = s["name"].split(".", 1)[0]
            own = s["end"] - s["start"] - child.get(s["id"], 0.0)
            out[layer] = out.get(layer, 0.0) + own
        return out

    def dump(self, path, meta: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"meta": meta, "spans": self.spans}, fh)


class Counters:
    """Job, stage and byte counts of one call, read at the call's
    boundaries from the status tracker and the REST API."""

    _STAGE_FIELDS = ("inputBytes", "shuffleReadBytes", "shuffleWriteBytes",
                     "memoryBytesSpilled", "diskBytesSpilled",
                     "executorCpuTime")

    def __init__(self, spark):
        self.sc = spark.sparkContext
        port = urlparse(self.sc.uiWebUrl).port
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/"
        self.base += self.sc.applicationId

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as resp:
            return json.load(resp)

    def none_group_jobs(self) -> set[int]:
        return set(self.sc.statusTracker().getJobIdsForGroup(None))

    def max_job_id(self) -> int:
        jobs = self._get("/jobs")
        return max((j["jobId"] for j in jobs), default=-1)

    def measure(self, none_before: set[int], max_before: int) -> dict:
        """Counts for the jobs started since ``none_before`` /
        ``max_before`` were taken. Waits until the REST store has seen
        every such job finish (the listener bus is asynchronous)."""
        none_jobs = self.none_group_jobs() - none_before
        deadline = time.monotonic() + 30
        while True:
            jobs = [j for j in self._get("/jobs") if j["jobId"] > max_before]
            ids = {j["jobId"] for j in jobs}
            done = all(j["status"] in ("SUCCEEDED", "FAILED") for j in jobs)
            if (done and none_jobs <= ids) or time.monotonic() > deadline:
                break
            time.sleep(0.02)
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        totals = dict.fromkeys(self._STAGE_FIELDS, 0)
        scans = 0
        for st in self._get("/stages"):
            if st["stageId"] not in stage_ids or st["status"] == "SKIPPED":
                continue
            scans += st.get("inputBytes", 0) > 0
            for f in self._STAGE_FIELDS:
                totals[f] += st.get(f, 0)
        return {"jobs": len(jobs), "none_group_jobs": len(none_jobs),
                # summed per job, as each job lists every stage it
                # depends on: the union of ids shrinks when a later job
                # reuses an earlier job's shuffle instead of recomputing
                # it, and that varied between passes
                "stages": sum(len(j["stageIds"]) for j in jobs),
                "input_scans": scans,
                "input_bytes": totals["inputBytes"],
                "shuffle_bytes": (totals["shuffleReadBytes"]
                                  + totals["shuffleWriteBytes"]),
                "spill_bytes": (totals["memoryBytesSpilled"]
                                + totals["diskBytesSpilled"]),
                "cpu_s": totals["executorCpuTime"] / 1e9}

    def gc_s(self) -> float:
        """Garbage-collection time of the driver JVM so far."""
        return sum(e.get("totalGCTime", 0)
                   for e in self._get("/executors")) / 1000

    def cached_bytes(self) -> int:
        return sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0)
                   for r in self._get("/storage/rdd"))
