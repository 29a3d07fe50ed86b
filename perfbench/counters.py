"""Machine-independent work counters from Spark's status store.

``StatusCounters.read(group)`` sums, over the jobs of one job group,
the counters that repeat exactly between runs of the same code on the
same inputs: jobs, stages that ran, tasks, input bytes, shuffle bytes
and spill. ``executor_run_s`` (task run time) and ``job_s`` (the union
of the jobs' walls) are times and do not repeat.

The status store is read through the JVM (``sc._jsc.sc().statusStore()``);
job and stage records are serialized to JSON there, one py4j call
each. It is populated with ``spark.ui.enabled=false`` too, and it is
fed asynchronously by the listener bus, so every read first waits for
the bus to drain.

A stage is counted once, by the first group that reads it after it
ran. A stage whose shuffle output was reused by a later job shows up
in that job's stage list again (as COMPLETE, from its earlier run, or
as SKIPPED); neither case is counted a second time.
"""

from __future__ import annotations

import json

COUNTER_KEYS = (
    "jobs",
    "stages",
    "tasks",
    "input_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


def empty() -> dict:
    out = {k: 0 for k in COUNTER_KEYS}
    out.update(executor_run_s=0.0, job_s=0.0)
    return out


def add(a: dict, b: dict) -> dict:
    return {k: a[k] + b[k] for k in a}


def union_length(intervals) -> float:
    """Total length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
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


class StatusCounters:
    """Reads per-job-group counters for one SparkContext."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        jvm = self._sc._jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala, "MODULE$"))
        self._no_tasks = jvm.java.util.ArrayList()
        self._no_quantiles = self._sc._gateway.new_array(jvm.double, 0)
        self._counted: set[int] = set()

    def drain(self) -> None:
        """Block until every posted listener event reached the store."""
        self._bus.waitUntilEmpty()

    def jobs(self, group: str) -> list[dict]:
        """The group's job records (``jobId``, ``description``, ``stageIds``,
        ``submissionTime``, ``completionTime``, ...), oldest first."""
        self.drain()
        ids = sorted(self._sc.statusTracker().getJobIdsForGroup(group))
        return [json.loads(self._mapper.writeValueAsString(self._store.job(i))) for i in ids]

    def _stage_attempts(self, stage_id: int) -> list[dict]:
        seq = self._store.stageData(stage_id, False, self._no_tasks, False, self._no_quantiles)
        return json.loads(self._mapper.writeValueAsString(seq))

    def totals(self, jobs: list[dict]) -> dict:
        """Counters summed over ``jobs`` (records from :meth:`jobs`)."""
        out = empty()
        out["jobs"] = len(jobs)
        out["job_s"] = union_length(
            [(j["submissionTime"], j["completionTime"]) for j in jobs
             if j.get("submissionTime") and j.get("completionTime")]
        ) / 1000.0  # epoch ms
        for sid in sorted({s for j in jobs for s in j["stageIds"]}):
            if sid in self._counted:
                continue
            ran = [a for a in self._stage_attempts(sid) if a["status"] in ("COMPLETE", "FAILED")]
            if not ran:
                continue  # SKIPPED: its shuffle output was reused
            self._counted.add(sid)
            for a in ran:
                out["stages"] += 1
                out["tasks"] += a["numCompleteTasks"]
                out["input_bytes"] += a["inputBytes"]
                out["shuffle_read_bytes"] += a["shuffleReadBytes"]
                out["shuffle_write_bytes"] += a["shuffleWriteBytes"]
                out["spill_bytes"] += a["memoryBytesSpilled"] + a["diskBytesSpilled"]
                out["executor_run_s"] += a["executorRunTime"] / 1000.0
        return out

    def read(self, group: str) -> dict:
        """Counters of every job run so far under ``group``."""
        return self.totals(self.jobs(group))
