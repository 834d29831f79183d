"""Counters read from outside the program: Spark's status stores, the py4j
gateway and /proc.

Everything here reads state the JVM or the kernel already keeps; nothing
adds a Spark job. Both status stores work with ``spark.ui.enabled=false``:

- ``sc._jsc.sc().statusStore().stageList(...)`` (the 5-argument Spark 4.1
  signature) gives per-stage task counts, failed tasks, run and JVM CPU
  time, shuffle, spill and task-time quantiles;
- ``spark._jsparkSession.sharedState().statusStore()`` gives each SQL
  execution's ``planGraph`` and ``executionMetrics``.

Both are serialised to JSON in the JVM with Spark's own Jackson, so one read
is a few py4j calls rather than one per field.
"""

from __future__ import annotations

import json
import os
import re

MB = 1 << 20


class Py4jCounter:
    """Counts py4j round trips by wrapping the gateway client's
    ``send_command`` on this process's gateway object only."""

    def __init__(self, sc) -> None:
        self.calls = 0
        self.active = 0
        client = sc._gateway._gateway_client
        send = client.send_command

        def counted(*args, **kwargs):
            if self.active:
                self.calls += 1
            return send(*args, **kwargs)

        client.send_command = counted


class SparkReader:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(
            jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"
        ).__getattr__("MODULE$")
        self._mapper.registerModule(scala_module)
        self._quantiles = self.sc._gateway.new_array(jvm.double, 3)
        for i, q in enumerate((0.0, 0.5, 1.0)):
            self._quantiles[i] = q

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def jobs(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def stages(self, job_ids: list[int]) -> list[dict]:
        """Stage data (with task-time quantiles) for every stage the given
        jobs ran; skipped stages are left out."""
        tracker = self.sc.statusTracker()
        wanted: set[int] = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                wanted.update(info.stageIds)
        if not wanted:
            return []
        store = self.sc._jsc.sc().statusStore()
        rows = self._json(store.stageList(None, False, True, self._quantiles, None))
        return [
            s for s in rows
            if s["stageId"] in wanted and s["status"] in ("COMPLETE", "FAILED")
        ]

    def sql_nodes(self, job_ids: list[int]) -> list[dict]:
        """Plan-graph nodes with their metric values for every SQL execution
        that ran one of the given jobs."""
        store = self.spark._jsparkSession.sharedState().statusStore()
        jobs = set(job_ids)
        out = []
        for ex in self._json(store.executionsList()):
            if not jobs & {int(j) for j in ex.get("jobs", {})}:
                continue
            eid = ex["executionId"]
            values = self._json(store.executionMetrics(eid))
            for node in self._json(store.planGraph(eid).allNodes()):
                node["values"] = {
                    m["name"]: values.get(str(m["accumulatorId"]))
                    for m in node.get("metrics", [])
                }
                out.append(node)
        return out


def exec_counters(stages: list[dict], n_jobs: int) -> dict:
    """The ``exec.*`` / ``exchange.*`` per-layer set over one action.

    ``exec.jvm_cpu_s_sum`` is executor JVM thread CPU only: Python worker
    CPU (the enrich UDF) is not in it."""
    def total(key: str) -> float:
        return float(sum(s.get(key) or 0 for s in stages))

    skew = 1.0
    if stages:
        widest = max(stages, key=lambda s: (s["numTasks"], s["executorRunTime"]))
        dist = (widest.get("taskMetricsDistributions") or {}).get("executorRunTime")
        if dist:
            skew = dist[2] / max(dist[1], 1.0)
    return {
        "exec.jobs": n_jobs,
        "exec.stages": len(stages),
        "exec.tasks": int(total("numTasks")),
        "exec.tasks_failed": int(total("numFailedTasks")),
        "exec.task_s_sum": total("executorRunTime") / 1e3,
        "exec.jvm_cpu_s_sum": total("executorCpuTime") / 1e9,
        "exec.task_skew": skew,
        "exchange.shuffle_write_bytes": total("shuffleWriteBytes"),
        "exchange.shuffle_read_bytes": total("shuffleReadBytes"),
        "exchange.fetch_wait_s": total("shuffleFetchWaitTime") / 1e3,
        "exec.spill_bytes": total("memoryBytesSpilled") + total("diskBytesSpilled"),
    }


_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30}


def metric_value(node: dict, name: str) -> float:
    """A SQL metric's total as the SQL store shows it: counts are exact,
    sizes are rounded to 0.1 of their unit (the stage store leaves SQL
    accumulators out, so there is no raw value to read)."""
    shown = (node["values"].get(name) or "0").split("\n")[-1]
    m = re.match(r"([\d.]+) (B|KiB|MiB|GiB)", shown)
    if m:
        return float(m.group(1)) * _SIZE[m.group(2)]
    return float(shown.replace(",", "")) if re.fullmatch(r"[\d,]+", shown) else 0.0


# ---------------------------------------------------------------------------
# memory from /proc
# ---------------------------------------------------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024 / MB
    except OSError:
        pass
    return 0.0


def peak_rss(jvm_pid: int) -> dict:
    """Summed VmHWM of the driver Python, the JVM and every process below
    the JVM (the Python daemon and its workers)."""
    kids = _children()
    below, todo = [], list(kids.get(jvm_pid, []))
    while todo:
        pid = todo.pop()
        below.append(pid)
        todo.extend(kids.get(pid, []))
    out = {
        "driver.peak_rss_mb": _hwm_mb(os.getpid()),
        "jvm.peak_rss_mb": _hwm_mb(jvm_pid),
        "pyworker.peak_rss_mb": sum(_hwm_mb(p) for p in below),
    }
    out["peak_rss_mb"] = sum(out.values())
    return out
