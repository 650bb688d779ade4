"""Parse one Spark event log (uncompressed JSON lines) into per-op
layer numbers.

Jobs are attributed to ops by the ``spark.jobGroup.id`` property the
benchmark sets around each call (``<workload>/p<pass>/<op>``); stages
and tasks follow their job. Job times in the log are wall-clock
milliseconds, the same clock as the benchmark's ``time.time()`` op
windows. The timed passes run one op at a time, so every job whose
interval overlaps an op's window should carry that op's tag:
:meth:`EventLog.op_stats` reports the jobs that do not, and the share of
the op's job time that falls outside its window.

SQL metric units are not assumed: each accumulator's ``metricType``
(``timing`` = ms, ``nsTiming`` = ns, ``size`` = bytes) comes from the
SQL plan events that declare it.
"""

from __future__ import annotations

import json
from collections import defaultdict

# SQL metrics of the Python runners (mapInPandas, applyInPandas, Arrow
# UDFs), per plan node per task. Spark's runner sets, from timestamps
# the worker reports: start = worker main() entry - runner start,
# initialize = UDF loaded - main() entry, run = worker done - runner
# start. A reused worker enters main() as soon as its previous task
# ends, so its start is negative (SQLMetric drops it and the task
# reports no start update) and its initialize includes the time it sat
# idle between tasks. Start + initialize is therefore only counted for
# (task, node) pairs that report a start update: a fresh worker.
PYTHON_ACCUMS = {
    "time to run Python workers": "python_run",
    "time to start Python workers": "python_start",
    "time to initialize Python workers": "python_init",
    "data sent to Python workers": "bytes_to_python",
    "data returned from Python workers": "bytes_from_python",
}
UNIT_SCALE = {"timing": 1e-3, "nsTiming": 1e-9, "size": 1.0, "sum": 1.0}
# clock slack for the comparisons: the log's job and task times are
# whole milliseconds
SLACK_S = 0.002


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


class EventLog:
    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        # accumulator id -> (plan node id, metric type)
        self.accums: dict[int, tuple[int, str]] = {}
        self.heap_peak = 0
        # per-task unit checks that failed (see _python)
        self.problems: list[str] = []
        self._nodes = 0
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))

    def _plan(self, node: dict) -> None:
        self._nodes += 1
        for m in node.get("metrics", []):
            self.accums[m["accumulatorId"]] = (self._nodes, m["metricType"])
        for child in node.get("children", []):
            self._plan(child)

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if "sparkPlanInfo" in e:  # SQL execution start / AQE plan update
            self._plan(e["sparkPlanInfo"])
        elif kind.endswith("SparkListenerSQLAdaptiveSQLMetricUpdates"):
            self._nodes += 1
            for m in e.get("sqlPlanMetrics", []):
                self.accums[m["accumulatorId"]] = (self._nodes,
                                                   m["metricType"])
        elif kind == "SparkListenerJobStart":
            jid = e["Job ID"]
            self.jobs[jid] = {
                "group": (e.get("Properties") or {}).get("spark.jobGroup.id"),
                "start": e["Submission Time"] / 1000.0, "end": None,
                "stages": list(e.get("Stage IDs", [])),
            }
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            self._task(e)
        elif kind in ("SparkListenerStageExecutorMetrics",
                      "SparkListenerExecutorMetricsUpdate"):
            metrics = [e.get("Executor Metrics") or {}]
            metrics += [u.get("Executor Metrics") or {}
                        for u in e.get("Executor Metrics Updated", [])]
            for m in metrics:
                self.heap_peak = max(self.heap_peak, m.get("JVMHeapMemory", 0))

    def _task(self, e: dict) -> None:
        st = self.stages.setdefault(e["Stage ID"], defaultdict(float))
        st["tasks"] += 1
        tm = e.get("Task Metrics") or {}
        st["run_s"] += tm.get("Executor Run Time", 0) / 1e3
        st["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        st["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
        st["spill_bytes"] += (tm.get("Memory Bytes Spilled", 0)
                              + tm.get("Disk Bytes Spilled", 0))
        sr = tm.get("Shuffle Read Metrics") or {}
        read = sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        st["shuffle_read_bytes"] += read
        st["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
        if read or sr.get("Local Blocks Fetched", 0) or sr.get(
                "Remote Blocks Fetched", 0):
            st["reduce_tasks"] += 1
        st["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}
                                      ).get("Shuffle Bytes Written", 0)
        if self._python(e, st, tm.get("Executor Run Time", 0) / 1e3):
            st["python_input_bytes"] += (tm.get("Input Metrics") or {}).get(
                "Bytes Read", 0)

    def _python(self, e: dict, st: dict, run_s: float) -> bool:
        """Adds the task's Python runner metrics to ``st``, each in its
        declared unit; returns whether the task ran a Python node."""
        nodes: dict[int, dict[str, float]] = defaultdict(dict)
        for acc in (e.get("Task Info") or {}).get("Accumulables", []):
            key = PYTHON_ACCUMS.get(acc.get("Name"))
            if key is None:
                continue
            node, mtype = self.accums.get(acc["ID"], (None, None))
            if mtype not in UNIT_SCALE:
                self.problems.append(
                    f"stage {e['Stage ID']}: no known unit for "
                    f"{acc['Name']!r} (accumulator {acc['ID']}, "
                    f"type {mtype})")
                continue
            nodes[node][key] = float(acc.get("Update") or 0) * UNIT_SCALE[
                mtype]
        where = f"stage {e['Stage ID']} task {e['Task Info']['Task ID']}"
        for m in nodes.values():
            st["bytes_to_python"] += m.get("bytes_to_python", 0)
            st["bytes_from_python"] += m.get("bytes_from_python", 0)
            run = m.get("python_run", 0.0)
            st["python_run_s"] += run
            if run > run_s + SLACK_S:
                self.problems.append(f"{where}: Python run time {run:.3f} s "
                                     f"> task run time {run_s:.3f} s")
            if "python_start" in m:
                boot = m["python_start"] + m.get("python_init", 0.0)
                st["python_boot_s"] += boot
                st["python_fresh_workers"] += 1
                if boot > run + SLACK_S:
                    self.problems.append(
                        f"{where}: Python start + initialize {boot:.3f} s "
                        f"> Python run time {run:.3f} s")
        return bool(nodes)

    def op_stats(self, group: str, window: tuple[float, float]) -> dict:
        """Layer numbers for the jobs tagged ``group``, and how they
        account for ``window``, the op's (start, end) wall time as the
        benchmark measured it:

        - ``driver_only_s``: window time when no job ran;
        - ``accounted_frac``: (job time + driver-only time) / wall time:
          above 1 by the op's job time outside its window, below 1 by
          the window time other jobs took;
        - ``outside_frac``: the share of the op's job time outside its
          window;
        - ``foreign_s``: window time covered by jobs without the op's
          tag (counted neither as job nor as driver-only time);
        - ``tagged_share``: the op's share of all job time in the
          window.

        Job ends and starts are whole milliseconds, so the window is
        widened by ``SLACK_S`` for the op's own jobs and narrowed by it
        for the others."""
        start, end = window
        lo, hi = start - SLACK_S, end + SLACK_S
        done = [j for j in self.jobs.values() if j["end"] is not None]
        jobs = [j for j in done if j["group"] == group]
        foreign = [(max(j["start"], start), min(j["end"], end)) for j in done
                   if j["group"] != group and j["end"] > start + SLACK_S
                   and j["start"] < end - SLACK_S]
        out: dict[str, float] = defaultdict(float)
        out["jobs"] = len(jobs)
        for j in jobs:
            for sid in j["stages"]:
                st = self.stages.get(sid)
                if st is None:  # skipped stage: its output was reused
                    continue
                out["stages"] += 1
                for k, v in st.items():
                    out[k] += v
        wall = end - start
        spans = [(j["start"], j["end"]) for j in jobs]
        inside = [(max(s, lo), min(e, hi)) for s, e in spans
                  if e > lo and s < hi]
        job_s, in_s = _union(spans), _union(inside)
        clipped = [(max(s, start), min(e, end)) for s, e in inside]
        own, every = _union(clipped), _union(clipped + foreign)
        out["wall_s"] = wall
        out["job_s"] = job_s
        out["driver_only_s"] = max(0.0, wall - _union(inside + foreign))
        out["outside_frac"] = (job_s - in_s) / job_s if job_s > 0 else 0.0
        out["accounted_frac"] = ((min(in_s, wall) + job_s - in_s
                                  + out["driver_only_s"]) / wall
                                 if wall > 0 else 1.0)
        out["foreign_s"] = every - own
        out["foreign_jobs"] = len(foreign)
        out["tagged_share"] = own / every if every > 0 else 1.0
        return dict(out)
