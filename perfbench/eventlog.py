"""Stdlib reader for an uncompressed, non-rolling Spark event log.

The log is one JSON event per line. `read` streams it once and folds
every job, stage, task and SQL execution into the job group that was
active when the work started (`SparkContext.setJobGroup`), so the
benchmark can attribute engine work to the call that caused it without
any instrumentation inside the engine.

Per group it keeps counts (jobs, completed stages, tasks), job time as
the union of job intervals, task metrics (run time, CPU, GC, shuffle
bytes, spill, scan bytes), the Python-worker SQL metrics of
`mapInArrow`/`mapInPandas`/co-group nodes, the driver-side "number of
files read" of scans, and the physical plan text of each SQL execution.

Usage: python3 perfbench/eventlog.py <event-log-file>
"""

from __future__ import annotations

import json
import sys
from dataclasses import dataclass, field

# SQL accumulables the Python-worker nodes publish per task (Spark 4)
PY_METRICS = {
    "time to start Python workers": "py_boot_ms",
    "time to initialize Python workers": "py_init_ms",
    "time to run Python workers": "py_run_ms",
    "data sent to Python workers": "py_sent_bytes",
    "data returned from Python workers": "py_returned_bytes",
}
FILES_READ = "number of files read"

_WANTED = (
    "SparkListenerJobStart",
    "SparkListenerJobEnd",
    "SparkListenerStageCompleted",
    "SparkListenerTaskEnd",
    "SQLExecutionStart",
    "SQLAdaptiveExecutionUpdate",
    "SparkListenerDriverAccumUpdates",
)


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    in_jobs_ms: int = 0
    task_run_ms: int = 0
    task_cpu_ns: int = 0
    task_gc_ms: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_disk_bytes: int = 0
    scan_bytes: int = 0
    py_boot_ms: int = 0
    py_init_ms: int = 0
    py_run_ms: int = 0
    py_sent_bytes: int = 0
    py_returned_bytes: int = 0
    files_read: int = 0
    plans: list = field(default_factory=list)

    def add(self, other: "GroupStats") -> None:
        for k, v in vars(other).items():
            if k == "plans":
                self.plans.extend(v)
            else:
                setattr(self, k, getattr(self, k) + v)


def _union_ms(intervals: list[tuple[int, int]]) -> int:
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


def _plan_metric_ids(info: dict, names: dict[int, str]) -> None:
    stack = [info]
    while stack:
        node = stack.pop()
        for m in node.get("metrics", ()):
            names[m["accumulatorId"]] = m["name"]
        stack.extend(node.get("children", ()))


def read(path: str) -> dict[str, GroupStats]:
    """Fold the event log at `path` into per-job-group statistics.
    Work started outside any job group lands under the key ``""``."""
    groups: dict[str, GroupStats] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, int] = {}
    stage_group: dict[int, str] = {}
    intervals: dict[str, list] = {}
    exec_group: dict[int, str] = {}
    accum_names: dict[int, str] = {}

    def g(name: str) -> GroupStats:
        st = groups.get(name)
        if st is None:
            st = groups[name] = GroupStats()
        return st

    with open(path, encoding="utf-8") as f:
        for line in f:
            head = line[:120]
            if not any(w in head for w in _WANTED):
                continue
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                grp = props.get("spark.jobGroup.id") or ""
                jid = ev["Job ID"]
                job_group[jid] = grp
                job_start[jid] = ev["Submission Time"]
                for sid in ev.get("Stage IDs", ()):
                    stage_group.setdefault(sid, grp)
                g(grp).jobs += 1
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in job_start:
                    grp = job_group[jid]
                    intervals.setdefault(grp, []).append(
                        (job_start[jid], ev["Completion Time"])
                    )
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                g(stage_group.get(sid, "")).stages += 1
            elif kind == "SparkListenerTaskEnd":
                st = g(stage_group.get(ev["Stage ID"], ""))
                st.tasks += 1
                tm = ev.get("Task Metrics") or {}
                st.task_run_ms += tm.get("Executor Run Time", 0)
                st.task_cpu_ns += tm.get("Executor CPU Time", 0)
                st.task_gc_ms += tm.get("JVM GC Time", 0)
                st.spill_disk_bytes += tm.get("Disk Bytes Spilled", 0)
                rd = tm.get("Shuffle Read Metrics") or {}
                st.shuffle_read_bytes += rd.get("Remote Bytes Read", 0) + rd.get(
                    "Local Bytes Read", 0
                )
                wr = tm.get("Shuffle Write Metrics") or {}
                st.shuffle_write_bytes += wr.get("Shuffle Bytes Written", 0)
                st.scan_bytes += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
                for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
                    attr = PY_METRICS.get(acc.get("Name"))
                    if attr is not None and acc.get("Update") is not None:
                        setattr(st, attr, getattr(st, attr) + int(acc["Update"]))
            elif kind.endswith("SQLExecutionStart"):
                grp = ev.get("jobGroupId") or ""
                exec_group[ev["executionId"]] = grp
                _plan_metric_ids(ev.get("sparkPlanInfo") or {}, accum_names)
                g(grp).plans.append(ev.get("physicalPlanDescription") or "")
            elif kind.endswith("SQLAdaptiveExecutionUpdate"):
                _plan_metric_ids(ev.get("sparkPlanInfo") or {}, accum_names)
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                grp = exec_group.get(ev.get("executionId"), "")
                for acc_id, value in ev.get("accumUpdates", ()):
                    if accum_names.get(acc_id) == FILES_READ:
                        g(grp).files_read += int(value)
    for grp, ivs in intervals.items():
        g(grp).in_jobs_ms += _union_ms(ivs)
    return groups


def plan_operators(plan_text: str) -> set[str]:
    """Operator names of the first tree in a physical plan description
    (`== Physical Plan ==` section of an explain string, or a bare
    `SparkPlan.toString`)."""
    lines = plan_text.splitlines()
    if "== Physical Plan ==" in lines:
        lines = lines[lines.index("== Physical Plan ==") + 1 :]
    ops = set()
    for line in lines:
        if not line.strip():
            break
        body = line.lstrip(" :+-|")
        if body.startswith("*("):  # codegen stage id, SparkPlan.toString
            body = body[body.find(")") + 1 :]
        body = body.lstrip("* ")  # codegen marker, formatted explain
        name = ""
        for ch in body:
            if not (ch.isalnum() or ch == "_"):
                break
            name += ch
        if name and name[0].isalpha():
            # the same scan node prints as "FileScan parquet" in a plan's
            # tree string and as "Scan parquet" in a formatted explain
            ops.add("Scan" if name == "FileScan" else name)
    return ops


if __name__ == "__main__":
    for grp, st in sorted(read(sys.argv[1]).items()):
        row = {k: v for k, v in vars(st).items() if k != "plans"}
        print(json.dumps({"group": grp, **row}))
