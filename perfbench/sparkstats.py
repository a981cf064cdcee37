"""Readings from /proc and from a local Spark event log.

``psutil`` is not available, so the process tree, its CPU time and its
peak resident memory are read from /proc directly.
"""

from __future__ import annotations

import json
import os
import re

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            # fields after the parenthesised command name, which may hold spaces
            return fh.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            f = _stat_fields(int(entry))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int) -> float:
    """User+system CPU seconds of the tree, reaped children included."""
    ticks = 0
    for pid in process_tree(root):
        f = _stat_fields(pid)
        if f is not None:
            # utime, stime, cutime, cstime
            ticks += sum(int(x) for x in f[11:15])
    return ticks / _TICK


def vm_hwm_bytes(pid: int) -> int:
    """Peak resident set of one process (VmHWM)."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def cpu_pressure() -> dict[str, float]:
    """/proc/pressure/cpu "some" line: avg10/avg60/avg300 and total (us)."""
    try:
        with open("/proc/pressure/cpu") as fh:
            for line in fh:
                if line.startswith("some"):
                    return {k: float(v) for k, v in
                            (kv.split("=") for kv in line.split()[1:])}
    except OSError:
        pass
    return {}


_ERROR_LINE = re.compile(r"^\d\d/\d\d/\d\d \d\d:\d\d:\d\d ERROR ", re.M)


def count_error_lines(path: str, start: int, end: int) -> int:
    """Spark/log4j ERROR lines written to ``path`` between two offsets."""
    with open(path, "rb") as fh:
        fh.seek(start)
        text = fh.read(max(0, end - start)).decode("utf-8", "replace")
    return len(_ERROR_LINE.findall(text))


_NS = 1e-9
_MS = 1e-3

_TASK_KEYS = (
    "tasks", "failed_tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "spill_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
    "output_bytes", "python_eval_s",
)


def read_event_log(path: str) -> tuple[dict[int, int], dict[int, dict[str, float]]]:
    """Parse an uncompressed event log.

    Returns ``(job_of_stage, stage_totals)``: the job that first
    submitted each stage, and per stage the summed task metrics."""
    job_of_stage: dict[int, int] = {}
    stages: dict[int, dict[str, float]] = {}
    with open(path) as fh:
        for line in fh:
            if '"SparkListenerJobStart"' in line:
                ev = json.loads(line)
                for sid in ev.get("Stage IDs", []):
                    job_of_stage.setdefault(sid, ev["Job ID"])
            elif '"SparkListenerTaskEnd"' in line:
                ev = json.loads(line)
                tm = ev.get("Task Metrics") or {}
                row = stages.setdefault(ev["Stage ID"], dict.fromkeys(_TASK_KEYS, 0.0))
                row["tasks"] += 1
                if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                    row["failed_tasks"] += 1
                row["executor_run_s"] += tm.get("Executor Run Time", 0) * _MS
                row["executor_cpu_s"] += tm.get("Executor CPU Time", 0) * _NS
                row["gc_s"] += tm.get("JVM GC Time", 0) * _MS
                row["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
                sr = tm.get("Shuffle Read Metrics") or {}
                row["shuffle_read_bytes"] += sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0)
                sw = tm.get("Shuffle Write Metrics") or {}
                row["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                row["output_bytes"] += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
                # the Python runner's total time per task, worker start included
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    if acc.get("Name") == "time to run Python workers":
                        row["python_eval_s"] += float(acc.get("Update", 0)) * _MS
    return job_of_stage, stages


def job_totals(job_of_stage: dict[int, int], stages: dict[int, dict[str, float]],
               jobs: set[int]) -> dict[str, float]:
    """Summed task metrics and stage count over the stages of ``jobs``."""
    out = dict.fromkeys(_TASK_KEYS, 0.0)
    out["stages"] = 0
    for sid, row in stages.items():
        if job_of_stage.get(sid) in jobs:
            out["stages"] += 1
            for k in _TASK_KEYS:
                out[k] += row[k]
    return out
