"""Measurements taken from outside the engine: the process tree's CPU,
host noise from /proc/stat, a calibration probe, and the totals of a
Spark event log."""

from __future__ import annotations

import json
import os
import time
from pathlib import Path

_TICK = os.sysconf("SC_CLK_TCK")


def _tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process exited while we looked
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User+sys CPU seconds of a process and all its live descendants,
    including the children they have already reaped (the JVM, its Python
    daemon and the workers the daemon forked)."""
    ticks = 0
    for pid in _tree_pids(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / _TICK


def _proc_stat() -> list[int]:
    with open("/proc/stat") as f:
        # user nice system idle iowait irq softirq steal ...
        return [int(x) for x in f.readline().split()[1:9]]


class HostWindow:
    """Host CPU use over a window, net of this process tree: cores kept
    busy by other processes, and cores stolen by the hypervisor."""

    def __init__(self):
        self.t0 = time.monotonic()
        self.stat0 = _proc_stat()
        self.cpu0 = tree_cpu_s()

    def close(self) -> dict:
        elapsed = time.monotonic() - self.t0
        d = [b - a for a, b in zip(self.stat0, _proc_stat())]
        busy = sum(d[:3]) / _TICK / elapsed  # user nice system
        own = (tree_cpu_s() - self.cpu0) / elapsed
        return {
            "window_s": elapsed,
            "foreign_busy_cores": max(0.0, busy - own),
            "steal_cores": d[7] / _TICK / elapsed,
        }


def calib_alu_s() -> float:
    """A fixed pure-Python loop; it slows only when the host is contended."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t0


def calib_spark_s(spark) -> float:
    """A fixed tiny Spark job (scan, hash aggregate, collect)."""
    t0 = time.perf_counter()
    spark.range(0, 400_000, numPartitions=4).selectExpr(
        "sum(id * id % 7919) AS s"
    ).collect()
    return time.perf_counter() - t0


# ---------------------------------------------------------------- event log

_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"


def event_log_totals(log_dir: Path) -> dict[str, dict[str, float]]:
    """Per job group: jobs, stages, tasks, failed tasks, shuffle write
    bytes and seconds, JVM GC seconds and Arrow bytes each way across the
    Python boundary, summed from the Spark event log."""
    files = [p for p in log_dir.iterdir() if not p.name.endswith(".inprogress")]
    stage_group: dict[int, str] = {}
    totals: dict[str, dict[str, float]] = {}

    def bucket(group: str) -> dict[str, float]:
        return totals.setdefault(
            group,
            dict.fromkeys(
                (
                    "jobs",
                    "stages",
                    "tasks",
                    "failed_tasks",
                    "shuffle_write_bytes",
                    "shuffle_write_s",
                    "gc_s",
                    "python_sent_bytes",
                    "python_received_bytes",
                ),
                0.0,
            ),
        )

    for path in files:
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    group = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    bucket(group)["jobs"] += 1
                    for sid in e.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerStageCompleted":
                    sid = e["Stage Info"]["Stage ID"]
                    # stages skipped because their shuffle output was reused
                    # never submit tasks and are not counted
                    if "Submission Time" in e["Stage Info"]:
                        bucket(stage_group.get(sid, ""))["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    b = bucket(stage_group.get(e["Stage ID"], ""))
                    b["tasks"] += 1
                    if e.get("Task End Reason", {}).get("Reason") != "Success":
                        b["failed_tasks"] += 1
                    m = e.get("Task Metrics") or {}
                    w = m.get("Shuffle Write Metrics") or {}
                    b["shuffle_write_bytes"] += w.get("Shuffle Bytes Written", 0)
                    b["shuffle_write_s"] += w.get("Shuffle Write Time", 0) / 1e9
                    b["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    for acc in e["Task Info"].get("Accumulables", []):
                        if acc.get("Name") == _PY_SENT:
                            b["python_sent_bytes"] += int(acc.get("Update", 0))
                        elif acc.get("Name") == _PY_RECV:
                            b["python_received_bytes"] += int(acc.get("Update", 0))
    return totals
