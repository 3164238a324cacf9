"""Readers for process, machine and Spark counters.

Process CPU and memory come from ``/proc``; job, stage and task counts
from ``SparkContext.statusTracker()`` under a per-operation job group;
GC time from the JVM's GC beans; shuffle bytes from Spark's event log,
which only the traced run enables. Every reader here runs outside the
timed windows.
"""

from __future__ import annotations

import json
import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: str) -> tuple[str, int, float] | None:
    """(comm, ppid, cpu seconds incl. reaped children) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended while we listed /proc
        return None
    lpar, rpar = raw.index("("), raw.rindex(")")
    fields = raw[rpar + 2:].split()
    # fields[0] is state (field 3); utime..cstime are fields 14-17
    ticks = sum(int(x) for x in fields[11:15])
    return raw[lpar + 1:rpar], int(fields[1]), ticks / _TICK


def process_tree(root: int) -> dict[int, tuple[str, int, float]]:
    """pid -> (comm, ppid, cpu s) for ``root`` and all its descendants."""
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(name)
            if st is not None:
                procs[int(name)] = st
    keep = {root}
    changed = True
    while changed:
        changed = False
        for pid, (_, ppid, _) in procs.items():
            if ppid in keep and pid not in keep:
                keep.add(pid)
                changed = True
    return {pid: procs[pid] for pid in keep if pid in procs}


def jvm_pid(root: int) -> int | None:
    """The Spark JVM started by this process (a ``java`` descendant)."""
    for pid, (comm, _, _) in process_tree(root).items():
        if comm == "java":
            return pid
    return None


def cpu_split(root: int, jvm: int | None) -> dict[str, float]:
    """CPU seconds of the driver, the JVM and the Python workers.

    Python workers are the JVM's descendants; everything else under
    ``root`` (the driver and its launcher) counts as driver.
    """
    tree = process_tree(root)
    under_jvm = set()
    if jvm is not None:
        under_jvm = set(process_tree(jvm)) - {jvm}
    out = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}
    for pid, (_, _, cpu) in tree.items():
        if pid == jvm:
            out["jvm"] += cpu
        elif pid in under_jvm:
            out["pyworker"] += cpu
        else:
            out["driver"] += cpu
    return out


def wait_gone(pids: set[int], timeout_s: float = 30.0) -> None:
    """Wait until every process in ``pids`` has ended; kill what outlives
    the timeout."""
    import signal

    def alive() -> list[int]:
        out = []
        for pid in pids:
            try:
                with open(f"/proc/{pid}/stat") as f:
                    state = f.read().rsplit(")", 1)[1].split()[0]
            except OSError:
                continue
            if state != "Z":
                out.append(pid)
        return out

    deadline = time.monotonic() + timeout_s
    while alive():
        if time.monotonic() > deadline:
            for pid in alive():
                os.kill(pid, signal.SIGKILL)
            deadline = time.monotonic() + timeout_s
        time.sleep(0.05)


def vm_hwm_mb(pid: int | None) -> float:
    """Peak resident set size of one process, in MB (0 if it is gone)."""
    if pid is None:
        return 0.0
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def cpu_times() -> list[int]:
    """The machine-wide ``cpu`` line of /proc/stat (first 8 fields)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time stolen by the hypervisor between two readings."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d)
    return d[7] / total if total > 0 else 0.0


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def gc_seconds(spark) -> float:
    """Total collection time of the JVM's garbage collectors."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1000.0


def group_counts(sc, group: str, timeout_s: float = 30.0) -> dict[str, int]:
    """Jobs, stages and tasks Spark ran under one job group.

    The status store is fed by the listener bus asynchronously, so wait
    until every job of the group has ended before counting. A stage that
    a later job reused shows once, with the tasks it actually ran.
    """
    st = sc.statusTracker()
    deadline = time.monotonic() + timeout_s
    while True:
        jobs = [st.getJobInfo(j) for j in st.getJobIdsForGroup(group)]
        jobs = [j for j in jobs if j is not None]
        if all(j.status in ("SUCCEEDED", "FAILED") for j in jobs):
            break
        if time.monotonic() > deadline:
            raise TimeoutError(f"jobs of group {group} did not end")
        time.sleep(0.01)
    stages = {}
    for j in jobs:
        for sid in j.stageIds:
            info = st.getStageInfo(sid)
            if info is not None and info.numCompletedTasks + info.numFailedTasks > 0:
                stages[sid] = info
    return {
        "jobs": len(jobs),
        "failed_jobs": sum(j.status == "FAILED" for j in jobs),
        "stages": len(stages),
        "tasks": sum(s.numCompletedTasks + s.numFailedTasks for s in stages.values()),
        "single_task_stages": sum(s.numTasks == 1 for s in stages.values()),
        "failed_tasks": sum(s.numFailedTasks for s in stages.values()),
    }


def eventlog_conf(log_dir: str) -> dict[str, str]:
    """Session conf that makes Spark write a plain JSON-lines event log."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{log_dir}",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def shuffle_bytes_by_group(log_dir: str) -> dict[str, int]:
    """Shuffle bytes written per job group, from a finished event log."""
    group_of_stage: dict[int, str] = {}
    written: dict[int, int] = {}
    for name in os.listdir(log_dir):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is not None:
                        for sid in ev["Stage IDs"]:
                            group_of_stage.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    w = (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    sid = ev["Stage ID"]
                    written[sid] = written.get(sid, 0) + w
    out: dict[str, int] = {}
    for sid, w in written.items():
        g = group_of_stage.get(sid)
        if g is not None:
            out[g] = out.get(g, 0) + w
    return out


def dir_bytes(path: str) -> int:
    """On-disk size of every regular file under ``path``."""
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.stat(os.path.join(dirpath, f)).st_size
            except FileNotFoundError:
                pass
    return total
