"""Per-job-group task metrics from a Spark event log, and process memory.

The traced run enables the event log (uncompressed, not rolling) and
wraps each layer call in ``sc.setJobGroup(name, ...)``. After the
SparkContext stops, :func:`group_metrics` reads the log: every
``SparkListenerJobStart`` names its stages and job group, and every
``SparkListenerStageCompleted`` carries the stage's summed task metrics.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}

# accumulable name -> (metric, scale to SI units)
_ACCUMULABLES = {
    "internal.metrics.executorRunTime": ("run_s", 1e-3),
    "internal.metrics.executorCpuTime": ("cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.shuffle.read.remoteBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.shuffle.read.localBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_bytes", 1),
    "internal.metrics.memoryBytesSpilled": ("spill_bytes", 1),
    "internal.metrics.diskBytesSpilled": ("spill_bytes", 1),
}
METRICS = ("run_s", "cpu_s", "gc_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "tasks")


def read_events(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def group_metrics(events: list[dict], window: tuple[float, float] | None = None) -> dict[str, dict[str, float]]:
    """Job group -> summed task metrics of its completed stages.

    Jobs without a group land under ``""``. A stage shared by two jobs
    (a reused exchange) counts once, for the first job that listed it.
    ``window`` = (start, end) in epoch seconds keeps only the jobs
    submitted in it.
    """
    stage_group: dict[int, str] = {}
    stages: dict[int, dict[str, float]] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            if window is not None and not window[0] <= ev["Submission Time"] / 1e3 <= window[1]:
                continue
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            m = stages.setdefault(info["Stage ID"], dict.fromkeys(METRICS, 0.0))
            m["tasks"] += info.get("Number of Tasks", 0)
            for acc in info.get("Accumulables", []):
                hit = _ACCUMULABLES.get(acc.get("Name"))
                if hit is not None:
                    m[hit[0]] += float(acc["Value"]) * hit[1]
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(METRICS, 0.0))
    for sid, m in stages.items():
        if sid not in stage_group:
            continue  # a stage of a job outside the window
        acc = out[stage_group[sid]]
        for k, v in m.items():
            acc[k] += v
    return dict(out)


def event_log_path(log_dir: str, app_id: str) -> str:
    path = os.path.join(log_dir, app_id)
    return path if os.path.exists(path) else path + ".inprogress"


def _status_kb(pid: int, field: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    return 0


def _pss_kb(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1])
    return 0


def spark_memory_mb(root_pid: int | None = None) -> tuple[float, float]:
    """(JVM peak RSS, Python workers' proportional set size), in MiB, for
    the Spark processes under ``root_pid`` (default: this process), read
    from ``/proc``. The JVM's ``VmHWM`` is its peak. The Python workers are
    forked from one daemon and share its pages, so their ``Pss`` is summed,
    which counts each shared page once; it is taken now, not at a peak.
    The root process is left out: it also holds the benchmark's own data."""
    root = root_pid or os.getpid()
    children: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                # the command name may hold spaces; fields resume after ')'
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children[ppid].append(int(name))
    jvm_kb = py_kb = 0
    todo = list(children.get(root, []))
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
            if comm == "java":
                jvm_kb += _status_kb(pid, "VmHWM")
            else:
                py_kb += _pss_kb(pid)
        except OSError:
            continue  # exited while we looked
    return jvm_kb / 1024.0, py_kb / 1024.0
