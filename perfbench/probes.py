"""Measurement probes the benchmark attaches from outside the program.

Nothing here changes what the program computes. Each probe reads a counter the
process, the JVM or the file system already keeps:

- ``Py4jCounter``: commands sent over the py4j gateway, counted by wrapping the
  gateway client's ``send_command`` on its instance;
- ``count_exchanges``: Exchange nodes of a physical plan, found by walking
  ``children()`` and the class names, through AQE's initial plan;
- ``ProcessCpu`` and ``peak_rss_mb``: CPU seconds and peak resident memory
  from ``os.times`` and ``/proc``;
- ``lake_snapshot``/``lake_diff``: files a job wrote under a directory;
- ``EventLog``: per-job-group task metrics from a Spark event log.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict
from pathlib import Path

_CLK_TCK = os.sysconf("SC_CLK_TCK")

#: physical-plan classes that move rows between partitions
EXCHANGE_CLASSES = frozenset(
    {"ShuffleExchangeExec", "BroadcastExchangeExec", "ReusedExchangeExec"}
)


class Py4jCounter:
    """Counts py4j commands sent by this process while installed."""

    def __init__(self, spark) -> None:
        self._client = spark.sparkContext._gateway._gateway_client
        self._orig = self._client.send_command
        self.calls = 0

    def _send(self, *args, **kwargs):
        self.calls += 1
        return self._orig(*args, **kwargs)

    def __enter__(self) -> Py4jCounter:
        self.calls = 0
        self._client.send_command = self._send
        return self

    def __exit__(self, *exc) -> None:
        self._client.send_command = self._orig


def _seq(scala_seq):
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def count_exchanges(plan) -> int:
    """Exchange nodes under a physical plan (a py4j ``SparkPlan``).

    ``AdaptiveSparkPlanExec`` is entered through ``initialPlan()`` (the plan
    AQE starts from), query stages through ``plan()``, and scalar/IN
    subqueries through ``subqueries()``. Classes are matched by simple name,
    never by the plan's ``toString()``.
    """
    count = 0
    stack = [plan]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls in EXCHANGE_CLASSES:
            count += 1
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.initialPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        stack.extend(_seq(node.children()))
        stack.extend(_seq(node.subqueries()))
    return count


def _stat_fields(pid: int) -> list[str] | None:
    try:
        raw = Path(f"/proc/{pid}/stat").read_text()
    except OSError:
        return None
    # the command name may contain spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def _cpu_s(fields: list[str], with_children: bool) -> float:
    # fields[11..14] = utime, stime, cutime, cstime (proc(5), 0-based after pid, comm)
    ticks = int(fields[11]) + int(fields[12])
    if with_children:
        ticks += int(fields[13]) + int(fields[14])
    return ticks / _CLK_TCK


def _process_tree() -> dict[int, list[int]]:
    """parent pid -> child pids, for every process visible in /proc."""
    tree: dict[int, list[int]] = defaultdict(list)
    for entry in os.scandir("/proc"):
        if entry.name.isdigit():
            fields = _stat_fields(int(entry.name))
            if fields is not None:
                tree[int(fields[1])].append(int(entry.name))
    return tree


def _descendants(pid: int) -> list[int]:
    tree = _process_tree()
    out, stack = [], list(tree.get(pid, []))
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(tree.get(p, []))
    return out


def _is_python(pid: int) -> bool:
    try:
        return "python" in Path(f"/proc/{pid}/comm").read_text()
    except OSError:
        return False


class ProcessCpu:
    """CPU seconds of the Python driver, the JVM and the Python workers."""

    def __init__(self, jvm_pid: int) -> None:
        self.jvm_pid = jvm_pid

    def sample(self) -> dict[str, float]:
        t = os.times()
        jvm = _stat_fields(self.jvm_pid)
        workers = 0.0
        for pid in _descendants(self.jvm_pid):
            fields = _stat_fields(pid)
            if fields is not None and _is_python(pid):
                workers += _cpu_s(fields, with_children=True)
        return {
            "driver": t.user + t.system,
            "jvm": _cpu_s(jvm, with_children=False) if jvm else 0.0,
            "pyworker": workers,
        }


def _vm_hwm_kb(pid: int) -> int:
    try:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident memory (VmHWM) of this process plus the JVM, in MB."""
    return (_vm_hwm_kb(os.getpid()) + _vm_hwm_kb(jvm_pid)) / 1024.0


def lake_snapshot(root: str) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime_ns) of every regular file under ``root``."""
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def lake_diff(before: dict, after: dict) -> tuple[int, int]:
    """(bytes, files) written between two snapshots: new or rewritten files."""
    written = [p for p, meta in after.items() if before.get(p) != meta]
    return sum(after[p][0] for p in written), len(written)


def tree_bytes(root: str) -> int:
    return sum(size for size, _ in lake_snapshot(root).values())


class EventLog:
    """Task metrics from a Spark JSON event log, summed per job group."""

    FIELDS = (
        "jobs",
        "stages",
        "tasks",
        "input_bytes",
        "shuffle_write_bytes",
        "shuffle_read_bytes",
        "spill_bytes",
        "task_run_s",
        "task_cpu_s",
        "task_deserialize_s",
        "gc_s",
    )

    def __init__(self, log_dir: str) -> None:
        self.groups: dict[str, dict[str, float]] = defaultdict(
            lambda: dict.fromkeys(self.FIELDS, 0)
        )
        stage_group: dict[int, str] = {}
        for path in sorted(Path(log_dir).iterdir()):
            with open(path) as fh:
                for line in fh:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                        if group is None:
                            continue
                        self.groups[group]["jobs"] += 1
                        for sid in ev.get("Stage IDs", []):
                            stage_group[sid] = group
                    elif kind == "SparkListenerStageCompleted":
                        group = stage_group.get(ev["Stage Info"]["Stage ID"])
                        if group is not None:
                            self.groups[group]["stages"] += 1
                    elif kind == "SparkListenerTaskEnd":
                        group = stage_group.get(ev.get("Stage ID"))
                        if group is not None:
                            self._add_task(self.groups[group], ev.get("Task Metrics") or {})

    @staticmethod
    def _add_task(acc: dict, m: dict) -> None:
        acc["tasks"] += 1
        acc["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        sw = m.get("Shuffle Write Metrics") or {}
        acc["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        sr = m.get("Shuffle Read Metrics") or {}
        acc["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
            "Local Bytes Read", 0
        )
        acc["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
        acc["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
        acc["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        acc["task_deserialize_s"] += m.get("Executor Deserialize Time", 0) / 1e3
        acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3

    def group(self, name: str) -> dict[str, float]:
        return dict(self.groups.get(name) or dict.fromkeys(self.FIELDS, 0))
