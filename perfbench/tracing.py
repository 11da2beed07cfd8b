"""Spans, Spark event-log parsing and process memory for the traced run.

Spans are kept in memory (name, start, end, parent, run id) and printed
with the run's report when it ends.  The event log is Spark's own JSON-lines listener
log; the parser attributes task metrics to the job group that submitted
each stage, so every layer the benchmark wraps in a job group gets its own
executor time, shuffle/spill bytes and Python-crossing bytes.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import signal
import statistics
import time
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    run_id: str

    @property
    def duration(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """In-memory span recorder; spans nest by call order."""

    run_id: str
    spans: list[Span] = field(default_factory=list)
    _stack: list[str] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        start = time.perf_counter()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans.append(Span(name, start, time.perf_counter(), parent, self.run_id))

    def total(self, name: str) -> float:
        return sum(s.duration for s in self.spans if s.name == name)

    def self_time(self, name: str) -> float:
        """Duration of ``name`` spans minus the part their children cover."""
        total = 0.0
        for s in self.spans:
            if s.name != name:
                continue
            covered = _union_length(
                (max(c.start, s.start), min(c.end, s.end))
                for c in self.spans
                if c.parent == name and c.end > s.start and c.start < s.end
            )
            total += s.duration - covered
        return total


def _union_length(intervals) -> float:
    length, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                length += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        length += cur_e - cur_s
    return length


# ------------------------------------------------------------- event log

PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


@dataclass
class GroupStats:
    jobs: int = 0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    py_bytes_sent: int = 0
    py_bytes_returned: int = 0
    # stage id -> task durations (s), for skew
    task_s: dict[int, list[float]] = field(default_factory=lambda: defaultdict(list))

    def skew(self) -> float:
        """max/median task time of the stage with the most executor time."""
        if not self.task_s:
            return 0.0
        busiest = max(self.task_s.values(), key=sum)
        med = statistics.median(busiest)
        return max(busiest) / med if med > 0 else 0.0

    def tasks_of_largest_stage(self) -> int:
        if not self.task_s:
            return 0
        return len(max(self.task_s.values(), key=sum))


def event_log_files(log_dir: str) -> list[str]:
    """Plain (uncompressed, non-rolling) event-log files under ``log_dir``."""
    return sorted(
        p
        for p in glob.glob(os.path.join(log_dir, "*"))
        if os.path.isfile(p) and not os.path.basename(p).startswith(".")
    )


def parse_event_log(paths: list[str]) -> dict[str, GroupStats]:
    """Task metrics per job group (``""`` for jobs outside any group)."""
    stage_group: dict[int, str] = {}
    metric_names: dict[int, str] = {}
    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    groups[g].jobs += 1
                    for sid in ev["Stage IDs"]:
                        stage_group[sid] = g
                elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"
                ):
                    _collect_metric_names(ev.get("sparkPlanInfo") or {}, metric_names)
                elif kind == "SparkListenerTaskEnd":
                    _add_task(ev, stage_group, metric_names, groups)
    return dict(groups)


def _collect_metric_names(plan: dict, out: dict[int, str]) -> None:
    for m in plan.get("metrics", []):
        out[int(m["accumulatorId"])] = m["name"]
    for child in plan.get("children", []):
        _collect_metric_names(child, out)


def _add_task(ev: dict, stage_group, metric_names, groups) -> None:
    g = groups[stage_group.get(ev["Stage ID"], "")]
    info = ev["Task Info"]
    m = ev.get("Task Metrics") or {}
    g.tasks += 1
    g.task_s[ev["Stage ID"]].append((info["Finish Time"] - info["Launch Time"]) / 1000)
    g.run_s += m.get("Executor Run Time", 0) / 1000
    g.cpu_s += m.get("Executor CPU Time", 0) / 1e9
    g.gc_s += m.get("JVM GC Time", 0) / 1000
    sw = m.get("Shuffle Write Metrics") or {}
    g.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    g.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    g.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    for acc in info.get("Accumulables", []):
        name = acc.get("Name") or metric_names.get(int(acc["ID"]))
        if name == PY_SENT:
            g.py_bytes_sent += int(acc.get("Update", 0))
        elif name == PY_RETURNED:
            g.py_bytes_returned += int(acc.get("Update", 0))


def merge(groups: dict[str, GroupStats], names) -> GroupStats:
    """Sum the stats of several job groups into one."""
    out = GroupStats()
    for n in names:
        g = groups.get(n)
        if g is None:
            continue
        for attr in (
            "jobs", "tasks", "run_s", "cpu_s", "gc_s", "shuffle_write_bytes",
            "shuffle_read_bytes", "spill_bytes", "py_bytes_sent", "py_bytes_returned",
        ):
            setattr(out, attr, getattr(out, attr) + getattr(g, attr))
        for sid, ts in g.task_s.items():
            out.task_s[sid].extend(ts)
    return out


# ------------------------------------------------------------- stolen CPU


def cpu_times() -> tuple[float, float]:
    """``(busy, stolen)`` CPU seconds of the whole machine since boot, from
    ``/proc/stat``; stolen is time a runnable virtual CPU waited for the
    hypervisor to run it."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in f.readline().split()[1:9]
        )
    hz = os.sysconf("SC_CLK_TCK")
    return (user + nice + system + irq + softirq) / hz, steal / hz


def steal_share(busy: float, stolen: float) -> float:
    """Share of the CPU time demanded that the hypervisor stole."""
    return stolen / (busy + stolen) if busy + stolen > 0 else 0.0


# How much a stolen share ``f`` of the demanded CPU time stretches an
# interval: wall = undisturbed * (1 + STEAL_SLOWDOWN * f).  Fitted on the
# 4-core virtual machine the benchmark was tuned on (10 runs per workload,
# f from 0 to 0.28): k was 2.8 for the passes, 2.2 for the set-up and 2-3
# for the resumes.  It exceeds 1 because each Spark task is a chain of
# threads that wait on each other (JVM task thread, Python worker, the
# thread feeding it), so a stall of any one stalls the chain.
STEAL_SLOWDOWN = 2.5


class Stopwatch:
    """Times a block: ``wall`` seconds, the ``steal`` share of the CPU time
    demanded meanwhile, and ``s`` = ``wall / (1 + STEAL_SLOWDOWN * steal)``,
    the time the block would have taken had no CPU been stolen (equal to
    ``wall`` on a host without steal)."""

    def __enter__(self):
        self._t0 = time.perf_counter()
        self._cpu0 = cpu_times()
        return self

    def __exit__(self, *exc) -> None:
        self.wall = time.perf_counter() - self._t0
        busy, stolen = (b - a for a, b in zip(self._cpu0, cpu_times()))
        self.steal = steal_share(busy, stolen)
        self.s = self.wall / (1 + STEAL_SLOWDOWN * self.steal)


# ------------------------------------------------------------- memory


def _descendants(root: int) -> list[int]:
    kids: dict[int, list[int]] = defaultdict(list)
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                # "pid (comm) state ppid ..." — comm may hold spaces and ")"
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        kids[int(fields[1])].append(int(stat.split("/")[2]))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def peak_rss_by_process(root_pid: int | None = None) -> dict[str, float]:
    """``VmHWM`` in MB of ``root_pid`` and each of its descendants, keyed
    by ``pid:name``: here this Python process, the JVM it launched and the
    Python workers."""
    out = {}
    for pid in _descendants(root_pid or os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        if "VmHWM" in fields:
            out[f"{pid}:{fields['Name'].strip()}"] = int(fields["VmHWM"].split()[0]) / 1024
    return out


def wait_for_children(timeout: float) -> None:
    """Wait until this process has no descendants; kill what is left."""
    deadline = time.monotonic() + timeout
    while (left := _descendants(os.getpid())[1:]) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
