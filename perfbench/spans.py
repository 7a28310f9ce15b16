"""Spans, Spark event-log parsing, plan-shape counting and the memory sampler.

Everything here is benchmark-side: the library is never patched.  A span
records one call into a layer (name, start, end, parent, run id) and, while
open, owns the Spark job group ``<name>#<seq>``, so the jobs a layer submits
can be found again in the event log after the session stops.
"""
from __future__ import annotations

import json
import os
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

MB = 1024.0 * 1024.0

# Physical-plan nodes that ship rows to python workers.
PYTHON_NODES = re.compile(
    r"\b(FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|MapInPandas|MapInArrow|"
    r"PythonMapInArrow|ArrowEvalPython|BatchEvalPython|AggregateInPandas|"
    r"WindowInPandas|FlatMapGroupsInArrow)\b")


def count_python_nodes(plan: str) -> int:
    """Python nodes in a physical-plan string.  With AQE the string can show
    the same node twice (final plan and initial plan); only the final plan,
    which comes first, is counted."""
    final = plan.split("+- == Initial Plan ==")[0]
    return len(PYTHON_NODES.findall(final))


def pandas_stages(df) -> int:
    """Python nodes in the executed plan of ``df``."""
    return count_python_nodes(df._jdf.queryExecution().executedPlan().toString())


@dataclass
class Span:
    """One call into a layer.  ``run_id`` is the index of the run in the
    process, -1 for session start and set-up."""
    name: str
    group: str
    start: float
    parent: int | None
    run_id: int
    end: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Keeps spans in memory; ``spans`` is written out when the run ends."""

    def __init__(self, sc=None, run_id: int = -1):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, f"{name}#{len(self.spans)}", 0.0, parent, self.run_id)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        self._set_group(sp.group)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self.spans[self._stack[-1]].group if self._stack else None)

    def _set_group(self, group: str | None) -> None:
        if self.sc is None:
            return
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(group, group)

    def children(self, i: int) -> list[int]:
        return [k for k, s in enumerate(self.spans) if s.parent == i]

    def self_s(self, i: int) -> float:
        """Span duration minus the part covered by its child spans."""
        return self.spans[i].duration - sum(self.spans[k].duration for k in self.children(i))

    def root(self, i: int) -> int:
        """The outermost span that ``i`` runs in (``i`` itself if none)."""
        while self.spans[i].parent is not None:
            i = self.spans[i].parent
        return i

    def subtree(self, i: int) -> list[int]:
        out = [i]
        for k in self.children(i):
            out += self.subtree(k)
        return out

    def find(self, name: str) -> list[int]:
        return [k for k, s in enumerate(self.spans) if s.name == name]

    def records(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    task_s: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    spill_mb: float = 0.0
    intervals: list = field(default_factory=list)

    def add(self, other: "GroupStats") -> None:
        self.jobs += other.jobs
        self.stages += other.stages
        self.task_s += other.task_s
        self.shuffle_write_mb += other.shuffle_write_mb
        self.shuffle_read_mb += other.shuffle_read_mb
        self.spill_mb += other.spill_mb
        self.intervals += other.intervals

    @property
    def job_s(self) -> float:
        return union_length(self.intervals)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
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


def parse_event_log(lines) -> dict[str, GroupStats]:
    """Per job group: jobs, completed stages, task time, shuffle bytes,
    spill and job intervals, from Spark event-log JSON lines."""
    group_of_job: dict[int, str] = {}
    group_of_stage: dict[int, str] = {}
    job_start: dict[int, float] = {}
    stats: dict[str, GroupStats] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None:
                continue
            jid = ev["Job ID"]
            group_of_job[jid] = group
            job_start[jid] = ev["Submission Time"] / 1000.0
            for sid in ev.get("Stage IDs", []):
                group_of_stage.setdefault(sid, group)
            stats.setdefault(group, GroupStats()).jobs += 1
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in group_of_job:
                stats[group_of_job[jid]].intervals.append(
                    (job_start[jid], ev["Completion Time"] / 1000.0))
        elif kind == "SparkListenerStageCompleted":
            group = group_of_stage.get(ev["Stage Info"]["Stage ID"])
            if group is not None:
                stats[group].stages += 1
        elif kind == "SparkListenerTaskEnd":
            group = group_of_stage.get(ev["Stage ID"])
            m = ev.get("Task Metrics")
            if group is None or not m:
                continue
            g = stats[group]
            g.task_s += m.get("Executor Run Time", 0) / 1000.0
            g.spill_mb += m.get("Disk Bytes Spilled", 0) / MB
            w = m.get("Shuffle Write Metrics") or {}
            g.shuffle_write_mb += w.get("Shuffle Bytes Written", 0) / MB
            r = m.get("Shuffle Read Metrics") or {}
            g.shuffle_read_mb += (r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)) / MB
    return stats


def read_event_logs(directory: str) -> dict[str, GroupStats]:
    stats: dict[str, GroupStats] = {}
    for name in sorted(os.listdir(directory)):
        with open(os.path.join(directory, name)) as f:
            for group, g in parse_event_log(f).items():
                stats.setdefault(group, GroupStats()).add(g)
    return stats


def tree_stats(tracer: Tracer, i: int, stats: dict[str, GroupStats],
               deep: bool = False) -> GroupStats:
    """Spark stats of span ``i`` alone, or with its descendants if ``deep``."""
    out = GroupStats()
    for k in (tracer.subtree(i) if deep else [i]):
        if tracer.spans[k].group in stats:
            out.add(stats[tracer.spans[k].group])
    return out


def descendants(root: int) -> set[int]:
    """``root`` and every process below it, from /proc."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                # the command name may contain spaces: ppid follows the last ')'
                parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    tree, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p and c not in tree]
        tree.update(kids)
        frontier += kids
    return tree


def alive(pid: int) -> bool:
    """The process exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to others while this host's CPUs were
    runnable, summed over CPUs since boot (``steal`` in /proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


HEAP_LINE = re.compile(r"Heap address: (0x[0-9a-f]+), size: (\d+) MB")


def java_heap_range(log_text: str) -> tuple[int, int]:
    """[start, end) of the Java heap's reserved addresses, from the line
    ``-Xlog:gc+heap+coops=debug`` writes at JVM start."""
    m = HEAP_LINE.search(log_text)
    if m is None:
        raise ValueError("no 'Heap address' line in the JVM log")
    start = int(m.group(1), 16)
    return start, start + int(m.group(2)) * 1024 * 1024


def rss_outside_kb(smaps_lines, lo: int, hi: int) -> int:
    """Resident kB of the mappings in ``/proc/<pid>/smaps`` that lie outside
    the address range [lo, hi)."""
    total, outside = 0, True
    for line in smaps_lines:
        if line[0] in "0123456789abcdef":  # mapping header: "start-end perms ..."
            a, b = line.split(" ", 1)[0].split("-")
            outside = int(b, 16) <= lo or int(a, 16) >= hi
        elif outside and line.startswith("Rss:"):
            total += int(line.split()[1])
    return total


def _rss_kb(pid: int, heap: tuple[int, int, int] | None) -> int:
    """RSS of ``pid``; for the JVM named in ``heap`` = (pid, lo, hi), only
    what lies outside its Java heap."""
    try:
        if heap is not None and pid == heap[0]:
            with open(f"/proc/{pid}/smaps") as f:
                return rss_outside_kb(f, heap[1], heap[2])
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * (os.sysconf("SC_PAGE_SIZE") // 1024)
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Background thread sampling the RSS of this process tree (python
    driver, JVM, python workers), leaving out the JVM's Java heap once
    ``exclude_heap`` has named it; ``take_peak_mb`` returns the largest
    sample since its previous call."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self._peak_kb = 0
        self._heap: tuple[int, int, int] | None = None
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def exclude_heap(self, jvm_pid: int, lo: int, hi: int) -> None:
        self._heap = (jvm_pid, lo, hi)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            rss = sum(_rss_kb(p, self._heap) for p in descendants(me))
            with self._lock:
                self._peak_kb = max(self._peak_kb, rss)
            self._stop.wait(self.interval_s)

    def take_peak_mb(self) -> float:
        with self._lock:
            peak, self._peak_kb = self._peak_kb, 0
        return peak / 1024.0

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
