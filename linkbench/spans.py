"""Spans around calls into the package's modules, Spark job accounting per
span, and a /proc memory sampler.

A span records name, layer, start, end, parent and trace id, the share
of the machine's busy CPU time the hypervisor stole while it ran, and the
CPU seconds the Spark JVM (with the Python workers it forked) and the
calling thread spent in it. Its ``seconds`` are wall seconds net of the
stolen share: on a shared host a guest whose CPUs are taken away half the
time runs everything twice as slowly. That correction is partial: while
one CPU of a parallel stage is taken away the others sit idle waiting for
it, and idle time is not stolen time. ``cpu_s`` does not depend on either
(a KVM guest kernel with steal-time accounting leaves stolen time out of
process CPU time), which is why the end-to-end job metrics use it.

With tracing on, each span also becomes the Spark job group of the calls
inside it (``sc.setJobGroup``), and its job, stage and task counts and
stage times are read as soon as the span closes, before the retained-jobs
and retained-stages limits can drop them. Spans stay in
memory until ``dump`` writes them out as JSON.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    layer: str
    trace_id: int
    span_id: int
    parent_id: int | None
    start: float
    end: float = 0.0
    steal_share: float = 0.0
    jobs: int = 0
    stages: int = 0
    skipped_stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    stage_s: float = 0.0  # wall time of the stages that ran
    wide_stage_s: float = 0.0  # the same, over stages of two or more tasks
    cpu_s: float = 0.0  # CPU seconds of the JVM tree and the calling thread
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return (self.end - self.start) * (1.0 - self.steal_share)


class Tracer:
    """Records spans. With ``enabled`` false it only times them: no job
    groups and no status-tracker reads, so timed runs carry no tracing
    cost beyond two clock, two /proc/stat and two process-tree CPU reads
    per span."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.jvm_pid = sc._gateway.proc.pid
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next_id = 0
        self._trace_id = 0

    def new_trace(self) -> None:
        self._trace_id += 1

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        self._next_id += 1
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            name=name,
            layer=layer,
            trace_id=self._trace_id,
            span_id=self._next_id,
            parent_id=parent.span_id if parent else None,
            start=time.perf_counter(),
        )
        ticks, cpu = cpu_ticks(), self.cpu_seconds()
        self._stack.append(sp)
        group = f"span-{sp.span_id}"
        if self.enabled:
            self.sc.setJobGroup(group, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            sp.steal_share = steal_share(ticks)
            sp.cpu_s = self.cpu_seconds() - cpu
            self._stack.pop()
            if self.enabled:
                self._account(sp, group)
                if parent is not None:
                    self.sc.setJobGroup(f"span-{parent.span_id}", parent.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(sp)

    def _account(self, sp: Span, group: str) -> None:
        """Jobs, stages and tasks the span's calls ran, and the wall time
        of its stages. Job and stage ids come from statusTracker(); each
        stage's details from the status store it reads, once the listener
        bus has delivered every event. A skipped stage (its shuffle output
        was reused) is counted as skipped, and its tasks are not counted."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store, jvm = jsc.statusStore(), self.sc._jvm
        st = self.sc.statusTracker()
        for job_id in st.getJobIdsForGroup(group):
            sp.jobs += 1
            info = st.getJobInfo(job_id)
            for stage_id in info.stageIds if info else ():
                try:
                    d = store.stageData(
                        stage_id, False, jvm.java.util.ArrayList(), False,
                        self.sc._gateway.new_array(jvm.double, 0),
                    ).head()
                except Exception:  # dropped by the retained-stages limit
                    continue
                sp.stages += 1
                sp.failed_tasks += d.numFailedTasks()
                if d.status().toString() == "SKIPPED":
                    sp.skipped_stages += 1
                    continue
                sp.tasks += d.numCompleteTasks()
                start, end = d.submissionTime(), d.completionTime()
                if start.isDefined() and end.isDefined():
                    wall = (end.get().getTime() - start.get().getTime()) / 1000.0
                    sp.stage_s += wall
                    if d.numCompleteTasks() >= 2:
                        sp.wide_stage_s += wall

    def cpu_seconds(self) -> float:
        """CPU seconds so far of the JVM tree and the calling thread."""
        return tree_cpu_seconds(self.jvm_pid) + time.thread_time()

    def self_seconds(self, sp: Span) -> float:
        """Span time minus its children's (calls run one after another on
        the driver thread, so children never overlap)."""
        return sp.seconds - sum(c.seconds for c in self.spans if c.parent_id == sp.span_id)

    def self_cpu_seconds(self, sp: Span) -> float:
        return sp.cpu_s - sum(c.cpu_s for c in self.spans if c.parent_id == sp.span_id)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def cpu_ticks() -> tuple[int, int]:
    """(busy, stolen) clock ticks summed over this machine's CPUs, from
    /proc/stat. Stolen ticks are time a CPU had work but the hypervisor
    ran another guest; they count as busy here."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = map(
            int, f.readline().split()[1:9]
        )
    return user + nice + system + irq + softirq + steal, steal


def steal_share(since: tuple[int, int]) -> float:
    """Stolen share of the busy CPU time since ``since`` (a cpu_ticks())."""
    busy, stolen = cpu_ticks()
    return (stolen - since[1]) / max(busy - since[0], 1)


def process_tree(root: int) -> list[int]:
    """``root`` and the pids of all its live descendants."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, ()))
    return tree


def tree_cpu_seconds(root: int) -> float:
    """User plus system CPU seconds of ``root`` and its live descendants,
    each with the CPU time of the children it has reaped, so a Python
    worker that exited still counts."""
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited meanwhile
            continue
        total += sum(int(v) for v in fields[11:15])  # utime stime cutime cstime
    return total / os.sysconf("SC_CLK_TCK")


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def _tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and its descendants. A descendant running
    the root's own executable is the JVM forked to run a helper command:
    until its exec it shares every page with the JVM, so it is not counted
    again (counting it read as a 2 GB spike in about one run in five)."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    exe = _exe(root)
    for pid in process_tree(root):
        if pid != root and _exe(pid) == exe:
            continue
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            pass
    return total


class RssSampler:
    """Peak resident memory of a process tree (the driver JVM and the
    Python workers it forks), sampled from /proc every ``interval`` s."""

    def __init__(self, root_pid: int, interval: float = 0.05):
        self.root = root_pid
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(self.root))
            self._stop.wait(self.interval)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, _tree_rss_bytes(self.root))
