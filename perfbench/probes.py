"""Measurement helpers that sit outside the program: spans around calls
into its public functions, Spark engine counters read from the status
store, a py4j call counter, and a peak-RSS sampler over the process tree.

Nothing here edits the program's code. The tracer swaps module and class
attributes for wrappers while a traced run is active and puts the
originals back afterwards.
"""

from __future__ import annotations

import functools
import importlib
import os
import threading
import time
from dataclasses import dataclass, field

from stats import median


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index of the enclosing span, None at top level
    run_id: str


@dataclass
class Tracer:
    """In-memory spans. ``wrap`` installs a span around an attribute of a
    module or class; ``restore`` undoes every wrap."""

    run_id: str = ""
    spans: list[Span] = field(default_factory=list)
    context: dict = field(default_factory=dict)  # e.g. the entity type being built
    _stack: list[int] = field(default_factory=list)
    _patched: list[tuple[object, str, object]] = field(default_factory=list)

    def span(self, name: str):
        tracer = self

        class _Ctx:
            def __enter__(self):
                parent = tracer._stack[-1] if tracer._stack else None
                tracer.spans.append(Span(name, time.perf_counter(), 0.0, parent, tracer.run_id))
                tracer._stack.append(len(tracer.spans) - 1)
                return self

            def __exit__(self, *exc):
                tracer.spans[tracer._stack.pop()].end = time.perf_counter()
                return False

        return _Ctx()

    def wrap(self, target: str, attr: str, name, before=None) -> None:
        """Span ``name`` (a string, or a callable of the call's arguments
        returning one) around ``target.attr``; ``target`` is a dotted
        module path, optionally followed by ``:Class``."""
        mod, _, cls = target.partition(":")
        owner = importlib.import_module(mod)
        if cls:
            owner = getattr(owner, cls)
        original = owner.__dict__[attr] if cls else getattr(owner, attr)

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            if before is not None:
                before(self)
            label = name(*args, **kwargs) if callable(name) else name
            with self.span(label):
                return original(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, original))

    def restore(self) -> None:
        while self._patched:
            owner, attr, original = self._patched.pop()
            setattr(owner, attr, original)

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the time its direct
        children cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child[i]
        return out

    def totals(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start)
        return out

    def dump(self) -> list[dict]:
        return [s.__dict__ for s in self.spans]


def span_cost_s(n: int = 20000) -> float:
    """Measured cost of one empty span enter/exit plus one wrapper call,
    used to state the tracing overhead of a traced run."""
    t = Tracer()
    fn = lambda: None  # noqa: E731
    t0 = time.perf_counter()
    for _ in range(n):
        with t.span("x"):
            fn()
    return (time.perf_counter() - t0) / n


class Py4jCounter:
    """Counts driver → JVM calls by wrapping ``JavaMember.__call__``."""

    def __init__(self):
        from py4j.java_gateway import JavaMember

        self._cls = JavaMember
        self._orig = JavaMember.__call__
        self.calls = 0
        counter = self

        def counted(member, *args):
            counter.calls += 1
            return counter._orig(member, *args)

        JavaMember.__call__ = counted

    def close(self) -> None:
        self._cls.__call__ = self._orig


_STAGE_FIELDS = ("numTasks", "executorRunTime", "executorCpuTime", "jvmGcTime",
                 "shuffleWriteBytes", "memoryBytesSpilled", "diskBytesSpilled")


def stage_snapshot(spark) -> set[int]:
    """Ids of the stages of every job the status store knows so far."""
    jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    ids = set()
    for i in range(jobs.size()):
        stages = jobs.apply(i).stageIds()
        ids.update(stages.apply(j) for j in range(stages.size()))
    return ids


def engine_counters(spark, before: set[int]) -> dict[str, float]:
    """Counters of the stages started since ``before`` was taken, from the
    status store (it works with the UI disabled). A stage the store has no
    attempt for never ran: it was skipped."""
    from py4j.protocol import Py4JJavaError

    store = spark.sparkContext._jsc.sc().statusStore()
    out = dict.fromkeys(("stages", "stages_skipped", *_STAGE_FIELDS), 0)
    for sid in sorted(stage_snapshot(spark) - before):
        try:
            sd = store.lastStageAttempt(sid)
        except Py4JJavaError:
            out["stages_skipped"] += 1
            continue
        if sd.status().toString() == "SKIPPED":
            out["stages_skipped"] += 1
            continue
        out["stages"] += 1
        for f in _STAGE_FIELDS:
            out[f] += getattr(sd, f)()
    return {
        "spark.stages": out["stages"],
        "spark.stages_skipped": out["stages_skipped"],
        "spark.tasks": out["numTasks"],
        "spark.executor_run_s": out["executorRunTime"] / 1e3,
        "spark.executor_cpu_s": out["executorCpuTime"] / 1e9,
        "spark.gc_s": out["jvmGcTime"] / 1e3,
        "spark.shuffle_bytes": out["shuffleWriteBytes"],
        "spark.spill_bytes": out["memoryBytesSpilled"] + out["diskBytesSpilled"],
    }


def proc_tree(root: int) -> dict[int, tuple[str, int]]:
    """pid -> (command name, RSS in kB) for ``root`` and all its
    descendants (the JVM, the Python worker daemon and its forks)."""
    children: dict[int, list[int]] = {}
    rss: dict[int, tuple[str, int]] = {}
    page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
            with open(f"/proc/{entry}/statm") as f:
                pages = int(f.read().split()[1])
        except OSError:
            continue  # the process ended between listdir and open
        comm, rest = stat.split(" (", 1)[1].rsplit(")", 1)
        pid = int(entry)
        children.setdefault(int(rest.split()[1]), []).append(pid)
        rss[pid] = (comm, pages * page_kb)
    out = {}
    todo = [root]
    while todo:
        pid = todo.pop()
        if pid in rss:
            out[pid] = rss[pid]
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by ``root`` and its
    descendants, counting children they have reaped. On a VM the time a
    vCPU waits for the host is steal time, charged to no process, so
    unlike wall time this does not grow when the host is busy."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in proc_tree(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / tick


def steal_s() -> float:
    """Seconds the host has kept this VM's vCPUs from running, summed
    over vCPUs (the steal column of /proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Samples the process tree's RSS every ``interval`` seconds in a
    background thread and keeps the peak.

    A process counts once it is seen in two samples in a row with the same
    command name. A child the JVM has forked but not yet exec'd shares all
    of the JVM's pages and reports them as its own RSS for that instant;
    counting it would double the JVM once in a while."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self.at_peak: dict[str, int] = {}  # per command name, at the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        prev: dict[int, tuple[str, int]] = {}
        while not self._stop.is_set():
            cur = proc_tree(root)
            parts: dict[str, int] = {}
            for pid, (comm, kb) in cur.items():
                if prev.get(pid, ("",))[0] == comm:
                    parts[comm] = parts.get(comm, 0) + kb
            if sum(parts.values()) > self.peak_kb:
                self.peak_kb, self.at_peak = sum(parts.values()), parts
            prev = cur
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False


def idle_calibration(rounds: int = 7) -> dict[str, float]:
    """A fixed pure-Python loop timed ``rounds`` times: its median says
    how fast this box is right now, its cv how quiet it is."""
    times = []
    for _ in range(rounds):
        t0 = time.perf_counter()
        acc = 0
        for i in range(200_000):
            acc += i * i % 7
        times.append(time.perf_counter() - t0)
    m = median(times)
    mean = sum(times) / len(times)
    sd = (sum((t - mean) ** 2 for t in times) / len(times)) ** 0.5
    return {"loop_s": m, "cv": sd / mean}
