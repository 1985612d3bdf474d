"""Measurement helpers: percentiles, spans with self time, memory and
Spark scheduler counters.

Nothing here imports pathway_spark: the tracer patches whatever
callables the workload hands it, at runtime, and restores them after.
"""

from __future__ import annotations

import math
import os
import resource
import time


class UnsupportedPercentile(ValueError):
    """The sample is too small to support the requested percentile."""


def percentile(values, p: float, *, min_beyond: int = 10) -> float:
    """Nearest-rank `p`-th percentile of `values`, refused unless at
    least `min_beyond` samples lie beyond it (so p90 needs >= 100
    samples, p99 >= 1000).  The median needs one sample on each side
    of its rank and is asked for with `min_beyond=0`."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise UnsupportedPercentile("empty sample")
    rank = max(1, math.ceil(p / 100.0 * n))
    if n - rank < min_beyond:
        raise UnsupportedPercentile(
            f"p{p:g} of {n} samples leaves {n - rank} beyond it; "
            f"need {min_beyond}")
    return xs[rank - 1]


def median(values) -> float:
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise UnsupportedPercentile("empty sample")
    mid = n // 2
    return xs[mid] if n % 2 else (xs[mid - 1] + xs[mid]) / 2.0


def tail(values, ps=(99, 90)) -> dict[str, float]:
    """The percentiles among `ps` that the sample supports."""
    out = {}
    for p in ps:
        try:
            out[f"p{p:g}"] = percentile(values, p)
        except UnsupportedPercentile:
            pass
    return out


# -- spans -----------------------------------------------------------------


class Tracer:
    """Records one span per call of each wrapped callable: name, start,
    end and parent.  Spans stay in memory; `self_times` reduces them.

    Wrappers are installed only between `install()` and `uninstall()`,
    so untraced operations run the original code with no wrapper at
    all — which is what lets one run alternate traced and untraced
    operations and report the tracing overhead from the pair."""

    def __init__(self):
        self.spans: list[list] = []      # [name, start, end, parent]
        self._stack: list[int] = []
        self._targets: list[tuple] = []  # (owner, attr, original, wrapped)
        self.installed = False

    def target(self, owner, attr: str, name) -> None:
        """Register `owner.attr` for wrapping.  `name` is the span name,
        or a callable taking the call's first argument (e.g. `self`) and
        returning it.  Plain functions, methods, classmethods and
        staticmethods are handled."""
        raw = owner.__dict__[attr]
        kind = type(raw) if isinstance(raw, (classmethod, staticmethod)) \
            else None
        fn = raw.__func__ if kind is not None else raw
        tracer = self

        def wrapped(*args, **kwargs):
            label = name(args[0]) if callable(name) else name
            idx = tracer.open(label)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.close(idx)

        wrapped.__wrapped__ = fn
        self._targets.append(
            (owner, attr, raw, kind(wrapped) if kind else wrapped))

    def open(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else -1
        self.spans.append([name, time.perf_counter(), None, parent])
        idx = len(self.spans) - 1
        self._stack.append(idx)
        return idx

    def close(self, idx: int) -> None:
        self.spans[idx][2] = time.perf_counter()
        self._stack.pop()

    def install(self) -> None:
        for owner, attr, _raw, wrapped in self._targets:
            setattr(owner, attr, wrapped)
        self.installed = True

    def uninstall(self) -> None:
        for owner, attr, raw, _wrapped in self._targets:
            setattr(owner, attr, raw)
        self.installed = False


def self_times(spans) -> list[float]:
    """Per span: its duration minus the part of its interval covered by
    its direct children (children may overlap each other; the union is
    subtracted, clipped to the parent's interval)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s[3] >= 0:
            kids.setdefault(s[3], []).append((s[1], s[2]))
    out = []
    for i, (_name, start, end, _parent) in enumerate(spans):
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(kids.get(i, [])):
            lo, hi = max(lo, start), min(hi, end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out.append((end - start) - covered)
    return out


def overhead_pct(op_times: dict) -> float:
    """Tracing overhead from `{kind: (traced, untraced) durations}`:
    per kind, the traced and the untraced median, each weighted by the
    kind's operation count, summed over the kinds that have both; the
    traced sum over the untraced sum, as a percentage above 1."""
    traced = untraced = 0.0
    for t, u in op_times.values():
        if t and u:
            n = len(t) + len(u)
            traced += n * median(t)
            untraced += n * median(u)
    return (traced / untraced - 1.0) * 100.0 if untraced else 0.0


def self_time_by_name(spans) -> dict[str, list[float]]:
    out: dict[str, list[float]] = {}
    for s, st in zip(spans, self_times(spans)):
        out.setdefault(s[0], []).append(st)
    return out


# -- CPU time --------------------------------------------------------------


def _tree(root: int | None) -> dict[int, list[str]]:
    """`/proc/<pid>/stat` fields after "(comm) " of process `root` (this
    process by default) and every live descendant (the JVM, Python
    workers): state, ppid, ..., utime at 11, stime, cutime, cstime."""
    stats: dict[int, list[str]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue            # exited while listing
        stats[int(name)] = raw[raw.rindex(")") + 2:].split()
    kids: dict[int, list[int]] = {}
    for pid, f in stats.items():
        kids.setdefault(int(f[1]), []).append(pid)
    out, todo = {}, [root or os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
        todo.extend(kids.get(pid, []))
    return out


def tree_pids(root: int | None = None) -> list[int]:
    return list(_tree(root))


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system) used so far by the process tree of
    `root`, each process with its reaped children.  Time the host takes
    from the guest's CPUs is not counted, so this measures the work
    done, not how busy the machine was.  Resolution: one clock tick."""
    ticks = sum(sum(int(x) for x in f[11:15]) for f in _tree(root).values())
    return ticks / os.sysconf("SC_CLK_TCK")


def process_cpu_s(pids) -> dict[int, float]:
    """CPU seconds used so far by each of `pids`, every thread included
    (also those that exited), from the kernel's per-process CPU clock:
    nanosecond resolution and one system call a process, cheap enough
    to read around every call.  A process that has exited is left out."""
    out = {}
    for pid in pids:
        try:
            # the clock id `clock_getcpuclockid(pid)` returns on Linux
            out[pid] = time.clock_gettime((~pid << 3) | 2)
        except OSError:
            pass
    return out


def cpu_between(before: dict[int, float], after: dict[int, float]) -> float:
    """CPU seconds used between two `process_cpu_s` readings by the
    processes present in both."""
    return sum(s - before[pid] for pid, s in after.items() if pid in before)


def median_total(by_kind: dict[str, list[float]]) -> float:
    """Sum over kinds of the kind's count times its median: a total
    that a few outlying operations (a JIT or GC pause landing on them)
    do not move."""
    return sum(len(xs) * median(xs) for xs in by_kind.values() if xs)


def host_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole machine so far, from
    /proc/stat: steal is time the host ran something else while a CPU
    of this machine wanted to run."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return f[7], sum(f)


def steal_share(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    total = t1[1] - t0[1]
    return (t1[0] - t0[0]) / total if total else 0.0


# -- memory ----------------------------------------------------------------


def _vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def py_peak_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    return _vm_hwm_kb(pid) / 1024.0


# -- Spark scheduler counters --------------------------------------------------


class JobGroups:
    """Spark job/stage/task counts per job group, read from the status
    tracker after the fact (outside timed regions).  `enter(group)`
    tags every job the calling thread submits from then on."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._tracker = self._sc.statusTracker()
        self.entered: list[str] = []

    def enter(self, group: str) -> None:
        self._sc.setJobGroup(group, group)
        if group not in self.entered:
            self.entered.append(group)

    def failed_tasks(self) -> int:
        return sum(self.counts(g)["failed_tasks"] for g in self.entered)

    def counts(self, group: str) -> dict[str, int]:
        jobs = stages = tasks = failed = 0
        seen: set[int] = set()
        for jid in self._tracker.getJobIdsForGroup(group):
            info = self._tracker.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                if sid in seen:
                    continue
                seen.add(sid)
                st = self._tracker.getStageInfo(sid)
                if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                    continue        # skipped stage (reused shuffle output)
                stages += 1
                tasks += st.numCompletedTasks
                failed += st.numFailedTasks
        return {"jobs": jobs, "stages": stages, "tasks": tasks,
                "failed_tasks": failed}
