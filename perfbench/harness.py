"""Shared machinery for the benchmark: the run context, span tracing,
storage accounting, peak-RSS sampling and latency statistics.

Nothing here imports ``gcpde_spark`` at module level, so ``run.py`` can
fail fast (non-zero exit, no result line) when the library is absent.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import platform
import statistics
import threading
import time
from dataclasses import dataclass, field
from pathlib import Path
from typing import Any, Iterator

DRIVER_MEMORY = "4g"  # the library's 24g local default exceeds a 15 GiB box
SETUP_REPEATS = 3


# -- statistics ---------------------------------------------------------------


def p50(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


def tail(xs: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it:
    ``(value, percentile, n)``; NaN when fewer than eleven samples."""
    n = len(xs)
    if n < 11:
        return float("nan"), float("nan"), n
    s = sorted(xs)
    idx = n - 11  # ten samples strictly above s[idx]
    return s[idx], 100.0 * (idx + 1) / n, n


def rows_hash(rows: "list[tuple]") -> str:
    """Order-independent hash of a row multiset (sorted reprs)."""
    h = hashlib.sha256()
    for r in sorted(repr(tuple(x)) for x in rows):
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()


# -- storage accounting ------------------------------------------------------


def snapshot(*roots: Path) -> dict[str, tuple[int, int]]:
    """``{path: (size, mtime_ns)}`` for every regular file under ``roots``."""
    out: dict[str, tuple[int, int]] = {}
    for root in roots:
        for dirpath, _dirs, files in os.walk(root):
            for f in files:
                p = os.path.join(dirpath, f)
                try:
                    st = os.stat(p)
                except FileNotFoundError:  # swapped away mid-walk
                    continue
                out[p] = (st.st_size, st.st_mtime_ns)
    return out


def bytes_new(before: dict, after: dict) -> int:
    """Bytes in files created or rewritten between two snapshots."""
    return sum(s for p, (s, m) in after.items() if before.get(p) != (s, m))


def bytes_on_disk(*roots: Path) -> int:
    return sum(s for s, _ in snapshot(*roots).values())


# -- peak RSS of the driver JVM + its Python workers --------------------------


def _hwm_kb(pid: int) -> int:
    """A process's peak resident set size (the kernel's high-water mark)."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (FileNotFoundError, ProcessLookupError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


class RssSampler:
    """Peak memory of this process tree (the Python driver, the Spark
    JVM it launched, and the JVM's Python workers): the largest sum of
    the live processes' resident-set high-water marks, sampled every
    ``interval`` seconds. A per-process high-water mark misses no peak
    between samples; summing them bounds the simultaneous peak from
    above."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.sample(me)
            self._stop.wait(self.interval)

    def sample(self, me: int | None = None) -> None:
        total = sum(_hwm_kb(p) for p in _descendants(me or os.getpid()))
        self.peak_kb = max(self.peak_kb, total)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
        return self.peak_kb / 1024.0


# -- tracing -------------------------------------------------------------------


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    thread: str
    start: float
    end: float = 0.0
    counters: dict[str, float] = field(default_factory=dict)

    def add(self, key: str, value: float) -> None:
        self.counters[key] = self.counters.get(key, 0.0) + value


class _NullSpan:
    def add(self, key: str, value: float) -> None:
        pass


_NULL = _NullSpan()


class Tracer:
    """Spans around the benchmark's own calls into each module.

    Disabled (``--trace 0``) every ``span`` is a no-op. Enabled, a span
    records name, start, end, parent id and counters; on exit it adds
    the Spark jobs, tasks and failed tasks that started inside it, by
    job-id delta from the DAG scheduler (``TableStore`` resets the job
    group after every query, so groups cannot attribute jobs). Where
    several threads submit jobs at once, the delta is narrowed to the
    job group the thread set for itself with ``thread_group``.
    Bookkeeping time is accumulated in ``hook_s``.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.hook_s = 0.0
        self.concurrent = False
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next_id = 0
        self.sc = None

    def bind(self, spark) -> None:
        self.sc = spark.sparkContext

    def thread_group(self, name: str) -> None:
        if self.enabled and self.sc is not None:
            self.sc.setJobGroup(name, name)
            self._local.group = name

    def next_job(self) -> int:
        return int(self.sc._jsc.sc().dagScheduler().nextJobId())

    def job_counts(self, lo: int, hi: int, any_group: bool = False) -> tuple[int, int, int]:
        """Jobs, tasks and failed tasks of the jobs with ids in ``[lo, hi)``."""
        ids = set(range(lo, hi))
        group = getattr(self._local, "group", None)
        if self.concurrent and group and not any_group:
            ids &= set(self.sc.statusTracker().getJobIdsForGroup(group))
        st = self.sc.statusTracker()
        tasks = failed = 0
        for j in ids:
            info = st.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                si = st.getStageInfo(s)
                if si is not None:
                    tasks += si.numTasks
                    failed += si.numFailedTasks
        return len(ids), tasks, failed

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[Any]:
        if not self.enabled:
            yield _NULL
            return
        h0 = time.perf_counter()
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        sp = Span(
            sid,
            name,
            stack[-1].id if stack else None,
            threading.current_thread().name,
            0.0,
        )
        job0 = self.next_job() if self.sc is not None else 0
        stack.append(sp)
        sp.start = time.perf_counter()
        self.hook_s += sp.start - h0
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            if self.sc is not None:
                jobs, tasks, failed = self.job_counts(job0, self.next_job())
                sp.counters.update(jobs=jobs, tasks=tasks, failed_tasks=failed)
            with self._lock:
                self.spans.append(sp)
            self.hook_s += time.perf_counter() - sp.end

    def summary(self, t0: float, t1: float) -> dict[str, dict[str, float]]:
        """Per span name over spans inside ``[t0, t1]``: calls, wall,
        self time (duration minus the union its children cover) and
        summed counters."""
        spans = [s for s in self.spans if s.start >= t0 and s.end <= t1]
        kids: dict[int, list[Span]] = {}
        for s in spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out: dict[str, dict[str, float]] = {}
        for s in spans:
            covered = _union([(c.start, c.end) for c in kids.get(s.id, [])])
            agg = out.setdefault(s.name, {"calls": 0, "wall_s": 0.0, "self_s": 0.0})
            agg["calls"] += 1
            agg["wall_s"] += s.end - s.start
            agg["self_s"] += (s.end - s.start) - covered
            for k, v in s.counters.items():
                agg[k] = agg.get(k, 0.0) + v
        return out

    def top_level_cover(self, t0: float, t1: float) -> float:
        """Share of ``[t0, t1]`` covered by the union of top-level spans."""
        iv = [
            (max(s.start, t0), min(s.end, t1))
            for s in self.spans
            if s.parent is None and s.end > t0 and s.start < t1
        ]
        return _union(iv) / (t1 - t0) if t1 > t0 else 0.0

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(
                    json.dumps(
                        {
                            "id": s.id,
                            "name": s.name,
                            "parent": s.parent,
                            "thread": s.thread,
                            "start": s.start,
                            "end": s.end,
                            **s.counters,
                        }
                    )
                    + "\n"
                )


def _union(iv: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(iv):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


# -- run context ---------------------------------------------------------------


class Checks:
    """Output checks; every failed check counts as a failed operation."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.messages: list[str] = []

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.messages.append(what)
        return ok


@dataclass
class Run:
    """Everything one benchmark run shares across its phases."""

    seed: int
    root: Path  # fresh temporary storage root, deleted at exit
    tracer: Tracer
    checks: Checks = field(default_factory=Checks)
    spark: Any = None
    setup: dict[str, float] = field(default_factory=dict)

    def session(self):
        """Build the engine session on ``build_session`` defaults, with
        only the driver heap and Spark's scratch directory overridden."""
        from gcpde_spark import build_session

        local = self.root / "spark-local"
        local.mkdir(parents=True, exist_ok=True)
        spark = build_session(
            extra_confs={
                "spark.driver.memory": DRIVER_MEMORY,
                "spark.local.dir": str(local),
            }
        )
        self.tracer.bind(spark)
        return spark


def session_setup(run: Run) -> None:
    """Build + warm the session ``SETUP_REPEATS`` times (stopping it in
    between; the first build also launches the JVM). The medians are the
    session part of ``setup_s``."""
    builds, warms = [], []
    for i in range(SETUP_REPEATS):
        if run.spark is not None:
            run.spark.stop()
        t0 = time.perf_counter()
        run.spark = run.session()
        t1 = time.perf_counter()
        warm_session(run.spark)
        t2 = time.perf_counter()
        builds.append(t1 - t0)
        warms.append(t2 - t1)
        if i == 0:
            run.setup["session.launch_s"] = t2 - t0
    run.setup["session.build_s"] = p50(builds)
    run.setup["session.warmup_s"] = p50(warms)


def warm_session(spark) -> None:
    """One SQL aggregate with a shuffle."""
    spark.range(0, 20000, numPartitions=4).selectExpr(
        "id % 97 AS k", "id AS v"
    ).groupBy("k").sum("v").collect()


def gc_seconds(spark) -> float:
    """Total JVM garbage-collection time so far, over all collectors."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(max(b.getCollectionTime(), 0) for b in mf.getGarbageCollectorMXBeans()) / 1000.0


def cpu_ticks() -> tuple[int, int]:
    """``(steal, total)`` jiffies of all CPUs from ``/proc/stat``: time a
    hypervisor gave this VM's CPUs to other guests, and all time."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:9]]
    return vals[7], sum(vals)


def machine_info(spark) -> dict[str, Any]:
    jvm = spark.sparkContext._jvm.System
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {
        "nproc": os.cpu_count(),
        "ram_gib": round(mem_kb / 1024 / 1024, 1),
        "java": f"{jvm.getProperty('java.vm.name')} {jvm.getProperty('java.version')}",
        "spark": spark.version,
        "python": platform.python_version(),
        "master": spark.sparkContext.master,
        "driver_memory": DRIVER_MEMORY,
    }


def storage_location(root: Path) -> str:
    """The filesystem type the run's storage root lives on."""
    best, fstype = "", "unknown"
    try:
        with open("/proc/mounts") as f:
            for line in f:
                parts = line.split()
                mnt = parts[1]
                if str(root).startswith(mnt) and len(mnt) > len(best):
                    best, fstype = mnt, parts[2]
    except OSError:
        pass
    return f"{root.parent} ({fstype} at {best or '?'})"


def traced_commit_backend(tracer: Tracer, on_publish=None):
    """Install a commit backend that wraps the current default in a
    ``commit_backend.publish`` span (through the public
    ``set_commit_backend``); returns the previous backend so the caller
    can restore it. ``on_publish(final, payload, t_end)`` sees every
    successful commit."""
    from gcpde_spark.commit_backend import CommitBackend
    from gcpde_spark.txn import set_commit_backend

    class _Traced(CommitBackend):
        inner: CommitBackend

        def publish(self, final, payload, commit_id):
            with tracer.span("commit_backend.publish"):
                self.inner.publish(final, payload, commit_id)
            if on_publish is not None:
                on_publish(final, payload, time.perf_counter())

    wrapper = _Traced()
    wrapper.inner = set_commit_backend(wrapper)
    return wrapper.inner

