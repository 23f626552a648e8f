"""Measurement plumbing: spans over the benchmark's own calls, Spark job
attribution from the status store, process-tree memory, and the host record.

A span sets the Spark job group to its name for the duration of the call,
so every job the calling thread starts is attributed to it. Jobs started on
another thread (the LSH entry's canary check runs on a ThreadPoolExecutor
thread, which does not inherit the job group) are attributed to the
innermost span whose time window contains the job's submission. Ops run one
at a time, so that window is unambiguous.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import subprocess
import threading
import time
from dataclasses import dataclass, field

CLK_TCK = os.sysconf("SC_CLK_TCK")


def since_process_start() -> float:
    """Seconds since this interpreter process was created (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / CLK_TCK


def _parents() -> dict[int, int]:
    """pid -> ppid for every live process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                out[int(name)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we looked
    return out


def process_tree() -> list[int]:
    """This process and all its descendants: the driver Python, the JVM it
    launched and the JVM's Python workers."""
    kids: dict[int, list[int]] = {}
    for pid, ppid in _parents().items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            return next(int(line.split()[1]) for line in f if line.startswith("Pss:"))
    except (OSError, StopIteration, IndexError, ValueError):
        return 0  # the process ended while we looked


def tree_pss_mb() -> float:
    """Resident memory of the process tree, summed as PSS: a page shared
    by n processes (a forked Python worker's pages, say) counts 1/n in
    each, so the sum counts it once."""
    return sum(_pss_kb(pid) for pid in process_tree()) / 1024


class MemSampler:
    """Peak resident memory (PSS) of the process tree, sampled every
    ``period`` s."""

    def __init__(self, period: float = 0.2):
        self.period, self.peak_mb = period, 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_pss_mb())
            self._stop.wait(self.period)

    def __enter__(self) -> "MemSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


@dataclass
class Span:
    name: str
    parent: str | None
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=dict)


class Tracer:
    """Records spans in memory; ``layer_metrics`` reads the Spark status
    store once, after the traced work, and attributes its stages."""

    def __init__(self, spark, enabled: bool):
        self.spark, self.enabled = spark, enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        s = Span(name, self._stack[-1].name if self._stack else None, time.time())
        self._stack.append(s)
        sc.setJobGroup(name, name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self.spans.append(s)
            if self._stack:
                sc.setJobGroup(self._stack[-1].name, self._stack[-1].name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def _stages(self) -> tuple[list[tuple[str | None, float, list[int]]], dict]:
        jsc = self.spark.sparkContext._jsc.sc()
        jvm = self.spark.sparkContext._jvm
        gw = self.spark.sparkContext._gateway
        # the status store is fed asynchronously from the listener bus:
        # let it take the last jobs' events before reading it
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jobs = []
        for j in _seq(store.jobsList(None)):
            g = j.jobGroup()
            sub = j.submissionTime()
            jobs.append((
                g.get() if g.isDefined() else None,
                sub.get().getTime() / 1000 if sub.isDefined() else 0.0,
                [int(x) for x in j.stageIds().mkString(",").split(",") if x],
            ))
        stages = {}
        for st in _seq(store.stageList(None, False, False, gw.new_array(jvm.double, 0), jvm.java.util.ArrayList())):
            sid = st.stageId()
            acc = stages.setdefault(sid, [0.0, 0, 0, 0])
            acc[0] += st.executorRunTime() / 1000
            acc[1] += st.shuffleWriteBytes()
            acc[2] += st.diskBytesSpilled()
            acc[3] += st.numFailedTasks()
        return jobs, stages

    def _owner(self, group: str | None, t: float) -> Span | None:
        by_name = {s.name: s for s in self.spans}
        if group in by_name:
            return by_name[group]
        inside = [s for s in self.spans if s.start <= t <= s.end]
        return max(inside, key=lambda s: s.start) if inside else None

    def layer_metrics(self, nproc: int) -> tuple[dict, dict]:
        """(per-layer metrics by name, self time per span). Span totals are
        inclusive of child spans; ``self_s`` excludes them."""
        jobs, stages = self._stages()
        own = {s.name: [0, 0.0, 0, 0, 0] for s in self.spans}  # jobs, task_s, shuffle, spill, failed
        seen: set[int] = set()
        for group, t, stage_ids in jobs:
            s = self._owner(group, t)
            if s is None:
                continue
            acc = own[s.name]
            acc[0] += 1
            for sid in stage_ids:
                if sid in seen or sid not in stages:
                    continue  # a reused stage counts once
                seen.add(sid)
                run_s, shuffle, spill, failed = stages[sid]
                acc[1] += run_s
                acc[2] += shuffle
                acc[3] += spill
                acc[4] += failed
        total = {k: list(v) for k, v in own.items()}
        for s in sorted(self.spans, key=lambda s: -s.start):  # children close before parents
            if s.parent in total:
                total[s.parent] = [a + b for a, b in zip(total[s.parent], total[s.name])]
        out, self_s = {}, {}
        for s in self.spans:
            wall = s.end - s.start
            n_jobs, task_s, shuffle, spill, failed = total[s.name]
            out[f"{s.name}.wall_s"] = (wall, "s")
            out[f"{s.name}.task_s"] = (task_s, "s")
            out[f"{s.name}.core_util"] = (task_s / (wall * nproc) if wall > 0 else 0.0, "ratio")
            out[f"{s.name}.jobs"] = (n_jobs, "count")
            out[f"{s.name}.shuffle_mb"] = (shuffle / 2**20, "MB")
            out[f"{s.name}.spill_mb"] = (spill / 2**20, "MB")
            out[f"{s.name}.failed_tasks"] = (failed, "count")
            for k, v in s.counters.items():
                out[f"{s.name}.{k}"] = v
            self_s[s.name] = wall - sum(c.end - c.start for c in self.spans if c.parent == s.name)
        return out, self_s


def _seq(xs):
    """Iterate a Scala Seq or Java List returned through py4j."""
    return (xs.apply(i) for i in range(xs.size())) if hasattr(xs, "apply") else iter(xs)


def host_record(root: str, env_used: dict) -> dict:
    import numpy
    import pyarrow
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    pkg = os.path.join(root, "music_dedupe_spark")
    h = hashlib.sha256()
    for dirpath, _, names in sorted(os.walk(pkg)):
        for name in sorted(names):
            if name.endswith(".py"):
                p = os.path.join(dirpath, name)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    try:
        commit = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_kb // 1024,
        "env": env_used,
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "git_commit": commit,
        "package_sha256": h.hexdigest(),
    }
