"""Machinery shared by the workloads: statistics, tracing spans, memory
and CPU of the whole process tree, and the result line.

Nothing here is imported by bioio_spark; the benchmark measures the
library from outside, by timing calls into its public functions.
"""

from __future__ import annotations

import json
import math
import os
import re
import threading
import time
from contextlib import contextmanager

METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")
MIN_BEYOND = 10


class TooFewSamples(ValueError):
    """A percentile was asked of a sample too small to support it."""


def percentile(values, q: float) -> float:
    """Nearest-rank percentile `q` (0 < q < 1) of `values`.

    Refused unless at least MIN_BEYOND samples lie beyond the rank: a
    tail read from a handful of samples moves from run to run by more
    than any change worth detecting.
    """
    n = len(values)
    rank = max(1, math.ceil(q * n))
    if n - rank < MIN_BEYOND:
        raise TooFewSamples(
            f"p{q * 100:g} of {n} samples has {n - rank} beyond it; "
            f"need {MIN_BEYOND}")
    return sorted(values)[rank - 1]


def ranked_latencies(ops) -> list[float]:
    """Latencies with every failed op charged the slowest op's wall time
    on top of its own, so a failed op ranks after every success and
    fixing a wrong result never reads as a slowdown."""
    penalty = max(o["latency_s"] for o in ops)
    return [o["latency_s"] + (0.0 if o["ok"] else penalty) for o in ops]


def mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


# -- tracing ----------------------------------------------------------------

def abba(k: int) -> bool:
    """Whether op `k` of a traced run is traced: T U U T, repeated, so a
    latency trend through the run (JIT warm-up) cancels out of the
    traced / untraced ratio."""
    return k % 4 in (0, 3)


class Tracer:
    """Spans around the benchmark's calls into the library.

    A span records its name, start, end, parent span, op id, and the
    Spark jobs, tasks and stage metrics run under a job group set for
    the span's duration. Spans stay in memory; `resolve` reads the Spark
    counts after each op, outside its timed region, and `write` dumps
    the spans when the run ends. A tracer built with `enabled=False`
    does nothing at all, so untraced runs carry no tracing.
    """

    def __init__(self, spark=None, enabled: bool = False):
        self.enabled = bool(enabled and spark is not None)
        self.spans: list[dict] = []
        self._sc = spark.sparkContext if self.enabled else None
        self._stack: list[dict] = []
        self._active = False
        self._op = None
        self._next = 0
        self._seen_stages: set[int] = set()
        self._pending: list[dict] = []

    @contextmanager
    def op(self, op_id, traced: bool = True):
        """The root span of one op; spans inside it are recorded only
        when `traced` (the traced run interleaves traced and untraced
        ops to measure what tracing costs)."""
        self._active = self.enabled and traced
        self._op = op_id
        try:
            with self.span("op") as rec:
                yield rec
        finally:
            self._active = False
            self._op = None

    @contextmanager
    def span(self, name: str):
        if not self._active:
            yield None
            return
        rec = {"id": self._next, "name": name, "op": self._op,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "groups": [f"perfbench-span-{self._next}"]}
        self._next += 1
        self._stack.append(rec)
        self._sc.setJobGroup(rec["groups"][0], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self._sc.setJobGroup(self._stack[-1]["groups"][0],
                                     self._stack[-1]["name"])
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(rec)
            self._pending.append(rec)

    def resolve(self) -> None:
        """Attach Spark counts to the spans finished since the last call.
        A stage shared by several jobs is counted once, for the first
        span that ran it."""
        if not self.enabled:
            return
        tracker = self._sc.statusTracker()
        store = self._sc._jsc.sc().statusStore()
        for rec in self._pending:
            c = dict(jobs=0, tasks=0, run_ms=0, cpu_ns=0, gc_ms=0,
                     shuffle_bytes=0, spill_bytes=0)
            for group in rec["groups"]:
                for jid in tracker.getJobIdsForGroup(group):
                    c["jobs"] += 1
                    info = tracker.getJobInfo(jid)
                    for sid in (info.stageIds if info else ()):
                        if sid in self._seen_stages:
                            continue
                        self._seen_stages.add(sid)
                        try:
                            sd = store.lastStageAttempt(sid)
                        except Exception:  # py4j: stage never attempted
                            continue
                        c["tasks"] += sd.numCompleteTasks()
                        c["run_ms"] += sd.executorRunTime()
                        c["cpu_ns"] += sd.executorCpuTime()
                        c["gc_ms"] += sd.jvmGcTime()
                        c["shuffle_bytes"] += (sd.shuffleReadBytes()
                                               + sd.shuffleWriteBytes())
                        c["spill_bytes"] += (sd.memoryBytesSpilled()
                                             + sd.diskBytesSpilled())
            rec.update(c)
        self._pending = []

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def self_time(self, rec: dict) -> float:
        """Span duration minus the part its direct children cover."""
        kids = [s for s in self.spans if s["parent"] == rec["id"]]
        return (rec["end"] - rec["start"]
                - sum(k["end"] - k["start"] for k in kids))

    def layer_metrics(self, names) -> dict:
        """`<name>.s` (mean wall time per call, build plus action),
        `<name>.jobs` and `<name>.tasks` (mean per call) for each name.
        A name with no spans reads 0: the layer was idle."""
        out = {}
        for name in names:
            spans = self.by_name(name)
            out[f"{name}.s"] = (mean(s["end"] - s["start"] for s in spans),
                                "s")
            out[f"{name}.jobs"] = (mean(s["jobs"] for s in spans), "count")
            out[f"{name}.tasks"] = (mean(s["tasks"] for s in spans),
                                    "count")
        return out

    def op_metrics(self) -> dict:
        """Stage work per traced op, summed over the op's spans, and the
        op's self time (benchmark code between the calls)."""
        ops = self.by_name("op")
        n = max(1, len(ops))
        total = {k: sum(s.get(k, 0) for s in self.spans)
                 for k in ("run_ms", "cpu_ns", "gc_ms", "shuffle_bytes",
                           "spill_bytes")}
        return {
            "jvm.task_s": (total["run_ms"] / 1e3 / n, "s"),
            "jvm.cpu_s": (total["cpu_ns"] / 1e9 / n, "s"),
            "jvm.gc_s": (total["gc_ms"] / 1e3 / n, "s"),
            "jvm.shuffle_mb": (total["shuffle_bytes"] / 2**20 / n, "MB"),
            "jvm.spill_mb": (total["spill_bytes"] / 2**20 / n, "MB"),
            "op.self_s": (mean(self.self_time(s) for s in ops), "s"),
        }

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


# -- memory and CPU of the whole process tree ---------------------------------

def _tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    pids, todo = [], [root]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        todo.extend(children.get(pid, ()))
    return pids


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _cpu_ticks(pid: int) -> int:
    """User plus system CPU time of one process, in clock ticks."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    return int(fields[11]) + int(fields[12])


def host_steal() -> tuple[int, int]:
    """(steal, total) clock ticks of the host's CPUs so far: time a
    virtual CPU was ready to run but the hypervisor ran someone else."""
    with open("/proc/stat") as f:
        ticks = [int(v) for v in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


class TreeUsage:
    """Peak resident memory and CPU time of this process and every
    descendant (the JVM and Spark's Python workers), polled in a thread.

    Peak memory is the largest sum, over one poll, of the VmHWM of the
    processes alive at that poll: a Python worker that exits and is
    replaced does not count twice. CPU time keeps the last value seen
    for a process that exits."""

    def __init__(self, interval_s: float = 0.25):
        self._interval = interval_s
        self._peak_kb = 0
        self._cpu: dict[int, int] = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        pids = _tree_pids(os.getpid())
        kb = sum(_vm_hwm_kb(pid) for pid in pids)
        ticks = {pid: _cpu_ticks(pid) for pid in pids}
        with self._lock:
            self._peak_kb = max(self._peak_kb, kb)
            for pid, t in ticks.items():
                self._cpu[pid] = max(t, self._cpu.get(pid, 0))

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            self._sample()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def cpu_s(self) -> float:
        """CPU seconds the tree has used so far."""
        self._sample()
        with self._lock:
            return sum(self._cpu.values()) / os.sysconf("SC_CLK_TCK")

    def peak_mb(self) -> float:
        with self._lock:
            return self._peak_kb / 1024.0


# -- result line --------------------------------------------------------------

def process_start_time() -> float:
    """This process's start as a time.time() value, from /proc."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f
                     if line.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def result_line(attempted: int, failed: int, unexpected: int,
                metrics: dict) -> str:
    """The JSON result. `correct` is false when any op failed in a way
    the workload does not list as a known defect of the library; known
    failures still count in `failed`."""
    out = {}
    for name, (value, unit) in metrics.items():
        if not METRIC_NAME.fullmatch(name):
            raise ValueError(f"bad metric name {name!r}")
        if not UNIT.fullmatch(unit):
            raise ValueError(f"bad unit {unit!r} for {name}")
        value = float(value)
        if not math.isfinite(value):
            raise ValueError(f"{name} is not finite: {value}")
        out[name] = {"value": value, "unit": unit}
    return json.dumps({"correct": unexpected == 0 and attempted > 0,
                       "attempted": int(attempted), "failed": int(failed),
                       "metrics": out})
