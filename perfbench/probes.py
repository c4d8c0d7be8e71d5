"""Measurement taken from outside the program.

- `ProcTree`: CPU time and peak RSS of this process and every process
  it started (the Spark JVM, its Python worker daemon and the forked
  workers), read from `/proc` and split by role; the peak marks can be
  reset through `/proc/<pid>/clear_refs`.
- `Spans`: the benchmark's own spans around each call into a layer,
  kept in memory and written to the trace artifact at exit.
- `read_event_log` / `attribute_jobs`: Spark's event log, with each job
  attributed to the innermost span open at its submission time.
- `LatencyClientFactory`: the LLM client injected through the
  pipelines' public `client_factory` parameter. It wraps the
  deterministic `MockLLMClient` with a fixed simulated provider latency
  and, in traced runs, counts requests with Spark accumulators.
"""

from __future__ import annotations

import asyncio
import glob
import json
import os
import time
from dataclasses import dataclass, field

from pyspark.accumulators import AccumulatorParam

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def process_age_s() -> float:
    """Seconds since this process started (10 ms resolution)."""
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    return uptime - start_ticks / _CLK_TCK


def _stat(pid: int) -> tuple[int, str, float] | None:
    """(ppid, comm, cpu seconds incl. reaped children) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    f = raw.rsplit(")", 1)[1].split()
    cpu = sum(int(x) for x in f[11:15]) / _CLK_TCK  # utime stime cutime cstime
    return int(f[1]), comm, cpu


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class ProcTree:
    """The process tree rooted at this process, split into three roles:
    `driver_py` (this interpreter), `jvm` (the Spark driver JVM and its
    launcher) and `py_workers` (Python processes under the JVM).

    A finished child's CPU time moves into its parent's `cutime` when
    it is reaped, so summing utime+stime+cutime+cstime over the live
    tree is monotone and deltas between two snapshots are exact."""

    def __init__(self) -> None:
        self.root = os.getpid()

    def _members(self) -> dict[int, tuple[str, float]]:
        procs: dict[int, tuple[int, str, float]] = {}
        for entry in os.listdir("/proc"):
            if entry.isdigit():
                st = _stat(int(entry))
                if st is not None:
                    procs[int(entry)] = st
        roles: dict[int, tuple[str, float]] = {}
        for pid, (ppid, comm, cpu) in procs.items():
            chain, p = [], pid
            while p in procs and p != self.root and len(chain) < 64:
                chain.append(procs[p][1])
                p = procs[p][0]
            if p != self.root:
                continue
            if pid == self.root:
                role = "driver_py"
            elif any(c == "java" for c in chain[1:]) and comm.startswith("python"):
                role = "py_workers"
            else:
                role = "jvm"
            roles[pid] = (role, cpu)
        return roles

    def cpu(self) -> dict[str, float]:
        """Cumulative CPU seconds per role, plus `total`."""
        out = {"driver_py": 0.0, "jvm": 0.0, "py_workers": 0.0}
        for role, cpu in self._members().values():
            out[role] += cpu
        out["total"] = sum(out.values())
        return out

    def peak_rss_mb(self) -> float:
        """Sum of per-process VmHWM over the live tree."""
        return sum(_hwm_kb(pid) for pid in self._members()) / 1024.0

    def reset_peak(self) -> None:
        """Set every live member's VmHWM back to its current RSS."""
        for pid in self._members():
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as fh:
                    fh.write("5")
            except OSError:
                pass  # the process has ended


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)


class Spans:
    """In-memory span recorder; `with spans.span("layer.call"):`."""

    def __init__(self) -> None:
        self.items: list[Span] = []
        self._stack: list[int] = []

    def span(self, name: str, **attrs):
        return _SpanCtx(self, name, attrs)

    def dump(self) -> list[dict]:
        return [
            {"id": i, "name": s.name, "start": round(s.start, 6), "end": round(s.end, 6),
             "parent": s.parent, **s.attrs}
            for i, s in enumerate(self.items)
        ]


class _SpanCtx:
    def __init__(self, spans: Spans, name: str, attrs: dict) -> None:
        self.spans, self.name, self.attrs = spans, name, attrs

    def __enter__(self) -> Span:
        parent = self.spans._stack[-1] if self.spans._stack else None
        self.spans.items.append(Span(self.name, time.time(), parent=parent, attrs=self.attrs))
        self.idx = len(self.spans.items) - 1
        self.spans._stack.append(self.idx)
        return self.spans.items[self.idx]

    def __exit__(self, *exc) -> None:
        self.spans.items[self.idx].end = time.time()
        self.spans._stack.pop()


# --- Spark event log -------------------------------------------------------


@dataclass
class Job:
    job_id: int
    submit: float  # epoch seconds
    end: float = 0.0
    stage_ids: list[int] = field(default_factory=list)
    stage_names: list[str] = field(default_factory=list)
    span: int | None = None


@dataclass
class StageStats:
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write: int = 0
    shuffle_read: int = 0
    fetch_wait_s: float = 0.0
    spill: int = 0
    in_rows: int = 0
    in_bytes: int = 0


def read_event_log(log_dir: str) -> tuple[dict[int, Job], dict[int, StageStats]]:
    """Jobs and per-stage task totals from every event log file under
    ``log_dir`` (written uncompressed: `spark.eventLog.compress=false`)."""
    jobs: dict[int, Job] = {}
    stages: dict[int, StageStats] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if not os.path.isfile(path):
            continue
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    infos = ev.get("Stage Infos") or []
                    jobs[ev["Job ID"]] = Job(
                        ev["Job ID"],
                        ev["Submission Time"] / 1000.0,
                        stage_ids=[s["Stage ID"] for s in infos],
                        stage_names=[s.get("Stage Name", "") for s in infos],
                    )
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    st = stages.setdefault(ev["Stage ID"], StageStats())
                    st.tasks += 1
                    st.run_s += m.get("Executor Run Time", 0) / 1000.0
                    st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    st.gc_s += m.get("JVM GC Time", 0) / 1000.0
                    sw = m.get("Shuffle Write Metrics") or {}
                    st.shuffle_write += sw.get("Shuffle Bytes Written", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    st.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    st.fetch_wait_s += sr.get("Fetch Wait Time", 0) / 1000.0
                    st.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    im = m.get("Input Metrics") or {}
                    st.in_rows += im.get("Records Read", 0)
                    st.in_bytes += im.get("Bytes Read", 0)
    return jobs, stages


def attribute_jobs(jobs: dict[int, Job], spans: Spans) -> None:
    """Set ``job.span`` to the innermost span open at submission time.

    Job descriptions are not used: queries overwrite and clear them, and
    call sites read ``localCheckpoint at NativeMethodAccessorImpl``."""
    items = spans.items
    for job in jobs.values():
        best = None
        for i, s in enumerate(items):
            if s.start <= job.submit <= (s.end or float("inf")):
                if best is None or s.start >= items[best].start:
                    best = i
        job.span = best


def span_ancestry(spans: Spans, idx: int | None) -> list[str]:
    """Names of a span and all its parents, innermost first."""
    out = []
    while idx is not None:
        out.append(spans.items[idx].name)
        idx = spans.items[idx].parent
    return out


# --- injected LLM client ---------------------------------------------------


class MaxParam(AccumulatorParam):
    def zero(self, value):
        return 0

    def addInPlace(self, a, b):
        return max(a, b)


@dataclass
class LlmCounters:
    """Accumulators the injected client adds to from the executors."""

    requests: object
    wait_s: object
    in_flight_max: object

    @classmethod
    def create(cls, sc) -> "LlmCounters":
        return cls(sc.accumulator(0), sc.accumulator(0.0), sc.accumulator(0, MaxParam()))

    def read(self) -> dict[str, float]:
        return {
            "requests": self.requests.value,
            "wait_s": self.wait_s.value,
            "in_flight_max": self.in_flight_max.value,
        }


class LatencyClient:
    """`MockLLMClient` behind a fixed simulated provider latency. The
    wait is an asyncio sleep, so concurrent requests overlap on the
    task's event loop the way network calls do."""

    def __init__(self, latency_s: float, counters: LlmCounters | None) -> None:
        from gov_data_pipeline_spark.llm import MockLLMClient

        self.mock = MockLLMClient()
        self.latency_s = latency_s
        self.counters = counters
        self.in_flight = 0

    async def complete(self, request) -> str:
        self.in_flight += 1
        t0 = time.perf_counter()
        try:
            if self.counters is not None:
                self.counters.requests.add(1)
                self.counters.in_flight_max.add(self.in_flight)
            await asyncio.sleep(self.latency_s)
            return await self.mock.complete(request)
        finally:
            self.in_flight -= 1
            if self.counters is not None:
                self.counters.wait_s.add(time.perf_counter() - t0)


@dataclass
class LatencyClientFactory:
    """Picklable `client_factory`: called once per partition on the
    executor, as the pipelines' contract says."""

    latency_s: float
    counters: LlmCounters | None = None

    def __call__(self) -> LatencyClient:
        return LatencyClient(self.latency_s, self.counters)
