"""Run one workload: set up the session, time passes, check outputs,
summarize end-to-end or per-layer metrics.

Load shape: one process, `local[nproc]`, closed loop. Each operation
starts when the previous one has returned; the only concurrency is
Spark's task slots and the LLM client's asyncio requests.

A run (`--trace 0`):
1. cold set-up: process start -> `get_spark()` returned -> the Python
   worker pool has spawned;
2. inputs are generated from the seed and oracles computed (untimed),
   then the peak-RSS marks of the process tree are reset, so that
   `peak_rss_mb` covers the program's passes only;
3. pass 0 is the cold pass;
4. warm passes run until `--seconds` of them have, at least `MIN_WARM`.

A traced run (`--trace 1`) does 1-4 with tracing off, restarts the
session with the event log on and repeats the warm passes with spans
and counters, then one split pass that runs each query's final plan
into a noop sink before collecting it.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field

from perfbench.probes import (
    LlmCounters,
    ProcTree,
    Spans,
    attribute_jobs,
    process_age_s,
    read_event_log,
    span_ancestry,
)

MIN_WARM = 1
DRIVER_MEM = "2g"


def _identity(batches):
    yield from batches


@dataclass
class OpRecord:
    name: str
    pass_no: int
    wall: float
    ok: bool
    error: str = ""


@dataclass
class PassRecord:
    pass_no: int
    wall: float
    cpu: dict
    traced: bool
    split: bool = False
    first_span: int = 0
    last_span: int = 0


@dataclass
class Bench:
    """State of one benchmark run, handed to the workload."""

    root: str
    workload_name: str
    seed: int
    seconds: int
    trace: bool
    work: str = ""
    spark: object = None
    spans: Spans = field(default_factory=Spans)
    tree: ProcTree = field(default_factory=ProcTree)
    setups: list = field(default_factory=list)
    ops: list = field(default_factory=list)
    passes: list = field(default_factory=list)
    checks: list = field(default_factory=list)
    known_failures: dict = field(default_factory=dict)
    counters: LlmCounters | None = None
    pass_no: int = 0
    split_pass: bool = False
    event_log: str = ""
    peak_rss_mb: float = 0.0
    job_log: list = field(default_factory=list)
    master: str = ""
    untimed_s: float = 0.0
    untimed_cpu: dict = field(default_factory=dict)

    # --- environment and session -------------------------------------

    def configure_env(self) -> None:
        """Everything the session and its workers inherit. Must run
        before pyspark launches the JVM."""
        self.work = os.path.join(self.root, ".perfbench", f"run-{os.getpid()}")
        for sub in ("tmp", "local", "warehouse", "eventlog", "data"):
            os.makedirs(os.path.join(self.work, sub), exist_ok=True)
        nproc = len(os.sched_getaffinity(0))
        pypath = os.environ.get("PYTHONPATH", "")
        os.environ.update({
            # workers import the package (and this benchmark's client
            # factory) from any working directory
            "PYTHONPATH": self.root + (os.pathsep + pypath if pypath else ""),
            "SPARK_GRAFT_CPUS": str(nproc),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "TMPDIR": os.path.join(self.work, "tmp"),
            "SPARK_LOCAL_DIRS": os.path.join(self.work, "local"),
            # spark-submit's launcher JVM: no perf-data file under /tmp
            "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={self.work}/tmp",
        })
        import tempfile

        tempfile.tempdir = None  # re-read TMPDIR

    def env_record(self) -> dict:
        return {
            "nproc": len(os.sched_getaffinity(0)),
            "master": self.master,
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "SPARK_GRAFT_DRIVER_MEM": os.environ["SPARK_GRAFT_DRIVER_MEM"],
            "PYTHONPATH": os.environ["PYTHONPATH"],
            "seed": self.seed,
            "seconds": self.seconds,
            "trace": int(self.trace),
            "loadavg": [round(x, 2) for x in os.getloadavg()],
            "commit": _commit(self.root),
            "python": sys.version.split()[0],
        }

    def start_session(self, event_log: bool = False) -> None:
        """`get_spark()` plus one job that spawns every Python worker.
        Appends (session_s, worker_spawn_s) to ``self.setups``; the
        first call in a process counts from process start."""
        cold = self.spark is None and not self.setups
        t0 = time.perf_counter()
        age0 = process_age_s() if cold else 0.0
        from gov_data_pipeline_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={self.work}/tmp -XX:-UsePerfData"
            ),
            "spark.local.dir": f"{self.work}/local",
            "spark.sql.warehouse.dir": f"{self.work}/warehouse",
        }
        if event_log:
            self.event_log = f"{self.work}/eventlog"
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{self.event_log}",
                # Spark 4.1 defaults to zstd; keep the log readable
                # without a zstd module
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        with self.spans.span("session.get_spark"):
            self.spark = get_spark(app_name=f"perfbench-{self.workload_name}", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.master = self.spark.sparkContext.master
        t1 = time.perf_counter()
        n = int(os.environ["SPARK_GRAFT_CPUS"])
        with self.spans.span("session.worker_spawn"):
            self.spark.range(n).repartition(n).mapInPandas(_identity, "id long").collect()
        t2 = time.perf_counter()
        session_s = (t1 - t0) + age0
        self.setups.append({"session_s": session_s, "worker_spawn_s": t2 - t1,
                            "setup_s": session_s + (t2 - t1), "cold": cold})

    def restart(self, event_log: bool = False) -> None:
        self.stop_session()
        self.start_session(event_log)

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    # --- operations --------------------------------------------------

    def op(self, name: str, fn, check=None):
        """Time ``fn()`` as one operation; run ``check(result)`` untimed.
        An exception or a failed check counts the operation as failed."""
        t0 = time.perf_counter()
        try:
            with self.spans.span("op", op=name, pass_no=self.pass_no):
                result = fn()
            wall = time.perf_counter() - t0
        except Exception as e:  # noqa: BLE001 - a failed op is a measurement
            wall = time.perf_counter() - t0
            self.ops.append(OpRecord(name, self.pass_no, wall, False, _err(e)))
            traceback.print_exc(file=sys.stderr)
            return None
        ok, err = True, ""
        if check is not None:
            with self.untimed():
                try:
                    problem = check(result)
                except Exception as e:  # noqa: BLE001
                    problem = _err(e)
                    traceback.print_exc(file=sys.stderr)
            if problem:
                ok, err = False, f"check: {problem}"
                print(f"perfbench: {name} pass {self.pass_no}: {err}", file=sys.stderr)
        self.ops.append(OpRecord(name, self.pass_no, wall, ok, err))
        return result

    @contextmanager
    def untimed(self):
        """Output checks inside a pass: their wall time and their CPU
        time per role are subtracted from the pass, and the Spark jobs
        they start (under the `check` span) are left out of the
        per-layer metrics."""
        t0, c0 = time.perf_counter(), self.tree.cpu()
        try:
            with self.spans.span("check"):
                yield
        finally:
            self.untimed_s += time.perf_counter() - t0
            c1 = self.tree.cpu()
            for k in c1:
                self.untimed_cpu[k] = self.untimed_cpu.get(k, 0.0) + c1[k] - c0[k]

    def add_op(self, name: str, wall: float, ok: bool, error: str = "") -> None:
        """Record an operation timed by the program itself (micro-batches)."""
        self.ops.append(OpRecord(name, self.pass_no, wall, ok, error))

    def check(self, name: str, problem: str | None) -> None:
        """A whole-pass output check (e.g. a streaming sink's output)."""
        self.checks.append({"name": name, "pass_no": self.pass_no, "ok": not problem,
                            "problem": problem or ""})
        if problem:
            print(f"perfbench: check {name} pass {self.pass_no}: {problem}", file=sys.stderr)

    def run_pass(self, workload, traced: bool, split: bool = False) -> PassRecord:
        self.split_pass = split
        first = len(self.spans.items)
        self.untimed_s, self.untimed_cpu = 0.0, {}
        cpu0 = self.tree.cpu()
        t0 = time.perf_counter()
        with self.spans.span("pass", pass_no=self.pass_no, traced=traced, split=split):
            workload.run_pass(self)
        wall = time.perf_counter() - t0 - self.untimed_s
        cpu1 = self.tree.cpu()
        cpu = {k: cpu1[k] - cpu0[k] - self.untimed_cpu.get(k, 0.0) for k in cpu1}
        rec = PassRecord(self.pass_no, wall, cpu, traced, split, first, len(self.spans.items))
        self.passes.append(rec)
        workload.after_pass(self)
        self.pass_no += 1
        return rec

    def warm_passes(self, workload, traced: bool) -> list[PassRecord]:
        out: list[PassRecord] = []
        t0 = time.perf_counter()
        while len(out) < MIN_WARM or time.perf_counter() - t0 < self.seconds:
            out.append(self.run_pass(workload, traced))
        return out


def _stop_jvm() -> None:
    """Shut the py4j gateway down and wait for the JVM to exit (it
    would otherwise outlive this process by a moment)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits when stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _err(e: BaseException) -> str:
    return f"{type(e).__name__}: {e}".splitlines()[0][:300]


def _commit(root: str) -> str:
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "unknown"


def end_to_end(b: Bench, workload, warm: list[PassRecord]) -> tuple[dict, dict]:
    """The end-to-end metrics (name -> (value, unit)) and report extras."""
    warm_nos = {p.pass_no for p in warm}
    warm_ops = [o.wall for o in b.ops if o.pass_no in warm_nos and o.ok]
    pass_s = statistics.median(p.wall for p in warm)
    metrics = {
        "setup_s": (b.setups[0]["setup_s"], "s"),
        "first_pass_s": (b.passes[0].wall, "s"),
        "pass_s": (pass_s, "s"),
        "op_p50_s": (statistics.median(warm_ops), "s"),
        "rows_per_s": (workload.input_rows / pass_s, "rows/s"),
        "cpu_s": (statistics.median(p.cpu["total"] for p in warm), "s"),
        "peak_rss_mb": (b.peak_rss_mb, "MB"),
    }
    extras = {"op_samples": len(warm_ops), "warm_passes": len(warm), "input_rows_per_pass": workload.input_rows}
    return metrics, extras


def per_layer(b: Bench, workload, traced: list[PassRecord], split: PassRecord | None,
              untraced_pass_s: float) -> dict:
    """Per-layer metrics (per traced pass) from the event log, /proc,
    the spans and the injected client's accumulators."""
    jobs, stages = read_event_log(b.event_log)
    attribute_jobs(jobs, b.spans)
    b.job_log = [{"job": j.job_id, "span": j.span, "submit": j.submit, "end": j.end,
                  "stages": j.stage_names} for j in jobs.values()]
    n = len(traced)
    traced_spans = set()
    for p in traced:
        traced_spans.update(range(p.first_span, p.last_span))

    def under(job, name: str) -> bool:
        return name in span_ancestry(b.spans, job.span)

    # the benchmark's own output checks are not the program's work
    tjobs = [j for j in jobs.values() if j.span in traced_spans and not under(j, "check")]
    tstages = [stages[s] for j in tjobs for s in j.stage_ids if s in stages]

    def ssum(attr: str) -> float:
        return sum(getattr(s, attr) for s in tstages) / n

    def dur(job) -> float:
        return max(0.0, job.end - job.submit)

    qjobs = [j for j in tjobs if under(j, "queries.construct") or under(j, "queries.collect")]

    first = b.setups[0]
    m: dict[str, tuple[float, str]] = {
        "session.start_s": (first["session_s"], "s"),
        "session.worker_spawn_s": (first["worker_spawn_s"], "s"),
        "catalog.schema_jobs": (
            sum(1 for j in tjobs if under(j, "queries.construct") and _is_schema_job(j)) / n,
            "count"),
        "catalog.scan_rows": (ssum("in_rows"), "count"),
        "catalog.scan_bytes": (ssum("in_bytes"), "bytes"),
        "queries.construct_s": (sum(s.end - s.start for p in traced
                                    for s in b.spans.items[p.first_span:p.last_span]
                                    if s.name == "queries.construct") / n, "s"),
        "queries.construct_jobs": (sum(1 for j in tjobs if under(j, "queries.construct")) / n,
                                   "count"),
        "queries.final_jobs": (sum(1 for j in tjobs if under(j, "queries.collect")) / n,
                               "count"),
        "queries.stages": (sum(len(j.stage_ids) for j in qjobs) / n, "count"),
        "queries.tasks": (sum(stages[s].tasks for j in qjobs for s in j.stage_ids if s in stages)
                          / n, "count"),
        "util.pin_jobs": (sum(1 for j in tjobs if _is_pin_job(j)) / n, "count"),
        "util.pin_s": (sum(dur(j) for j in tjobs if _is_pin_job(j)) / n, "s"),
        "spark.exec_run_s": (ssum("run_s"), "s"),
        "spark.exec_cpu_s": (ssum("cpu_s"), "s"),
        "spark.gc_s": (ssum("gc_s"), "s"),
        "spark.shuffle_write_bytes": (ssum("shuffle_write"), "bytes"),
        "spark.shuffle_read_bytes": (ssum("shuffle_read"), "bytes"),
        "spark.fetch_wait_s": (ssum("fetch_wait_s"), "s"),
        "spark.spill_bytes": (ssum("spill"), "bytes"),
        "cpu.py_workers_s": (sum(p.cpu["py_workers"] for p in traced) / n, "s"),
        "cpu.driver_py_s": (sum(p.cpu["driver_py"] for p in traced) / n, "s"),
        "cpu.jvm_s": (sum(p.cpu["jvm"] for p in traced) / n, "s"),
    }
    execute_s = collect_s = 0.0
    if split is not None:
        sp = b.spans.items[split.first_span:split.last_span]
        execute_s = sum(s.end - s.start for s in sp if s.name == "queries.execute")
        collect_s = sum(s.end - s.start for s in sp if s.name == "queries.collect") - execute_s
    m["queries.execute_s"] = (execute_s, "s")
    m["queries.collect_s"] = (collect_s, "s")
    m.update(workload.layer_metrics(b, traced, tjobs, dur, under))
    traced_pass_s = statistics.median(p.wall for p in traced)
    m["tracing.overhead_s"] = (traced_pass_s - untraced_pass_s, "s")
    from perfbench.workloads import LAYER_METRICS

    # every per-layer metric on every workload; a layer never entered reads 0
    return {name: m.get(name, (0.0, unit)) for name, unit in LAYER_METRICS.items()}


def _is_pin_job(job) -> bool:
    return any(s.startswith("localCheckpoint") for s in job.stage_names)


def _is_schema_job(job) -> bool:
    """Parquet footer/schema jobs the catalog's reads start while a
    query is being built (no data rows; named after the reader)."""
    return all(s.startswith(("parquet at", "load at", "listLeafFiles"))
               for s in job.stage_names) and bool(job.stage_names)


def run(root: str, workload_name: str, seed: int, seconds: int, trace: bool,
        out: str = "") -> int:
    b = Bench(root, workload_name, seed, seconds, trace)
    b.configure_env()  # before anything imports the package's session module
    from perfbench.workloads import WORKLOADS

    workload = WORKLOADS[workload_name](seed)
    try:
        b.start_session()
        with b.spans.span("prepare"):
            workload.prepare(b)
        b.tree.reset_peak()
        b.run_pass(workload, traced=False)
        warm = b.warm_passes(workload, traced=False)
        b.peak_rss_mb = b.tree.peak_rss_mb()
        untraced_pass_s = statistics.median(p.wall for p in warm)
        layer = None
        if trace:
            b.restart(event_log=True)
            b.counters = LlmCounters.create(b.spark.sparkContext)
            workload.on_session(b)
            traced = b.warm_passes(workload, traced=True)
            split = b.run_pass(workload, traced=True, split=True) if workload.has_split else None
            b.stop_session()  # flushes the event log
            layer = per_layer(b, workload, traced, split, untraced_pass_s)
        b.stop_session()
        e2e, extras = end_to_end(b, workload, warm)
    finally:
        b.stop_session()
        _stop_jvm()
        shutil.rmtree(b.work, ignore_errors=True)
    failed = sum(1 for o in b.ops if not o.ok) + sum(1 for c in b.checks if not c["ok"])
    attempted = len(b.ops) + len(b.checks)
    report = {
        "workload": workload_name,
        "env": b.env_record(),
        "error_rate": failed / max(1, attempted),
        "known_failures": b.known_failures,
        **extras,
        "setups": b.setups,
        "passes": [{"pass_no": p.pass_no, "wall": round(p.wall, 4),
                    "cpu": {k: round(v, 3) for k, v in p.cpu.items()},
                    "traced": p.traced, "split": p.split} for p in b.passes],
        "failures": [o.__dict__ for o in b.ops if not o.ok] + [c for c in b.checks if not c["ok"]],
    }
    metrics = layer if trace else e2e
    _print_report(report, e2e, layer)
    artifact = _write_artifact(b, workload, report, e2e, layer)
    print(f"perfbench: trace artifact {artifact}", file=sys.stderr)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    if out:
        with open(out, "a") as fh:
            fh.write(json.dumps({"workload": workload_name, "seed": seed, "trace": int(trace),
                                 "result": result}) + "\n")
    print(json.dumps(result))
    return 0


def _print_report(report: dict, e2e: dict, layer: dict | None) -> None:
    env = report["env"]
    print(f"perfbench workload={report['workload']} seed={env['seed']} {env['master']} "
          f"loadavg={env['loadavg']} commit={env['commit'][:12]}")
    for name, (v, u) in e2e.items():
        print(f"  {name:<34} {v:>14.4f} {u}")
    print(f"  {'error_rate':<34} {report['error_rate']:>14.4f} ratio  "
          f"({report['op_samples']} warm ops)")
    for name, why in report["known_failures"].items():
        print(f"  known failure {name}: {why}")
    for name, (v, u) in (layer or {}).items():
        print(f"  {name:<34} {v:>14.4f} {u}")
    print(json.dumps({"perfbench_report": report}))


def _write_artifact(b: Bench, workload, report, e2e, layer) -> str:
    out_dir = os.path.join(b.root, ".perfbench")
    path = os.path.join(out_dir, f"trace-{b.workload_name}-seed{b.seed}-t{int(b.trace)}.json")
    doc = {
        "report": report,
        "end_to_end": e2e,
        "per_layer": layer,
        "ops": [o.__dict__ for o in b.ops],
        "checks": b.checks,
        "spans": b.spans.dump(),
        "jobs": b.job_log,
        "breakdown": workload.breakdown(b),
    }
    with open(path, "w") as fh:
        json.dump(doc, fh)
    return path
