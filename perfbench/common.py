"""Shared plumbing: run environment, Spark session lifetime, memory,
percentiles, spans and the Spark event-log parser.

Nothing here imports pyspark or wire_spark at module load, so the pure
helpers can be self-tested without a JVM.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import platform
import shutil
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# --------------------------------------------------------------------
# percentiles
# --------------------------------------------------------------------

def _rank(p: float, n: int) -> int:
    # 1-based nearest rank; the epsilon keeps 99.9% of 10000 at 9990
    return max(1, math.ceil(p / 100.0 * n - 1e-9))


def percentile(values, p: float) -> float:
    """Nearest-rank percentile (``p`` in 0..100) of a non-empty sample."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of an empty sample")
    return float(s[_rank(p, len(s)) - 1])


def tail_percentile(n: int, ladder=(50.0, 90.0, 95.0, 99.0, 99.9)) -> float | None:
    """The highest percentile in ``ladder`` that has at least ten
    samples beyond it, or None when even the median has fewer."""
    best = None
    for p in ladder:
        if n and n - _rank(p, n) >= 10:
            best = p
    return best


def median(values) -> float:
    s = sorted(values)
    if not s:
        raise ValueError("median of an empty sample")
    m = len(s) // 2
    return float(s[m]) if len(s) % 2 else (s[m - 1] + s[m]) / 2.0


# --------------------------------------------------------------------
# spans
# --------------------------------------------------------------------

class Tracer:
    """Spans around each layer call: name, start, end, parent, request
    id.  Kept in memory; ``write`` dumps them as JSON lines.  A
    disabled tracer records nothing and costs one attribute check."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, req: str | None = None):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        with self._lock:
            sid = len(self.spans)
            self.spans.append({"id": sid, "name": name, "parent": parent,
                               "req": req if req is not None else (
                                   self.spans[parent]["req"] if parent is not None else None),
                               "start": time.perf_counter(), "end": None})
        stack.append(sid)
        try:
            yield
        finally:
            stack.pop()
            self.spans[sid]["end"] = time.perf_counter()

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def read_spans(path: str) -> list[dict]:
    """Parse a span file written by ``Tracer.write``; rejects spans
    that never ended or name a parent that is not in the file."""
    spans = []
    with open(path) as fh:
        for line in fh:
            if line.strip():
                spans.append(json.loads(line))
    ids = {s["id"] for s in spans}
    for s in spans:
        if s["end"] is None or s["end"] < s["start"]:
            raise ValueError(f"span {s['id']} ({s['name']}) has no valid end")
        if s["parent"] is not None and s["parent"] not in ids:
            raise ValueError(f"span {s['id']} names unknown parent {s['parent']}")
    return spans


# --------------------------------------------------------------------
# Spark event log
# --------------------------------------------------------------------

def _new_group() -> dict:
    return {"jobs": 0, "stages": 0, "tasks": 0, "executor_cpu_s": 0.0,
            "executor_run_s": 0.0, "gc_s": 0.0, "shuffle_write_bytes": 0,
            "shuffle_read_bytes": 0, "spill_bytes": 0, "records_read": 0}


def parse_event_log(path: str) -> dict[str, dict]:
    """Aggregate task metrics of an uncompressed Spark event log by
    job group (``spark.jobGroup.id``; jobs without one land under "").
    """
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                agg = groups.setdefault(g, _new_group())
                agg["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = g
                agg["stages"] += len(ev.get("Stage IDs", []))
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(ev.get("Stage ID"), "")
                agg = groups.setdefault(g, _new_group())
                m = ev.get("Task Metrics") or {}
                agg["tasks"] += 1
                agg["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                agg["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                agg["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                agg["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                sw = m.get("Shuffle Write Metrics") or {}
                agg["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                agg["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                agg["records_read"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
    return groups


def job_intervals(path: str) -> list[tuple[float, float]]:
    """(submission, completion) epoch seconds of every finished job."""
    start, out = {}, []
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            if ev.get("Event") == "SparkListenerJobStart":
                start[ev["Job ID"]] = ev["Submission Time"] / 1000.0
            elif ev.get("Event") == "SparkListenerJobEnd" and ev["Job ID"] in start:
                out.append((start[ev["Job ID"]], ev["Completion Time"] / 1000.0))
    return out


def sum_groups(groups: dict[str, dict], names) -> dict:
    tot = _new_group()
    for n in names:
        for k, v in groups.get(n, {}).items():
            tot[k] += v
    return tot


def find_event_log(log_dir: str) -> str:
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)
             if not f.startswith(".") and not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {files}")
    return files[0]


# --------------------------------------------------------------------
# processes and memory
# --------------------------------------------------------------------

def children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    # the command name may hold spaces: ppid follows the last ')'
                    if int(fh.read().rsplit(")", 1)[1].split()[1]) == pid:
                        out.append(int(d))
            except (OSError, IndexError, ValueError):
                continue
    return out


def process_tree(pid: int) -> list[int]:
    todo, seen = [pid], []
    while todo:
        p = todo.pop()
        seen.append(p)
        todo.extend(children(p))
    return seen


def peak_rss_mb(pids) -> float:
    """Sum of the peak resident set (VmHWM) of the given processes."""
    kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024.0


def stop_process(proc: subprocess.Popen, timeout: float = 30.0) -> None:
    """Ask a child (started with ``start_new_session=True``) to stop,
    then kill its whole process group if it lingers; always waits."""
    import signal

    if proc.poll() is None:
        with contextlib.suppress(ProcessLookupError):
            os.killpg(proc.pid, signal.SIGINT)
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            pass
    with contextlib.suppress(ProcessLookupError):
        os.killpg(proc.pid, signal.SIGKILL)
    proc.wait()
    # the group's other members (the JVM, Python workers) are not our
    # children: poll until none is left
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


# --------------------------------------------------------------------
# run environment
# --------------------------------------------------------------------

def nproc() -> int:
    return len(os.sched_getaffinity(0))


def spark_cpus() -> int:
    """Task slots for Spark: half the CPUs this process may use.  On the
    4-vCPU host the benchmark was tuned on, four CPU-bound processes get
    about 40% of a core each (wall 1.1-2.6 s for 0.6 s of CPU) while two
    run at full speed, and the JVM's compiler and GC threads, the Python
    workers and the driver need CPUs too; a full set of task threads
    made run-to-run spreads exceed 30%."""
    return max(1, nproc() // 2)


def cpu_seconds(pids) -> float:
    """User + system CPU of the given processes and of their reaped children."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in f[11:15])     # utime stime cutime cstime
        except (OSError, IndexError, ValueError):
            continue
    return total / tick


def cpu_jiffies() -> list[int]:
    """The host's aggregate CPU counters (/proc/stat: user ... steal)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_share(start: list[int]) -> float:
    """Share of all CPU time since ``start`` that the hypervisor gave to
    other guests: on a shared host it marks runs slowed from outside."""
    d = [b - a for a, b in zip(start, cpu_jiffies())]
    return d[7] / max(1, sum(d))


def driver_heap_mb() -> int:
    """A driver heap that fits the host: a quarter of RAM, at most 1 GiB.
    With 2 GiB the JVM grew its heap to a different size in every run,
    and the IQR/median of peak RSS over ten runs reached 0.28; at 1 GiB
    it was 0.09-0.16, at the same speed."""
    with open("/proc/meminfo") as fh:
        total_kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
    return max(512, min(1024, total_kb // 1024 // 4))


def cpu_model() -> str:
    with contextlib.suppress(OSError):
        with open("/proc/cpuinfo") as fh:
            for line in fh:
                if line.startswith("model name"):
                    return line.split(":", 1)[1].strip()
    return platform.processor() or "unknown"


class RunEnv:
    """Pins the environment every Spark process of a run inherits and
    owns the run's scratch directory inside the checkout."""

    def __init__(self, workload: str, seed: int):
        self.workload, self.seed = workload, seed
        self.work = os.path.join(ROOT, ".perfbench_work", f"{workload}-s{seed}-p{os.getpid()}")
        self.out = os.path.join(ROOT, ".perfbench_out", f"{workload}-s{seed}")
        shutil.rmtree(self.work, ignore_errors=True)
        for d in ("tmp", "local", "eventlog"):
            os.makedirs(os.path.join(self.work, d))
        self.cpus = spark_cpus()
        self.heap_mb = driver_heap_mb()
        self.jiffies_start = cpu_jiffies()
        self.record = {"seed": seed, "nproc": nproc(), "spark_cpus": self.cpus,
                       "cpu_model": cpu_model(),
                       "loadavg_start": os.getloadavg()[0], "driver_heap_mb": self.heap_mb,
                       "python": platform.python_version()}
        pp = os.environ.get("PYTHONPATH")
        os.environ.update({
            "SPARK_GRAFT_CPUS": str(self.cpus),
            "SPARK_GRAFT_DRIVER_MEM": f"{self.heap_mb}m",
            # Python workers import wire_spark whatever their cwd
            "PYTHONPATH": ROOT + (os.pathsep + pp if pp else ""),
            "PYSPARK_PYTHON": sys.executable,
            "SPARK_LOCAL_DIRS": os.path.join(self.work, "local"),
            "TMPDIR": os.path.join(self.work, "tmp"),
        })

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def write_spans(self, tracer: Tracer) -> None:
        """Keep a traced run's spans after the scratch directory is gone."""
        os.makedirs(self.out, exist_ok=True)
        tracer.write(os.path.join(self.out, "spans.jsonl"))

    def spark_conf(self, event_log: bool) -> dict[str, str]:
        conf = {
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.path('tmp')}",
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log:
            conf.update(event_log_conf(self.path("eventlog")))
        return conf

    def cleanup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(self.work))


def event_log_conf(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


class Session:
    """One SparkSession built through ``wire_spark.engine.get_spark``;
    ``stop`` ends the context and, with ``final``, the JVM too."""

    def __init__(self, env: RunEnv, event_log: bool = False, master: str | None = None):
        from wire_spark.engine import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(f"perfbench-{env.workload}", master=master,
                               extra_conf=env.spark_conf(event_log))
        self.spark.sparkContext.setLogLevel("ERROR")
        self.start_s = time.perf_counter() - t0
        self.sc = self.spark.sparkContext

    def jvm_pid(self) -> int:
        return self.sc._gateway.proc.pid

    def peak_rss_mb(self) -> float:
        """Driver Python plus the JVM.  Python workers are left out: how
        many of them are alive at the end of a run varies run to run."""
        import resource

        own = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        return own + peak_rss_mb([self.jvm_pid()])

    def cpu_s(self) -> float:
        """CPU seconds used so far by this process, the JVM and its workers."""
        t = os.times()
        return t.user + t.system + cpu_seconds(process_tree(self.jvm_pid()))

    def jobs_in_group(self, group: str) -> int:
        return len(self.sc.statusTracker().getJobIdsForGroup(group))

    def stop(self, final: bool = False) -> None:
        """End the context; with ``final`` also the JVM."""
        self.spark.stop()
        if final:
            shutdown_spark()


def shutdown_spark() -> None:
    """Stop any live SparkContext of this process and its gateway JVM,
    and wait until the JVM has exited.  Safe to call more than once."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    # the gateway JVM exits when its stdin closes
    with contextlib.suppress(OSError):
        proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def common_layers(session_s: float, datagen_s: float, warmup_s: float, overhead: float,
                  tot: dict, tracer: Tracer) -> dict:
    """Per-layer metrics every workload reports from its traced run."""
    return {"engine.session_s": session_s, "engine.datagen_s": datagen_s,
            "engine.warmup_s": warmup_s, "tracing_overhead": overhead,
            "spark.jobs": tot["jobs"], "spark.tasks": tot["tasks"],
            "spark.executor_cpu_s": tot["executor_cpu_s"],
            "spark.executor_run_s": tot["executor_run_s"], "spark.gc_s": tot["gc_s"],
            "spark.shuffle_bytes": tot["shuffle_write_bytes"],
            "spark.spill_bytes": tot["spill_bytes"], "trace.spans": len(tracer.spans)}
