"""Run-scoped plumbing shared by the workloads: the Spark session and its
JVM, repeated set-up, span tracing and Spark REST counters.

Everything here is owned by one :class:`Run`; nothing is module state.
"""

from __future__ import annotations

import datetime as dt
import itertools
import json
import math
import os
import shutil
import statistics
import threading
import time
import urllib.request
from contextlib import contextmanager

SETUPS = 3                 # set-ups per run; setup_s is their median
DRIVER_MEMORY = "3g"       # local mode: the driver JVM is the whole engine
# A timed operation during which the hypervisor gave more than this share
# of the VM's CPU time to other guests measures the host, not the program.
STEAL_MAX = 0.02


def steal_s() -> float:
    """CPU seconds the hypervisor gave to other guests, summed over this
    VM's CPUs since boot (the steal column of /proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def uncontended(samples: list, steal_fracs: list[float]) -> list:
    """The samples taken while at most STEAL_MAX of the VM's CPU time was
    stolen, if they are at least half of all samples; else all samples."""
    clean = [x for x, f in zip(samples, steal_fracs) if f <= STEAL_MAX]
    return clean if 2 * len(clean) >= len(samples) else samples


class StealSampler:
    """Background sampler of the steal counter, so that the stolen share
    of any interval inside its lifetime can be looked up afterwards."""

    def __init__(self, cores: int, period_s: float = 0.25):
        self.cores = cores
        self.samples = [(time.perf_counter(), steal_s())]
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, args=(period_s,),
                                        daemon=True)
        self._thread.start()

    def _loop(self, period_s: float) -> None:
        while not self._stop.wait(period_s):
            self.samples.append((time.perf_counter(), steal_s()))

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()
        self.samples.append((time.perf_counter(), steal_s()))

    def frac(self, start: float, end: float) -> float:
        """Stolen share of the sampled interval that covers [start, end]."""
        a = max((s for s in self.samples if s[0] <= start),
                default=self.samples[0])
        b = min((s for s in self.samples if s[0] >= end),
                default=self.samples[-1])
        return (b[1] - a[1]) / (self.cores * max(b[0] - a[0], 1e-9))


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def quantile(xs, q):
    """Nearest-rank quantile of a non-empty sample."""
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)]


class Tracer:
    """In-memory spans (name, start, end, parent, request id). Disabled, a
    span costs one attribute test; enabled, the tracer also totals the
    time it spends on its own bookkeeping (``cost_s``), which is what
    tracing adds inside the timed operations."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.cost_s = 0.0
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, rid: str | None = None):
        if not self.enabled:
            yield
            return
        c0 = time.perf_counter()
        parent = getattr(self._local, "cur", None)
        sid = next(self._ids)
        self._local.cur = sid
        start = time.time()
        self.cost_s += time.perf_counter() - c0
        try:
            yield
        finally:
            end = time.time()
            c1 = time.perf_counter()
            self._local.cur = parent
            with self._lock:
                self.spans.append({"id": sid, "name": name, "start": start,
                                   "end": end, "parent": parent, "rid": rid})
            self.cost_s += time.perf_counter() - c1

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the part of each span's interval
        that its child spans cover."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            covered = _union_len(kids.get(s["id"], []), s["start"], s["end"])
            out[s["name"]] = (out.get(s["name"], 0.0)
                              + s["end"] - s["start"] - covered)
        return out


def _union_len(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Run:
    """One benchmark process: its Spark JVM, set-up timings, operation
    counts, failures and tracer."""

    def __init__(self, root: str, workload: str, seed: int, seconds: int,
                 trace: bool, cores: int):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.cores = cores
        self.out = os.path.join(root, ".perfbench")
        self.work = os.path.join(self.out, f"{workload}-s{seed}-p{os.getpid()}")
        self.tracer = Tracer(trace)
        self.spark = None
        self.jvm_pid: int | None = None
        self.session_s: list[float] = []
        self.load_s: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self._lock = threading.Lock()
        for d in ("spark-local", "tmp", "warehouse"):
            os.makedirs(os.path.join(self.work, d), exist_ok=True)
        # every scratch write of Spark, the JVM and Python stays in the run dir
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")

    # -- outcomes ----------------------------------------------------------
    def check(self, ok: bool, what: str) -> None:
        """Count one attempted operation (a request, a timed run or a
        correctness check) and, unless ``ok``, one failure."""
        with self._lock:
            self.attempted += 1
            if not ok:
                self.failed += 1
                self.problems.append(what)

    # -- session -----------------------------------------------------------
    def _session(self):
        from otd_semantic_framework_spark.session import get_spark
        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            # a fixed-size heap: left to grow, the heap's size (and with it
            # GC frequency and RSS) differs from run to run
            "spark.driver.extraJavaOptions":
                f"-Xms{DRIVER_MEMORY} "
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')}",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # the REST counters exist only in the traced run
            "spark.ui.enabled": "true" if self.tracer.enabled else "false",
        }
        return get_spark(f"perfbench-{self.workload}",
                         master=f"local[{self.cores}]", extra_conf=conf)

    def set_up(self, load, prepare=None):
        """Start the session and run ``load(spark)`` SETUPS times, timing
        each; ``prepare(spark)`` runs once, untimed, after the first
        start (input the workload builds with the program itself). The
        first start launches the JVM; later ones stop the session and
        start a new one in the same JVM. Returns the last load's value."""
        state = None
        for i in range(SETUPS):
            if i:
                self.spark.stop()
            t0 = time.perf_counter()
            with self.tracer.span("session.start"):
                self.spark = self._session()
            self.session_s.append(time.perf_counter() - t0)
            if i == 0:
                from pyspark import SparkContext
                self.jvm_pid = SparkContext._gateway.proc.pid
                if prepare is not None:
                    prepare(self.spark)
            t0 = time.perf_counter()
            with self.tracer.span("setup.load"):
                state = load(self.spark)
            self.load_s.append(time.perf_counter() - t0)
        return state

    def setup_s(self) -> float:
        return median([a + b for a, b in zip(self.session_s, self.load_s)])

    def peak_rss_mb(self) -> float | None:
        """VmHWM of this run's own Spark JVM, or None if that process is
        not a JVM we can read (never another process's figure)."""
        if self.jvm_pid is None:
            return None
        try:
            with open(f"/proc/{self.jvm_pid}/cmdline", "rb") as f:
                argv0 = f.read().split(b"\x00")[0]
            if not argv0.endswith(b"java"):
                return None
            with open(f"/proc/{self.jvm_pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1]) / 1024.0
        except OSError:
            return None
        return None

    def gc_s(self) -> float:
        beans = (self.spark._jvm.java.lang.management.ManagementFactory
                 .getGarbageCollectorMXBeans())
        return sum(b.getCollectionTime() for b in beans) / 1000.0

    def close(self) -> None:
        """Stop the session and the JVM, wait for the JVM to exit, and
        delete the run's scratch dir (corpora and traces stay)."""
        from pyspark import SparkContext
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            gw.proc.stdin.close()      # the JVM exits on stdin EOF
            gw.proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
        shutil.rmtree(self.work, ignore_errors=True)

    def write_trace(self, extra: dict) -> str:
        path = os.path.join(self.out, f"trace-{self.workload}-s{self.seed}.json")
        with open(path, "w") as f:
            json.dump({"workload": self.workload, "seed": self.seed,
                       "self_s": self.tracer.self_times(), **extra,
                       "spans": self.tracer.spans}, f)
        return path


class SparkWindow:
    """Spark REST counters for the jobs run between ``open()`` and
    ``close()`` (traced runs only: the REST API needs the UI)."""

    def __init__(self, run: Run):
        self.run = run
        self.rest_s = 0.0      # REST polling, outside the timed operations
        sc = run.spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        c0 = time.perf_counter()
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            out = json.loads(r.read())
        self.rest_s += time.perf_counter() - c0
        return out

    def _jobs(self) -> list[dict]:
        # the listener bus trails the engine; wait until no job is running
        for _ in range(50):
            jobs = self._get("/jobs")
            if all(j["status"] != "RUNNING" for j in jobs):
                return jobs
            time.sleep(0.1)
        return jobs

    def open(self) -> None:
        self.first_job = 1 + max((j["jobId"] for j in self._jobs()), default=-1)
        self.gc0 = self.run.gc_s()
        self.steal0 = steal_s()
        self.t0 = time.time()

    def close(self, ops: int) -> dict:
        t1 = time.time()
        steal = steal_s() - self.steal0
        gc = self.run.gc_s() - self.gc0
        jobs = [j for j in self._jobs() if j["jobId"] >= self.first_job]
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [s for s in self._get("/stages?status=COMPLETE")
                  if s["stageId"] in stage_ids]
        busy = _union_len(
            [(_ts(j["submissionTime"]), _ts(j.get("completionTime"), t1))
             for j in jobs if "submissionTime" in j], self.t0, t1)
        skew = 1.0
        if stages:
            top = max(stages, key=lambda s: s["executorRunTime"])
            q = self._get(f"/stages/{top['stageId']}/{top['attemptId']}"
                          "/taskSummary?quantiles=0.5,1.0")["executorRunTime"]
            skew = q[1] / q[0] if q[0] > 0 else float(q[1] > 0) + 1.0
        ops = max(ops, 1)
        return {
            "jvm.gc_s": gc,
            "spark.jobs_per_op": len(jobs) / ops,
            "spark.tasks_per_op": sum(s["numCompleteTasks"] for s in stages) / ops,
            "spark.task_s_per_op":
                sum(s["executorRunTime"] for s in stages) / 1000.0 / ops,
            "spark.shuffle_mb_per_op":
                sum(s["shuffleWriteBytes"] for s in stages) / 2**20 / ops,
            "spark.task_skew": skew,
            "storage.mb_written_per_op":
                sum(s["outputBytes"] for s in stages) / 2**20 / ops,
            "engine.idle_ms_per_op": (t1 - self.t0 - busy) * 1000.0 / ops,
            "host.steal_frac": steal / (self.run.cores * (t1 - self.t0)),
            "trace.rest_s": self.rest_s,
        }


def _ts(s: str | None, default: float | None = None) -> float:
    if s is None:
        return default
    return dt.datetime.strptime(s.replace("GMT", "+0000"),
                                "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()
