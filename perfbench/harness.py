"""Run scaffolding shared by the workloads: the Spark session and its
host-fit settings, the scratch directory, peak-memory sampling, spans and
per-call Spark job accounting.

Nothing here imports pyspark at module load: ``Run.start_session`` points
TMPDIR at the run's scratch directory first, so every temp file the library
or PySpark creates stays inside the checkout.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import threading
import time
from contextlib import contextmanager

from stats import Ops, median

#: Driver heap for local mode, far below this host class's RAM (the
#: library default of 16g exceeds a 15 GB host with no swap). The heap
#: starts at its full size so that peak resident memory does not depend on
#: when the collector chose to grow it.
DRIVER_MEM = "2g"


def noop(df) -> None:
    """Execute a DataFrame's whole plan without producing output."""
    df.write.format("noop").mode("overwrite").save()


def median_time(fn, reps: int = 3) -> float:
    """Median wall seconds of ``reps`` calls of ``fn``."""
    out = []
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        out.append(time.perf_counter() - t)
    return median(out)


def cpu_ticks() -> tuple[int, int]:
    """(all, stolen) CPU ticks of this host since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return sum(f), f[7]


def process_tree(root_pid: int) -> list[int]:
    """``root_pid`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except (FileNotFoundError, ProcessLookupError, PermissionError):
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


class RssSampler:
    """Peak resident memory of the JVM and every process below it (the
    PySpark daemon and its Python workers), from ``VmHWM`` in
    ``/proc/<pid>/status``. Workers come and go, so a thread re-reads the
    process tree every ``interval`` seconds and keeps each pid's peak."""

    def __init__(self, root_pid: int, interval: float = 0.25) -> None:
        self.root_pid = root_pid
        self.interval = interval
        self.peak_kb: dict[int, int] = {}
        self.comm: dict[int, str] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    @staticmethod
    def _status_kb(pid: int, key: str) -> int | None:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith(key):
                        return int(line.split()[1])
        except (FileNotFoundError, ProcessLookupError, PermissionError):
            return None
        return None

    @staticmethod
    def _proc_str(pid: int, what: str) -> str | None:
        try:
            if what == "exe":
                return os.readlink(f"/proc/{pid}/exe")
            with open(f"/proc/{pid}/{what}") as fh:
                return fh.read().strip()
        except (FileNotFoundError, ProcessLookupError, PermissionError):
            return None

    def sample(self) -> None:
        root_exe = self._proc_str(self.root_pid, "exe")
        for pid in process_tree(self.root_pid):
            # A child the JVM is spawning runs the JVM's executable in the
            # JVM's address space until it execs, and reports the JVM's
            # memory as its own.
            if pid != self.root_pid and self._proc_str(pid, "exe") == root_exe:
                continue
            comm = self._proc_str(pid, "comm")
            kb = self._status_kb(pid, "VmHWM:")
            if kb is not None and kb > self.peak_kb.get(pid, 0):
                self.peak_kb[pid] = kb
                self.comm[pid] = comm

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> None:
        self.sample()
        self._thread.start()

    def stop(self) -> float:
        """Stop sampling; returns the summed peaks in MB (10^6 bytes)."""
        if not self._stop.is_set():
            self._stop.set()
            self._thread.join(timeout=5)
            self.sample()
        return sum(self.peak_kb.values()) * 1024 / 1e6

    def by_process(self) -> dict[str, float]:
        """Summed peaks in MB per process name."""
        out: dict[str, float] = {}
        for pid, kb in self.peak_kb.items():
            out[self.comm[pid]] = out.get(self.comm[pid], 0.0) + kb * 1024 / 1e6
        return out


class Run:
    """One benchmark run: arguments, scratch directory, session, spans,
    operation accounting and the metrics it will print."""

    def __init__(self, root: str, workload: str, seed: int, seconds: int, trace: bool, t_start: float) -> None:
        self.t_start = t_start  # set-up time counts from here
        self.root = root
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = os.path.join(root, ".perfbench_work", f"{workload}-{seed}-{os.getpid()}")
        self.ops = Ops()
        self.metrics: dict[str, tuple[float, str]] = {}
        self.detail: dict[str, tuple[float, str]] = {}
        self.layers: dict[str, tuple[float, str]] = {}
        self.spans: list[tuple[str, float, float, str | None]] = []
        self._open: list[str] = []
        self.spark = None
        self.rss: RssSampler | None = None
        self.cpus = len(os.sched_getaffinity(0))
        self._ticks0 = cpu_ticks()
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(os.path.join(self.work, "tmp"))

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    # --- session -----------------------------------------------------------

    def start_session(self):
        """Host-fit session: all cores of this host, a driver heap below
        physical RAM, Spark scratch under the run's directory, no console
        progress bars. Passed only through the library's own knobs
        (SPARK_GRAFT_* env vars and ``get_spark(extra_conf=...)``)."""
        tmp = self.path("tmp")
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cpus)
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
        # Spark prefers this over spark.local.dir when the caller's
        # environment sets it; keep scratch inside the run's directory
        os.environ["SPARK_LOCAL_DIRS"] = self.path("spark-local")
        with self.span("session.start"):
            from bensp_suite_spark.session import get_spark

            self.spark = get_spark(
                f"perfbench-{self.workload}",
                extra_conf={
                    "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
                    "spark.sql.warehouse.dir": self.path("warehouse"),
                    "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={tmp}",
                    "spark.ui.showConsoleProgress": "false",
                },
            )
            self.spark.sparkContext.setLogLevel("ERROR")
        self.layer("session.start_s", self.last_span_s("session.start"), "s")
        jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        self.rss = RssSampler(jvm_pid)
        self.rss.start()
        return self.spark

    def stop(self) -> None:
        """Stop the session, then the gateway JVM (it outlives
        ``SparkContext.stop()``) and wait until it and every process it
        started have exited."""
        if self.rss is not None:
            self.rss.stop()
            self.log(f"peak MB by process: { {k: round(v) for k, v in self.rss.by_process().items()} }")
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = gw.proc
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
        # the PySpark daemon and its workers exit once the JVM is gone
        others = [p for p in (self.rss.peak_kb if self.rss else ()) if p != proc.pid]
        deadline = time.monotonic() + 15
        while others and time.monotonic() < deadline:
            others = [p for p in others if os.path.exists(f"/proc/{p}")]
            time.sleep(0.1)

    def cleanup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        parent = os.path.dirname(self.work)
        try:
            os.rmdir(parent)  # only when no other run is using it
        except OSError:
            pass

    # --- timing and tracing ------------------------------------------------

    def elapsed(self) -> float:
        return time.perf_counter() - self.t_start

    def steal_pct(self) -> float:
        """Share of this host's CPU time its hypervisor gave to other
        guests since the run began. Host contention, not the code, moves
        timings when it is high."""
        total, stolen = (b - a for a, b in zip(self._ticks0, cpu_ticks()))
        return 100 * stolen / total if total else 0.0

    def log(self, msg: str) -> None:
        print(f"[perfbench {self.elapsed():7.2f}s] {msg}", file=sys.stderr, flush=True)

    @contextmanager
    def span(self, name: str):
        parent = self._open[-1] if self._open else None
        self._open.append(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self._open.pop()
            self.spans.append((name, t0 - self.t_start, time.perf_counter() - self.t_start, parent))

    def last_span_s(self, name: str) -> float:
        for n, a, b, _ in reversed(self.spans):
            if n == name:
                return b - a
        raise KeyError(name)

    def drain_listeners(self) -> None:
        """Block until Spark's listener bus has delivered every event, so
        the status store (and any Python listener) has seen all of them."""
        self.spark._jsc.sc().listenerBus().waitUntilEmpty()

    def shuffle_bytes(self) -> int:
        """Shuffle bytes written so far by every executor of the app."""
        self.drain_listeners()
        execs = self.spark._jsc.sc().statusStore().executorList(False)
        return sum(int(execs.apply(i).totalShuffleWrite()) for i in range(execs.size()))

    @contextmanager
    def job_group(self, name: str):
        """Run the block under a fresh Spark job group and collect its jobs,
        completed tasks and shuffle bytes written into the yielded dict."""
        sc = self.spark.sparkContext
        group = f"perfbench-{name}-{len(self.spans)}"
        rec: dict[str, float] = {}
        shuffle0 = self.shuffle_bytes()
        sc.setJobGroup(group, name)
        try:
            with self.span(name):
                yield rec
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        jobs, tasks = self.jobs_of([group])
        rec.update(
            seconds=self.last_span_s(name),
            jobs=jobs,
            tasks=tasks,
            shuffle_mb=(self.shuffle_bytes() - shuffle0) / 1e6,
        )

    def jobs_of(self, groups: list[str]) -> tuple[int, int]:
        """(jobs, completed tasks) of every job in the given job groups.
        A streaming query runs its jobs under its own group, its run id,
        in place of the caller's."""
        self.drain_listeners()
        st = self.spark.sparkContext.statusTracker()
        jobs = tasks = 0
        for group in groups:
            for j in st.getJobIdsForGroup(group):
                jobs += 1
                info = st.getJobInfo(j)
                for s in info.stageIds if info else ():
                    si = st.getStageInfo(s)
                    tasks += si.numCompletedTasks if si else 0
        return jobs, tasks

    # --- results -----------------------------------------------------------

    def metric(self, name: str, value: float, unit: str) -> None:
        """An end-to-end metric (printed when tracing is off)."""
        self.metrics[name] = (float(value), unit)

    def layer(self, name: str, value: float, unit: str) -> None:
        """A per-layer metric (printed when tracing is on)."""
        self.layers[name] = (float(value), unit)

    def note(self, name: str, value: float, unit: str) -> None:
        """A workload-specific figure printed on the detail line."""
        self.detail[name] = (float(value), unit)

    def write_spans(self) -> str:
        out_dir = os.path.join(self.root, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"spans-{self.workload}-{self.seed}.json")
        with open(path, "w") as fh:
            json.dump(
                [{"name": n, "start_s": a, "end_s": b, "parent": p} for n, a, b, p in self.spans],
                fh,
                indent=0,
            )
        return path
