"""Shared machinery: run directories, Spark session lifetime, the
process-tree RSS sampler, spans, job-group counters and event-log
parsing. Nothing here knows about a particular workload."""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import sys
import threading
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: per-run scratch (checkpoints, shards, Spark local dirs, event logs)
RUN_DIR = os.path.join(ROOT, ".perfbench_run")
#: generated inputs and oracle results, keyed by workload config + seed
CACHE_DIR = os.path.join(ROOT, ".perfbench_cache")


_T0 = time.monotonic()


def log(msg: str) -> None:
    """Progress line on stderr (stdout carries the result)."""
    print(f"perfbench [{time.monotonic() - _T0:7.1f}s] {msg}", file=sys.stderr, flush=True)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env() -> None:
    """Point every writer (Spark, Python workers, tempfile) inside the
    checkout, and make the engine importable by Spark's Python workers,
    which inherit this environment through the JVM."""
    shutil.rmtree(RUN_DIR, ignore_errors=True)
    for d in (RUN_DIR, CACHE_DIR, os.path.join(RUN_DIR, "tmp")):
        os.makedirs(d, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(RUN_DIR, "spark-local")
    os.environ["TMPDIR"] = os.path.join(RUN_DIR, "tmp")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def start_spark(event_log: bool = False):
    """A ``local[nproc]`` session through the engine's own factory."""
    from dotnetspider_spark.session import get_spark

    n = nproc()
    tmp = os.path.join(RUN_DIR, "tmp")
    extra = {
        "spark.driver.memory": "1g",
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(RUN_DIR, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        d = os.path.join(RUN_DIR, "events")
        os.makedirs(d, exist_ok=True)
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": d,
            "spark.eventLog.compress": "false",
        })
    spark = get_spark("perfbench", master=f"local[{n}]", shuffle_partitions=n, extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm() -> None:
    """Stop the py4j gateway and wait for the JVM (which takes its
    Python workers with it) to exit."""
    import subprocess

    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Py4JError:  # already disconnected; the wait below decides
        pass
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None


# ------------------------------------------------------------ processes


def in_workers(calls: list[tuple]) -> list:
    """Run ``(function, args)`` calls in a pool of fresh (spawned)
    interpreters and return their results in order. The pool and
    multiprocessing's resource tracker are stopped before returning,
    so no helper process outlives the call."""
    import gc
    import multiprocessing
    from multiprocessing import resource_tracker

    pool = multiprocessing.get_context("spawn").Pool(min(nproc(), len(calls)))
    try:
        pending = [pool.apply_async(f, args) for f, args in calls]
        results = [r.get() for r in pending]
    finally:
        pool.terminate()
        pool.join()
    del pool, pending
    gc.collect()  # finalizes the pool's semaphores while the tracker still runs
    resource_tracker._resource_tracker._stop()
    return results


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                raw = f.read()
        except OSError:
            continue
        # comm may contain spaces: the ppid is the second field after ')'
        ppid = int(raw[raw.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(stat.split("/")[2]))
    return kids


def process_tree() -> list[int]:
    """This process and all its descendants."""
    kids = _children_map()
    out, todo = [], [os.getpid()]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, with each page shared by
    k processes counted 1/k in each — so summing over forked Python
    workers does not count their shared pages once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, ValueError):
        pass
    return 0


def wait_descendants_gone(pids: list[int], timeout_s: float = 30.0) -> None:
    """Wait for processes this run started (JVM, Python workers, the
    HTTP server) to exit; kill what outlives the timeout."""
    import signal

    me = os.getpid()
    pids = [p for p in pids if p != me]
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}") and not _is_zombie(p)]
        if not pids:
            return
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
        return raw[raw.rindex(")") + 2] == "Z"
    except OSError:
        return True


class RssSampler:
    """Peak of the summed resident memory (PSS) of this process and all
    its descendants (driver, JVM, Python workers, HTTP server), sampled
    from /proc. Reading smaps_rollup costs a few ms per process (some
    10 ms for the JVM, whose memory map it locks meanwhile), hence the
    0.5 s period."""

    def __init__(self, period_s: float = 0.5):
        self.period_s = period_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            total = sum(_pss_bytes(p) for p in process_tree())
            self.peak_bytes = max(self.peak_bytes, total)
            self._stop.wait(self.period_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20


# -------------------------------------------------------------- timing


def _cpu_times() -> tuple[float, float]:
    """(busy, steal) seconds summed over this machine's vCPUs, from
    /proc/stat: busy is user + nice + system + irq + softirq; steal is
    time a vCPU had work while the hypervisor ran something else (0 on
    bare metal)."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    hz = os.sysconf("SC_CLK_TCK")
    return (v[0] + v[1] + v[2] + v[5] + v[6]) / hz, v[7] / hz


def mark() -> tuple[float, float, float]:
    """(monotonic, busy, steal) seconds: one end of a timed interval."""
    return (time.monotonic(), *_cpu_times())


def steal_free_s(start: tuple, end: tuple) -> float:
    """Wall time between two ``mark()``s less the share of it the
    hypervisor took: wall x busy / (busy + steal) over the interval.

    On a shared host the vCPUs lose a varying 0-30 % of the time they
    have work; raw wall time then moves with the neighbours' load far
    more than with the program. Steal accrues only while a vCPU has
    work, so this keeps the program's own waits (I/O, idle cores,
    scheduling gaps) and removes only the time its runnable work sat
    descheduled. Equal to the wall time where nothing is stolen."""
    wall, busy, steal = (b - a for a, b in zip(start, end))
    return wall * busy / (busy + steal) if busy + steal > 0 else wall


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


class TimedFetcher:
    """Wraps an engine fetcher (the public ``fetch(batch)`` hook) and
    records when the crawl loop reaches the fetch stage. ``on_fetch``
    runs inside the call — the traced run uses it to switch job
    groups. Adds no Spark work: ``fetch`` only builds a plan."""

    def __init__(self, inner, on_fetch=None):
        self.inner = inner
        self.on_fetch = on_fetch
        self.calls: list[tuple[tuple, float]] = []  # (mark(), epoch)

    def fetch(self, batch):
        self.calls.append((mark(), time.time()))
        if self.on_fetch is not None:
            self.on_fetch(len(self.calls))
        return self.inner.fetch(batch)


def fetch_gaps(calls: list[tuple[tuple, float]]) -> list[float]:
    """Steal-free periods between consecutive ``fetch()`` calls."""
    return [steal_free_s(a[0], b[0]) for a, b in zip(calls, calls[1:])]


class Tracer:
    """Spans kept in memory and written out once at the end."""

    def __init__(self):
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str, parent: str | None = None):
        start = time.time()
        try:
            yield
        finally:
            self.spans.append(
                {"name": name, "parent": parent, "start": start, "end": time.time()}
            )

    def seconds(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


# ------------------------------------------------- Spark job accounting


def group_counts(spark, groups: list[str]) -> tuple[int, int, int]:
    """(jobs, stages, tasks) launched under the given job groups, from
    the status tracker. Skipped stages (reused shuffle output) report
    no info and are not counted."""
    st = spark.sparkContext.statusTracker()
    jobs = stages = tasks = 0
    for g in groups:
        for jid in st.getJobIdsForGroup(g):
            jobs += 1
            info = st.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                si = st.getStageInfo(sid)
                if si is not None and si.numTasks > 0:
                    stages += 1
                    tasks += si.numTasks
    return jobs, stages, tasks


def read_event_logs() -> list[list[dict]]:
    """One event list per SparkContext (job ids restart with each)."""
    logs = []
    for path in sorted(glob.glob(os.path.join(RUN_DIR, "events", "*"))):
        # Spark 4 writes each application's log as a directory of
        # rolling ``events_<n>_<app>`` files
        parts = (
            sorted(glob.glob(os.path.join(path, "events_*")), key=lambda p: int(p.rsplit("/", 1)[1].split("_")[1]))
            if os.path.isdir(path)
            else [path]
        )
        events = []
        for part in parts:
            with open(part) as f:
                events.extend(json.loads(line) for line in f if line.strip())
        logs.append(events)
    return logs


def _group_of(e: dict) -> str | None:
    return (e.get("Properties") or {}).get("spark.jobGroup.id")


def job_intervals(logs: list[list[dict]], groups: set[str]) -> list[tuple[float, float]]:
    """(submit, complete) epoch seconds of the jobs in ``groups``."""
    out = []
    for events in logs:
        start = {
            e["Job ID"]: e["Submission Time"] / 1000
            for e in events
            if e["Event"] == "SparkListenerJobStart" and _group_of(e) in groups
        }
        out.extend(
            (start[e["Job ID"]], e["Completion Time"] / 1000)
            for e in events
            if e["Event"] == "SparkListenerJobEnd" and e["Job ID"] in start
        )
    return out


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def task_totals(logs: list[list[dict]], groups: set[str]) -> dict[str, float]:
    """Summed task metrics of the stages launched by jobs in ``groups``."""
    run_ms = gc_ms = shuffle = spill = 0
    for events in logs:
        stages = set()
        for e in events:
            if e["Event"] == "SparkListenerJobStart" and _group_of(e) in groups:
                stages.update(e["Stage IDs"])
        for e in events:
            if e["Event"] != "SparkListenerTaskEnd" or e["Stage ID"] not in stages:
                continue
            m = e.get("Task Metrics") or {}
            run_ms += m.get("Executor Run Time", 0)
            gc_ms += m.get("JVM GC Time", 0)
            shuffle += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return {
        "spark.task_s": run_ms / 1000,
        "spark.gc_s": gc_ms / 1000,
        "spark.shuffle_bytes": shuffle,
        "spark.spill_bytes": spill,
    }


# ------------------------------------------------------------ storage


def tree_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    total = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            try:
                total += os.path.getsize(os.path.join(d, n))
                files += 1
            except OSError:
                pass
    return total, files
