"""Shared plumbing for the benchmark: checkout paths, the box-fitted Spark
session, benchmark-side spans, and the process-tree peak-RSS sampler.

Everything the benchmark writes lives under ``<checkout>/.perfbench``.
"""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import threading
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(ROOT, ".perfbench")
CACHE = os.path.join(WORK, "cache")

# The program the benchmark drives; without these it cannot run at all.
PROGRAM_FILES = (
    "extractor/__init__.py",
    "extractor/session.py",
    "extractor/pipeline.py",
    "extractor/checkpoint.py",
    "__spark_entry__.py",
    "bench.py",
    "tests/driver_sim.py",
)


def missing_program_files() -> list[str]:
    return [p for p in PROGRAM_FILES if not os.path.isfile(os.path.join(ROOT, p))]


def cores() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def driver_heap() -> str:
    """A quarter of physical memory, clamped to 1..4 GiB: the session
    module's default heap (64g) is sized for a 32-core box and would let
    the JVM outgrow a small machine's memory."""
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                gib = int(line.split()[1]) / 2**20
                return f"{max(1, min(4, int(gib // 4)))}g"
    return "2g"


def export_worker_env(tmp: str) -> None:
    """Environment every Spark-launched process inherits: the checkout (and
    this directory, for the failure hook) on the import path, and scratch
    space inside the checkout."""
    paths = [ROOT, BENCH_DIR]
    if os.environ.get("PYTHONPATH"):
        paths.append(os.environ["PYTHONPATH"])
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = os.path.join(tmp, "py")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    java_tmp = os.path.join(tmp, "java")
    # every JVM spark-submit starts (the launcher too): no perf-data file
    # and no temp files outside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData",
                      f"-Djava.io.tmpdir={java_tmp}"))
    )
    for d in (os.environ["TMPDIR"], os.environ["SPARK_LOCAL_DIRS"], java_tmp):
        os.makedirs(d, exist_ok=True)


def start_session(n_cores: int, tmp: str, event_log_dir: str | None = None):
    """Fresh local[n_cores] session from ``extractor.session.get_spark``."""
    from extractor.session import get_spark

    heap = driver_heap()
    conf = {
        "spark.driver.memory": heap,
        # a fixed-size, pre-touched heap: otherwise the JVM's resident size
        # follows its heap-sizing decisions and peak RSS swung 10-30% between
        # identical runs; this way the heap counts at its configured size
        # and peak RSS moves with Python-worker and off-heap memory
        "spark.driver.extraJavaOptions": f"-Xms{heap} -XX:+AlwaysPreTouch",
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log_dir,
                "spark.eventLog.compress": "false",
            }
        )
    return get_spark(
        master=f"local[{n_cores}]",
        app_name="perfbench",
        shuffle_partitions=n_cores,
        extra_conf=conf,
    )


def jvm_warmup(spark) -> None:
    """A JVM-only job (no Python worker): loads the planner and task code
    paths without warming the Python side, which cold passes measure."""
    spark.range(1 << 16, numPartitions=4).selectExpr("sum(id)").collect()


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and the Python workers it forked)
    to exit: the gateway JVM ends when its stdin closes."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        try:
            gateway.shutdown()
        except (Py4JError, OSError):  # the JVM may already be gone
            pass
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None
    reap_descendants()


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid or os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def reap_descendants(timeout: float = 30.0) -> None:
    """Terminate and wait for any process this run left behind."""
    pids = descendants()
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for p in pids:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            for p in list(pids):
                try:
                    done, _ = os.waitpid(p, os.WNOHANG)
                except ChildProcessError:  # not our direct child
                    done = p if not os.path.exists(f"/proc/{p}") else 0
                if done:
                    pids.remove(p)
            if not pids:
                return
            time.sleep(0.1)


class RssSampler:
    """Peak summed RSS of this process's descendants (the driver JVM and
    the Python workers it forks), sampled every *interval* seconds; the
    JVM's and the Python workers' own peaks are kept beside it."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = {"total": 0, "jvm": 0, "python": 0}
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        now = {"total": 0, "jvm": 0, "python": 0}
        for pid in descendants():
            try:
                with open(f"/proc/{pid}/statm") as f:
                    rss = int(f.read().split()[1]) * self._page
                with open(f"/proc/{pid}/comm") as f:
                    comm = f.read().strip()
            except OSError:
                continue
            now["total"] += rss
            now["jvm" if comm == "java" else "python"] += rss
        for k, v in now.items():
            self.peak[k] = max(self.peak[k], v)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()

    def peak_mb(self, part: str = "total") -> float:
        return self.peak[part] / 2**20


class Spans:
    """Benchmark-side spans around calls into the program's layers: name,
    start, end and the enclosing span.  Kept in memory; written out with
    the run record."""

    def __init__(self):
        self.records: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.monotonic()

    def span(self, name: str):
        spans = self

        class _Span:
            def __enter__(self):
                self.idx = len(spans.records)
                spans.records.append(
                    {
                        "name": name,
                        "start": time.monotonic() - spans._t0,
                        "end": None,
                        "parent": spans._stack[-1] if spans._stack else None,
                    }
                )
                spans._stack.append(self.idx)
                return self

            def __exit__(self, *exc):
                spans._stack.pop()
                spans.records[self.idx]["end"] = time.monotonic() - spans._t0

            @property
            def seconds(self) -> float:
                rec = spans.records[self.idx]
                return rec["end"] - rec["start"]

        return _Span()


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
