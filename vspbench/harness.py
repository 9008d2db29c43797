"""Process-level plumbing shared by the workloads: environment for the
driver JVM and its Python workers, session start and full stop, and the
resident-memory monitor of the benchmark's process tree."""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import threading
import time
from dataclasses import dataclass, field

from vspbench.spans import Tracer

DRIVER_MEMORY = "2g"


@dataclass
class Context:
    root: str
    work: str
    seed: int
    seconds: float
    trace: bool
    cores: int
    tracer: Tracer = field(init=False)
    rss: RssMonitor = field(init=False)

    def __post_init__(self) -> None:
        self.tracer = Tracer(self.trace)
        self.rss = RssMonitor()

    @property
    def event_log_dir(self) -> str:
        return os.path.join(self.work, "eventlog")


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def configure_env(ctx: Context) -> None:
    """Environment the driver JVM (and through it the Python workers)
    inherits. Workers import the engine by module path, so they need the
    repository root on PYTHONPATH even when the driver runs elsewhere.
    Spark local dirs, temp files and the traced run's event log stay under
    the run's work directory."""
    tmp = os.path.join(ctx.work, "tmp")
    for d in (tmp, os.path.join(ctx.work, "spark-local"), ctx.event_log_dir):
        os.makedirs(d, exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    submit = [
        f"--driver-java-options -Djava.io.tmpdir={tmp}",
        f"--conf spark.sql.warehouse.dir={os.path.join(ctx.work, 'warehouse')}",
    ]
    if ctx.trace:
        submit += [
            "--conf spark.eventLog.enabled=true",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
            f"--conf spark.eventLog.dir=file://{ctx.event_log_dir}",
        ]
    os.environ.update(
        {
            "PYTHONPATH": ctx.root + (os.pathsep + old if old else ""),
            "PYSPARK_PYTHON": sys.executable,
            "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
            "SPARK_LOCAL_DIRS": os.path.join(ctx.work, "spark-local"),
            "TMPDIR": tmp,
            "PYTHONWARNINGS": "ignore::FutureWarning",
            "PYSPARK_SUBMIT_ARGS": " ".join(submit + ["pyspark-shell"]),
        }
    )


def start_session(app: str, ctx: Context, concurrent_queries: int = 1):
    """The engine's own session factory, sized to the machine: one
    driver, ``local[cores]``, and one shuffle partition per core for each
    of the queries that run at the same time."""
    from video_stream_processing_spark.session import get_spark

    partitions = max(1, ctx.cores // concurrent_queries)
    spark = get_spark(app, master=f"local[{ctx.cores}]", shuffle_partitions=partitions)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit.
    The gateway exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def reap_descendants(timeout_s: float = 20.0) -> int:
    """Terminate whatever the run left running under this process and wait
    for it; returns how many processes had to be stopped."""
    left = descendants(os.getpid())
    for pid in left:
        try:
            os.kill(pid, signal.SIGTERM)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline and descendants(os.getpid()):
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.1)
    return len(left)


class RssMonitor:
    """Samples the resident memory of this process and all its descendants
    (driver JVM, Python worker daemon and workers). Each process counts
    its proportional set size, so pages the forked Python workers share
    are counted once."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.peak_split: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> dict[str, int]:
        """Bytes per process name (``java``, ``python3``, ...)."""
        split: dict[str, int] = {}
        for pid in [os.getpid(), *descendants(os.getpid())]:
            try:
                with open(f"/proc/{pid}/comm") as fh:
                    name = fh.read().strip()
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    pss = next(int(x.split()[1]) for x in fh if x.startswith("Pss:"))
            except (OSError, StopIteration):
                continue
            split[name] = split.get(name, 0) + pss * 1024
        return split

    def _loop(self) -> None:
        while not self._stop.is_set():
            split = self.sample()
            if sum(split.values()) > self.peak_bytes:
                self.peak_bytes, self.peak_split = sum(split.values()), split
            self._stop.wait(self.interval_s)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        """End sampling; the workloads call this when the measured window
        ends, so the untimed checks and teardown do not count."""
        if self._thread.is_alive():
            self._stop.set()
            self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20
