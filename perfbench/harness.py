"""Process plumbing shared by the workloads: a work directory inside the
checkout, a Spark session whose scratch space stays in it, an orderly
stop of the JVM and its Python workers, process-tree memory, and a
probe of the host's speed.

Nothing here touches ``kinesis_stream_spark`` beyond ``session.get_spark``.
"""

from __future__ import annotations

import os
import shutil
import signal
import statistics
import subprocess
import threading
import time
from collections import deque

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: Spark runs on four local cores whatever the host has, so figures
#: from hosts of different sizes stay comparable
CPUS = 4
DRIVER_MEMORY = "1g"
#: the speed probe's time on the 4-vCPU host the pass lengths were set on
PROBE_REF_S = 0.6e-3


def make_workdir(name: str) -> str:
    """A fresh scratch directory under the checkout; every file the run
    writes (inputs, Spark scratch, checkpoints, event logs) lands here."""
    path = os.path.join(ROOT, ".perfbench_work", f"{name}-{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.join(path, "tmp"))
    # set before pyspark is imported: the gateway and Python workers take
    # their temp files from here
    os.environ["TMPDIR"] = os.path.join(path, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(path, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ.setdefault("PYSPARK_PYTHON", "python3")
    return path


def remove_workdir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    parent = os.path.dirname(path)
    if os.path.isdir(parent) and not os.listdir(parent):
        os.rmdir(parent)


def start_spark(workdir: str, extra_conf: dict[str, str] | None = None):
    """``get_spark`` with its scratch space, warehouse and JVM temp
    files kept inside ``workdir``."""
    from kinesis_stream_spark.session import get_spark

    tmp = os.path.join(workdir, "tmp")
    conf = {
        "spark.local.dir": os.path.join(workdir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
        ),
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
    }
    conf.update(extra_conf or {})
    return get_spark("perfbench", extra_conf=conf)


def children(pid: int) -> list[int]:
    """Every live descendant of ``pid``, from /proc."""
    parent_of = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        parent_of[int(entry)] = int(fields[1])
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent_of.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


def peak_rss_mb() -> float:
    """Summed peak resident memory (VmHWM) of this process and every
    live descendant: the Python driver, the JVM and its Python workers."""
    total_kb = 0
    for pid in [os.getpid(), *children(os.getpid())]:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def stop_spark(spark=None) -> None:
    """Stop the session (or whatever context is active), then the JVM,
    and wait until every process the run started has exited."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    elif SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    leftover = children(os.getpid())
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.monotonic() + 20
    while time.monotonic() < deadline:
        leftover = [p for p in leftover if os.path.exists(f"/proc/{p}")]
        if not leftover:
            return
        time.sleep(0.1)
    for p in leftover:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def percentile(values: list[float], q: float) -> float:
    """Percentile ``q`` (0..100), interpolated linearly between ranks."""
    if not values:
        return 0.0
    ordered = sorted(values)
    pos = (len(ordered) - 1) * q / 100
    lo = int(pos)
    hi = min(lo + 1, len(ordered) - 1)
    return float(ordered[lo] + (ordered[hi] - ordered[lo]) * (pos - lo))


def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


# -- host speed -------------------------------------------------------------------
#
# On a shared host the speed of a core swings by up to 2x within seconds
# as other tenants come and go, so the same code's run times spread by
# 20-40% between runs. The timing metrics are therefore scaled to a
# reference host speed: a fixed probe loop, timed close to the work, says
# how fast the host ran at that moment.


def speed_probe(clock=time.perf_counter, n: int = 2000) -> float:
    """Time of a fixed loop of tuples through a deque and a set, the
    kind of work the tracker does, touching nothing of the package."""
    t0 = clock()
    window: deque = deque()
    live = set()
    for i in range(n):
        item = (i * 7919 % 1000, i)
        window.append(item)
        live.add(item)
        if len(window) > 64:
            live.discard(window.popleft())
    return clock() - t0


class SpeedSampler:
    """Runs the speed probe from a thread every ``every_s`` seconds while
    Spark works, timing it in thread CPU time: a probe that waits for
    the GIL or for a core is not counted, so the program's own load
    does not make the host look slow. Use as a context manager."""

    def __init__(self, every_s: float = 0.05) -> None:
        self.every_s = every_s
        self.samples: list[tuple[float, float]] = []  # (perf_counter at end, probe s)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, name="speed-sampler", daemon=True)

    def _sample(self) -> None:
        while not self._stop.wait(self.every_s):
            self.samples.append((time.perf_counter(), speed_probe(time.thread_time)))

    def __enter__(self) -> "SpeedSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def scale(self, start: float | None = None, end: float | None = None) -> float:
        """Factor from this host's speed to the reference speed, from the
        median probe between ``start`` and ``end`` (``perf_counter``
        seconds), or over all probes when there is none in the window."""
        window = [p for t, p in self.samples if (start is None or t >= start) and (end is None or t <= end)]
        probes = window or [p for _, p in self.samples]
        return PROBE_REF_S / median(probes) if probes else 1.0
