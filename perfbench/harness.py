"""Process-level plumbing shared by the workloads: the launch environment,
the session, peak memory from ``/proc``, and the in-memory span tracer."""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

#: checkout root (the directory holding ``cdc_worker_spark`` and ``perfbench``)
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: everything a run writes lives under here
WORK = os.path.join(ROOT, ".perfbench_work")
#: driver heap. At or above 4 GB ``sources/tables.py`` leaves Spark's
#: defaults alone; under it the engine switches to its small-heap tuning, so
#: the inherited 1 GB default would benchmark a different configuration.
DRIVER_MEMORY = "5g"


def process_start() -> float:
    """Epoch seconds at which this process started (``/proc/self/stat``)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the whole machine so far, from
    ``/proc/stat``: time the hypervisor gave this machine's CPUs to others."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def launch_env(run_dir: str) -> None:
    """Set what the JVM and its Python workers inherit, before the JVM starts.

    - Workers import ``cdc_worker_spark`` by name, so the checkout root must
      be on *their* ``PYTHONPATH``, not just on the driver's ``sys.path``.
    - ``get_spark`` does not size the driver heap; it must be given at
      launch.
    - Scratch space (Spark local dirs, JVM and Python temp files, the
      warehouse) is kept inside the run directory.
    """
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        f"--driver-memory {DRIVER_MEMORY}",
        f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}",
        f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
        "--conf spark.ui.showConsoleProgress=false",
        "pyspark-shell",
    ])


def build_session():
    """The engine's own session factory, timed."""
    from cdc_worker_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0


def _descendants(root: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (FileNotFoundError, ProcessLookupError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = set(), [root]
    while todo:
        p = todo.pop()
        out.add(p)
        todo.extend(children.get(p, ()))
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants (the JVM
    and the Python workers), including descendants already reaped by their
    parents. Time the hypervisor stole is not charged to a process."""
    total = 0
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (FileNotFoundError, ProcessLookupError):
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / os.sysconf("SC_CLK_TCK")


class Section:
    """CPU seconds of the process tree and the machine's CPU-steal share
    over a timed section."""

    def __init__(self):
        self.cpu_s = 0.0
        self.steal = 0.0

    def __enter__(self) -> Section:
        self._cpu0, self._ticks0 = tree_cpu_s(), cpu_ticks()
        return self

    def __exit__(self, *exc) -> None:
        stolen, total = cpu_ticks()
        self.cpu_s = tree_cpu_s() - self._cpu0
        self.steal = (stolen - self._ticks0[0]) / max(1, total - self._ticks0[1])


class PeakMemory:
    """Samples the summed RSS of this process and its descendants (the JVM
    and the Python workers) and keeps the peak."""

    def __init__(self, period_s: float = 0.2):
        self.period_s = period_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        procs = _descendants(os.getpid())
        self.peak_kb = max(self.peak_kb, sum(_rss_kb(p) for p in procs))

    def _run(self) -> None:
        while not self._stop.wait(self.period_s):
            self._sample()

    def __enter__(self) -> PeakMemory:
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None = None
    batch: str | None = None


@dataclass
class Tracer:
    """In-memory spans (name, start, end, parent, batch id), written out
    once when the run ends. A disabled tracer records nothing."""

    enabled: bool
    spans: list[Span] = field(default_factory=list)
    _local: threading.local = field(default_factory=threading.local)

    def add(self, name: str, start: float, end: float, parent: int | None = None,
            batch: str | None = None) -> int:
        if not self.enabled:
            return -1
        self.spans.append(Span(name, start, end, parent, batch))
        return len(self.spans) - 1

    @contextmanager
    def span(self, name: str, batch: str | None = None):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        idx = self.add(name, time.time(), 0.0, stack[-1] if stack else None, batch)
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            self.spans[idx].end = time.time()

    def per_batch(self, name: str) -> dict[str, float]:
        out: dict[str, float] = {}
        for s in self.spans:
            if s.name == name and s.batch is not None:
                out[s.batch] = out.get(s.batch, 0.0) + s.end - s.start
        return out

    def dump(self, path: str) -> None:
        if not self.enabled:
            return
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)
