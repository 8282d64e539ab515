"""Measurement shared by every workload: the closed-loop operation timer,
the work directory, CPU and resident memory of this process and its
descendants (the JVM and its Python workers), the host's steal share, and
the Spark session with the benchmark's fixed settings."""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import tempfile
import threading
import time
import traceback
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def make_workdir() -> str:
    """A fresh per-process directory inside the checkout. Temporary files of
    this process, the JVM and the Python workers all land here."""
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = os.environ["TMPDIR"]
    return work


def remove_workdir(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    parent = os.path.dirname(work)
    try:
        os.rmdir(parent)
    except OSError:
        pass


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def _tree() -> list[tuple[int, list[str]]]:
    """(pid, stat fields) of this process and every live descendant."""
    me = os.getpid()
    procs: dict[int, list[str]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                procs[int(name)] = f
    children: dict[int, list[int]] = {}
    for pid, f in procs.items():
        children.setdefault(int(f[1]), []).append(pid)
    out, todo = [], [me]
    while todo:
        pid = todo.pop()
        if pid in procs:
            out.append((pid, procs[pid]))
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """User + system CPU seconds of this process tree, including reaped
    children (a Python worker that exits is folded into its parent's
    cutime/cstime)."""
    total = 0
    for _, f in _tree():
        # fields after ')': state=0 ppid=1 ... utime=11 stime=12 cutime=13 cstime=14
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICK


def tree_rss_mb() -> float:
    return sum(int(f[21]) for _, f in _tree()) * _PAGE / 1e6


def self_hwm_mb() -> float:
    with open("/proc/self/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024 / 1e6
    return 0.0


class RssSampler:
    """Peak of the summed resident memory of the process tree, sampled on a
    background thread (a worker's own peak is lost when it exits)."""

    def __init__(self, period_s: float = 0.25):
        self.period_s = period_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(self.period_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_rss_mb(), self_hwm_mb())


def cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor stole between two /proc/stat reads."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


class Op:
    """One timed operation. Its checks run after the timed block and may
    still fail it through :meth:`verdict`."""

    def __init__(self, kind: str, cold: bool, primary: bool, text_bytes: int):
        self.kind = kind
        self.cold = cold
        self.primary = primary
        self.text_bytes = text_bytes
        self.failed = False
        self.wrong = False
        self.error = ""
        self.traceback = ""
        self.start = time.time()
        self.wall = 0.0
        self.cpu = 0.0

    def verdict(self, errors: list[str]) -> None:
        """Record the output checks; a failed check fails the operation."""
        if errors:
            self.failed = self.wrong = True
            self.error = "; ".join(errors[:5])


class Measure:
    """Closed-loop state: whole rounds of operations until the
    operations' summed wall reaches ``seconds``; wall and CPU per
    operation; checks run between operations, outside the timed walls."""

    def __init__(self, seconds: float, t_start: float):
        self.seconds = seconds
        self.t_start = t_start
        self.setup_s = 0.0
        self.window = 0.0
        self.rounds = 0
        self.ops: list[Op] = []
        # failures of work that is not one of the run's operations
        self.side_errors: list[str] = []

    def setup_done(self, setup_s: float | None = None) -> None:
        self.setup_s = time.perf_counter() - self.t_start if setup_s is None else setup_s

    def want_round(self) -> bool:
        if self.rounds and self.window >= self.seconds:
            return False
        self.rounds += 1
        return True

    @contextmanager
    def op(self, kind: str, text_bytes: int, primary: bool = True, known_fault: bool = False):
        """Time one operation. ``primary`` operations make up the workload's
        end-to-end metrics; the first of them in the process is the cold one.
        A ``known_fault`` operation that raises counts as failed but leaves
        ``correct`` true."""
        cold = primary and not any(o.primary for o in self.ops)
        op = Op(kind, cold, primary, text_bytes)
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            yield op
        except Exception as exc:  # one failed operation must not end the run
            # an operation that raises leaves no output to check, so the
            # run is not correct, unless it is the known fault's operation
            op.failed = True
            op.wrong = not known_fault
            op.error = f"{type(exc).__name__}: {exc}"[-2000:]
            op.traceback = traceback.format_exc()
        op.wall = time.perf_counter() - t0
        op.cpu = tree_cpu_s() - cpu0
        self.window += op.wall
        self.ops.append(op)

    def end_to_end(self, peak_rss_mb: float) -> dict:
        warm = [o for o in self.ops if o.primary and not o.cold and not o.failed]
        cold = [o.wall for o in self.ops if o.cold]
        run_s = statistics.median(o.wall for o in warm) if warm else 0.0
        return {
            "setup_s": self.setup_s,
            "cold_s": cold[0] if cold else 0.0,
            "run_s": run_s,
            "mb_per_s": (statistics.median(o.text_bytes for o in warm) / run_s / 1e6)
            if run_s else 0.0,
            "cpu_s": statistics.median(o.cpu for o in warm) if warm else 0.0,
            "peak_rss_mb": peak_rss_mb,
        }


class Spark:
    """One SparkSession with the benchmark's fixed settings; ``stop`` ends
    the JVM and waits for it, which also ends its Python workers."""

    def __init__(self, work: str, cores: int, trace: bool):
        from batch_jaro_winkler_spark.session import get_spark

        # Python workers import the package from the checkout
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        local = os.path.join(work, "spark-local")
        os.environ["SPARK_LOCAL_DIRS"] = local
        conf = {
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions": (
                f"-XX:ActiveProcessorCount={cores} -XX:-UsePerfData "
                f"-Djava.io.tmpdir={os.environ['TMPDIR']}"
            ),
            "spark.local.dir": local,
            "spark.ui.showConsoleProgress": "false",
        }
        self.event_dir = None
        if trace:
            self.event_dir = tempfile.mkdtemp(prefix="events-", dir=work)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": self.event_dir,
                    # no zstandard module here to read the default codec
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        t0 = time.perf_counter()
        self.session = get_spark("perfbench", cores=cores, extra_conf=conf)
        self.start_s = time.perf_counter() - t0
        self.sc = self.session.sparkContext

    def mark(self, span: str) -> None:
        """Label the jobs this thread submits from now on."""
        self.sc.setLocalProperty("perfbench.span", span)

    def stop(self) -> None:
        from pyspark import SparkContext

        self.session.stop()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
