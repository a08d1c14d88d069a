"""Shared benchmark plumbing: environment, session lifetime, spans,
memory sampling and summary statistics."""

from __future__ import annotations

import ctypes
import json
import os
import signal
import statistics
import threading
import time
from contextlib import contextmanager
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORK = ROOT / "perfbench" / ".work"


def cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env() -> None:
    """Pin parallelism, imports and temporary space before pyspark loads.

    ``SPARK_GRAFT_CPUS`` is the engine's own core-count knob, so
    ``get_spark()`` starts ``local[nproc]`` with its default shuffle
    width.  Spark's Python workers need the checkout on ``PYTHONPATH``
    to import the engine's UDF modules.  Temporary files stay inside
    the checkout."""
    tmp = WORK / "tmp"
    local = WORK / "local"
    tmp.mkdir(parents=True, exist_ok=True)
    local.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell")


class Tracer:
    """In-memory spans (name, start, end, parent, run id), written out
    once at the end.  A disabled tracer records nothing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def add(self, name: str, start: float, end: float, **attrs) -> None:
        """Record a span measured elsewhere (e.g. a listener event)."""
        if self.enabled:
            self.spans.append({"id": len(self.spans), "name": name,
                               "run": self.run_id,
                               "parent": self._stack[-1] if self._stack else None,
                               "start": start, "end": end, **attrs})

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None]

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(self.spans))


def _children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
                out.append(int(d))
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory of this process plus its descendants (the
    JVM and its Python workers), summed from ``/proc/<pid>/status``.
    Pages the forked workers share count once per process.  Processes
    in ``exclude`` (the load generator) and their children are skipped.
    (``smaps_rollup`` would split shared pages, but every read of it
    walks the JVM's page tables under its memory-map lock.)"""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_kb = 0
        self.exclude: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> int:
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            if pid in self.exclude:
                continue
            total += _rss_kb(pid)
            todo.extend(_children(pid))
        self.peak_kb = max(self.peak_kb, total)
        return total

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def start_spark(app: str, extra_conf: dict | None = None):
    """The engine's session with its defaults; only the core count is
    pinned (through ``prepare_env``)."""
    from riko_spark.session import get_spark

    spark = get_spark(app_name=app, extra_conf=extra_conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm() -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it spawned) to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 - the gateway may already be gone
        pass
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - subprocess.TimeoutExpired
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def become_subreaper() -> None:
    """Have orphaned descendants re-parented to this process (Linux
    ``PR_SET_CHILD_SUBREAPER``), so that ``reap_descendants`` can wait
    for them even after their own parent has exited."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        out += kids
        todo += kids
    return out


def reap_descendants(grace: float = 10.0) -> None:
    """Stop every process this one started, directly or not, and wait
    until each has ended: SIGTERM, then SIGKILL after ``grace`` seconds."""
    t0 = time.monotonic()
    while time.monotonic() - t0 < 3 * grace:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        pids = _descendants(os.getpid())
        if not pids:
            return
        sig = signal.SIGTERM if time.monotonic() - t0 < grace else signal.SIGKILL
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def cpu_steal() -> tuple[int, int]:
    """(steal, total) CPU ticks of all CPUs so far, from ``/proc/stat``.
    Steal is time this guest was ready to run but the host ran another
    guest: every timing in a run slows with it, whatever the engine."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def percentile(xs: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    s = sorted(xs)
    if len(s) == 1:
        return float(s[0])
    pos = (len(s) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return float(s[lo] + (s[hi] - s[lo]) * (pos - lo))
