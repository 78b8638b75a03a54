"""Run-scoped state, Spark sessions, spans, timing loops and memory sampling.

Everything a run writes lives under ``<repo>/.perfbench_state`` (wiped at
start and at exit, so no run sees another run's stores or inputs); traces
that outlive the run go to ``<repo>/.perfbench_out``.
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE_DIR = os.path.join(ROOT, ".perfbench_state")
OUT_DIR = os.path.join(ROOT, ".perfbench_out")

# every load leg runs at local[CORES] or less, from one driver process
CORES = max(1, min(4, os.cpu_count() or 1))


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


class RunDirs:
    """Owns the run's scratch tree; ``close`` removes it."""

    def __init__(self, root: str = STATE_DIR):
        self.root = root
        shutil.rmtree(root, ignore_errors=True)
        for sub in ("tmp", "local", "warehouse", "eventlog", "data"):
            os.makedirs(os.path.join(root, sub))
        # Python-side temp files (pyspark serialisation, duckdb) and the
        # Spark workers inherit this; spark-submit's launcher JVM reads
        # SPARK_LAUNCHER_OPTS (the driver JVM's flags are set in Sessions)
        os.environ["TMPDIR"] = self.path("tmp")
        os.environ["SPARK_LAUNCHER_OPTS"] = (
            f"-XX:-UsePerfData -Djava.io.tmpdir={self.path('tmp')}"
        )
        paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        if ROOT not in paths:
            os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, *paths])

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)

    def fresh(self, *parts: str) -> str:
        """An empty directory at ``path(*parts)``."""
        p = self.path(*parts)
        shutil.rmtree(p, ignore_errors=True)
        os.makedirs(p)
        return p

    def close(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)


class Sessions:
    """Starts and restarts the Spark session through the program's own
    ``build_session``.  The JVM is launched once; a restart replaces only
    the SparkContext, so it can switch core count or the event log."""

    def __init__(self, dirs: RunDirs):
        self.dirs = dirs
        self.spark = None

    def start(self, cores: int = CORES, event_log: bool = False):
        from unraveldocs_spark.session import build_session

        self.stop()
        conf = {
            "spark.local.dir": self.dirs.path("local"),
            "spark.sql.warehouse.dir": self.dirs.path("warehouse"),
            # read at JVM launch only: temp files stay in the run dir.  The
            # heap size is the program's own (build_session's driver memory)
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={self.dirs.path('tmp')} -XX:-UsePerfData"
            ),
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": "true" if event_log else "false",
        }
        if event_log:
            conf["spark.eventLog.dir"] = "file://" + self.dirs.path("eventlog")
            conf["spark.eventLog.compress"] = "false"
            # per-stage peaks of the executor metrics (JVMHeapMemory, ...),
            # polled often enough to see sub-second stages
            conf["spark.eventLog.logStageExecutorMetrics"] = "true"
            conf["spark.executor.metrics.pollingInterval"] = "50ms"
        self.spark = build_session(
            "perfbench", master=f"local[{cores}]", extra_conf=conf
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self, timeout: float = 30.0) -> None:
        """Stop the session, end the JVM (it exits when its stdin closes)
        and wait until every process this run started has exited."""
        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None) if gateway is not None else None
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        reap_descendants(timeout)

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None) if gateway is not None else None
        return proc.pid if proc is not None else None

    @contextmanager
    def job_label(self, label: str):
        """Tag the Spark jobs started inside the block (the event log's
        ``spark.job.description``), restoring the outer tag afterwards."""
        sc = self.spark.sparkContext
        outer = sc.getLocalProperty("spark.job.description")
        sc.setJobDescription(label)
        try:
            yield
        finally:
            sc.setJobDescription(outer)


def noop(df) -> None:
    """Execute ``df`` fully and discard the rows (the noop sink keeps
    sorts and projections that ``count()`` lets Catalyst drop)."""
    df.write.format("noop").mode("overwrite").save()


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
        # the command name may contain spaces; ppid follows the last ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for k in kids.get(todo.pop(), ()):
            out.append(k)
            todo.append(k)
    return out


def reap_descendants(timeout: float) -> None:
    """Wait for every descendant of this process to exit; kill the ones
    still running after ``timeout`` seconds."""
    def reap(pid, flags):
        try:
            os.waitpid(pid, flags)
        except ChildProcessError:  # not our direct child: init reaps it
            pass

    deadline = time.monotonic() + timeout
    while (left := descendants(os.getpid())) and time.monotonic() < deadline:
        for pid in left:
            reap(pid, os.WNOHANG)  # an exited direct child stays listed until reaped
        time.sleep(0.1)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        reap(pid, 0)


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def tree_rss_bytes(pid: int) -> tuple[int, int]:
    """Resident bytes of ``pid``, and of its descendants.  A descendant
    still running the root's executable is a child the JVM is spawning that
    has not exec'd yet: it shares the JVM's memory, so counting it would
    count the JVM twice."""
    page = os.sysconf("SC_PAGE_SIZE")
    root = _exe(pid)
    own = rest = 0
    for p in (pid, *descendants(pid)):
        if p != pid and _exe(p) == root:
            continue
        try:
            with open(f"/proc/{p}/statm") as f:
                rss = int(f.read().split()[1]) * page
        except OSError:  # exited between listing and reading
            continue
        if p == pid:
            own = rss
        else:
            rest += rss
    return own, rest


class RssSampler:
    """Samples the resident memory of the driver JVM and of its Python
    workers from /proc on a background thread, keeping the largest total
    and the largest workers' share seen while running."""

    def __init__(self, pid_fn, interval: float = 0.1):
        self.pid_fn = pid_fn
        self.interval = interval
        self.peak = self.peak_workers = 0
        self._stop = threading.Event()
        self._thread = None

    def _loop(self) -> None:
        while not self._stop.is_set():
            pid = self.pid_fn()
            if pid is not None:
                jvm, workers = tree_rss_bytes(pid)
                self.peak = max(self.peak, jvm + workers)
                self.peak_workers = max(self.peak_workers, workers)
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


class Tracer:
    """In-memory spans: name, start, end, parent span and free attributes.
    The spans of one traced workload iteration descend from one
    ``iteration`` span that carries its index."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.monotonic(),
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.monotonic()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and "end" in s]

    def mean(self, name: str) -> float:
        d = self.durations(name)
        return sum(d) / len(d) if d else 0.0

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({**extra, "spans": self.spans}, f, indent=1, default=str)


def closed_loop(seconds: float, step, min_steps: int) -> list:
    """Call ``step()`` back to back (the next call starts only after the
    previous one returned) until ``seconds`` have passed and at least
    ``min_steps`` calls were made; the last call may run past the time.
    Returns the list of step results."""
    t0 = time.monotonic()
    results = []
    while True:
        t = time.monotonic()
        results.append(step())
        print(
            f"[perfbench] step {len(results)} ({time.monotonic() - t:.2f}s): {results[-1]!r}",
            file=sys.stderr,
        )
        if len(results) >= min_steps and time.monotonic() - t0 >= seconds:
            return results


def repeat_setup(times: int, setup) -> list[float]:
    """Run ``setup()`` ``times`` times, returning each wall time."""
    out = []
    for _ in range(times):
        t = time.monotonic()
        setup()
        out.append(time.monotonic() - t)
    return out
