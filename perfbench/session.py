"""Spark session lifecycle for one benchmark run, sized for the machine.

The session runs `local[nproc]` in this process's JVM child. Everything
the JVM and the Python workers write (shuffle files, temp files) lands
in the run directory, and `stop` waits for every process the session
started to exit.
"""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time

#: driver heap, fixed from the start (-Xms = -Xmx) so the JVM's resident
#: size does not depend on when the collector grows the heap: explicit,
#: because the engine's default (16g) is the whole RAM of a 16 GiB host,
#: and the benchmark's inputs need a fraction of this
DRIVER_MEMORY = "1g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def session_settings(aqe: bool) -> dict[str, str]:
    """Spark settings the benchmark adds on top of `ccspark.get_spark`."""
    return {
        "spark.driver.memory": DRIVER_MEMORY,
        # the console progress bar rewrites stdout lines mid-print
        "spark.ui.showConsoleProgress": "false",
        # AQE re-planning nearly doubles the crawl round loop's jobs
        "spark.sql.adaptive.enabled": "true" if aqe else "false",
    }


def start(run_dir: str, app: str, aqe: bool):
    """Build the session; returns it once a first trivial job has run, so
    the JVM and the scheduler are fully up."""
    from ccspark import get_spark

    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    extra = session_settings(aqe)
    extra["spark.local.dir"] = tmp
    extra["spark.driver.extraJavaOptions"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEMORY}")
    spark = get_spark(app, master=f"local[{nproc()}]", extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    """Every live process below pid (default: this process)."""
    kids = _children()
    out, todo = [], [pid or os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _alive(pid: int) -> bool:
    """Running or sleeping; an exited process awaiting its reaper counts
    as gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] not in ("Z", "X")
    except (OSError, IndexError):
        return False


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().startswith("python")
    except OSError:
        return False


def jvm_pid() -> int:
    from pyspark import SparkContext
    return SparkContext._gateway.proc.pid


class RssProbe:
    """Peak resident memory of the engine: the sum of VmHWM over the JVM
    and the Python daemon and workers below it, maximised over samples
    taken every `period_s` by a background thread while the probe is
    open. Other processes below the JVM are skipped: a JVM child caught
    between fork and exec reports the JVM's own high-water mark."""

    def __init__(self, jvm_pid: int, period_s: float = 0.5):
        self.jvm_pid = jvm_pid
        self.period_s = period_s
        self.peak_mb = 0.0
        self.detail = ""
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> None:
        kb = [_hwm_kb(self.jvm_pid)] + [
            _hwm_kb(p) for p in descendants(self.jvm_pid) if _is_python(p)]
        total = sum(kb) / 1024.0
        with self._lock:
            if total > self.peak_mb:
                self.peak_mb = total
                self.detail = (f"jvm_mb={kb[0] / 1024.0:.0f} python_workers="
                               f"{len(kb) - 1} workers_mb="
                               f"{total - kb[0] / 1024.0:.0f}")

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            self.sample()

    def __enter__(self):
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()


def stop(spark, timeout_s: float = 30.0) -> None:
    """Stop the session and the JVM, and wait until the JVM and every
    Python worker it forked have exited."""
    from pyspark import SparkContext

    procs = descendants()
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits on stdin EOF
            try:
                proc.wait(timeout=timeout_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=timeout_s)
    deadline = time.monotonic() + timeout_s
    alive = [p for p in procs if _alive(p)]
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if _alive(p)]
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
