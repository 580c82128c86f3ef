"""Host sizing, per-run scratch, worker RSS sampling and process clean-up.

Everything here is set from outside the package: the session is sized
through ``get_spark(master=..., shuffle_partitions=..., extra_conf=...)``
and environment variables, never by editing package defaults.
"""

from __future__ import annotations

import os
import shutil
import signal
import tempfile
import threading
import time
import traceback


def nproc() -> int:
    """CPUs this process may run on (the affinity mask, not the host)."""
    return len(os.sched_getaffinity(0))


def driver_mem() -> str:
    """Driver heap that fits physical RAM: a quarter of it, 1g..6g."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal"))
    return f"{max(1, min(6, kb // (4 * 1024 * 1024)))}g"


def prepare(root: str) -> str:
    """Create the per-run scratch dir inside the checkout and point every
    temp-file consumer at it: Python's ``tempfile`` (the streaming
    modules' ``mkdtemp`` dirs land here), the JVM, and Spark's local
    dirs. Python workers import the package through ``PYTHONPATH``."""
    runs = os.path.join(root, ".perfbench_runs")
    os.makedirs(runs, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"run{os.getpid()}_", dir=runs)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = driver_mem()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = os.environ.get("PYSPARK_PYTHON", "python3")
    return run_dir


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/statm") as f:
        return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") / 2**20


def _is_python_worker(pid: int) -> bool:
    with open(f"/proc/{pid}/cmdline", "rb") as f:
        return b"pyspark" in f.read()


class RssSampler:
    """Samples, from /proc, the RSS of every Python worker below this
    process (the pyspark daemon and its forked workers) and keeps the
    highest single-process value seen while ``active``."""

    PERIOD_S = 0.1

    def __init__(self) -> None:
        self.peak_mb = 0.0
        self.active = False
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.wait(self.PERIOD_S):
            if not self.active:
                continue
            for pid in descendants(me):
                try:
                    if _is_python_worker(pid):
                        self.peak_mb = max(self.peak_mb, _rss_mb(pid))
                except OSError:
                    pass

    def close(self) -> None:
        self._stop.set()
        self._thread.join()


def stop_all(spark, run_dir: str | None) -> None:
    """Stop Spark, end the JVM and every process below this one, wait for
    each, then delete the run dir."""
    if spark is not None:
        try:
            spark.stop()
        except Exception:  # keep going: the JVM is ended below either way
            traceback.print_exc()
    try:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=20)
                except Exception:
                    proc.kill()
                    proc.wait()
    except ImportError:
        pass
    deadline = time.monotonic() + 10
    while True:
        left = descendants(os.getpid())
        if not left:
            break
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for pid in left:
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        for pid in left:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.1)
    if run_dir:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass
