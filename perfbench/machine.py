"""What a result depends on besides the code: the machine record, peak
RSS sampled from outside the Spark processes, Spark's event log, and
the process cleanup at the end of a run (``stop_spark`` in the run
itself, ``supervise`` around it)."""

from __future__ import annotations

import ctypes
import glob
import hashlib
import json
import os
import platform
import signal
import subprocess
import sys
import threading
import time


# one process of the CPU-ceiling measurement: sleep until a common
# start, spin, print when it finished
_SPIN = """
import sys, time
n, start = int(sys.argv[1]), float(sys.argv[2])
time.sleep(max(0.0, start - time.monotonic()))
x = 0
for i in range(n):
    x = (x * 31 + i) & 0xFFFFFFFF
print(time.monotonic())
"""


def _spin_wall(procs: int, n: int) -> float:
    """Wall time from a common start until the last of ``procs``
    processes running the spin loop at once has finished.  Plain child
    processes, each waited for: a multiprocessing pool would leave its
    resource tracker running until this process exits."""
    start = time.monotonic() + 0.3
    ps = [subprocess.Popen([sys.executable, "-c", _SPIN, str(n),
                            repr(start)], stdout=subprocess.PIPE, text=True)
          for _ in range(procs)]
    ends = [float(p.communicate()[0]) for p in ps]
    return max(ends) - start


def cpu_ceiling(cores: int, n: int = 2_000_000) -> float:
    """Pure-CPU multiprocess speedup from 1 core to ``cores``: the same
    spin loop run once alone, then once in each of ``cores`` processes
    at the same time."""
    one = _spin_wall(1, n)
    many = _spin_wall(cores, n)
    return cores * one / many


def _src_digest(root: str) -> str:
    h = hashlib.sha1()
    for p in sorted(glob.glob(f"{root}/ferenda_spark/**/*.py",
                              recursive=True)):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _git_rev(root: str) -> str | None:
    if not os.path.exists(os.path.join(root, ".git")):
        return None
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except OSError:
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) CPU time of the machine so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def record(root: str, cores: int, spark_conf: dict,
           since: tuple[int, int]) -> dict:
    """The machine a result was measured on.  ``since`` is
    ``cpu_jiffies()`` at the start of the run: the share of CPU time the
    hypervisor gave to other guests since then is ``cpu_steal_share``."""
    import pyspark
    steal, total = (b - a for a, b in zip(since, cpu_jiffies()))
    return {
        "nproc": os.cpu_count(),
        "cores_usable": len(os.sched_getaffinity(0)),
        "loadavg": os.getloadavg(),
        "cpu_steal_share": steal / max(total, 1),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "git_rev": _git_rev(root),
        "ferenda_spark_sha1": _src_digest(root),
        "master": f"local[{cores}]",
        "spark_conf": spark_conf,
    }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


_PAGE = os.sysconf("SC_PAGE_SIZE")


def _resident(pid: int) -> int:
    """Resident bytes of ``pid``.  The JVM's come from statm, which costs
    nothing; a Python worker's are its PSS, where each page it shares
    with its forked siblings is split among them, so forks are not
    counted once each.  (PSS walks the page tables; doing that to the
    JVM every sample slows it down.)"""
    try:
        with open(f"/proc/{pid}/comm") as f:
            if f.read().strip() == "java":
                with open(f"/proc/{pid}/statm") as g:
                    return int(g.read().split()[1]) * _PAGE
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


class RssSampler:
    """Peak summed resident memory of this process's descendants (the
    driver JVM and its Python workers), read from /proc by a thread
    every ``period`` seconds; the benchmark's own interpreter is not
    counted."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_resident(p) for p in descendants(me))
            self.peak = max(self.peak, total)
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


def event_log_tasks(log_dir: str,
                    windows: list[tuple[float, float]]) -> int:
    """Tasks launched inside ``windows`` (epoch seconds), counted from
    the uncompressed Spark event log under ``log_dir``."""
    n = 0
    # Spark 4 writes a rolling log: a directory of event files per app
    for path in glob.glob(f"{log_dir}/**/events_*", recursive=True):
        with open(path) as f:
            for line in f:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                ev = json.loads(line)
                t = ev["Task Info"]["Launch Time"] / 1000.0
                n += any(a <= t <= b for a, b in windows)
    return n


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, shut the JVM down and wait until it and every
    process it started have exited."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    started = descendants(os.getpid())
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout)
    # the Python worker daemon exits once the JVM's pipe closes; it may
    # have been re-parented by then, so wait on the pids seen before
    deadline = time.time() + timeout
    while _alive(started) and time.time() < deadline:
        time.sleep(0.2)
    for p in _alive(started):
        try:
            os.kill(p, 9)
        except OSError:
            pass


def _alive(pids: list[int]) -> list[int]:
    out = []
    for p in pids:
        try:
            with open(f"/proc/{p}/stat") as f:
                state = f.read().rsplit(")", 1)[1].split()[0]
        except (OSError, IndexError):
            continue
        if state != "Z":
            out.append(p)
    return out


# prctl options (linux/prctl.h)
_PR_SET_PDEATHSIG = 1
_PR_SET_CHILD_SUBREAPER = 36


def _prctl(option: int, arg: int) -> None:
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(option, arg, 0, 0, 0) != 0:
        err = ctypes.get_errno()
        raise OSError(err, os.strerror(err))


def set_subreaper() -> None:
    """Make this process the reaper of its orphaned descendants, so a
    process whose parent exits stays below this one, where it can be
    found, killed and waited for."""
    _prctl(_PR_SET_CHILD_SUBREAPER, 1)


def _die_with_parent() -> None:
    _prctl(_PR_SET_PDEATHSIG, signal.SIGKILL)


def kill_and_reap(timeout: float = 30.0) -> None:
    """Kill every descendant of this process and wait for each, until
    none is left, alive or zombie.  Needs ``set_subreaper`` first, or an
    orphan escapes to init."""
    me = os.getpid()
    deadline = time.monotonic() + timeout
    while True:
        for p in descendants(me):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return
        if time.monotonic() > deadline:
            return
        time.sleep(0.05)


class _Stopped(Exception):
    pass


def _raise_stopped(signum, frame):
    raise _Stopped(signal.Signals(signum).name)


def supervise(cmd: list[str], timeout: float) -> int:
    """Run ``cmd`` as a child, wait for it at most ``timeout`` seconds,
    then kill and wait for every process it left behind (the Spark JVM,
    the Python worker daemon and its workers, anything they started),
    also when the run fails, times out or this process is signalled.
    Returns the child's exit code, 1 if it did not exit by itself.  The
    child is killed if this process dies first."""
    set_subreaper()
    for s in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(s, _raise_stopped)
    rc = 1
    try:
        child = subprocess.Popen(cmd, preexec_fn=_die_with_parent)
        try:
            rc = child.wait(timeout)
        except subprocess.TimeoutExpired:
            print(f"perfbench: run still going after {timeout:.0f} s; "
                  "stopped it", file=sys.stderr)
    except _Stopped as e:
        print(f"perfbench: stopped by {e}", file=sys.stderr)
    finally:
        for s in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
            signal.signal(s, signal.SIG_IGN)
        kill_and_reap()
    return rc if rc >= 0 else 1
