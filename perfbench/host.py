"""Host sizing and host facts for one benchmark run.

The engine's defaults (``session.py``) target a 32-core box with a 48 GB
heap. The benchmark sizes the session to the machine it runs on instead:
``local[nproc]``, a driver heap derived from MemAvailable, and Spark's
scratch space inside the checkout. Every result carries the facts needed
to judge it: cpus, heap, versions, load average and steal ticks measured
around the run.
"""

from __future__ import annotations

import hashlib
import os
import signal
import subprocess
import threading
import time


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # non-Linux
        return os.cpu_count() or 1


def mem_available_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemAvailable missing from /proc/meminfo")


def heap_mb(mem_available: int | None = None) -> int:
    """A quarter of MemAvailable in whole 512 MiB steps, clamped to
    [1 GiB, 1.5 GiB]: the inputs are small, the host's memory is shared
    with other tenants, and the steps keep the heap (and so the RSS) the
    same from run to run while MemAvailable drifts."""
    avail = mem_available if mem_available is not None else mem_available_bytes()
    quarter = avail // 4 // (1 << 20)
    return int(min(1536, max(1024, quarter // 512 * 512)))


def size_environment(cache_dir: str) -> dict:
    """Export the sizing the engine reads from its environment, and keep
    every scratch file (Spark local dirs, JVM and Python temp files) under
    ``cache_dir``. Returns the chosen sizing."""
    local = os.path.join(cache_dir, "spark-local")
    tmp = os.path.join(cache_dir, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    heap = heap_mb()
    os.environ["SPARK_DRIVER_MEMORY"] = f"{heap}m"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    return {"heap_mb": heap, "local_dir": local, "tmp_dir": tmp}


def steal_ticks() -> int:
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8])  # cpu user nice system idle iowait irq softirq STEAL


def load_avg() -> float:
    return os.getloadavg()[0]


def versions() -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {"pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "numpy": numpy.__version__}


def source_id(root: str) -> str:
    """The git commit when ``root`` is a git checkout, else a digest of the
    engine's sources (a plain source export has no git metadata)."""
    if os.path.isdir(os.path.join(root, ".git")):
        try:
            out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                                 capture_output=True, text=True, timeout=10)
            if out.returncode == 0:
                return out.stdout.strip()
        except (OSError, subprocess.SubprocessError):
            pass
    h = hashlib.sha256()
    for base, dirs, files in os.walk(os.path.join(root, "dagli_spark")):
        dirs.sort()
        for fn in sorted(files):
            if fn.endswith(".py"):
                with open(os.path.join(base, fn), "rb") as f:
                    h.update(fn.encode() + f.read())
    return "src-" + h.hexdigest()[:12]


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces/parens: fields follow the last ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, stack = [], list(kids.get(pid, []))
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(kids.get(p, []))
    return out


def become_subreaper() -> None:
    """Have orphaned descendants (the Python workers the Spark JVM forks)
    re-parented to this process, so :func:`reap_descendants` still finds
    them after their parent has exited."""
    try:
        import ctypes

        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):  # non-Linux
        pass


def _reap_zombies() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def reap_descendants(grace_s: float = 10.0, term_s: float = 5.0) -> list[int]:
    """Wait until every descendant of this process has ended: on its own
    for ``grace_s``, then after SIGTERM for ``term_s``, then after
    SIGKILL, giving up 10 s after that. Returns the pids that had to be
    signalled."""
    me = os.getpid()
    signalled: list[int] = []
    t0 = time.monotonic()
    sent = None
    while True:
        _reap_zombies()
        alive = descendants(me)
        waited = time.monotonic() - t0
        if not alive or waited >= grace_s + term_s + 10.0:
            return signalled
        want = (signal.SIGKILL if waited >= grace_s + term_s
                else signal.SIGTERM if waited >= grace_s else None)
        if want is not None and want != sent:
            for p in alive:
                try:
                    os.kill(p, want)
                except ProcessLookupError:
                    continue
                if p not in signalled:
                    signalled.append(p)
            sent = want
        time.sleep(0.05)


def tree_rss_bytes(pid: int) -> int:
    """Resident memory of ``pid``'s descendants (the Spark driver JVM and
    the Python workers it forks), excluding ``pid`` itself."""
    total = 0
    page = os.sysconf("SC_PAGE_SIZE")
    for p in descendants(pid):
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total


class RssSampler:
    """Background sampler of the peak summed RSS of this process's
    descendants."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


class HostBracket:
    """Load average and steal ticks before and after the measured work."""

    def __enter__(self) -> "HostBracket":
        self.load_before = load_avg()
        self.steal_before = steal_ticks()
        self.t0 = time.monotonic()
        return self

    def __exit__(self, *exc) -> None:
        self.load_after = load_avg()
        self.steal_delta = steal_ticks() - self.steal_before
        self.seconds = time.monotonic() - self.t0

    def facts(self) -> dict:
        return {"load_before": self.load_before, "load_after": self.load_after,
                "steal_ticks": self.steal_delta,
                "bracket_s": round(self.seconds, 3)}
