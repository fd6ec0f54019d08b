"""Host context for a result record: width, steal, versions, memory."""

from __future__ import annotations

import hashlib
import os
import platform
import signal
import subprocess
import threading
import time


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from the first line of /proc/stat."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return (0, 0)
    return (vals[7] if len(vals) > 7 else 0, sum(vals))


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / total if total > 0 else 0.0


def source_commit(root: str) -> str:
    """The git commit when ``root`` is a git checkout, else a digest of
    the program's sources (``semargl_spark/`` and ``jobs/``)."""
    if os.path.exists(os.path.join(root, ".git")):
        try:
            out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                                 capture_output=True, text=True, timeout=10)
            if out.returncode == 0:
                return out.stdout.strip()
        except (OSError, subprocess.SubprocessError):
            pass
    h = hashlib.sha256()
    for top in ("semargl_spark", "jobs"):
        for dirpath, dirnames, files in sorted(os.walk(os.path.join(root, top))):
            dirnames.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    with open(os.path.join(dirpath, f), "rb") as fh:
                        h.update(f.encode() + fh.read())
    return "src-sha256:" + h.hexdigest()[:16]


def stamp(root: str, seed: int, steal: float) -> dict:
    import pyarrow
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)), "steal_pct": round(steal, 3),
        "commit": source_commit(root), "seed": seed,
        "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
    }


def _pss_kib(pid: int) -> int:
    """Proportional set size: pages a forked Python worker shares with
    the daemon it came from count once across them, not once each."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def cpu_seconds(root_pid: int) -> float:
    """User + system CPU time of ``root_pid`` and every process below it,
    including exited children they have reaped. Time the hypervisor
    stole from the vCPU is not in it."""
    ticks = 0
    for pid in descendants(root_pid):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def descendants(root_pid: int) -> list[int]:
    """``root_pid`` and every process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


class RssSampler:
    """Samples the resident memory (PSS) of the Spark JVM plus every
    process under it (the Python daemon and workers) on a background
    thread."""

    def __init__(self, jvm_pid: int, interval: float = 0.2):
        self._pid, self._interval = jvm_pid, interval
        self._stop = threading.Event()
        self.peak_mb = 0.0
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            kib = sum(_pss_kib(p) for p in descendants(self._pid))
            self.peak_mb = max(self.peak_mb, kib / 1024)
            self._stop.wait(self._interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def wait_gone(pids: list[int], timeout: float) -> None:
    """Wait until every pid has exited; kill what is left at the deadline."""
    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in pids):
        if time.monotonic() > deadline:
            for p in pids:
                if _alive(p):
                    os.kill(p, signal.SIGKILL)
            deadline = time.monotonic() + timeout
        time.sleep(0.1)
