"""Host facts recorded with every result, and process hygiene."""

from __future__ import annotations

import hashlib
import os
import platform
import resource
import signal
import subprocess
import time

# The Spark app name of every benchmark session; it appears on the JVM's
# command line, which is how a JVM left behind by a killed run is found.
APP_NAME = "perfbench"


def cpu_times() -> list[int]:
    """Aggregate jiffies from /proc/stat (user … steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float | None:
    """CPU steal between two ``cpu_times`` readings, as % of all jiffies."""
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])
    if total <= 0 or len(delta) < 8:
        return None
    return round(100.0 * delta[7] / total, 3)


def ram_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return round(int(line.split()[1]) / 1024 / 1024, 1)
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def cpu_model() -> str:
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                return line.split(":", 1)[1].strip()
    return platform.machine()


def jvm_heap_gb() -> int:
    """JVM heap sized to the host: a quarter of RAM, 1-4 GB, because the
    host's memory is shared and the engine's heap only grows."""
    return max(1, min(4, int(ram_gb() // 4)))


def tree_hash(repo: str, packages: tuple[str, ...]) -> str:
    """A short hash of the Python sources under ``packages`` of ``repo``."""
    h = hashlib.sha256()
    for pkg in packages:
        for root, dirs, files in os.walk(os.path.join(repo, pkg)):
            dirs.sort()
            for name in sorted(files):
                if name.endswith(".py"):
                    path = os.path.join(root, name)
                    h.update(os.path.relpath(path, repo).encode())
                    with open(path, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()[:16]


def source_identity(repo: str) -> dict:
    """The git commit when there is one, and always a hash of the engine's
    sources, which identifies the code in a checkout without git."""
    try:
        commit = subprocess.run(
            ["git", "-C", repo, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {"git_commit": commit, "source_sha256": tree_hash(repo, ("coco_search_spark",))}


def host_fingerprint() -> dict:
    """The facts two results must share to be compared."""
    return {
        "nproc": os.cpu_count(),
        "ram_gb": ram_gb(),
        "cpu_model": cpu_model(),
        "jvm_heap_gb": jvm_heap_gb(),
    }


def _cmdline(pid: int) -> list[str]:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().decode(errors="replace").split("\0")
    except OSError:
        return []


def _ppid(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return int(f.read().rsplit(")", 1)[1].split()[1])
    except (OSError, IndexError, ValueError):
        return None


def _is_benchmark(pid: int | None) -> bool:
    return pid is not None and any(
        arg.endswith(os.path.join("perfbench", "run.py")) for arg in _cmdline(pid)
    )


def reap_stray_jvms() -> int:
    """Kill benchmark JVMs whose benchmark process is gone (a killed run
    leaves its JVM running, and it would contend for the cores). Returns how
    many were killed, after waiting for each to exit."""
    marker = f"spark.app.name={APP_NAME}"
    stray = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        pid = int(name)
        cmd = _cmdline(pid)
        if cmd and cmd[0].endswith("java") and marker in cmd and not _is_benchmark(_ppid(pid)):
            stray.append(pid)
    killed = len(stray)
    for pid in stray:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            continue
    deadline = time.monotonic() + 30
    while stray and time.monotonic() < deadline:
        stray = [p for p in stray if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    if stray:
        raise RuntimeError(f"stray benchmark JVMs survived SIGKILL: {stray}")
    return killed


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak RSS of this process plus the peak RSS of its JVM (VmHWM)."""
    own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    if jvm_pid is not None:
        with open(f"/proc/{jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return (own_kb + jvm_kb) / 1024.0


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` in the process tree."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            parent = _ppid(int(name))
            if parent is not None:
                children.setdefault(parent, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out
