"""Host facts recorded beside every result: CPU probe, memory high-water
marks, other Spark JVMs, software versions and the source revision."""

from __future__ import annotations

import hashlib
import os
import platform
import subprocess
import time


def cpu_probe_s(rounds: int = 3) -> float:
    """Seconds for a fixed amount of single-threaded hashing (median of
    ``rounds``). A throttled or contended window reads slower."""
    block = b"x" * (1 << 20)
    times = []
    for _ in range(rounds):
        t0 = time.perf_counter()
        h = hashlib.sha256()
        for _ in range(48):
            h.update(block)
        h.digest()
        times.append(time.perf_counter() - t0)
    return sorted(times)[len(times) // 2]


def steal_s() -> float:
    """Seconds of CPU time the hypervisor gave to other guests (all CPUs,
    since boot): the difference over a window shows contention."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def cpu_s(pid: int | str = "self") -> float:
    """User plus system CPU seconds of a process, all its threads, live and
    exited. Time the hypervisor stole from the guest is not in it."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size (VmHWM) of a process, in MB; 0 if gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def spark_jvms() -> list[int]:
    """Pids of live JVMs that run a Spark driver (SparkSubmit)."""
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if b"java" in cmd and b"org.apache.spark.deploy.SparkSubmit" in cmd:
            out.append(int(d))
    return out


def source_revision(root: str) -> str:
    """The git revision of ``root`` when it is a git checkout, else a
    content hash of the engine's sources (``src:<sha256 prefix>``)."""
    try:
        rev = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
        if rev.returncode == 0 and rev.stdout.strip():
            return rev.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    h = hashlib.sha256()
    pkg = os.path.join(root, "caterpillar_spark")
    for dirpath, dirnames, files in os.walk(pkg):
        dirnames.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return "src:" + h.hexdigest()[:16]


def host_record(root: str) -> dict:
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "pinned_cores": sorted(os.sched_getaffinity(0)),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "revision": source_revision(root),
        "platform": platform.platform(),
    }
