"""Host context recorded with every result: cores, versions, source
identity, load, the filesystem the workloads write to, bench.py's
canaries, and peak memory."""

from __future__ import annotations

import hashlib
import os
import statistics
import subprocess
import tempfile
import time
from unittest import mock


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def git_commit(root: str) -> str | None:
    if not os.path.exists(os.path.join(root, ".git")):
        return None
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"], capture_output=True,
            text=True, timeout=10,
        )
    except OSError:
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def source_digest(root: str, dirs=("samba_tv_ingest_etl_spark",)) -> str:
    """sha256 over the .py files under ``dirs`` (by default the
    package's): identifies the code under test where the checkout is
    not a git repository."""
    h = hashlib.sha256()
    for d in dirs:
        for dirpath, dirnames, files in os.walk(os.path.join(root, d)):
            dirnames.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    p = os.path.join(dirpath, f)
                    h.update(os.path.relpath(p, root).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


def filesystem_type(path: str) -> str:
    """fstype of the mount holding ``path`` (longest mount-point
    prefix in /proc/mounts)."""
    path = os.path.realpath(path)
    best, fstype = "", "unknown"
    with open("/proc/mounts") as fh:
        for line in fh:
            parts = line.split()
            mnt = parts[1].replace("\\040", " ")
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) > len(best):
                best, fstype = mnt, parts[2]
    return fstype


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident memory of this process plus its JVM child."""
    return vm_hwm_mb(os.getpid()) + vm_hwm_mb(jvm_pid)


def jvm_old_gen_peak_mb(spark) -> float:
    """Peak used bytes of the JVM's old generation: what the engine
    kept past young collections, plus large arrays. (With a fixed heap,
    the whole heap's peak use is just its capacity, since eden fills up
    before every young collection.)"""
    jvm = spark._jvm
    heap = jvm.java.lang.management.MemoryType.HEAP
    return sum(
        pool.getPeakUsage().getUsed()
        for pool in jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
        if pool.getType().equals(heap)
        and ("Old" in pool.getName() or "Tenured" in pool.getName())
    ) / (1 << 20)


def io_canary(directory: str) -> float:
    """bench.py's fdatasync canary, pointed at ``directory`` instead of
    /tmp so that it measures the filesystem the workloads write to."""
    import bench

    real = tempfile.mkstemp

    def mkstemp_in_directory(*args, **kwargs):
        kwargs["dir"] = directory
        return real(*args, **kwargs)

    with mock.patch("tempfile.mkstemp", mkstemp_in_directory):
        return bench.host_io_canary(runs=1)


def spark_canary(spark, runs: int = 5) -> float:
    """Median seconds of a small fixed Spark job (one stage, no I/O):
    a per-run host reading cheap enough for timed runs, where
    bench.py's 20-billion-row CPU canary does not fit."""
    out = []
    for _ in range(runs):
        t0 = time.perf_counter()
        spark.range(0, 200_000_000, 1, 4).selectExpr("sum(id % 7)").collect()
        out.append(time.perf_counter() - t0)
    return statistics.median(out)


def cpu_canary(spark) -> float:
    import bench

    return bench.host_speed_canary(spark, runs=1)


def context(spark, root: str, work: str) -> dict:
    jvm = spark._jvm
    return {
        "nproc": cores(),
        "spark_version": spark.version,
        "java_version": jvm.java.lang.System.getProperty("java.version"),
        "git_commit": git_commit(root),
        "source_digest": source_digest(root),
        "work_fs_type": filesystem_type(work),
    }
