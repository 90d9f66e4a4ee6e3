"""Small measurement helpers: percentiles, CPU time, on-disk footprint,
memory."""

from __future__ import annotations

import os


def tail(samples, min_beyond: int = 10) -> tuple[float, float, int]:
    """The highest percentile with at least ``min_beyond`` samples above
    it: the sorted sample at 0-based position n - min_beyond - 1.
    Returns (value, percentile, sample count)."""
    xs = sorted(samples)
    n = len(xs)
    if n <= min_beyond:
        raise ValueError(f"{n} samples leave none with {min_beyond} "
                         "beyond it")
    return xs[n - min_beyond - 1], 100.0 * (n - min_beyond) / n, n


def iqm(samples) -> float:
    """Interquartile mean: the mean of the middle half of the sorted
    samples (a quarter dropped at each end, rounded down)."""
    xs = sorted(samples)
    cut = len(xs) // 4
    return sum(xs[cut:len(xs) - cut]) / (len(xs) - 2 * cut)


def disk_bytes(root: str) -> int:
    """Bytes of regular files under ``root``, each inode counted once,
    so hardlinks shared between index versions are not double counted."""
    seen: set[tuple[int, int]] = set()
    total = 0
    for dirpath, _, files in os.walk(root):
        for f in files:
            st = os.lstat(os.path.join(dirpath, f))
            key = (st.st_dev, st.st_ino)
            if key not in seen:
                seen.add(key)
                total += st.st_size
    return total


def parquet_files(root: str) -> list[str]:
    out = []
    for dirpath, _, files in os.walk(root):
        out.extend(os.path.join(dirpath, f) for f in files
                   if f.endswith(".parquet"))
    return out


def vm_hwm_mb() -> float:
    """Peak resident set of this process (VmHWM), in MiB."""
    with open("/proc/self/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc/self/status")


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used by process ``root`` and all its
    descendants, including children they have reaped. Time the host
    steals from the VM is not in it."""
    parent: dict[int, int] = {}
    times: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:             # exited while we looked
            continue
        pid = int(name)
        parent[pid] = int(fields[1])
        # utime, stime, cutime, cstime: fields 14-17
        times[pid] = sum(int(x) for x in fields[11:15])
    ticks = 0
    for pid, t in times.items():
        p = pid
        while p > 1 and p != root:
            p = parent.get(p, 0)
        if p == root:
            ticks += t
    return ticks / os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """Seconds the host has stolen from this VM's CPUs, all CPUs summed."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def process_age_s() -> float:
    """Seconds since this process started (/proc, 1/CLK_TCK resolution)."""
    with open("/proc/self/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])          # field 22: starttime
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")
