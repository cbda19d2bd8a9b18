"""Host sizing and /proc readers: steal share, process-tree CPU and RSS.

Linux only: every reader parses /proc directly.
"""

from __future__ import annotations

import os
import threading

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE_BYTES = os.sysconf("SC_PAGE_SIZE")
# a run whose system-wide steal share exceeds this is flagged contaminated
STEAL_FLAG = 0.05


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def session_env(work_dir: str) -> dict[str, str]:
    """Environment that sizes the engine's SparkSession to this host:
    local[nproc], a driver heap of at most 6 GB and 40% of RAM, GC
    threads capped at nproc, and every scratch directory inside
    ``work_dir``."""
    n = nproc()
    heap_mb = min(6144, int(mem_total_mb() * 0.4))
    tmp = os.path.join(work_dir, "tmp")
    return {
        "SPARK_GRAFT_CPUS": str(n),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_GRAFT_DRIVER_JAVA_OPTS": (
            f"-XX:ParallelGCThreads={n} -XX:ConcGCThreads={max(1, n // 4)}"
            f" -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        ),
        "SPARK_LOCAL_DIRS": os.path.join(work_dir, "spark-local"),
        "TMPDIR": tmp,
    }


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies summed over all cpus, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    dt = after[1] - before[1]
    return (after[0] - before[0]) / dt if dt > 0 else 0.0


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may contain spaces; it ends at the last ')'
    head, tail = raw.rsplit(")", 1)
    return [head.split("(", 1)[1]] + tail.split()


def descendants(root: int) -> dict[int, list[str]]:
    """{pid: parsed stat} for every live process below ``root``.
    Parsed stat: [comm, state, ppid, ...] (field k of proc(5) at k-2)."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    kids: dict[int, list[int]] = {}
    for pid, st in stats.items():
        kids.setdefault(int(st[2]), []).append(pid)
    out, todo = {}, list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out[pid] = stats[pid]
        todo.extend(kids.get(pid, []))
    return out


def alive(pid: int) -> bool:
    st = _stat(pid)
    return st is not None and st[1] != "Z"


def tree_cpu(root: int) -> tuple[float, float]:
    """(JVM cpu s, Python worker cpu s) consumed so far by the processes
    below ``root``. Python workers count reaped children too, since the
    PySpark daemon forks them."""
    jvm = py = 0.0
    for st in descendants(root).values():
        utime, stime, cutime, cstime = (int(x) for x in st[12:16])
        if st[0] == "java":
            jvm += (utime + stime) / CLK_TCK
        elif st[0].startswith("python"):
            py += (utime + stime + cutime + cstime) / CLK_TCK
    return jvm, py


def tree_rss_mb(root: int) -> float:
    """Resident memory of ``root`` and every process below it, in MB."""
    pids = [root, *descendants(root)]
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except OSError:
            continue
    return total * PAGE_BYTES / 2**20


class RssSampler:
    """Samples the process tree's total RSS on a thread; ``peak_mb`` is
    the highest total since the last ``reset``."""

    def __init__(self, root: int, period_s: float = 0.5) -> None:
        self.root, self.period_s = root, period_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(self.period_s):
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root))

    def reset(self) -> None:
        self.peak_mb = tree_rss_mb(self.root)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
