"""Process-tree memory sampling, run context and process clean-up (Linux
/proc). Nothing here adjusts a metric."""

from __future__ import annotations

import os
import subprocess
import sys
import time

PAGE = os.sysconf("SC_PAGE_SIZE")


def process_start_time() -> float:
    """Epoch seconds at which this process started (from /proc), so set-up
    time includes interpreter start and imports."""
    try:
        with open("/proc/self/stat") as fh:
            start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as fh:
            uptime = float(fh.read().split()[0])
        hz = os.sysconf("SC_CLK_TCK")
        return time.time() - uptime + start_ticks / hz
    except (OSError, ValueError, IndexError):
        return time.time()


def descendants(pid: int) -> list[int]:
    """pid and every live process below it."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: shared pages (Spark's forked Python workers
    share most of theirs) are split between the processes sharing them,
    so a sum over the tree counts each page once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, ValueError, IndexError):
        pass
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * PAGE
    except (OSError, ValueError, IndexError):
        return 0


def tree_rss_bytes(pid: int) -> int:
    """Resident memory of pid and its descendants (PSS-based)."""
    return sum(_pss_bytes(p) for p in descendants(pid))


class RssSampler:
    """Samples the resident memory of this process tree (driver JVM and
    Python workers included) from a separate process, so sampling never
    holds this interpreter's lock; ``stop`` returns the largest sum seen,
    in bytes. Each sample walks the page tables of every process in the
    tree (about 10 ms of CPU with a 0.5 GB JVM), hence the interval."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self._proc: subprocess.Popen | None = None
        self._peak: int | None = None

    def start(self) -> "RssSampler":
        self._proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), str(os.getpid()),
             str(self.interval)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE)
        return self

    def stop(self) -> int:
        if self._peak is None:
            out, _ = self._proc.communicate(b"", timeout=60)  # EOF ends it
            self._peak = int(out.strip() or 0)
        return self._peak


def _sample_until_eof(pid: int, interval: float) -> int:
    import select

    me, peak = os.getpid(), 0
    while True:
        peak = max(peak, sum(_pss_bytes(p) for p in descendants(pid)
                             if p != me))
        if select.select([sys.stdin], [], [], interval)[0]:
            return peak


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return vals[7], sum(vals[:8])


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between."""
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


_PROBE = (
    "import hashlib, zlib, time, numpy as np\n"
    "t0=time.time()\n"
    "buf = np.random.default_rng(1).integers(0,255,40000,"
    "dtype=np.uint8).tobytes()\n"
    "n=0\n"
    "while time.time()-t0 < {seconds}:\n"
    "    for _ in range(5):\n"
    "        hashlib.sha256(buf).digest(); zlib.compress(buf,6)\n"
    "    n+=5\n"
    "print(n)\n")


def cpu_probe(procs: int, seconds: float = 1.0) -> float:
    """Aggregate units/s of a parallel sha256+zlib loop — the CPU mix of
    the synthetic fetch. Recorded beside the metrics, never applied."""
    ps = [subprocess.Popen([sys.executable, "-c",
                            _PROBE.format(seconds=seconds)],
                           stdout=subprocess.PIPE)
          for _ in range(procs)]
    total = 0
    for p in ps:
        out, _ = p.communicate(timeout=60)
        total += int(out or 0)
    return total / seconds


def versions() -> dict:
    import duckdb
    import pyarrow
    import pyspark

    return {"python": sys.version.split()[0], "pyspark": pyspark.__version__,
            "pyarrow": pyarrow.__version__, "duckdb": duckdb.__version__}


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, shut the JVM gateway down and wait until the JVM
    and every process under it (Python workers) has ended."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return                      # already stopped
    proc = getattr(gw, "proc", None)
    tree = descendants(proc.pid) if proc is not None else []
    spark.stop()
    gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except (OSError, AttributeError):
            pass
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + timeout
    alive = tree
    while alive and time.time() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")
                 and not _zombie(p)]
        if alive:
            time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] == "Z"
    except (OSError, IndexError):
        return False


if __name__ == "__main__":
    print(_sample_until_eof(int(sys.argv[1]), float(sys.argv[2])))
