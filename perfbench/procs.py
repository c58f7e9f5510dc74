"""CPU and memory of the program under test, read from /proc.

The program is this process's descendants (the Spark JVM, which
spark-submit execs, and any Python workers it forks) plus the driver
side of this process (py4j calls and the foreachBatch callbacks run on
threads of this process). The benchmark's own threads (the load
generator and the sampler) are subtracted by their per-thread ticks.

The JVM's JIT compiler threads are subtracted too. A run is far too
short for compilation to finish, and how much of it lands in the
measured window varies from run to run by up to a fifth of the
program's CPU. Their ticks can only be read per thread, so the JVM is
started with ``JVM_OPTIONS``, which keep every compiler thread, and its
ticks, alive for the JVM's lifetime.
"""

from __future__ import annotations

import os
import threading
import time

_HZ = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
JVM_OPTIONS = "-XX:-UseDynamicNumberOfCompilerThreads"
# thread names are cut to 15 characters: "C2 CompilerThread0" reads so
_JIT_THREAD = ("C1 CompilerThre", "C2 CompilerThre")


def _stat_fields(path: str) -> list[str] | None:
    try:
        with open(path) as f:
            st = f.read()
    except OSError:
        return None
    # comm may hold spaces or parens; fields after the last ')' are fixed
    return st.rsplit(")", 1)[1].split()


def _descendants() -> list[int]:
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            rest = _stat_fields(f"/proc/{d}/stat")
            if rest:
                parent[int(d)] = int(rest[1])
    me = os.getpid()
    out = []
    for pid in parent:
        p, hops = parent[pid], 0
        while p not in (0, 1, me) and hops < 64:
            p = parent.get(p, 0)
            hops += 1
        if p == me:
            out.append(pid)
    return out


def _jit_ticks(pid: int) -> int:
    """CPU ticks of the JIT compiler threads of ``pid``."""
    total = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                st = f.read()
        except OSError:
            continue
        if st[st.index("(") + 1 : st.rindex(")")] in _JIT_THREAD:
            total += _ticks(st.rsplit(")", 1)[1].split(), False)
    return total


def _ticks(rest: list[str] | None, children: bool) -> int:
    if not rest:
        return 0
    t = int(rest[11]) + int(rest[12])
    if children:
        # reaped children's ticks, so a worker that exits between two
        # reads is not lost
        t += int(rest[13]) + int(rest[14])
    return t


class ProgramMeter:
    """Samples the program's resident memory on a background thread and
    reads its CPU time on demand. ``exclude_threads`` are native thread
    ids of this process whose CPU is the benchmark's, not the program's."""

    def __init__(self, interval_s: float = 0.25, cotenant=None) -> None:
        self.interval_s = interval_s
        self.peak_rss_bytes = 0
        self.exclude_threads: set[int] = set()
        self._cotenant = cotenant
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="program-meter", daemon=True)

    def __enter__(self) -> ProgramMeter:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def reset_peak(self) -> None:
        self.peak_rss_bytes = 0

    def rss_bytes(self) -> int:
        total = 0
        for pid in _descendants():
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * _PAGE
            except (OSError, IndexError, ValueError):
                continue
        return total

    def cpu_s(self) -> float:
        """Cumulative CPU seconds of the program so far, JIT compilation
        left out."""
        ticks = sum(
            _ticks(_stat_fields(f"/proc/{p}/stat"), True) - _jit_ticks(p) for p in _descendants()
        )
        ticks += _ticks(_stat_fields("/proc/self/stat"), False)
        for tid in self.exclude_threads:
            ticks -= _ticks(_stat_fields(f"/proc/self/task/{tid}/stat"), False)
        return ticks / _HZ

    def _loop(self) -> None:
        self.exclude_threads.add(threading.get_native_id())
        n = 0
        while not self._stop.is_set():
            self.peak_rss_bytes = max(self.peak_rss_bytes, self.rss_bytes())
            if self._cotenant is not None and n % 4 == 0:
                self._cotenant.sample()
            n += 1
            self._stop.wait(self.interval_s)


def stop_program(spark) -> None:
    """Stop the session and the JVM that PySpark launched for it, then
    wait until the JVM and every process it started have exited."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    end = time.time() + 30
    while _descendants() and time.time() < end:
        time.sleep(0.1)


def environment(spark) -> dict:
    """What the run ran on: cores, load, memory and versions."""
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg": list(os.getloadavg()),
        "mem_total_gb": round(mem_kb / 2**20, 1),
        "spark_version": spark.version,
        "java_version": spark.sparkContext._jvm.System.getProperty("java.version"),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "SPARK_GRAFT_DRIVER_MEM": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
