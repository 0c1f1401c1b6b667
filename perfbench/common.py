"""Shared plumbing for the benchmark: host description, process-tree
memory sampling, percentiles, and the Spark process lifecycle.

Nothing here imports the engine; workloads import it after `run.py`
has put the checkout root on ``sys.path``.
"""

from __future__ import annotations

import os
import threading
import time


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def cpu_probe_s() -> float:
    """Fixed single-core CPU work; its time shows how contended the host
    is, independent of the engine (min of three draws)."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc += i * i % 7
        best = min(best, time.perf_counter() - t0)
    return best


def host_snapshot() -> dict:
    return {
        "time": time.time(),
        "loadavg": loadavg(),
        "cpu_probe_s": round(cpu_probe_s(), 5),
    }


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def tree_pss_bytes(pid: int) -> int:
    """Proportional set size of ``pid`` and all its descendants: resident
    memory with each shared page split between the processes sharing
    it, so the forked Python workers are not counted once per fork."""
    total = 0
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


class MemSampler:
    """Samples the memory of this process and all its descendants (the
    Spark JVM and its Python workers) from /proc, keeping the peak.
    A disabled sampler starts no thread and keeps a peak of 0."""

    def __init__(self, enabled: bool = True, interval_s: float = 0.2):
        self.enabled = enabled
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, tree_pss_bytes(pid))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "MemSampler":
        if self.enabled:
            self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        if self.enabled:
            self._stop.set()
            self._thread.join()


_CLK_TCK = os.sysconf("SC_CLK_TCK")


#: JVM threads that run the runtime, not Spark: JIT compilers and GC
RUNTIME_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "GC Thread", "G1 ", "VM Thread")


def _stat_cpu_s(path: str) -> tuple[str, float]:
    """(command name, user plus system CPU s) from a /proc stat file."""
    with open(path) as fh:
        stat = fh.read()
    name = stat[stat.index("(") + 1 : stat.rindex(")")]
    # utime and stime are fields 14 and 15; fields[0] is field 3
    fields = stat.rsplit(")", 1)[1].split()
    return name, (int(fields[11]) + int(fields[12])) / _CLK_TCK


def jvm_cpu(pid: int) -> tuple[float, dict[int, float]]:
    """The JVM's CPU s over all its threads, and the CPU s of each live
    JIT-compiler or GC thread by thread id."""
    runtime = {}
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            name, cpu = _stat_cpu_s(f"/proc/{pid}/task/{tid}/stat")
        except OSError:  # the thread ended
            continue
        if name.startswith(RUNTIME_THREADS):
            runtime[int(tid)] = cpu
    return _stat_cpu_s(f"/proc/{pid}/stat")[1], runtime


def driver_cpu_clock(jvm_pid: int):
    """A clock of (this Python driver's CPU s, JVM CPU s, {runtime
    thread id: CPU s}); see `tracing.EventLog.step_metrics`."""
    return lambda: (time.process_time(), *jvm_cpu(jvm_pid))


def median(xs: list[float]) -> float:
    """The median; 0.0 for no values (a layer no operation reached)."""
    if not xs:
        return 0.0
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def tail(xs: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile). With fewer than eleven samples no percentile
    qualifies and the maximum (p100) is returned."""
    s = sorted(xs)
    n = len(s)
    if n <= 10:
        return s[-1], 100.0
    # nearest-rank: the k-th smallest value has n - k samples above it
    k = n - 10
    return s[k - 1], round(100.0 * k / n, 1)


def spark_submit_args(event_log_dir: str | None) -> str:
    """Spark conf set from outside the engine, before the JVM starts:
    no console progress bar, and the event log when tracing."""
    confs = ["spark.ui.showConsoleProgress=false"]
    if event_log_dir:
        confs += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{os.path.abspath(event_log_dir)}",
            "spark.eventLog.compress=false",
        ]
    return " ".join(f"--conf {c}" for c in confs) + " pyspark-shell"


def stop_spark(spark) -> None:
    """Stop the session, then end the gateway JVM and wait for it and
    every other process this run started."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    left = descendants(os.getpid())
    if left:
        raise RuntimeError(f"processes still running after stop: {left}")
