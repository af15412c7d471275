"""Pinned environment, Spark session lifecycle and process-tree memory.

:func:`pin` must run before ``pyspark`` is imported: it fixes BLAS
threads, the local core count, driver memory, the Python path Spark's
workers import ``char_ner_spark`` from, and keeps every scratch file
under the run's work directory inside the checkout.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

#: driver heap ceiling; the whole local-mode JVM lives in it
DRIVER_MEM_MB = 1024


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Phases:
    """Wall time of consecutive set-up phases, logged as they end."""

    def __init__(self, what: str) -> None:
        self.what, self.t = what, time.perf_counter()

    def done(self, phase: str) -> None:
        now = time.perf_counter()
        log(f"{self.what}: {phase} {now - self.t:.2f}s")
        self.t = now


def host_mem_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def pin(root: str, work: str) -> None:
    """Environment for this process and every process Spark starts."""
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ.update({
        "OMP_NUM_THREADS": "1",
        "OPENBLAS_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
        "SPARK_GRAFT_CPUS": str(cpus()),
        "SPARK_GRAFT_DRIVER_MEM":
            f"{min(DRIVER_MEM_MB, host_mem_mb() // 4)}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p),
    })


def start_session(work: str, event_log: bool = False):
    """``session.build_session`` on ``local[nproc]`` with scratch under
    ``work``; the event log is on only for traced runs."""
    from char_ner_spark.session import build_session

    tmp = os.path.join(work, "tmp")
    heap = os.environ["SPARK_GRAFT_DRIVER_MEM"]
    conf = {
        # the heap is committed and touched up front, so the JVM's share of
        # peak_rss_mb is its fixed heap, not whenever GC last grew it
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{heap} "
            "-XX:+AlwaysPreTouch",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_log:
        os.makedirs(os.path.join(work, "events"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = build_session("perfbench", master=f"local[{cpus()}]",
                          extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark, timeout_s: float = 60.0) -> None:
    """Stop Spark, end the gateway JVM (it exits when its stdin closes)
    and wait until no process this one started is left."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            proc.wait(timeout=timeout_s)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + timeout_s
    while descendants(os.getpid()):
        if time.monotonic() > deadline:
            left = {p: _cmdline(p) for p in descendants(os.getpid())}
            raise RuntimeError(f"processes still running: {left}")
        time.sleep(0.1)


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is None or fields[0] == "Z":
            continue  # exited, or a zombie: exited and only unreaped
        kids.setdefault(int(fields[1]), []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")[:200]
    except OSError:
        return "?"


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of ``/proc/<pid>/stat`` after the command name."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return None  # exited while listing
    # the command field may hold spaces and parens: split after it
    return stat[stat.rindex(")") + 2:].split()


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process, its live
    descendants (Python driver, JVM, Spark's Python workers) and the
    children they reaped."""
    ticks = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        fields = _stat_fields(pid)
        if fields is not None:  # utime, stime, cutime, cstime
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_peak_rss_mb() -> float:
    """Sum of VmHWM over this process and its live descendants (Python
    driver, JVM, Spark's Python workers)."""
    pids = [os.getpid(), *descendants(os.getpid())]
    return sum(_vm_hwm_kb(p) for p in pids) / 1024.0


def make_work_dir(root: str, workload: str) -> str:
    work = os.path.join(root, ".perfbench_work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    return work
