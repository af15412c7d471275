"""Where a KG build's CPU goes, by thread class, operation by operation.

Runs ``--ops`` consecutive ``lineage.run_partitioned`` builds (all four
sinks, each into a fresh output directory) over one seeded corpus from
``char_ner_spark.fixtures`` in one ``session.build_session`` session, and
prints, per build, its wall time, the CPU of this process tree, and that
CPU split by thread class:

  c2, c1       HotSpot's C2 and C1 compiler threads (the JIT)
  gc           G1's collector threads
  tasks        executor task threads
  jvm_other    every other live JVM thread (py4j gateway threads, where
               Catalyst plans, the scheduler, the listener bus, ...)
  jvm_exited   JVM threads that exited, whose CPU no live thread holds
  py_workers   Spark's Python worker processes
  py_driver    the Python driver (this process)

The JVM runs with ``-XX:-UseDynamicNumberOfCompilerThreads``: otherwise
it retires idle compiler threads and their CPU lands in ``jvm_exited``.
It reads only ``/proc``: each process's ``stat`` to find this process
tree, and ``/proc/<pid>/task/*/{comm,stat}`` of the processes in it.

``--jvm-default`` also runs the same builds with the JVM's default JIT
(``spark.driver.defaultJavaOptions`` set to ""), so the engine's profile
and the default can be compared. Each profile runs in a fresh process.

Usage, from the repository root::

    python tools/jit_share.py --seed 1 --ops 10 --jvm-default
    python tools/jit_share.py --pages 5000 --parts 4 --ops 1 --jvm-default
"""

from __future__ import annotations

import argparse
import multiprocessing
import os
import sys
import tempfile
import time
from concurrent.futures import ProcessPoolExecutor

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
SINKS = ("triples", "edges", "mentions", "entities")
N_ENTITIES = 500
CLASSES = ("c2", "c1", "gc", "tasks", "jvm_other", "jvm_exited",
           "py_workers", "py_driver")
#: JVM thread-name prefixes (``comm`` holds at most 15 characters)
THREAD_CLASSES = (("C2 CompilerThre", "c2"), ("C1 CompilerThre", "c1"),
                  ("GC Thread", "gc"), ("G1 ", "gc"),
                  ("Executor task l", "tasks"))


def _stat_fields(path: str) -> list[str] | None:
    """Fields of a ``stat`` file after the command name."""
    try:
        with open(path) as f:
            stat = f.read()
    except OSError:
        return None  # exited while listing
    # the command field may hold spaces and parens: split after it
    return stat[stat.rindex(")") + 2:].split()


def _ticks(fields: list[str], children: bool) -> int:
    """utime + stime, plus cutime + cstime of reaped children."""
    return sum(int(x) for x in fields[11:15 if children else 13])


def _tree(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(f"/proc/{name}/stat")
            if fields is not None and fields[0] != "Z":
                kids.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _comm(path: str) -> str:
    try:
        with open(path) as f:
            return f.read().strip()
    except OSError:
        return ""


def _jvm_threads(pid: int) -> dict[str, int]:
    """Ticks of the JVM's live threads, by class."""
    out = dict.fromkeys(CLASSES, 0)
    task_dir = f"/proc/{pid}/task"
    for tid in os.listdir(task_dir):
        fields = _stat_fields(f"{task_dir}/{tid}/stat")
        if fields is None:
            continue
        comm = _comm(f"{task_dir}/{tid}/comm")
        cls = next((c for prefix, c in THREAD_CLASSES
                    if comm.startswith(prefix)), "jvm_other")
        out[cls] += _ticks(fields, children=False)
    return out


def cpu_by_class(root: int) -> dict[str, int]:
    """Cumulative CPU ticks of ``root``'s process tree, by class. The
    classes sum to the tree's CPU, reaped children included."""
    out = dict.fromkeys(CLASSES, 0)
    for pid in _tree(root):
        fields = _stat_fields(f"/proc/{pid}/stat")
        if fields is None:
            continue
        if pid == root:
            out["py_driver"] += _ticks(fields, children=True)
        elif _comm(f"/proc/{pid}/comm") == "java":
            live = _jvm_threads(pid)
            for cls, t in live.items():
                out[cls] += t
            out["jvm_exited"] += _ticks(fields, children=False) \
                - sum(live.values())
            # the JVM's only children are Spark's Python workers
            out["py_workers"] += _ticks(fields, children=True) \
                - _ticks(fields, children=False)
        else:
            out["py_workers"] += _ticks(fields, children=True)
    return out


def run_profile(seed: int, ops: int, n_pages: int, n_parts: int,
                jvm_default: bool) -> list[dict[str, float]]:
    """``ops`` builds in one fresh session; one row per build."""
    from char_ner_spark import lineage
    from char_ner_spark.fixtures import make_alias_table, make_pages
    from char_ner_spark.session import build_session

    alias = make_alias_table(N_ENTITIES, seed=seed)
    pages = make_pages(n_pages, seed=seed, alias_df=alias)
    conf = {"spark.driver.extraJavaOptions":
            "-XX:-UseDynamicNumberOfCompilerThreads"}
    if jvm_default:
        conf["spark.driver.defaultJavaOptions"] = ""
    hz = os.sysconf("SC_CLK_TCK")
    rows = []
    with tempfile.TemporaryDirectory(prefix="jit_share-") as work:
        spark = build_session("jit_share", extra_conf=conf)
        try:
            path = os.path.join(work, "pages.parquet")
            pages.assign(warc_ts=pages.warc_ts.dt.tz_localize("UTC")) \
                .to_parquet(path, index=False, coerce_timestamps="us")
            for i in range(1, ops + 1):
                before, t0 = cpu_by_class(os.getpid()), time.perf_counter()
                lineage.run_partitioned(
                    spark, spark.read.parquet(path), alias,
                    os.path.join(work, f"kg-{i}"), n_parts=n_parts,
                    sinks=SINKS)
                wall = time.perf_counter() - t0
                after = cpu_by_class(os.getpid())
                row = {c: (after[c] - before[c]) / hz for c in CLASSES}
                rows.append({"op": i, "wall_s": wall,
                             "cpu_s": sum(row.values()), **row})
        finally:
            spark.stop()
    return rows


def _print(profile: str, rows: list[dict[str, float]]) -> None:
    head = ["profile", "op", "wall_s", "cpu_s", *CLASSES, "c2%", "c1%"]
    print(" ".join(f"{h:>11}" for h in head))
    for r in rows:
        share = [100 * r[c] / r["cpu_s"] if r["cpu_s"] else 0.0
                 for c in ("c2", "c1")]
        cells = [profile, str(r["op"]),
                 *(f"{r[k]:.2f}" for k in ("wall_s", "cpu_s", *CLASSES)),
                 *(f"{s:.1f}" for s in share)]
        print(" ".join(f"{c:>11}" for c in cells), flush=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--ops", type=int, default=10,
                    help="consecutive builds in one session")
    ap.add_argument("--pages", type=int, default=500,
                    help="corpus pages (the dictionary has 500 entities)")
    ap.add_argument("--parts", type=int, default=1,
                    help="work units per build (run_partitioned n_parts)")
    ap.add_argument("--jvm-default", action="store_true",
                    help="also run with the JVM's default JIT")
    args = ap.parse_args()

    # set before any child imports numpy or starts Spark
    os.environ.update({
        "OMP_NUM_THREADS": "1", "OPENBLAS_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
        "PYTHONPATH": os.pathsep.join(
            p for p in (REPO, os.environ.get("PYTHONPATH")) if p),
    })
    profiles = [("engine", False)] + ([("jvm_default", True)]
                                      if args.jvm_default else [])
    for name, jvm_default in profiles:
        # one process per profile: a JVM's options are fixed at its start
        with ProcessPoolExecutor(
                1, mp_context=multiprocessing.get_context("spawn")) as ex:
            rows = ex.submit(run_profile, args.seed, args.ops, args.pages,
                             args.parts, jvm_default).result()
        _print(name, rows)
    return 0


if __name__ == "__main__":
    sys.exit(main())
