"""The benchmark harness behind ``perfbench/run.py``: set-up, the closed
loop, metrics and the result line.

``--trace 0`` measures the end-to-end metrics of ``BENCHMARK.json`` with
tracing off; ``--trace 1`` alternates each operation with the same
operation decomposed into traced layer calls and reports the per-layer
metrics. Human-readable figures go to stderr; the last stdout line is the
result. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import time
import traceback

from .env import log

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: input generation repeats per run; setup_s counts its median
SETUP_REPEATS = 3


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def measure(wl, seconds: float, traced: bool, tracer) -> dict:
    """Closed loop with one client: the next operation starts when the
    previous one returned, until ``seconds`` have passed and at least one
    operation ran. Traced runs pair each operation with its traced twin."""
    from .workloads import WrongResult

    plain, twins = [], []
    attempted = failed = 0
    deadline = time.perf_counter() + seconds
    i = 0
    while i == 0 or time.perf_counter() < deadline:
        calls = [(wl.op, (i,), plain)]
        if traced:
            calls.append((wl.traced_op, (i, tracer), twins))
        for fn, fn_args, sink in calls:
            attempted += 1
            try:
                sink.append(fn(*fn_args))
            except WrongResult as e:
                failed += 1
                log(f"op {i} wrong result: {e}")
            except Exception:  # a failed operation is counted, not fatal
                failed += 1
                log(f"op {i} raised:\n{traceback.format_exc()}")
        i += 1
    return {"plain": plain, "twins": twins, "attempted": attempted,
            "failed": failed}


def end_to_end(setup_s: float, plain: list[dict], peak_rss_mb: float) -> dict:
    from .stats import median

    return {"setup_s": setup_s,
            "op_cpu_s_p50": median([s["cpu_s"] for s in plain]),
            "peak_rss_mb": peak_rss_mb}


def _event_lines(events_dir: str):
    for d, _, files in sorted(os.walk(events_dir)):
        for name in sorted(files):
            with open(os.path.join(d, name)) as f:
                yield from f


def per_layer(tracer, events_dir: str, plain: list[dict],
              twins: list[dict]) -> dict:
    """Per traced operation: layer times and counts averaged over the
    traced operations; ratios from their totals."""
    from .stats import median
    from .trace import fold_layers, parse_event_log

    folded = fold_layers(tracer.spans,
                         parse_event_log(_event_lines(events_dir)))
    totals = {**folded, **tracer.counts}
    n = len(twins)
    out = {k: v / n for k, v in totals.items()}

    def ratio(num, den):
        return totals.get(num, 0.0) / totals[den] if totals.get(den) else 0.0

    out["linking.hit_ratio"] = ratio("linking.linked_mentions",
                                     "tagger.mentions")
    out["relations.hit_ratio"] = ratio("relations.triples", "relations.pairs")
    out["incremental.rewrite_ratio"] = ratio(
        "incremental.triples_parts_rewritten", "incremental.triples_parts")
    out["client.op_wall_s"] = median([s["op_s"] for s in plain])
    out["trace.overhead_s"] = (median([s["op_s"] for s in twins])
                               - out["client.op_wall_s"])
    return out


def summary(name: str, plain: list[dict], attempted: int, failed: int) -> None:
    """The workload's own figures, by the names users know them by."""
    from .stats import failed_ratio, median

    def p50(key):
        vals = [s[key] for s in plain if key in s]
        return f"{median(vals):.4f}" if vals else "n/a"

    def each(key):
        return ", ".join(f"{s[key]:.3f}" for s in plain)

    lines = [f"{name}: {len(plain)} operations, wall {each('op_s')} s, "
             f"CPU {each('cpu_s')} s; "
             f"failed_ratio={failed_ratio(failed, attempted):.4f}"]
    if name == "kg_build":
        lines.append(f"build_triples_per_s={p50('triples_per_s')} "
                     f"job_s_p50={p50('op_s')}")
    else:
        lines.append(f"dict_update_s_p50={p50('dict_update_s')} "
                     f"read_back_s_p50={p50('read_back_s')}")
    for line in lines:
        log(line)


def run(args, work: str) -> int:
    from . import env
    from .stats import median, result_line
    from .trace import Tracer
    from .workloads import WORKLOADS

    spec = _spec()
    wl = WORKLOADS[args.workload](None, work, args.seed, env.cpus())
    prep_s = []
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        wl.make_inputs()
        prep_s.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    spark = None
    try:
        wl.start_gold()
        spark = wl.spark = env.start_session(work, event_log=args.trace)
        log(f"{args.workload}: inputs {median(prep_s):.2f}s, session start "
            f"{time.perf_counter() - t0:.2f}s")
        wl.set_up()
        setup_s = median(prep_s) + time.perf_counter() - t0
        log(f"{args.workload}: set-up {setup_s:.2f}s, measuring "
             f"{args.seconds}s")
        tracer = Tracer(spark.sparkContext) if args.trace else None
        m = measure(wl, args.seconds, args.trace, tracer)
        peak_rss_mb = env.tree_peak_rss_mb()
    finally:
        wl.close()
        if spark is not None:
            env.stop_session(spark)
    if not m["plain"] or (args.trace and not m["twins"]):
        log("no operation succeeded; no result")
        return 1
    summary(args.workload, m["plain"], m["attempted"], m["failed"])
    if args.trace:
        values = per_layer(tracer, os.path.join(work, "events"),
                           m["plain"], m["twins"])
        wanted = spec["per_layer"]
    else:
        values = end_to_end(setup_s, m["plain"], peak_rss_mb)
        wanted = spec["end_to_end"]
    metrics = {w["name"]: (values.get(w["name"], 0.0), w["unit"])
               for w in wanted}
    print(result_line(m["attempted"], m["failed"], metrics), flush=True)
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "char_ner_spark", "__init__.py")):
        log(f"char_ner_spark not found under {ROOT}; run from a checkout "
             "of the repository")
        return 2
    from . import env
    from .workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; "
             f"known: {', '.join(sorted(WORKLOADS))}")
        return 2
    work = env.make_work_dir(ROOT, args.workload)
    try:
        env.pin(ROOT, work)
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
