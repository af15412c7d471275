"""Spans around the benchmark's calls into each layer, and the Spark event
log folded into per-layer metrics.

A span's name is its metric stem: ``"tagger."`` yields ``tagger.wall_s``,
``"linking.probe_"`` yields ``linking.probe_wall_s`` and
``"graph.k_hop."`` yields ``graph.k_hop.wall_s``; the layer is the text
before the first dot. Spans are kept in memory and folded when the run
ends. Each span sets the Spark job group to its id, so every stage the
span submits from the benchmark's thread carries the span in its
properties; stages submitted from other threads (``run_partitioned``
overlaps work units on a pool) fall back to the innermost span whose
interval holds their submission time.

Everything below :class:`Tracer` is pure and unit-tested.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict
from collections.abc import Iterable, Iterator

MB = 1024.0 * 1024.0
_GROUP_PREFIX = "span-"


class Tracer:
    """Records spans and counts; optionally tags Spark jobs by span."""

    def __init__(self, spark_context=None) -> None:
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self._sc = spark_context

    @contextlib.contextmanager
    def span(self, stem: str) -> Iterator[dict]:
        if not stem.endswith((".", "_")):
            raise ValueError(f"span stem {stem!r} must end in '.' or '_'")
        rec = {"id": len(self.spans), "stem": stem,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._set_group(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group(self.spans[self._stack[-1]] if self._stack
                            else None)

    def count(self, key: str, value: float) -> None:
        self.counts[key] += value

    def _set_group(self, rec: dict | None) -> None:
        if self._sc is None:
            return
        if rec is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(f"{_GROUP_PREFIX}{rec['id']}", rec["stem"])


# ---------------------------------------------------------------------------
# event log → per-layer metrics (pure)
# ---------------------------------------------------------------------------


def parse_event_log(lines: Iterable[str]) -> dict:
    """Spark JSON event log → ``{"jobs": [...], "stages": {(stage id,
    attempt): ...}, "tasks": [...]}`` with the fields the layer fold needs
    (times in epoch ms, as Spark writes them)."""
    jobs: list[dict] = []
    stages: dict[tuple[int, int], dict] = {}
    tasks: list[dict] = []
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jobs.append({
                "id": ev["Job ID"],
                "submit_ms": ev.get("Submission Time"),
                "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
            })
        elif kind in ("SparkListenerStageSubmitted",
                      "SparkListenerStageCompleted"):
            info = ev["Stage Info"]
            key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
            st = stages.setdefault(key, {"submit_ms": None, "group": None})
            if st["submit_ms"] is None:
                st["submit_ms"] = info.get("Submission Time")
            props = ev.get("Properties") or {}
            if st["group"] is None:
                st["group"] = props.get("spark.jobGroup.id")
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            info = ev.get("Task Info") or {}
            tasks.append({
                "stage": (ev["Stage ID"], ev.get("Stage Attempt ID", 0)),
                "launch_ms": info.get("Launch Time"),
                "cpu_ns": m.get("Executor CPU Time", 0),
                "gc_ms": m.get("JVM GC Time", 0),
                "spill_bytes": m.get("Disk Bytes Spilled", 0),
                "shuffle_write_bytes": (m.get("Shuffle Write Metrics") or {})
                .get("Shuffle Bytes Written", 0),
            })
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def _innermost(spans: list[dict], t_s: float | None) -> dict | None:
    """Deepest closed span whose [start, end] holds ``t_s`` (spans nest,
    so the latest-started holder is the innermost)."""
    if t_s is None:
        return None
    best = None
    for s in spans:
        if s["start"] <= t_s <= s["end"]:
            if best is None or s["start"] >= best["start"]:
                best = s
    return best


def _owner(spans: list[dict], group: str | None,
           submit_ms: float | None) -> dict | None:
    if group and group.startswith(_GROUP_PREFIX):
        sid = int(group[len(_GROUP_PREFIX):])
        if 0 <= sid < len(spans):
            return spans[sid]
    return _innermost(spans, None if submit_ms is None else submit_ms / 1e3)


def fold_layers(spans: list[dict], log: dict) -> dict[str, float]:
    """Per-stem and per-layer metrics from spans plus a parsed event log.

    Per stem: ``wall_s`` (summed span durations), ``task_cpu_s``,
    ``task_wait_s`` (task launch minus stage submit: time work waited for
    a core), ``spill_mb``, ``shuffle_write_mb`` and ``jobs``. Per layer:
    ``gc_s`` and ``jobs`` over all its stems. Work outside every span is
    dropped."""
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s["stem"] + "wall_s"] += s["end"] - s["start"]
    stage_owner = {}
    for key, st in log["stages"].items():
        stage_owner[key] = (_owner(spans, st["group"], st["submit_ms"]),
                            st["submit_ms"])
    for t in log["tasks"]:
        owner, submit_ms = stage_owner.get(t["stage"], (None, None))
        if owner is None:
            continue
        stem, layer = owner["stem"], owner["stem"].split(".")[0]
        out[stem + "task_cpu_s"] += t["cpu_ns"] / 1e9
        if submit_ms is not None and t["launch_ms"] is not None:
            out[stem + "task_wait_s"] += max(0, t["launch_ms"] - submit_ms) / 1e3
        out[stem + "spill_mb"] += t["spill_bytes"] / MB
        out[stem + "shuffle_write_mb"] += t["shuffle_write_bytes"] / MB
        out[layer + ".gc_s"] += t["gc_ms"] / 1e3
    stem_jobs: dict[str, int] = defaultdict(int)
    for j in log["jobs"]:
        owner = _owner(spans, j["group"], j["submit_ms"])
        if owner is not None:
            stem_jobs[owner["stem"]] += 1
    layer_jobs: dict[str, int] = defaultdict(int)
    for stem, n in stem_jobs.items():
        out[stem + "jobs"] = n
        layer_jobs[stem.split(".")[0]] += n
    for layer, n in layer_jobs.items():
        out[layer + ".jobs"] = n
    return dict(out)
