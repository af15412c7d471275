"""Crash-point matrix for the commit protocol, and concurrent writers on
one table.

A crash is injected at one step of a commit by monkeypatching the function
that performs that step:

* ``checksum`` — after a part's data write, before its observed
  checksum is checked against the parquet footers
  (``lineage._written_checksum``);
* ``pointer`` — after ``snapshot-N.json`` is written, before the
  ``current`` pointer flips (the ``os.replace`` onto ``current``);
* ``mid_cow`` — between two copy-on-write part commits of one table
  (``lineage.commit_part``);
* between an update's triples part and its edges part, and between its
  triples and edges pointer flips (``lineage.write_snapshot``).

Each is driven through ``run_partitioned``, ``ingest_pages`` and
``apply_dictionary_update``. After the crash the operation is resumed or
re-run. Then every table must equal a clean run's, by row count and by
``table_checksum`` of each part on disk, and the snapshot that was current
at the crash must still read the bytes it read then."""

import json
import multiprocessing
import os
import shutil
import sys
import threading
from concurrent.futures import ThreadPoolExecutor

import pandas as pd
import pytest

from char_ner_spark import lineage
from char_ner_spark.fixtures import make_alias_table, make_pages
from char_ner_spark.linking import union_find_canonical

N_PARTS = 3
SINKS = ("triples", "edges")


class Crash(RuntimeError):
    pass


def _crash_on_call(monkeypatch, owner, name, nth, when=None):
    """Make ``owner.name`` raise :class:`Crash` on the ``nth`` call that
    ``when`` accepts (every call without ``when``)."""
    real = getattr(owner, name)
    seen = [0]

    def crashing(*a, **kw):
        if when is None or when(*a, **kw):
            seen[0] += 1
            if seen[0] == nth:
                raise Crash(f"injected crash at {name} call {nth}")
        return real(*a, **kw)

    monkeypatch.setattr(owner, name, crashing)


def _inject(monkeypatch, point, nth):
    if point == "checksum":
        _crash_on_call(monkeypatch, lineage, "_written_checksum", nth)
    elif point == "pointer":
        _crash_on_call(monkeypatch, os, "replace", nth,
                       lambda src, dst, *a, **kw:
                       os.path.basename(dst) == "current")
    else:  # mid_cow: before the nth snapshot-less triples part commit
        _crash_on_call(monkeypatch, lineage, "commit_part", nth,
                       lambda *a, **kw: a[2] == "triples"
                       and not kw.get("snapshot", True))


def _tables(spark, d):
    """{table: (row count, {part_id: table_checksum of the part on disk})}
    over each table's current snapshot."""
    out = {}
    for t in lineage.snapshot_tables(d):
        base, prefix = lineage._table_base(d, t)
        parts = {
            p["part_id"]: lineage.table_checksum(lineage.read_parts(
                spark, f"{base}/{prefix}={p['part_id']}"))
            for p in lineage.current_snapshot(d, table=t)["manifest"]
            if p["rows"] > 0}
        out[t] = (lineage.read_table(spark, d, t).count(), parts)
    return out


def _pinned(spark, d):
    """{table: (current snapshot id, checksum of the table read at it)}."""
    out = {}
    for t in lineage.snapshot_tables(d):
        sid = lineage.current_snapshot(d, table=t)["snapshot_id"]
        out[t] = (sid, lineage.table_checksum(
            lineage.read_table(spark, d, t, sid)))
    return out


def _assert_pinned_still_read(spark, d, pinned):
    for t, (sid, checksum) in pinned.items():
        assert lineage.table_checksum(
            lineage.read_table(spark, d, t, sid)) == checksum, (t, sid)


def _copy(src, dst):
    shutil.copytree(src, dst)
    return str(dst)


def _parts_of(old, triples_pdf):
    """{canonical id: the triples parts it occurs in}."""
    parts_of: dict[int, set] = {}
    for r in triples_pdf.itertuples():
        for c in (r.subj, r.obj):
            if c in old.values():
                parts_of.setdefault(int(c), set()).add(int(r.part_id))
    return parts_of


def _bridge_delta(alias, old, merged, keep):
    """A one-alias delta giving canonical id ``merged``'s entity an alias
    of ``keep``'s, so a dictionary update merges ``merged`` into ``keep``."""
    member = {c: eid for eid, c in sorted(old.items(), reverse=True)}
    alias_of = dict(zip(alias["entity_id"], alias["alias"]))
    return pd.DataFrame(
        [(member[merged], "Bridge Corp", alias_of[member[keep]], "en", 0.5,
          "ORG")], columns=list(alias.columns))


def _remap_touching_parts(spark, alias, triples_pdf):
    """The remap of a one-alias delta merging the canonical id found in
    the most triples parts into a smaller id, so the update rewrites
    several parts of each table."""
    from char_ner_spark.incremental import update_dictionary_state
    from char_ner_spark.pipeline import build_dictionary_state

    old = union_find_canonical(alias)
    parts_of = _parts_of(old, triples_pdf)
    merged = max(sorted(parts_of), key=lambda c: len(parts_of[c]))
    keep = min(parts_of)
    assert keep < merged and len(parts_of[merged]) >= 2
    _, remap = update_dictionary_state(
        spark, build_dictionary_state(spark, alias), alias,
        _bridge_delta(alias, old, merged, keep))
    return remap


@pytest.fixture(scope="module")
def kg(spark, tmp_path_factory):
    """Clean runs every crashed run is compared against: a build, an ingest
    into a smaller build, and an update of the build."""
    from char_ner_spark.incremental import apply_dictionary_update

    alias = make_alias_table(60, seed=42)
    pages = make_pages(30, seed=42, alias_df=alias)
    root = tmp_path_factory.mktemp("crash_kg")
    build = str(root / "build")
    lineage.run_partitioned(spark, spark.createDataFrame(pages), alias, build,
                            n_parts=N_PARTS, max_inflight=1, sinks=SINKS)
    small = str(root / "small")
    lineage.run_partitioned(spark, spark.createDataFrame(pages.iloc[:20]),
                            alias, small, n_parts=N_PARTS, max_inflight=1,
                            sinks=SINKS)
    ingested = _copy(small, root / "ingested")
    lineage.ingest_pages(spark, spark.createDataFrame(pages.iloc[20:]), alias,
                         ingested, ingest_id=0, n_units=2)
    remap = _remap_touching_parts(
        spark, alias, lineage.read_triples(spark, build).toPandas())
    updated = _copy(build, root / "updated")
    stats = apply_dictionary_update(spark, updated, remap)
    assert len(stats["triples"]["rewritten"]) >= 2 and "edges" in stats
    return {"alias": alias, "pages": pages, "remap": remap,
            "build": build, "small": small,
            "clean": {"build": _tables(spark, build),
                      "ingest": _tables(spark, ingested),
                      "update": _tables(spark, updated)}}


@pytest.mark.parametrize("point", ["checksum", "pointer"])
def test_build_crash_resumes_to_clean(spark, kg, tmp_path, monkeypatch,
                                      point):
    d = str(tmp_path / "kg")
    pages = spark.createDataFrame(kg["pages"])

    def build():
        return lineage.run_partitioned(spark, pages, kg["alias"], d,
                                       n_parts=N_PARTS, max_inflight=1,
                                       sinks=SINKS)

    _inject(monkeypatch, point, 3)  # unit 1's triples commit
    with pytest.raises(Crash):
        build()
    monkeypatch.undo()
    pinned = _pinned(spark, d)
    assert {r["part_id"] for r in build()} == {1, 2}
    assert _tables(spark, d) == kg["clean"]["build"]
    _assert_pinned_still_read(spark, d, pinned)


@pytest.mark.parametrize("point", ["checksum", "pointer"])
def test_ingest_crash_resumes_to_clean(spark, kg, tmp_path, monkeypatch,
                                       point):
    d = _copy(kg["small"], tmp_path / "kg")
    delta = spark.createDataFrame(kg["pages"].iloc[20:])

    def ingest():
        return lineage.ingest_pages(spark, delta, kg["alias"], d,
                                    ingest_id=0, n_units=2)

    _inject(monkeypatch, point, 3)  # ingest unit 1's triples commit
    with pytest.raises(Crash):
        ingest()
    monkeypatch.undo()
    pinned = _pinned(spark, d)
    assert {r["part_id"] for r in ingest()} == {lineage.INGEST_PID_BASE + 1}
    assert _tables(spark, d) == kg["clean"]["ingest"]
    _assert_pinned_still_read(spark, d, pinned)


@pytest.mark.parametrize("point,nth", [("checksum", 2), ("pointer", 1),
                                       ("mid_cow", 2)])
def test_update_crash_reruns_to_clean(spark, kg, tmp_path, monkeypatch,
                                      point, nth):
    """A crashed update publishes nothing: a resumed build over the same
    output still reads the pre-update tables, and re-running the update
    gives the clean update's tables."""
    from char_ner_spark.incremental import apply_dictionary_update

    d = _copy(kg["build"], tmp_path / "kg")
    _inject(monkeypatch, point, nth)
    with pytest.raises(Crash):
        apply_dictionary_update(spark, d, kg["remap"])
    monkeypatch.undo()
    pinned = _pinned(spark, d)
    assert lineage.run_partitioned(
        spark, spark.createDataFrame(kg["pages"]), kg["alias"], d,
        n_parts=N_PARTS, max_inflight=1, sinks=SINKS) == []
    assert _tables(spark, d) == kg["clean"]["build"]
    apply_dictionary_update(spark, d, kg["remap"])
    assert _tables(spark, d) == kg["clean"]["update"]
    _assert_pinned_still_read(spark, d, pinned)


def test_update_crash_between_tables(spark, kg, tmp_path, monkeypatch):
    """Each edges part commits right after its triples part, before any
    pointer flips, so a crash at the first edges part publishes nothing
    and the re-run gives the clean update."""
    from char_ner_spark.incremental import apply_dictionary_update

    d = _copy(kg["build"], tmp_path / "kg")
    _crash_on_call(monkeypatch, lineage, "commit_part", 1,
                   lambda *a, **kw: a[2] == "edges")
    with pytest.raises(Crash):
        apply_dictionary_update(spark, d, kg["remap"])
    monkeypatch.undo()
    assert _tables(spark, d) == kg["clean"]["build"]
    apply_dictionary_update(spark, d, kg["remap"])
    assert _tables(spark, d) == kg["clean"]["update"]


@pytest.mark.xfail(strict=True, raises=RuntimeError,
                   reason="an update flips one snapshot pointer per table: "
                          "after a crash between the triples and the edges "
                          "flip, a re-run finds the sinks out of sync "
                          "(ROADMAP item 10: one KG commit)")
def test_update_crash_between_pointer_flips(spark, kg, tmp_path,
                                            monkeypatch):
    from char_ner_spark.incremental import apply_dictionary_update

    d = _copy(kg["build"], tmp_path / "kg")
    _crash_on_call(monkeypatch, lineage, "write_snapshot", 1,
                   lambda *a, **kw: kw.get("table") == "edges")
    with pytest.raises(Crash):
        apply_dictionary_update(spark, d, kg["remap"])
    monkeypatch.undo()
    tables = _tables(spark, d)
    assert tables["edges"] == kg["clean"]["build"]["edges"]
    assert tables["triples"] == kg["clean"]["update"]["triples"]
    apply_dictionary_update(spark, d, kg["remap"])
    assert _tables(spark, d) == kg["clean"]["update"]


@pytest.mark.xfail(strict=True, raises=AssertionError,
                   reason="two concurrent updates both take part id "
                          "max + 1 from the snapshot they read and "
                          "overwrite one part directory (ROADMAP item 10: "
                          "claim part ids under one KG commit)")
def test_concurrent_updates_keep_both_deltas(spark, kg, tmp_path,
                                             monkeypatch):
    """Two updates with different one-alias deltas read the same base
    snapshot, then write one after the other. Every retained triples
    snapshot must still read the bytes it recorded, and the final KG must
    carry both remaps."""
    from char_ner_spark import incremental
    from char_ner_spark.pipeline import build_dictionary_state

    alias = kg["alias"]
    old = union_find_canonical(alias)
    parts_of = _parts_of(old, lineage.read_triples(spark, kg["build"])
                         .toPandas())
    # merged ids whose triples lie in disjoint parts, so neither update's
    # edges rewrite reads a triples part the other one rewrote
    ma, mb = next((a, b) for a in sorted(parts_of, reverse=True)
                  for b in sorted(parts_of, reverse=True)
                  if a > b and not parts_of[a] & parts_of[b])
    ka, kb = sorted(set(old.values()) - {ma, mb})[:2]
    assert ka < ma and kb < mb
    state = build_dictionary_state(spark, alias)
    remaps = [incremental.update_dictionary_state(
        spark, state, alias, _bridge_delta(alias, old, m, k))[1]
        for m, k in ((ma, ka), (mb, kb))]

    # each writer's first part pruning comes right after it read the
    # triples snapshot: hold both there, then let writer-0 finish first
    barrier = threading.Barrier(2, timeout=120)
    first_done = threading.Event()
    prune = incremental._prune_parts_by_stats
    held = set()

    def held_after_snapshot_read(*a, **kw):
        me = threading.current_thread().name
        if me not in held:
            held.add(me)
            barrier.wait()
            if me == "writer-1":
                first_done.wait(120)
        return prune(*a, **kw)

    monkeypatch.setattr(incremental, "_prune_parts_by_stats",
                        held_after_snapshot_read)
    d = _copy(kg["build"], tmp_path / "kg")
    errors = []

    def update(i):
        try:
            incremental.apply_dictionary_update(spark, d, remaps[i])
        except BaseException as e:  # re-raised on the test thread
            errors.append(e)
        finally:
            if i == 0:
                first_done.set()

    writers = [threading.Thread(target=update, args=(i,), name=f"writer-{i}")
               for i in (0, 1)]
    for w in writers:
        w.start()
    for w in writers:
        w.join()
    if errors:
        raise errors[0]

    base, prefix = lineage._table_base(d, "triples")
    for sid in range(lineage.current_snapshot(d)["snapshot_id"] + 1):
        for p in lineage.current_snapshot(d, sid)["manifest"]:
            if p["rows"] > 0:
                assert lineage.table_checksum(lineage.read_parts(
                    spark, f"{base}/{prefix}={p['part_id']}")) == (
                    p["rows"], p["checksum"]), (sid, p["part_id"])
    want = lineage.read_triples(spark, kg["build"]).drop("part_id")
    for remap in remaps:
        want = incremental.recanonicalize_triples(want, remap)
    assert lineage.table_checksum(
        lineage.read_triples(spark, d).drop("part_id")) == \
        lineage.table_checksum(want)


def test_units_without_mentions_commit(spark, tmp_path):
    """A work unit whose one page is filler text yields no mentions; the
    build and an ingest of such a page commit empty parts that count the
    page in."""
    alias = make_alias_table(20, seed=5)
    filler = make_pages(2, seed=5, alias_df=alias)
    text = "the market report shows steady growth in quarterly revenue."
    filler["text"] = text
    filler["html"] = f"<html><body><p>{text}</p></body></html>".encode()
    d = str(tmp_path / "kg")
    rows = lineage.run_partitioned(
        spark, spark.createDataFrame(filler.iloc[:1]), alias, d, n_parts=1,
        sinks=SINKS)
    rows += lineage.ingest_pages(spark, spark.createDataFrame(filler.iloc[1:]),
                                 alias, d, ingest_id=0)
    assert {(r["stage"], r["part_id"], r["rows_in"], r["rows_out"])
            for r in rows} == {(t, pid, 1, 0) for t in SINKS
                               for pid in (0, lineage.INGEST_PID_BASE)}
    assert lineage.read_triples(spark, d).count() == 0


def _commit_entries(out_dir, writer, n=20):
    """Commit ``n`` distinct one-part entries; returns the snapshot ids."""
    return [lineage.write_snapshot(None, out_dir, 1, add_part={
        "part_id": writer * 100 + i, "rows": 1,
        "checksum": f"{writer:08x}{i:08x}"}) for i in range(n)]


def _commit_entries_to(out_dir, writer, result):
    with open(result, "w") as f:
        json.dump(_commit_entries(out_dir, writer), f)


def test_concurrent_writers_keep_one_linear_history(tmp_path):
    """4 threads and 2 processes commit to one table: every entry lands,
    no snapshot id is written twice, and each snapshot's parent is the one
    before it."""
    d = str(tmp_path / "kg")
    ctx = multiprocessing.get_context("spawn")
    results = {w: str(tmp_path / f"ids-{w}.json") for w in (4, 5)}
    procs = [ctx.Process(target=_commit_entries_to, args=(d, w, path))
             for w, path in results.items()]
    for p in procs:
        p.start()
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(4) as pool:
            ids = [n for got in pool.map(lambda w: _commit_entries(d, w),
                                         range(4)) for n in got]
    finally:
        sys.setswitchinterval(interval)
    for p in procs:
        p.join(timeout=120)
        assert not p.is_alive() and p.exitcode == 0
    for path in results.values():
        with open(path) as f:
            ids += json.load(f)
    assert sorted(ids) == list(range(120))
    final = lineage.current_snapshot(d)
    assert final["snapshot_id"] == 119
    assert final["completed"] == sorted(w * 100 + i for w in range(6)
                                        for i in range(20))
    for n in range(120):
        snap = lineage.current_snapshot(d, n)
        assert snap["parent_id"] == (n - 1 if n else None)
        assert len(snap["manifest"]) == n + 1
