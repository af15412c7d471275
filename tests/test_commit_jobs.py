"""Spark-job budget of the commit protocol, agreement of the O(1)
copy-on-write snapshots with the parts on disk, and outputs holding a
leftover ``_lineage`` manifest, whose rows (from the Spark writer of older
outputs or the driver-side pyarrow writer) commit state no longer reads.

Jobs are counted per call through a job group: once the listener bus has
drained, the status tracker lists every job the group issued."""

import datetime as dt
import itertools
import os

import pandas as pd
import pytest

from char_ner_spark import lineage
from char_ner_spark.fixtures import make_alias_table, make_pages
from char_ner_spark.linking import union_find_canonical

#: jobs apply_dictionary_update issues for a one-alias delta on a 1-part
#: triples + edges KG, measured: 1 to collect the remap, then per table
#: the semi-join that finds the affected part (2), the rewrite's shuffle
#: (1–2) and the commit (write + read-back checksum)
APPLY_JOB_BUDGET = 14

#: jobs one work unit's edges commit issues, measured: the edges part is
#: an aggregate over the unit's committed triples part, so its write is a
#: shuffle map stage plus the write stage, then the read-back checksum
EDGES_COMMIT_JOBS = 3

_groups = itertools.count()


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn issued)."""
    sc = spark.sparkContext
    group = f"commit-jobs-{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _triples_df(spark, n=3):
    pdf = pd.DataFrame({
        "subj": list(range(1, n + 1)), "pred": ["works_for"] * n,
        "obj": list(range(10, 10 + n)), "url": [f"u{i}" for i in range(n)],
        "sent_idx": list(range(n)), "conf": [0.5 + i / 8 for i in range(n)]})
    return spark.createDataFrame(
        pdf, schema="subj long, pred string, obj long, url string, "
                    "sent_idx int, conf double")


def _assert_snapshot_matches_disk(spark, out_dir, stats):
    """In the current snapshot of each table a copy-on-write call rewrote,
    every live entry records the (rows, checksum) of its part on disk, and
    the tombstones are exactly the superseded parts."""
    for table, st in stats.items():
        snap = lineage.current_snapshot(out_dir, table=table)
        tombs = {p["part_id"]: p["checksum"] for p in snap["manifest"]
                 if p["checksum"].startswith("superseded-by:")}
        assert tombs == {old: f"superseded-by:{new}"
                         for old, new in st["rewritten"]}, table
        base, prefix = lineage._table_base(out_dir, table)
        for p in snap["manifest"]:
            if p["part_id"] not in tombs:
                back = lineage.read_parts(
                    spark, f"{base}/{prefix}={p['part_id']}")
                assert (p["rows"], p["checksum"]) == \
                    lineage.table_checksum(back), (table, p)


def test_bookkeeping_issues_no_jobs(spark, tmp_path):
    d = str(tmp_path)
    lineage.commit_part(spark, d, "triples", 0, _triples_df(spark),
                        rows_in=3, n_parts=2)
    _, n = _jobs(spark, lambda: lineage.write_snapshot(
        spark, d, 2, add_part={"part_id": 1, "rows": 2,
                               "checksum": "00000000000000ab"}))
    assert n == 0
    done, n = _jobs(spark,
                    lambda: lineage.completed_parts(spark, d, "triples"))
    assert (done, n) == ({0, 1}, 0)
    _, n = _jobs(spark, lambda: lineage.read_manifest(spark, d))
    assert n == 0


def test_part_commit_is_two_jobs(spark, tmp_path):
    """Write + checksum of the part read back from disk; the recorded
    checksum is table_checksum's recipe over those bytes."""
    d = str(tmp_path)
    rows, n = _jobs(spark, lambda: lineage.commit_part(
        spark, d, "triples", 0, _triples_df(spark), rows_in=3, n_parts=1))
    assert n == 2
    part = os.path.join(d, "triples", "part_id=0")
    back = spark.read.parquet(part)
    assert (rows[0]["rows_out"], rows[0]["checksum"]) == \
        lineage.table_checksum(back)
    assert lineage.table_checksum(back.coalesce(1)) == \
        lineage.table_checksum(back.repartition(3))
    snap = lineage.current_snapshot(d)
    assert snap["manifest"] == [{"part_id": 0, "rows": 3, "rows_in": 3,
                                 "checksum": rows[0]["checksum"]}]
    assert snap["schema_json"] == back.schema.json()
    assert snap["checksum_ver"] == lineage.CHECKSUM_VER == 2


def test_edges_commit_job_count(spark, tmp_path, monkeypatch):
    """An edges commit reads the committed triples part instead of
    re-running the relation stage of the unit's pipeline."""
    alias = make_alias_table(60, seed=7)
    pages = make_pages(30, seed=7, alias_df=alias)
    real = lineage.commit_part
    counts = []

    def counted(spark_, out_dir, table, *a, **kw):
        if table != "edges":
            return real(spark_, out_dir, table, *a, **kw)
        rows, n = _jobs(spark, lambda: real(spark_, out_dir, table, *a, **kw))
        counts.append(n)
        return rows

    monkeypatch.setattr(lineage, "commit_part", counted)
    lineage.run_partitioned(spark, spark.createDataFrame(pages), alias,
                            str(tmp_path), n_parts=1,
                            sinks=("triples", "edges"))
    assert counts == [EDGES_COMMIT_JOBS]


def _bridge_delta(alias, triples_pdf):
    """One alias row joining two canonical components found in the stored
    triples."""
    old = union_find_canonical(alias)
    present = sorted(c for c in set(triples_pdf["subj"])
                     | set(triples_pdf["obj"]) if c in old.values())
    member = {c: eid for eid, c in sorted(old.items(), reverse=True)}
    alias_of = dict(zip(alias["entity_id"], alias["alias"]))
    return pd.DataFrame(
        [(member[present[1]], "Bridge Corp", alias_of[member[present[0]]],
          "en", 0.5, "ORG")], columns=list(alias.columns))


def test_apply_dictionary_update_job_budget(spark, tmp_path):
    from char_ner_spark.incremental import (apply_dictionary_update,
                                            update_dictionary_state)
    from char_ner_spark.pipeline import build_dictionary_state

    alias = make_alias_table(60, seed=7)
    pages = make_pages(30, seed=7, alias_df=alias)
    d = str(tmp_path)
    lineage.run_partitioned(spark, spark.createDataFrame(pages), alias, d,
                            n_parts=1, sinks=("triples", "edges"))
    delta = _bridge_delta(
        alias, lineage.read_triples(spark, d).toPandas())
    _, remap = update_dictionary_state(
        spark, build_dictionary_state(spark, alias), alias, delta)
    stats, n = _jobs(spark, lambda: apply_dictionary_update(spark, d, remap))
    assert stats["triples"]["rewritten"] and stats["edges"]["rewritten"]
    assert n <= APPLY_JOB_BUDGET, n
    _assert_snapshot_matches_disk(spark, d, stats)


def test_relink_snapshot_equals_heal(spark, tmp_path):
    from char_ner_spark.incremental import relink_parts
    from char_ner_spark.pipeline import build_dictionary_state
    from char_ner_spark.removal import remove_aliases, stale_canonical_ids

    alias = make_alias_table(60, seed=23)
    pages = make_pages(40, seed=23, alias_df=alias)
    d = str(tmp_path)
    lineage.run_partitioned(
        spark, spark.createDataFrame(pages), alias, d, n_parts=2,
        sinks=("triples", "edges", "mentions", "entities"))
    tri = lineage.read_triples(spark, d).toPandas()
    present = set(tri["subj"]) | set(tri["obj"])
    old = union_find_canonical(alias)
    removed = alias.loc[[next(i for i in alias.index
                              if old[int(alias.loc[i, "entity_id"])]
                              in present)]]
    state = build_dictionary_state(spark, alias)
    new_state, _, _ = remove_aliases(spark, state, alias, removed)
    reduced = alias.drop(index=removed.index)
    stats = relink_parts(spark, d, new_state, reduced,
                         canon_ids=stale_canonical_ids(state, removed))
    assert stats.get("triples", {}).get("rewritten")
    _assert_snapshot_matches_disk(spark, d, stats)


def _spark_manifest_append(spark, out_dir, rows):
    """The manifest writer outputs written before the driver-side writer
    used: one Spark job appending a parquet file (INT96 timestamps)."""
    pdf = pd.DataFrame(rows, columns=lineage.LINEAGE_COLS)
    spark.createDataFrame(pdf).write.mode("append").parquet(
        os.path.join(out_dir, "_lineage"))


def test_mixed_manifest_rows(spark, tmp_path):
    """A leftover ``_lineage`` manifest from either writer is ignored:
    completed_parts, read_manifest and gc_orphan_parts follow the snapshots
    alone."""
    d = str(tmp_path)
    t0 = dt.datetime(2026, 1, 2, 3, 4, 5, 123456)
    t1 = t0 + dt.timedelta(microseconds=1)

    def row(pid, rows, checksum, at):
        return {"stage": "triples", "part_id": pid, "rows_in": rows,
                "rows_out": rows, "checksum": checksum, "completed_at": at}

    # part 0: Spark row, then a driver tombstone 1 µs later
    # part 1: Spark row only; part 3: driver row only
    # part 2: driver row, then a Spark tombstone 1 µs later
    _spark_manifest_append(spark, d, [row(0, 5, "00000000000000aa", t0),
                                      row(1, 7, "00000000000000bb", t0)])
    lineage.append_manifest(spark, d, row(0, 0, "superseded-by:3", t1))
    lineage.append_manifest(spark, d, row(2, 9, "00000000000000cc", t0))
    lineage.append_manifest(spark, d, row(3, 4, "00000000000000dd", t0))
    _spark_manifest_append(spark, d, [row(2, 0, "superseded-by:4", t1)])
    assert lineage.completed_parts(spark, d, "triples") == set()
    assert lineage.read_manifest(spark, d) is None

    # the snapshot lists part 3 only, so GC takes every other part —
    # part 1's manifest row included
    entry = {"part_id": 3, "rows": 4, "checksum": "00000000000000dd"}
    lineage.write_snapshot(spark, d, 1, add_part=entry)
    for pid in range(4):
        os.makedirs(os.path.join(d, "triples", f"part_id={pid}"))
    assert lineage.completed_parts(spark, d, "triples") == {3}
    assert lineage.gc_orphan_parts(spark, d, "triples") == [0, 1, 2]
    m = lineage.read_manifest(spark, d).toPandas()
    assert list(zip(m.stage, m.part_id, m.rows_in, m.rows_out, m.checksum)) \
        == [("triples", 3, 4, 4, "00000000000000dd")]

    # without entries, write_snapshot re-commits the previous list
    lineage.write_snapshot(spark, d, 1)
    assert lineage.current_snapshot(d)["manifest"] == [entry]


def test_resume_over_spark_written_manifest(spark, tmp_path):
    """An output whose ``_lineage`` the Spark writer produced still
    resumes: completed units are found and nothing is re-committed."""
    alias = make_alias_table(40, seed=3)
    pages = spark.createDataFrame(make_pages(12, seed=3, alias_df=alias))
    d = str(tmp_path)
    lineage.run_partitioned(spark, pages, alias, d, n_parts=2)
    # the manifest an older writer kept beside the snapshots
    rows = lineage.read_manifest(spark, d).toPandas()
    rows["completed_at"] = dt.datetime(2026, 1, 2, 3, 4, 5)
    _spark_manifest_append(spark, d, rows.to_dict("records"))
    snap = lineage.current_snapshot(d)["snapshot_id"]
    assert lineage.run_partitioned(spark, pages, alias, d, n_parts=2) == []
    assert lineage.current_snapshot(d)["snapshot_id"] == snap
    assert lineage.read_triples(spark, d).count() == \
        sum(r["rows"] for r in lineage.current_snapshot(d)["manifest"])


@pytest.mark.parametrize("meminfo,want", [
    ("MemTotal:       15728640 kB\n", "7680m"),
    ("MemTotal:       67108864 kB\n", "16384m"),
])
def test_default_driver_memory(tmp_path, meminfo, want):
    from char_ner_spark.session import default_driver_memory

    f = tmp_path / "meminfo"
    f.write_text("MemFree: 1 kB\n" + meminfo)
    assert default_driver_memory(str(f)) == want
    assert default_driver_memory(str(tmp_path / "missing")) == "16g"
