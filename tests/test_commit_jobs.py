"""Spark-job budget of the commit protocol and of the read-back of a
small stored KG (small parts read as one partition), agreement of the
O(1) copy-on-write snapshots with the parts on disk, and outputs holding a
leftover ``_lineage`` manifest, whose rows (from the Spark writer of older
outputs or the driver-side pyarrow writer) commit state no longer reads;
also the driver JVM options ``session.build_session`` starts with.

Jobs are counted per call through a job group: once the listener bus has
drained, the status tracker lists every job the group issued."""

import datetime as dt
import itertools
import json
import os
import subprocess
import sys

import pandas as pd
import pytest

from char_ner_spark import lineage
from char_ner_spark.fixtures import make_alias_table, make_pages
from char_ner_spark.linking import union_find_canonical

#: jobs apply_dictionary_update issues for a one-alias delta on a 1-part
#: triples + edges KG, measured: none to collect the remap (a local
#: relation), 2 for the one semi-join that finds the affected triples part
#: (the broadcast key set, then the scan with its distinct part ids), 2
#: for that part's commit (the broadcast remap, then the remap joins and
#: the distinct in the write's one stage) and EDGES_COMMIT_JOBS for the
#: edges part that follows it. Small parts read as one partition, so no
#: aggregate above a part's scan plans a shuffle
APPLY_JOB_BUDGET = 5

#: jobs relink_parts issues to re-link the 2 affected parts of a 2-part
#: triples + edges + mentions + entities KG and refresh its entities,
#: measured; a grouped rewrite would not grow with the parts rewritten.
#: The mentions reads keep their file splits (the Python alias probe above
#: them spreads over the cores), so each part's surface distinct still
#: shuffles; the other reads are one partition
RELINK_JOB_BUDGET = 21

#: jobs build_dictionary_state issues, measured: its alias tables and
#: its union-find canonical map are driver-side frames
DICT_STATE_JOBS = 0

#: jobs a one-alias update_dictionary_state issues, measured: the driver
#: union-find over the contracted graph reads the state's canon_map dict
DICT_UPDATE_JOBS = 0

#: jobs compact_table issues to compact one 4-file part, measured: the
#: live part's checksum, the coalesced write and the copy's checksum. Both
#: reads take their schema from the parquet footer and read as one
#: partition, so each checksum aggregate is one job
COMPACT_JOBS = 3

#: jobs one work unit's edges commit issues, measured: the edges part is
#: an aggregate over the unit's committed triples part, which reads as one
#: partition, so the aggregate runs in the write's one stage
EDGES_COMMIT_JOBS = 1

#: jobs one run_partitioned build issues (1 unit, all four sinks),
#: measured: 4 for the triples commit (the query stages of the unit's one
#: tag-link-relate pass and its distinct with the write), 1 for the
#: mentions commit over the persisted pass, EDGES_COMMIT_JOBS for the
#: edges part and 1 for the entities commit (a driver-side frame). Each
#: commit's checksum rides its write. The staged plan (a separate probe
#: job, link_pairs' eager checkpoint and the triples joins) issued 19
BUILD_JOB_BUDGET = 7

#: jobs kg_refresh's 2-hop BGP issues over read_triples of a one-part
#: KG, measured: the triples read as one partition, so the distinct leg
#: scans and their join run as one stage under one broadcast
BGP_JOBS = 2

#: jobs pagerank issues over read_edges of a one-part KG, measured: the
#: eager checkpoint of the collapsed graph (the edges read as one
#: partition, so read_edges' and the collapse's aggregates run in its one
#: stage, which also observes the edge count) and the driver path's
#: collect
PAGERANK_JOBS = 2

#: the 2-hop BGP kg_refresh reads back
BGP_QUERY = ("SELECT ?p ?o ?c WHERE { ?p works_for ?o . "
             "?o located_in ?c . }")

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


def _assert_entries_on_disk(spark, out_dir, table):
    """Each live entry of ``table``'s current snapshot records the (rows,
    checksum) of its part as read back from disk."""
    base, prefix = lineage._table_base(out_dir, table)
    snap = lineage.current_snapshot(out_dir, table=table)
    for p in snap["manifest"]:
        if p["checksum"].startswith("superseded-by:"):
            continue
        back = lineage.read_parts(spark, f"{base}/{prefix}={p['part_id']}")
        assert (p["rows"], p["checksum"]) == lineage.table_checksum(back), \
            (table, p)


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
        _assert_entries_on_disk(spark, out_dir, table)


def test_bookkeeping_issues_no_jobs(spark, tmp_path):
    d = str(tmp_path)
    lineage.commit_part(spark, d, "triples", 0, _triples_df(spark),
                        rows_in=3, n_parts=2)
    _, n = _jobs(spark, lambda: lineage.read_table(spark, d, "triples"))
    assert n == 0
    _, n = _jobs(spark, lambda: lineage.write_snapshot(
        spark, d, 2, add_part={"part_id": 1, "rows": 2,
                               "checksum": "00000000000000ab"}))
    assert n == 0
    done, n = _jobs(spark,
                    lambda: lineage.completed_parts(spark, d, "triples"))
    assert (done, n) == ({0, 1}, 0)
    _, n = _jobs(spark, lambda: lineage.read_manifest(spark, d))
    assert n == 0


def test_part_commit_is_one_job(spark, tmp_path):
    """The write is the commit's one job: the checksum observed on the rows
    written is table_checksum's recipe over the part read back from disk."""
    d = str(tmp_path)
    rows, n = _jobs(spark, lambda: lineage.commit_part(
        spark, d, "triples", 0, _triples_df(spark), rows_in=3, n_parts=1))
    assert n == 1
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


def _count_read_backs(monkeypatch) -> list:
    """Record each table_checksum call lineage makes: a commit makes one
    only when it reads its part back."""
    calls, real = [], lineage.table_checksum
    monkeypatch.setattr(lineage, "table_checksum",
                        lambda df: (calls.append(1), real(df))[1])
    return calls


def test_observed_checksum_equals_disk(spark, tmp_path, monkeypatch):
    """A root-layout part (keyed by its directory name only) written from
    three tasks and a zero-row part record the checksum of the bytes on
    disk without reading the part back."""
    d = str(tmp_path)
    df = _triples_df(spark, 40).repartition(3)
    for table, pid, frame, want in (("stream_triples", 7, df, 40),
                                    ("triples", 0, df.limit(0), 0)):
        read_back = _count_read_backs(monkeypatch)
        rows = lineage.commit_part(spark, d, table, pid, frame, n_parts=1)
        monkeypatch.undo()
        assert (read_back, rows[0]["rows_out"]) == ([], want), table
        _assert_entries_on_disk(spark, d, table)
    # the root layout hashes the part without its batch_id key, as the
    # leaf read back holds it
    back = lineage.read_parts(spark, os.path.join(d, "batch_id=7"))
    assert "batch_id" not in back.columns


@pytest.mark.parametrize("miss", ["footer_count", "observation"])
def test_checksum_falls_back_to_read_back(spark, tmp_path, monkeypatch,
                                          miss):
    """A footer row count that differs from the observed count, or a write
    whose observation is missing, takes the read-back checksum: one more
    job, and the entry still records the bytes on disk."""
    from py4j.protocol import Py4JJavaError
    from pyspark.sql import Observation

    if miss == "footer_count":
        real = lineage.pq.read_metadata
        monkeypatch.setattr(lineage.pq, "read_metadata", lambda f: type(
            "Meta", (), {"num_rows": real(f).num_rows + 1})())
    else:
        class Unobserved(Observation):
            @property
            def get(self):
                raise Py4JJavaError("no observed metrics", spark._jvm.java
                                    .lang.IllegalStateException("none"))

        monkeypatch.setattr(lineage, "Observation", Unobserved)
    read_back = _count_read_backs(monkeypatch)
    d = str(tmp_path)
    rows, n = _jobs(spark, lambda: lineage.commit_part(
        spark, d, "triples", 0, _triples_df(spark, 10), n_parts=1))
    assert (n, read_back, rows[0]["rows_out"]) == (2, [1], 10)
    monkeypatch.undo()
    _assert_entries_on_disk(spark, d, "triples")


#: commits a part whose write stage fails the first attempt of task 1
#: (after its first rows have passed the observation) under a
#: ``local[2,3]`` master, narrow and after a shuffle; prints, per case,
#: the recorded (rows, checksum), table_checksum of the part on disk, the
#: read-back checksums the commit took and whether the failure fired
_RETRIED_COMMIT = """
import json, os, sys
from pyspark import TaskContext
from pyspark.sql import SparkSession, functions as F
from char_ner_spark import lineage

spark = (SparkSession.builder.master("local[2,3]")
         .config("spark.ui.enabled", "false").getOrCreate())
out, marks = sys.argv[1], sys.argv[2]

def fail_first(i):
    ctx = TaskContext.get()
    if ctx.partitionId() == 1 and ctx.attemptNumber() == 0 and i % 1000 == 999:
        open(os.path.join(marks, str(i)), "w").close()
        raise RuntimeError("injected first-attempt failure")
    return i * 3

udf = F.udf(fail_first, "long")
read_back = []
real = lineage.table_checksum
lineage.table_checksum = lambda df: (read_back.append(1), real(df))[1]
res = {}
for case, src in (("narrow", spark.range(0, 5000, 1, 3)),
                  ("shuffled", spark.range(0, 5000, 1, 2).repartition(3))):
    df = src.select("id", udf("id").alias("v"),
                    (F.col("id") / 7).alias("conf"))
    read_back.clear()
    row = lineage.commit_part(spark, out, case, 0, df, n_parts=1)[0]
    seen = list(read_back)
    disk = real(lineage.read_parts(spark, f"{out}/{case}/part_id=0"))
    res[case] = [[row["rows_out"], row["checksum"]], list(disk), seen,
                 len(os.listdir(marks))]
    for f in os.listdir(marks):
        os.remove(os.path.join(marks, f))
print(json.dumps(res))
spark.stop()
"""


def test_observed_checksum_survives_task_retry(tmp_path):
    """A task attempt that fails after its first rows passed the
    observation leaves no trace in the recorded checksum: Spark merges a
    result task's metrics from its successful attempt only."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        p for p in (repo, os.environ.get("PYTHONPATH")) if p))
    marks = tmp_path / "marks"
    marks.mkdir()
    res = subprocess.run(
        [sys.executable, "-c", _RETRIED_COMMIT, str(tmp_path / "out"),
         str(marks)],
        capture_output=True, text=True, env=env, cwd=tmp_path, timeout=300)
    assert res.returncode == 0, res.stderr[-3000:]
    got = json.loads(res.stdout.strip().splitlines()[-1])
    for case, (recorded, disk, read_back, failures) in got.items():
        assert failures == 1, case  # the first attempt failed once
        assert read_back == [], case  # the observation stood
        assert recorded == disk and recorded[0] == 5000, case


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


def test_build_job_budget(spark, tmp_path):
    """A whole one-unit build with every sink stays within its job budget;
    the stored triples equal the oracle's."""
    from char_ner_spark.oracle import run_oracle

    alias = make_alias_table(60, seed=7)
    pages = make_pages(30, seed=7, alias_df=alias)
    d = str(tmp_path)
    rows, n = _jobs(spark, lambda: lineage.run_partitioned(
        spark, spark.createDataFrame(pages), alias, d, n_parts=1,
        sinks=("triples", "edges", "mentions", "entities")))
    assert {r["stage"] for r in rows} == {"triples", "edges", "mentions",
                                          "entities"}
    assert n <= BUILD_JOB_BUDGET, n
    for table in ("triples", "edges", "mentions", "entities"):
        _assert_entries_on_disk(spark, d, table)
    cols = ["subj", "pred", "obj", "url", "sent_idx", "conf"]
    got = lineage.read_triples(spark, d).toPandas()[cols]
    want = run_oracle(pages, alias)["triples"][cols]
    assert sorted(map(tuple, got.itertuples(index=False))) == \
        sorted(map(tuple, want.itertuples(index=False)))
    assert {r["rows_in"] for r in rows if r["stage"] != "entities"} == \
        {len(pages)}


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
    stale = stale_canonical_ids(state, removed)
    stats, n = _jobs(spark, lambda: relink_parts(
        spark, d, new_state, reduced, canon_ids=stale))
    assert stats.get("triples", {}).get("rewritten")
    assert n <= RELINK_JOB_BUDGET, n
    _assert_snapshot_matches_disk(spark, d, stats)

    # an edges pointer left behind the triples one (a crash between the
    # two pointer flips) is found from the snapshots, before any Spark job
    edges = lineage.current_snapshot(d, table="edges")
    with open(os.path.join(lineage._snapshot_dir(d, "edges"), "current"),
              "w") as f:
        f.write(str(edges["parent_id"]))

    def relink_out_of_sync():
        with pytest.raises(RuntimeError, match="out of sync"):
            relink_parts(spark, d, new_state, reduced, canon_ids=stale)

    assert _jobs(spark, relink_out_of_sync)[1] == 0


def test_dictionary_state_job_budget(spark):
    """Canonicalization runs on the driver: building the dictionary state
    and a one-alias update issue no Spark CC rounds."""
    from char_ner_spark.incremental import update_dictionary_state
    from char_ner_spark.pipeline import build_dictionary_state

    alias = make_alias_table(60, seed=7)
    state, n = _jobs(spark, lambda: build_dictionary_state(spark, alias))
    assert n <= DICT_STATE_JOBS, n
    delta = pd.DataFrame(
        [(int(alias["entity_id"].iloc[3]), "Bridge Corp",
          alias["alias"].iloc[0], "en", 0.5, "ORG")],
        columns=list(alias.columns))
    (new_state, _), n = _jobs(spark, lambda: update_dictionary_state(
        spark, state, alias, delta))
    assert n <= DICT_UPDATE_JOBS, n
    want = union_find_canonical(pd.concat([alias, delta], ignore_index=True))
    canon = new_state["canon"].toPandas()
    assert dict(zip(canon["entity_id"], canon["canonical_id"])) == want


def test_compact_table_job_budget(spark, tmp_path):
    d = str(tmp_path)
    lineage.commit_part(spark, d, "triples", 0,
                        _triples_df(spark, 40).repartition(4),
                        rows_in=40, n_parts=1)
    stats, n = _jobs(spark, lambda: lineage.compact_table(spark, d))
    assert stats == {0: (4, 1)}
    assert n <= COMPACT_JOBS, n


def _refresh_kg(spark, out_dir, files=1):
    """A one-part triples + edges KG shaped like kg_refresh's base KG:
    works_for and located_in triples, each part written as ``files``
    files. Returns the triples as a pandas frame."""
    from char_ner_spark.pipeline import edges_from_triples

    n = 48
    pdf = pd.DataFrame({
        "subj": [i % 12 for i in range(n)],
        "pred": ["works_for", "located_in"] * (n // 2),
        "obj": [(5 * i + 3) % 12 for i in range(n)],
        "url": [f"u{i}" for i in range(n)], "sent_idx": list(range(n)),
        "conf": [0.5 + i / 64 for i in range(n)]})
    lineage.commit_part(spark, out_dir, "triples", 0, spark.createDataFrame(
        pdf, schema="subj long, pred string, obj long, url string, "
                    "sent_idx int, conf double").repartition(files),
                        n_parts=1)
    lineage.commit_part(spark, out_dir, "edges", 0, edges_from_triples(
        lineage.committed_triples(spark, out_dir, 0)).repartition(files),
                        n_parts=1)
    return pdf


def _bgp(spark, out_dir):
    from char_ner_spark import graph, sparql

    args = sparql.parse(BGP_QUERY)
    triples = lineage.read_triples(spark, out_dir).drop("part_id")
    return {(r["p"], r["o"], r["c"]) for r in graph.match_pattern(
        triples, args.pop("pattern"), **args).collect()}


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_small_parts_read_as_one_partition(spark, tmp_path, monkeypatch):
    """A part within ONE_TASK_BYTES reads as one partition, so a distinct
    over it plans no Exchange; past the threshold, or with one_task=False
    (a read feeding per-row Python work), the read keeps its file splits
    and plans as before."""
    d = str(tmp_path)
    lineage.commit_part(spark, d, "triples", 0,
                        _triples_df(spark, 40).repartition(4), n_parts=1)
    part = os.path.join(d, "triples", "part_id=0")
    small = lineage.read_parts(spark, part)
    assert small.rdd.getNumPartitions() == 1
    plan = _plan(small.distinct())
    assert "Coalesce 1" in plan and "Exchange" not in plan, plan
    assert lineage.read_parts(
        spark, part, one_task=False).rdd.getNumPartitions() == 4
    monkeypatch.setattr(lineage, "ONE_TASK_BYTES", 0)
    split = lineage.read_parts(spark, part)
    assert split.rdd.getNumPartitions() == 4
    plan = _plan(split.distinct())
    assert "Coalesce" not in plan and "Exchange" in plan, plan


def test_many_small_files_keep_their_splits(spark, tmp_path):
    """A read of more data files than the session has task slots keeps
    its file splits however few bytes they hold, so many small parts (a
    stream of micro-batches, uncompacted work units) are not opened one
    after another in one task."""
    d = str(tmp_path)
    slots = spark.sparkContext.defaultParallelism
    for pid in range(slots + 1):
        lineage.commit_part(spark, d, "triples", pid,
                            _triples_df(spark, 2).coalesce(1),
                            n_parts=slots + 1)
    paths = [os.path.join(d, "triples", f"part_id={p}")
             for p in range(slots)]
    assert lineage.read_parts(spark, *paths).rdd.getNumPartitions() == 1
    every = lineage.read_triples(spark, d)
    assert every.rdd.getNumPartitions() > 1
    plan = _plan(every.distinct())
    assert "Coalesce" not in plan and "Exchange" in plan, plan


def test_read_back_job_budgets(spark, tmp_path):
    """kg_refresh's read-back over a small stored KG: the 2-hop BGP over
    read_triples and PageRank over read_edges stay within their budgets
    and answer as pandas does over the stored triples."""
    from char_ner_spark import graph

    d = str(tmp_path)
    pdf = _refresh_kg(spark, d)
    got, n = _jobs(spark, lambda: _bgp(spark, d))
    assert n <= BGP_JOBS, n
    t = pdf.drop_duplicates(["subj", "pred", "obj"])
    works = t[t.pred == "works_for"].rename(columns={"subj": "p", "obj": "o"})
    located = t[t.pred == "located_in"].rename(
        columns={"subj": "o", "obj": "c"})
    want = works[["p", "o"]].merge(located[["o", "c"]], on="o")
    assert got and got == set(map(tuple, want.itertuples(index=False)))
    ranks, n = _jobs(spark, lambda: graph.pagerank(
        lineage.read_edges(spark, d)).collect())
    assert n <= PAGERANK_JOBS, n
    assert {r["entity"] for r in ranks} == set(t.subj) | set(t.obj)
    assert sum(r["rank"] for r in ranks) == pytest.approx(1.0, abs=1e-9)


def test_split_reads_answer_alike(spark, tmp_path, monkeypatch):
    """With ONE_TASK_BYTES = 0 every read keeps its file splits. A
    copy-on-write update then records the same snapshot entries, the BGP
    returns the same solutions and PageRank the same ranks as with small
    parts read as one partition."""
    from char_ner_spark import graph
    from char_ner_spark.incremental import REMAP_DDL, apply_dictionary_update
    from char_ner_spark.session import local_frame

    runs = []
    for one_task in (lineage.ONE_TASK_BYTES, 0):
        monkeypatch.setattr(lineage, "ONE_TASK_BYTES", one_task)
        d = str(tmp_path / f"kg{one_task}")
        _refresh_kg(spark, d, files=4)
        assert lineage.read_triples(spark, d).rdd.getNumPartitions() == \
            (1 if one_task else 4)
        stats = apply_dictionary_update(
            spark, d, local_frame(spark, [(7, 1), (9, 2)], REMAP_DDL))
        _assert_snapshot_matches_disk(spark, d, stats)
        entries = {t: [(p["part_id"], p["rows"], p["checksum"])
                       for p in lineage.current_snapshot(d, table=t)
                       ["manifest"]] for t in ("triples", "edges")}
        ranks = {r["entity"]: r["rank"] for r in graph.pagerank(
            lineage.read_edges(spark, d)).collect()}
        runs.append((entries, _bgp(spark, d), ranks))
    (entries, bgp, ranks), (entries0, bgp0, ranks0) = runs
    assert entries == entries0
    assert bgp and bgp == bgp0
    assert ranks.keys() == ranks0.keys()
    assert all(abs(ranks[v] - ranks0[v]) < 1e-12 for v in ranks)


def test_pagerank_on_empty_edges(spark, tmp_path):
    """PageRank over an empty graph (a zero-row stored edges part, an empty
    local frame) returns no rows on both paths: the observed edge count
    fires on an empty checkpoint too."""
    from char_ner_spark import graph
    from char_ner_spark.session import local_frame

    ddl = "src long, dst long, rel string, weight double"
    d = str(tmp_path)
    lineage.commit_part(spark, d, "edges", 0, local_frame(spark, [], ddl),
                        n_parts=1)
    for edges in (lineage.read_edges(spark, d), local_frame(spark, [], ddl)):
        for kw in ({}, {"distributed_threshold": 0}):
            assert graph.pagerank(edges, **kw).collect() == []


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


def _jvm_args(spark) -> list[str]:
    mx = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    return list(mx.getInputArguments())


#: prints the driver JVM's input arguments of a fresh build_session
_FRESH_JVM_ARGS = """
import json, sys
from char_ner_spark.session import build_session
spark = build_session("jvm_args", master="local[1]",
                      extra_conf=json.loads(sys.argv[1]))
mx = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
print(json.dumps(list(mx.getInputArguments())))
spark.stop()
"""


def _fresh_jvm_args(tmp_path, extra_conf: dict[str, str]) -> list[str]:
    """Input arguments of the driver JVM a new process builds: the shared
    test session's JVM already runs, so its options cannot change."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        p for p in (repo, os.environ.get("PYTHONPATH")) if p))
    res = subprocess.run(
        [sys.executable, "-c", _FRESH_JVM_ARGS, json.dumps(extra_conf)],
        capture_output=True, text=True, env=env, cwd=tmp_path, timeout=300)
    assert res.returncode == 0, res.stderr[-3000:]
    return json.loads(res.stdout.strip().splitlines()[-1])


#: the driver JIT profile build_session sets: C1 only, the tiered code
#: cache size, deeper C1 inlining
JIT_PROFILE = {"-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=240m",
               "-XX:C1MaxInlineSize=70", "-XX:C1InlineStackLimit=10",
               "-XX:C1MaxInlineLevel=15"}


def test_driver_jit_profile(spark):
    assert JIT_PROFILE <= set(_jvm_args(spark))


def test_driver_jit_profile_keeps_extra_options(tmp_path):
    args = _fresh_jvm_args(
        tmp_path, {"spark.driver.extraJavaOptions": "-Xms256m"})
    assert JIT_PROFILE | {"-Xms256m"} <= set(args)


def test_driver_jit_profile_override(tmp_path):
    args = _fresh_jvm_args(tmp_path, {"spark.driver.defaultJavaOptions": ""})
    flags = {f.split("=")[0] for f in JIT_PROFILE}
    assert not any(a.split("=")[0] in flags for a in args)
