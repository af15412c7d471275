"""Edges commit from the committed triples part: every per-unit edges part
equals ``edges_from_triples`` over the unit's triples as stored, its write
plan reads those bytes instead of re-running the relation stage, and a
unit that lacks only its edges part resumes without running its
pipeline."""

import os

import pytest
from pyspark.sql import functions as F

from char_ner_spark import lineage, pipeline
from char_ner_spark.fixtures import make_alias_table, make_pages

ALL_SINKS = ("triples", "edges", "mentions", "entities")


@pytest.fixture(scope="module")
def corpus():
    alias = make_alias_table(60, seed=31)
    pages = make_pages(36, seed=31, alias_df=alias)
    assert pages.url.is_unique
    return alias, pages


def _edges_match_triples(spark, out_dir, pids):
    """Each stored edges part checksums like edges_from_triples over the
    unit's committed triples part (plus the part_id column the commit
    adds)."""
    snap = lineage.current_snapshot(out_dir, table="edges")
    stored = {e["part_id"]: (e["rows"], e["checksum"])
              for e in snap["manifest"]}
    assert sorted(stored) == sorted(pids)
    for pid in pids:
        want = pipeline.edges_from_triples(
            lineage.committed_triples(spark, out_dir, pid)
        ).withColumn("part_id", F.lit(pid))
        assert stored[pid] == lineage.table_checksum(want), pid


def _edge_weights(spark, out_dir):
    return {(r.src, r.dst, r.rel): round(r.weight, 6)
            for r in lineage.read_edges(spark, out_dir).collect()}


def test_run_partitioned_edges_equal_committed_triples(spark, corpus,
                                                       tmp_path):
    alias, pages = corpus
    d = str(tmp_path)
    lineage.run_partitioned(spark, spark.createDataFrame(pages), alias, d,
                            n_parts=3, sinks=ALL_SINKS)
    _edges_match_triples(spark, d, [0, 1, 2])


def test_ingest_edges_equal_committed_triples(spark, corpus, tmp_path):
    alias, pages = corpus
    d = str(tmp_path)
    lineage.run_partitioned(spark, spark.createDataFrame(pages.iloc[:18]),
                            alias, d, n_parts=2, sinks=("triples", "edges"))
    rows = lineage.ingest_pages(spark, spark.createDataFrame(pages.iloc[18:]),
                                alias, d, ingest_id=0, n_units=2)
    base = lineage.INGEST_PID_BASE
    assert {(r["stage"], r["part_id"]) for r in rows} == {
        (t, base + u) for t in ("triples", "edges") for u in (0, 1)}
    _edges_match_triples(spark, d, [0, 1, base, base + 1])


def test_zero_triples_unit_commits_empty_edges_part(spark, corpus, tmp_path):
    """Two linked names whose gap is longer than any relation template:
    the unit has mentions but yields no triples."""
    alias, pages = corpus
    en = alias[alias.lang == "en"].alias.tolist()
    text = (f"{en[0]} quietly walked along the old river bank all day "
            f"with {en[5]}.")
    quiet = pages.iloc[:2].assign(
        lang="en", text=text,
        html=f"<html><body><p>{text}</p></body></html>".encode())
    d = str(tmp_path)
    rows = lineage.run_partitioned(spark, spark.createDataFrame(quiet), alias,
                                   d, n_parts=1, sinks=("triples", "edges"))
    assert {(r["stage"], r["rows_in"], r["rows_out"]) for r in rows} == {
        ("triples", 2, 0), ("edges", 2, 0)}
    assert os.path.isdir(os.path.join(d, "edges", "part_id=0"))
    assert lineage.read_table(spark, d, "edges").count() == 0
    _edges_match_triples(spark, d, [0])


def test_edges_write_plan_reads_triples_part(spark, corpus, tmp_path,
                                             monkeypatch):
    """The edges part is an aggregate over the triples files on disk: no
    cached tagger output, no broadcast joins of the relation stage."""
    alias, pages = corpus
    real = lineage.commit_part
    plans = {}

    def spy(spark_, out_dir, table, pid, df, *a, **kw):
        if table == "edges":
            plans[pid] = (df._jdf.queryExecution().executedPlan().toString(),
                          df.inputFiles())
        return real(spark_, out_dir, table, pid, df, *a, **kw)

    monkeypatch.setattr(lineage, "commit_part", spy)
    d = str(tmp_path)
    lineage.run_partitioned(spark, spark.createDataFrame(pages), alias, d,
                            n_parts=2, max_inflight=1,
                            sinks=("edges", "mentions", "triples"))
    assert sorted(plans) == [0, 1]
    for pid, (plan, files) in plans.items():
        assert files and all(f"/triples/part_id={pid}/" in f
                             for f in files), files
        assert "FileScan parquet" in plan, plan
        assert "InMemoryTableScan" not in plan, plan
        assert "BroadcastHashJoin" not in plan, plan


def test_resume_after_crash_before_edges_runs_no_pipeline(spark, corpus,
                                                          tmp_path,
                                                          monkeypatch):
    alias, pages = corpus
    pages_df = spark.createDataFrame(pages)
    fresh = str(tmp_path / "fresh")
    lineage.run_partitioned(spark, pages_df, alias, fresh, n_parts=2,
                            sinks=("triples", "edges"))

    real = lineage.commit_part

    def crash_on_edges(spark_, out_dir, table, *a, **kw):
        if table == "edges":
            raise RuntimeError("injected crash before the edges commit")
        return real(spark_, out_dir, table, *a, **kw)

    d = str(tmp_path / "crashed")
    monkeypatch.setattr(lineage, "commit_part", crash_on_edges)
    with pytest.raises(RuntimeError, match="injected crash"):
        lineage.run_partitioned(spark, pages_df, alias, d, n_parts=2,
                                max_inflight=1, sinks=("triples", "edges"))
    assert lineage.completed_parts(spark, d, "triples") == {0}
    assert lineage.completed_parts(spark, d, "edges") == set()
    monkeypatch.setattr(lineage, "commit_part", real)

    # unit 0 lacks only edges; unit 1 lacks both, so it alone may tag
    calls = []
    real_pipeline = pipeline.run_pipeline

    def counting(*a, **kw):
        calls.append(1)
        return real_pipeline(*a, **kw)

    monkeypatch.setattr(pipeline, "run_pipeline", counting)
    rows = lineage.run_partitioned(spark, pages_df, alias, d, n_parts=2,
                                   sinks=("triples", "edges"))
    assert len(calls) == 1
    assert {(r["stage"], r["part_id"]) for r in rows} == {
        ("edges", 0), ("triples", 1), ("edges", 1)}
    unit0 = next(r for r in rows if r["stage"] == "edges")
    assert unit0["rows_in"] == next(
        r for r in lineage.read_manifest(spark, d).collect()
        if r.stage == "triples" and r.part_id == 0).rows_in
    _edges_match_triples(spark, d, [0, 1])
    assert _edge_weights(spark, d) == _edge_weights(spark, fresh)
    for t in ("triples", "edges"):
        got, want = (lineage.current_snapshot(x, table=t)["manifest"]
                     for x in (d, fresh))
        assert got == want, t


def test_edges_added_to_triples_only_output_runs_no_pipeline(spark, corpus,
                                                             tmp_path,
                                                             monkeypatch):
    alias, pages = corpus
    pages_df = spark.createDataFrame(pages)
    fresh = str(tmp_path / "fresh")
    lineage.run_partitioned(spark, pages_df, alias, fresh, n_parts=2,
                            sinks=("triples", "edges"))
    d = str(tmp_path / "grown")
    lineage.run_partitioned(spark, pages_df, alias, d, n_parts=2)

    def boom(*a, **kw):
        raise AssertionError("run_pipeline must not run")

    monkeypatch.setattr(pipeline, "run_pipeline", boom)
    rows = lineage.run_partitioned(spark, pages_df, alias, d, n_parts=2,
                                   sinks=("triples", "edges"))
    assert {(r["stage"], r["part_id"]) for r in rows} == {
        ("edges", 0), ("edges", 1)}
    _edges_match_triples(spark, d, [0, 1])
    assert _edge_weights(spark, d) == _edge_weights(spark, fresh)


def test_edges_without_triples_sink_still_come_from_pipeline(spark, corpus,
                                                             tmp_path):
    alias, pages = corpus
    pages_df = spark.createDataFrame(pages)
    both = str(tmp_path / "both")
    lineage.run_partitioned(spark, pages_df, alias, both, n_parts=1,
                            sinks=("triples", "edges"))
    d = str(tmp_path / "edges_only")
    rows = lineage.run_partitioned(spark, pages_df, alias, d, n_parts=1,
                                   sinks=("edges",))
    assert {r["stage"] for r in rows} == {"edges"}
    assert not os.path.exists(os.path.join(d, "triples"))
    assert _edge_weights(spark, d) == _edge_weights(spark, both)
