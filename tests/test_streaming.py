"""Structured Streaming tests (SURVEY.md §2.10)."""

import os
import shutil
import tempfile

import pytest

from char_ner_spark import streaming as ST
from char_ner_spark.fixtures import make_alias_table, make_pages


@pytest.fixture(scope="module")
def pages_dir(spark):
    d = tempfile.mkdtemp()
    alias = make_alias_table(60, seed=42)
    pdf = make_pages(30, seed=42, alias_df=alias)
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(os.path.join(d, "pages"))
    yield os.path.join(d, "pages")
    shutil.rmtree(d, ignore_errors=True)


def test_stream_exactly_once_on_restart(spark, pages_dir):
    """Re-running with the same checkpoint reprocesses nothing: the second
    drain commits no snapshot and returns the same rows."""
    from char_ner_spark import lineage

    alias = make_alias_table(60, seed=42)
    ck = tempfile.mkdtemp()
    out = tempfile.mkdtemp()
    sink = os.path.join(out, "triples")
    key = ["subj", "pred", "obj", "url", "sent_idx", "batch_id"]

    def drain():
        rows = ST.stream_triples(spark, pages_dir, alias, sink, ck).toPandas()
        snap = lineage.current_snapshot(sink, table="stream_triples")
        return sorted(map(tuple, rows[key].itertuples(index=False))), \
            snap["snapshot_id"]

    try:
        first, s1 = drain()
        assert len(first) > 0
        # restart with same checkpoint + no new input files → nothing re-emitted
        second, s2 = drain()
        assert s2 == s1
        assert second == first
    finally:
        shutil.rmtree(ck, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)


def test_stream_triples_returns_committed_rows_after_rewrite(spark, pages_dir):
    """After a copy-on-write dictionary update the sink keeps the superseded
    batch_id directories for time travel; a re-drain must return only the
    rows the current snapshot commits."""
    import pandas as pd

    from char_ner_spark import lineage
    from char_ner_spark.incremental import (apply_dictionary_update,
                                            update_dictionary_state)
    from char_ner_spark.pipeline import build_dictionary_state

    alias = make_alias_table(60, seed=42)
    d = tempfile.mkdtemp()
    try:
        out, ck = os.path.join(d, "out"), os.path.join(d, "ck")
        first = ST.stream_triples(spark, pages_dir, alias, out, ck).toPandas()
        ids = sorted(set(first.subj) | set(first.obj))
        lo, hi = int(ids[0]), int(ids[-1])
        # one alias bridges the smallest and the largest stored id
        lo_alias = alias.loc[alias.entity_id == lo, "alias"].iloc[0]
        delta = pd.DataFrame(
            [(hi, "Bridge 0", lo_alias, "en", 0.5, "ORG")],
            columns=["entity_id", "canonical_name", "alias", "lang", "prior",
                     "ner_type"])
        union = pd.concat([alias, delta], ignore_index=True)
        new_state, remap = update_dictionary_state(
            spark, build_dictionary_state(spark, alias), alias, delta)
        stats = apply_dictionary_update(spark, out, remap, alias_pdf=union,
                                        canon=new_state["canon"])
        assert stats["stream_triples"]["rewritten"]

        got = ST.stream_triples(spark, pages_dir, union, out, ck).toPandas()
        want = lineage.read_table(spark, out, "stream_triples").toPandas()
        assert len(got) == len(want)
        key = ["subj", "pred", "obj", "url", "sent_idx", "batch_id"]
        assert sorted(map(tuple, got[key].itertuples(index=False))) == \
            sorted(map(tuple, want[key].itertuples(index=False)))
        assert hi not in set(got.subj) | set(got.obj)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_triples_matches_batch_pipeline(spark):
    """Full KG pipeline as a stream (foreachBatch, batch_id-partitioned
    exactly-once writes): union of micro-batch triples == the batch
    pipeline's triples on the same corpus."""
    from char_ner_spark.fixtures import make_alias_table, make_pages
    from char_ner_spark.pipeline import run_pipeline

    alias = make_alias_table(60, seed=42)
    pdf = make_pages(40, seed=42, alias_df=alias)
    d = tempfile.mkdtemp()
    ck = tempfile.mkdtemp()
    try:
        src = os.path.join(d, "pages")
        # two files → two micro-batches under maxFilesPerTrigger default
        spark.createDataFrame(pdf.iloc[:20]).coalesce(1).write.mode("overwrite").parquet(src)
        spark.createDataFrame(pdf.iloc[20:]).coalesce(1).write.mode("append").parquet(src)
        got = ST.stream_triples(
            spark, src, alias, os.path.join(d, "triples_out"), ck
        ).toPandas()
        assert got.batch_id.nunique() >= 1
        want = run_pipeline(
            spark, spark.createDataFrame(pdf), alias
        )["triples"].toPandas()
        key = ["subj", "pred", "obj", "url", "sent_idx"]
        assert set(map(tuple, got[key].itertuples(index=False))) == set(
            map(tuple, want[key].itertuples(index=False))
        )
        assert len(got) == len(want)  # no cross-batch duplicate triples
    finally:
        shutil.rmtree(d, ignore_errors=True)
        shutil.rmtree(ck, ignore_errors=True)


def test_stream_triples_replay_converges_not_duplicates(spark):
    """Wiping the checkpoint and re-draining the same source replays every
    micro-batch with the same batch ids; the batch_id-partitioned dynamic
    overwrite must CONVERGE the output (identical rows), never append
    duplicates — the exactly-once claim under at-least-once delivery."""
    from char_ner_spark.fixtures import make_alias_table, make_pages

    alias = make_alias_table(50, seed=42)
    pdf = make_pages(20, seed=42, alias_df=alias)
    d = tempfile.mkdtemp()
    try:
        src = os.path.join(d, "pages")
        out = os.path.join(d, "out")
        spark.createDataFrame(pdf).coalesce(1).write.parquet(src)
        first = ST.stream_triples(
            spark, src, alias, out, os.path.join(d, "ck1")
        ).toPandas()
        # fresh checkpoint → full replay into the SAME out_dir
        second = ST.stream_triples(
            spark, src, alias, out, os.path.join(d, "ck2")
        ).toPandas()
        assert len(second) == len(first) > 0
        key = ["subj", "pred", "obj", "url", "sent_idx", "batch_id"]
        assert set(map(tuple, second[key].itertuples(index=False))) == set(
            map(tuple, first[key].itertuples(index=False))
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_triples_per_batch_lineage_rows(spark):
    """Each committed micro-batch must leave a manifest row whose rows_out
    and checksum match the batch partition actually on disk (the streaming
    twin of run_partitioned's per-unit lineage)."""
    from char_ner_spark import lineage
    from char_ner_spark.fixtures import make_alias_table, make_pages

    alias = make_alias_table(50, seed=42)
    pdf = make_pages(20, seed=42, alias_df=alias)
    d = tempfile.mkdtemp()
    try:
        src = os.path.join(d, "pages")
        out = os.path.join(d, "out")
        spark.createDataFrame(pdf).coalesce(1).write.parquet(src)
        got = ST.stream_triples(
            spark, src, alias, out, os.path.join(d, "ck")
        ).toPandas()
        m = lineage.read_manifest(spark, out).toPandas()
        m = m[m.stage == "stream_triples"]
        assert len(m) >= 1
        assert m.rows_in.sum() == len(pdf)
        assert m.rows_out.sum() == len(got)
        for r in m.itertuples():
            part = os.path.join(out, f"batch_id={int(r.part_id)}")
            n, checksum = lineage.table_checksum(spark.read.parquet(part))
            assert (n, checksum) == (int(r.rows_out), r.checksum)
    finally:
        shutil.rmtree(d, ignore_errors=True)


#: jobs one stream_triples micro-batch issues, measured: the query stages
#: of the batch's one-pass pipeline with its triples write. The page
#: count and the part's checksum ride the write as observed metrics; a
#: batch_df.count() for the pages issued 2 more (7) and a read-back
#: checksum 1 more (5)
STREAM_BATCH_JOBS = 4


def test_stream_triples_micro_batch_job_count(spark, tmp_path):
    """One micro-batch issues STREAM_BATCH_JOBS Spark jobs, all under the
    query run's job group, and still records the pages it read."""
    from pyspark.sql.streaming import StreamingQueryListener

    from char_ner_spark import lineage

    class RunIds(StreamingQueryListener):
        def __init__(self):
            self.ids = []

        def onQueryStarted(self, event):
            self.ids.append(str(event.runId))

        def onQueryProgress(self, event):
            pass

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    alias = make_alias_table(50, seed=42)
    pdf = make_pages(20, seed=42, alias_df=alias)
    src, out = str(tmp_path / "pages"), str(tmp_path / "out")
    spark.createDataFrame(pdf).coalesce(1).write.parquet(src)  # one batch
    runs = RunIds()
    spark.streams.addListener(runs)
    try:
        got = ST.stream_triples(spark, src, alias, out, str(tmp_path / "ck"))
    finally:
        spark.streams.removeListener(runs)
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(runs.ids) == 1
    assert len(sc.statusTracker().getJobIdsForGroup(runs.ids[0])) == \
        STREAM_BATCH_JOBS
    m = lineage.read_manifest(spark, out).toPandas()
    assert m.rows_in.tolist() == [len(pdf)]
    assert got.count() > 0


def test_stream_replay_with_empty_batch_clears_stale_partition(spark):
    """ADVICE r2: dynamic partition overwrite only replaces partitions that
    RECEIVE rows. A replay whose micro-batch now yields ZERO triples (here:
    a dictionary change unlinks everything) must still clear the stale
    batch_id partition from the earlier delivery — the output converges to
    the replay's (empty) content, not the superseded one."""
    import pandas as pd

    from char_ner_spark.fixtures import make_alias_table, make_pages

    alias = make_alias_table(50, seed=42)
    pdf = make_pages(20, seed=42, alias_df=alias)
    d = tempfile.mkdtemp()
    try:
        src = os.path.join(d, "pages")
        out = os.path.join(d, "out")
        spark.createDataFrame(pdf).coalesce(1).write.parquet(src)
        first = ST.stream_triples(
            spark, src, alias, out, os.path.join(d, "ck1")
        ).toPandas()
        assert len(first) > 0
        # "dictionary change": aliases that never occur in any page text
        unlinked = pd.DataFrame(
            {
                "entity_id": [900001, 900002],
                "canonical_name": ["Zzqx One", "Zzqx Two"],
                "alias": ["Zzqxalpha", "Zzqxbeta"],
                "lang": ["en", "en"],
                "prior": [0.5, 0.5],
                "ner_type": ["ORG", "ORG"],
            }
        )
        second = ST.stream_triples(
            spark, src, unlinked, out, os.path.join(d, "ck2")
        ).toPandas()
        assert len(second) == 0, second.head()
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_triples_snapshot_read_time_travel_compaction(spark):
    """Round-4 (verdict item 6): the streaming sink rides the same
    snapshot machinery as the batch sinks — readable via
    lineage.read_table(..., 'stream_triples') with time-travel, and
    compact_table rewrites its small files with checksums preserved."""
    from char_ner_spark import lineage
    from char_ner_spark.fixtures import make_alias_table, make_pages

    alias = make_alias_table(60, seed=42)
    pdf = make_pages(40, seed=42, alias_df=alias)
    d = tempfile.mkdtemp()
    ck = tempfile.mkdtemp()
    try:
        src = os.path.join(d, "pages")
        out = os.path.join(d, "triples_out")
        # two drains against one checkpoint → two committed micro-batches;
        # AQE partition coalescing off so each batch leaves several small
        # files (the compaction test needs real work to do)
        coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
        prev_coalesce = spark.conf.get(coalesce_key, "true")
        spark.conf.set(coalesce_key, "false")
        spark.createDataFrame(pdf.iloc[:20]).coalesce(1).write.mode("overwrite").parquet(src)
        ST.stream_triples(spark, src, alias, out, ck)
        spark.createDataFrame(pdf.iloc[20:]).coalesce(1).write.mode("append").parquet(src)
        got = ST.stream_triples(spark, src, alias, out, ck).toPandas()
        spark.conf.set(coalesce_key, prev_coalesce)
        n_batches = got.batch_id.nunique()
        assert n_batches >= 2

        # snapshot committed per micro-batch, current epoch, wildcard n_parts
        assert "stream_triples" in lineage.snapshot_tables(out)
        snap = lineage.current_snapshot(out, table="stream_triples")
        assert snap["checksum_ver"] == lineage.CHECKSUM_VER
        assert snap["n_parts"] is None
        assert len(snap["manifest"]) == n_batches

        # read through the snapshot pointer == raw parquet read
        via_snap = lineage.read_table(spark, out, "stream_triples").toPandas()
        raw = spark.read.parquet(out).toPandas()
        key = ["subj", "pred", "obj", "url", "sent_idx", "batch_id"]
        assert sorted(map(tuple, via_snap[key].itertuples(index=False))) == \
            sorted(map(tuple, raw[key].itertuples(index=False)))

        # time travel: the first committed snapshot covers only batch 0
        first = lineage.read_table(spark, out, "stream_triples",
                                   snapshot_id=0).toPandas()
        assert first.batch_id.nunique() == 1
        assert len(first) < len(got)

        # compaction: fewer files, identical content and checksums
        pre = {p["part_id"]: p["checksum"] for p in snap["manifest"]}
        stats = lineage.compact_table(spark, out, table="stream_triples")
        assert stats, "nothing compacted — corpus should leave >1 file/batch"
        for pid, (before, after) in stats.items():
            assert after < before
        post = lineage.read_table(spark, out, "stream_triples").toPandas()
        assert sorted(map(tuple, post[key].itertuples(index=False))) == \
            sorted(map(tuple, got[key].itertuples(index=False)))
        for pid, cks in pre.items():
            part = os.path.join(out, f"batch_id={pid}")
            _n, cks2 = lineage.table_checksum(spark.read.parquet(part))
            assert cks2 == cks
    finally:
        shutil.rmtree(d, ignore_errors=True)
        shutil.rmtree(ck, ignore_errors=True)


def test_stream_triples_replay_snapshot_converges(spark):
    """A checkpoint-wiped replay replaces each batch's snapshot entry —
    metadata converges with the data (no duplicate parts, empty batches
    skipped by readers)."""
    from char_ner_spark import lineage
    from char_ner_spark.fixtures import make_alias_table, make_pages

    alias = make_alias_table(60, seed=42)
    pdf = make_pages(30, seed=42, alias_df=alias)
    d = tempfile.mkdtemp()
    try:
        src = os.path.join(d, "pages")
        spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(src)
        out = os.path.join(d, "triples_out")
        ck1, ck2 = os.path.join(d, "ck1"), os.path.join(d, "ck2")
        first = ST.stream_triples(spark, src, alias, out, ck1).toPandas()
        second = ST.stream_triples(spark, src, alias, out, ck2).toPandas()
        key = ["subj", "pred", "obj", "url", "sent_idx", "batch_id"]
        assert sorted(map(tuple, first[key].itertuples(index=False))) == \
            sorted(map(tuple, second[key].itertuples(index=False)))
        snap = lineage.current_snapshot(out, table="stream_triples")
        pids = [p["part_id"] for p in snap["manifest"]]
        assert pids == sorted(set(pids))  # replaced, not duplicated
        via_snap = lineage.read_table(spark, out, "stream_triples").toPandas()
        assert len(via_snap) == len(spark.read.parquet(out).toPandas())
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_all_empty_replay_read_table_typed_empty(spark):
    """Every micro-batch replaying to empty leaves no data dirs; read_table
    must return the typed empty frame from the snapshot's recorded schema
    instead of failing parquet schema inference (round-4 review fix)."""
    import json as _json

    from char_ner_spark import lineage

    d = tempfile.mkdtemp()
    try:
        out = os.path.join(d, "triples_out")
        os.makedirs(out)
        # hand-commit a snapshot whose only part is rows=0 (the state an
        # empty replay leaves behind: manifest entry, no batch_id dir)
        schema = ("{\"type\":\"struct\",\"fields\":["
                  "{\"name\":\"subj\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}},"
                  "{\"name\":\"batch_id\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}}]}")
        lineage.write_snapshot(
            spark, out, n_parts=None, table="stream_triples",
            schema_json=schema,
            add_part={"part_id": 0, "rows": 0, "checksum": "0" * 16},
        )
        df = lineage.read_table(spark, out, "stream_triples")
        assert df.count() == 0
        assert [f.name for f in df.schema.fields] == ["subj", "batch_id"]
        # and compaction over the all-empty table is a clean no-op
        assert lineage.compact_table(spark, out, table="stream_triples") == {}
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_snapshot_retention_bounds_history(spark):
    """retain=1 expires older stream snapshots per commit while the current
    pointer stays resolvable — the O(K²) metadata bound applies to the
    streaming sink too."""
    from char_ner_spark import lineage
    from char_ner_spark.fixtures import make_alias_table, make_pages

    alias = make_alias_table(60, seed=42)
    pdf = make_pages(30, seed=42, alias_df=alias)
    d = tempfile.mkdtemp()
    try:
        src = os.path.join(d, "pages")
        out = os.path.join(d, "triples_out")
        spark.createDataFrame(pdf.iloc[:15]).coalesce(1).write.mode("overwrite").parquet(src)
        ST.stream_triples(spark, src, alias, out, os.path.join(d, "ck"),
                          retain=1)
        spark.createDataFrame(pdf.iloc[15:]).coalesce(1).write.mode("append").parquet(src)
        ST.stream_triples(spark, src, alias, out, os.path.join(d, "ck"),
                          retain=1)
        meta = os.path.join(out, "_snapshots", "stream_triples")
        snaps = [f for f in os.listdir(meta) if f.startswith("snapshot-")]
        assert len(snaps) == 1, snaps  # expired down to the current one
        cur = lineage.current_snapshot(out, table="stream_triples")
        assert cur is not None and len(cur["manifest"]) == 2
        assert lineage.read_table(spark, out, "stream_triples").count() > 0
    finally:
        shutil.rmtree(d, ignore_errors=True)
