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


def test_windowed_page_counts_match_batch(spark, pages_dir):
    ck = tempfile.mkdtemp()
    try:
        stream = ST.stream_pages(spark, pages_dir)
        assert stream.isStreaming
        # complete mode: the fixture spans ~18 min < the 1h watermark, so in
        # append mode no window would close before the stream drains
        res = ST.run_stream_to_memory(
            spark, ST.windowed_page_counts(stream), "win_counts", ck,
            output_mode="complete",
        ).toPandas()
        # batch oracle: same aggregation without streaming
        from pyspark.sql import functions as F

        batch = (
            spark.read.parquet(pages_dir)
            .groupBy(F.window("warc_ts", "10 minutes").alias("win"), "lang")
            .agg(F.count(F.lit(1)).alias("n_pages"))
            .select(F.col("win.start").alias("win_start"), "lang", "n_pages")
            .toPandas()
        )
        got = {(r.win_start, r.lang): r.n_pages for r in res.itertuples()}
        want = {(r.win_start, r.lang): r.n_pages for r in batch.itertuples()}
        assert got == want and sum(got.values()) == 30
    finally:
        shutil.rmtree(ck, ignore_errors=True)


def test_streamed_mentions_match_batch(spark, pages_dir):
    from char_ner_spark.pipeline import tag_pages

    ck = tempfile.mkdtemp()
    try:
        stream = ST.stream_pages(spark, pages_dir)
        res = ST.run_stream_to_memory(
            spark, ST.streamed_mentions(stream), "stream_mentions", ck
        ).toPandas()
        batch = tag_pages(spark.read.parquet(pages_dir)).toPandas()
        cols = ["url", "sent_idx", "begin", "end", "surface", "ner_type"]
        assert set(map(tuple, res[cols].itertuples(index=False))) == set(
            map(tuple, batch[cols].itertuples(index=False))
        )
        assert len(res) > 0
    finally:
        shutil.rmtree(ck, ignore_errors=True)


def test_stream_exactly_once_on_restart(spark, pages_dir):
    """Re-running with the same checkpoint reprocesses nothing."""
    ck = tempfile.mkdtemp()
    out = tempfile.mkdtemp()
    sink = os.path.join(out, "mentions")

    def drain() -> int:
        q = (
            ST.streamed_mentions(ST.stream_pages(spark, pages_dir))
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(sink).count()

    try:
        first = drain()
        assert first > 0
        # restart with same checkpoint + no new input files → nothing re-emitted
        assert drain() == first
    finally:
        shutil.rmtree(ck, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)


def test_sessionize_stream_state_across_microbatches(spark):
    """applyInPandasWithState sessionizer: two time-ordered files stream as
    two micro-batches (maxFilesPerTrigger=1); per-user session totals must
    equal the batch gap-sessionization — i.e. state genuinely carries the
    last-event time across the batch boundary."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    rng = np.random.RandomState(7)
    rows = []
    t0 = 1_700_000_000
    for uid in range(6):
        t = t0 + uid
        for _ in range(40):
            t += int(rng.choice([60, 300, 2400], p=[0.6, 0.3, 0.1]))
            rows.append((uid, t))
    pdf = pd.DataFrame(rows, columns=["user_id", "ts_epoch"])
    pdf["ts"] = pd.to_datetime(pdf.ts_epoch, unit="s")
    cut = pdf.ts_epoch.quantile(0.5)
    d = tempfile.mkdtemp()
    ck = tempfile.mkdtemp()
    try:
        src = os.path.join(d, "events")
        sdf = spark.createDataFrame(pdf[["user_id", "ts"]])
        # two files, strictly time-split → micro-batch 2 is entirely later
        sdf.filter(pdf_cut_expr(cut)).coalesce(1).write.mode("overwrite").parquet(src)
        sdf.filter(~pdf_cut_expr(cut)).coalesce(1).write.mode("append").parquet(src)
        schema = spark.read.parquet(src).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        res = ST.run_stream_to_memory(
            spark, ST.sessionize_stream(stream, gap_s=1800), "sess_stream", ck
        ).toPandas()
        # ≥2 emissions per user proves multiple micro-batches ran
        assert res.groupby("user_id").size().min() >= 2
        got = res.sort_values("last_ts").groupby("user_id").n_sessions.last()
        batch = (
            spark.read.parquet(src)
            .select("user_id", F.unix_timestamp("ts").alias("e"))
            .toPandas()
            .sort_values(["user_id", "e"])
        )
        for uid, g in batch.groupby("user_id"):
            n = (g.e.diff().fillna(1e9) > 1800).sum()
            assert got[uid] == n, (uid, got[uid], n)
    finally:
        shutil.rmtree(d, ignore_errors=True)
        shutil.rmtree(ck, ignore_errors=True)


def pdf_cut_expr(cut):
    from pyspark.sql import functions as F

    return F.unix_timestamp("ts") <= int(cut)


def test_dedup_pages_stream_across_microbatches(spark, pages_dir):
    """withWatermark + dropDuplicates(url): re-streaming the same pages dir
    twice (two files of identical urls) yields each url once."""
    d = tempfile.mkdtemp()
    ck = tempfile.mkdtemp()
    try:
        src = os.path.join(d, "dup_pages")
        batch = spark.read.parquet(pages_dir)
        batch.coalesce(1).write.mode("overwrite").parquet(src)
        batch.coalesce(1).write.mode("append").parquet(src)
        schema = spark.read.parquet(src).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        res = ST.run_stream_to_memory(
            spark, ST.dedup_pages_stream(stream).select("url"), "dedup_stream", ck
        ).toPandas()
        n_urls = batch.select("url").distinct().count()
        assert len(res) == n_urls
        assert res.url.is_unique
    finally:
        shutil.rmtree(d, ignore_errors=True)
        shutil.rmtree(ck, ignore_errors=True)


def test_sessionize_stream_late_event_never_regresses_state(spark):
    """A cross-micro-batch LATE event (older than the state's last_ts) must
    not rewind the session clock: before the fix, last_ts regressed and the
    next on-time event within the true session faked a session split."""
    import pandas as pd

    d = tempfile.mkdtemp()
    ck = tempfile.mkdtemp()
    try:
        src = os.path.join(d, "events")
        t0 = 1_700_000_000
        # batch 1: two events 600s apart (one session, last_ts = t0+600)
        b1 = pd.DataFrame({"user_id": [1, 1], "ts_epoch": [t0, t0 + 600]})
        # batch 2: a LATE event (t0+100, inside the session) then an on-time
        # event at t0+1200 — still within gap of t0+600, so ONE session total
        b2 = pd.DataFrame({"user_id": [1, 1], "ts_epoch": [t0 + 100, t0 + 1200]})
        for i, b in enumerate((b1, b2)):
            b["ts"] = pd.to_datetime(b.ts_epoch, unit="s")
            spark.createDataFrame(b[["user_id", "ts"]]).coalesce(1).write.mode(
                "append" if i else "overwrite"
            ).parquet(src)
        schema = spark.read.parquet(src).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        res = ST.run_stream_to_memory(
            spark, ST.sessionize_stream(stream, gap_s=1800), "sess_late", ck
        ).toPandas()
        final = res.sort_values("last_ts").groupby("user_id").n_sessions.last()
        assert final[1] == 1          # regression bug produced 2
        # state clock is monotone: the late event never became last_ts
        assert res.last_ts.max() == t0 + 1200
    finally:
        shutil.rmtree(d, ignore_errors=True)
        shutil.rmtree(ck, ignore_errors=True)


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
#: of the batch's one-pass pipeline with its triples write, then the
#: read-back checksum. The page count rides the write as an observed
#: metric; a batch_df.count() for it issued 2 more (7)
STREAM_BATCH_JOBS = 5


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
        key = ["subj", "pred", "obj", "url", "sent_idx", "batch_id"]
        assert sorted(map(tuple, via_snap[key].itertuples(index=False))) == \
            sorted(map(tuple, got[key].itertuples(index=False)))

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
        assert len(via_snap) == len(second)
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
