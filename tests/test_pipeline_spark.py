"""End-to-end Spark pipeline vs oracle (SURVEY.md §5.2 E2E + resume layers)."""

import os
import shutil
import tempfile

import pytest

from char_ner_spark.fixtures import make_alias_table, make_pages
from char_ner_spark.linking import union_find_canonical
from char_ner_spark.oracle import run_oracle


@pytest.fixture(scope="module")
def corpus():
    alias = make_alias_table(80, seed=42)
    pages = make_pages(40, seed=42, alias_df=alias)
    return alias, pages


@pytest.fixture(scope="module")
def gold(corpus):
    alias, pages = corpus
    return run_oracle(pages, alias)


@pytest.fixture(scope="module")
def spark_out(spark, corpus):
    from char_ner_spark.pipeline import run_pipeline

    alias, pages_pdf = corpus
    pages = spark.createDataFrame(pages_pdf)
    out = run_pipeline(spark, pages, alias)
    return {
        "extracted": out["extracted"].toPandas(),
        "mentions": out["mentions"].toPandas(),
        "triples": out["triples"].toPandas(),
        "canon": out["canon"].toPandas(),
        "edges": out["edges"].toPandas(),
    }


def test_extract_text_byte_identical_per_url(spark_out, gold):
    got = dict(zip(spark_out["extracted"].url, spark_out["extracted"].sha256))
    want = dict(zip(gold["text_hashes"].url, gold["text_hashes"].sha256))
    assert got == want


def test_mentions_match_oracle(spark_out, gold):
    cols = ["url", "sent_idx", "begin", "end", "surface", "ner_type"]
    got = set(map(tuple, spark_out["mentions"][cols].itertuples(index=False)))
    want = set(map(tuple, gold["mentions"][cols].itertuples(index=False)))
    assert got == want


def test_triples_pr_at_least_095(spark_out, gold):
    key = ["subj", "pred", "obj", "url", "sent_idx"]
    sp = set(map(tuple, spark_out["triples"][key].itertuples(index=False)))
    go = set(map(tuple, gold["triples"][key].itertuples(index=False)))
    assert len(go) > 0
    tp = len(sp & go)
    assert tp / len(sp) >= 0.95  # precision
    assert tp / len(go) >= 0.95  # recall


def test_canonical_map_matches_union_find(spark_out, corpus):
    alias, _ = corpus
    want = union_find_canonical(alias)
    got = dict(zip(spark_out["canon"].entity_id, spark_out["canon"].canonical_id))
    assert got == want


def test_edges_graph_shape(spark_out):
    e = spark_out["edges"]
    assert set(e.columns) == {"src", "dst", "rel", "weight"}
    assert (e.weight > 0).all()


def test_link_paths_equivalent(spark, corpus):
    """Broadcast AliasIndex probe == distributed LSH join, surface for
    surface: the index link_pairs ships to its workers, probed with the
    JVM-normalized surfaces, picks best_links' winner for every surface."""
    from pyspark.sql import functions as F

    from char_ner_spark.linking import AliasIndex
    from char_ner_spark.pipeline import (
        _norm_col, alias_spark_tables, best_links, tag_pages,
    )

    alias, pages_pdf = corpus
    pages = spark.createDataFrame(pages_pdf)
    surfaces = tag_pages(pages).select("surface").distinct()
    at = alias_spark_tables(spark, alias)
    lsh = best_links(surfaces, at).toPandas()
    norms = [
        r.surface_norm
        for r in surfaces.select(_norm_col(F.col("surface")).alias("surface_norm"))
        .distinct()
        .collect()
    ]
    hits = AliasIndex(alias).link_batch(norms, already_norm=True)
    bcast = {sn: (h[0], round(h[1], 9)) for sn, h in zip(norms, hits) if h is not None}
    assert {
        r.surface_norm: (r.entity_id, round(r.link_score, 9)) for r in lsh.itertuples()
    } == bcast


def test_link_pairs_broadcast_budget_fallback_identical(spark, corpus):
    """A dictionary past broadcast_max_rows must fall back to the
    distributed LSH path with IDENTICAL links (the path-equality contract,
    now exercised through link_pairs' own switch)."""
    import pandas as pd

    from char_ner_spark.pipeline import (
        alias_spark_tables, link_pairs, tag_pages,
    )

    alias, pages_pdf = corpus
    pages = spark.createDataFrame(pages_pdf)
    mentions = tag_pages(pages).localCheckpoint()
    at = alias_spark_tables(spark, alias)
    cols = ["url", "sent_idx", "begin", "surface", "entity_id", "link_score"]
    bcast = link_pairs(mentions, at, alias_pdf=alias).select(*cols).toPandas()
    dist = link_pairs(
        mentions, at, alias_pdf=alias, broadcast_max_rows=0
    ).select(*cols).toPandas()
    key = lambda df: sorted(
        (r.url, r.sent_idx, r.begin, r.surface,
         None if pd.isna(r.entity_id) else int(r.entity_id),
         None if pd.isna(r.link_score) else round(float(r.link_score), 9))
        for r in df.itertuples()
    )
    assert key(bcast) == key(dist)


@pytest.mark.parametrize("case", ["seeded", "weights_map", "staged"])
def test_fused_pass_equals_staged(spark, corpus, case, monkeypatch):
    """run_pipeline's one-pass triples and mentions equal the staged
    composition extract_triples(link_pairs(tag_pages(...))) and tag_pages,
    every column bit for bit: with seeded weights, with a weights_map, and
    with a BROADCAST_MAX_ROWS that forces run_pipeline onto the staged
    plan."""
    from char_ner_spark import pipeline
    from char_ner_spark.pipeline import (build_dictionary_state,
                                         extract_triples, link_pairs,
                                         middles_table, run_pipeline,
                                         tag_pages)
    from char_ner_spark.relations import LANGS
    from char_ner_spark.tagger import load_weights, save_weights

    alias, pages_pdf = corpus
    pages = spark.createDataFrame(pages_pdf)
    wdir = tempfile.mkdtemp()
    try:
        weights_map = None
        if case == "weights_map":
            weights_map = {lang: load_weights(save_weights(lang, wdir))
                           for lang in LANGS}
        if case == "staged":
            monkeypatch.setattr(pipeline, "BROADCAST_MAX_ROWS", 0)
        out = run_pipeline(spark, pages, alias, weights_map=weights_map)
        assert ("triples" in out["passed"].columns) == (case != "staged")
        state = build_dictionary_state(spark, alias)
        mentions = tag_pages(pages, weights_map=weights_map)
        staged = extract_triples(
            link_pairs(mentions, {"bands": state["bands"]}, alias_pdf=alias),
            state["canon"], middles_table(spark))
        for got, want in ((out["triples"], staged),
                          (out["mentions"], mentions)):
            assert got.schema == want.schema
            rows = [sorted(map(tuple, df.toPandas().itertuples(index=False)))
                    for df in (got, want)]
            assert rows[0] == rows[1]
            assert len(rows[0]) > 0
        out["passed"].unpersist()
    finally:
        shutil.rmtree(wdir, ignore_errors=True)


@pytest.mark.xfail(strict=True, raises=AssertionError,
                   reason="the Spark paths pair a mention only with its "
                   "immediate successor; the oracle pairs adjacent LINKED "
                   "mentions, skipping an unlinked one between them")
def test_triples_skip_unlinked_middle_mention_like_oracle(spark):
    """'Acme acquired Foo Beta' with Acme and Beta linked and Foo not: the
    oracle emits (Acme, acquired, Beta) through the ' acquired <2> '
    template; extract_triples sees the pairs (Acme, Foo) and (Foo, Beta),
    each with an unlinked side, and emits nothing."""
    from char_ner_spark.pipeline import extract_triples, middles_table
    from char_ner_spark.relations import extract_sentence_triples
    from char_ner_spark.session import local_frame

    sent = "Acme acquired Foo Beta"
    want = extract_sentence_triples(
        sent, [(0, 4, 1, 1.0), (18, 22, 2, 1.0)], "en")
    assert want == [(1, "acquired", 2, 1.0)]
    pairs = local_frame(spark, [
        ("u", 0, 0, 0, 4, "Acme", "ORG", 0.9, "en", " acquired ", "Foo",
         1, 1.0, None, None),
        ("u", 0, 1, 14, 17, "Foo", "ORG", 0.9, "en", " ", "Beta",
         None, None, 2, 1.0),
        ("u", 0, 2, 18, 22, "Beta", "ORG", 0.9, "en", None, None,
         2, 1.0, None, None),
    ], "url string, sent_idx int, midx int, begin int, end int, "
       "surface string, ner_type string, score double, lang string, "
       "next_gap string, next_surface string, entity_id long, "
       "link_score double, next_entity long, next_score double")
    canon = local_frame(spark, [(1, 1), (2, 2)],
                        "entity_id long, canonical_id long")
    got = extract_triples(pairs, canon, middles_table(spark)).collect()
    assert [(r.subj, r.pred, r.obj, r.conf) for r in got] == want


def test_resume_skips_completed_and_output_identical(spark, corpus):
    from char_ner_spark import lineage

    alias, pages_pdf = corpus
    pages = spark.createDataFrame(pages_pdf)
    d1, d2 = tempfile.mkdtemp(), tempfile.mkdtemp()
    try:
        # uninterrupted run
        rows_full = lineage.run_partitioned(spark, pages, alias, d1, n_parts=3)
        assert [r["part_id"] for r in rows_full] == [0, 1, 2]
        # crash after 1 unit, then resume
        with pytest.raises(RuntimeError, match="injected"):
            lineage.run_partitioned(spark, pages, alias, d2, n_parts=3, fail_after=1)
        assert lineage.completed_parts(spark, d2, "triples") == {0}
        rows_resume = lineage.run_partitioned(spark, pages, alias, d2, n_parts=3)
        assert [r["part_id"] for r in rows_resume] == [1, 2]  # unit 0 skipped
        # identical output + checksums across crash/resume vs clean run
        t1 = lineage.read_triples(spark, d1).toPandas()
        t2 = lineage.read_triples(spark, d2).toPandas()
        key = ["subj", "pred", "obj", "url", "sent_idx", "part_id"]
        assert sorted(map(tuple, t1[key].itertuples(index=False))) == sorted(
            map(tuple, t2[key].itertuples(index=False))
        )
        m1 = {r.part_id: r.checksum for r in lineage.read_manifest(spark, d1).collect()}
        m2 = {r.part_id: r.checksum for r in lineage.read_manifest(spark, d2).collect()}
        assert m1 == m2
    finally:
        shutil.rmtree(d1, ignore_errors=True)
        shutil.rmtree(d2, ignore_errors=True)


def test_overlapped_units_identical_to_serial(spark, corpus):
    """max_inflight=3 (concurrent Spark jobs from driver threads) writes the
    same triples and per-unit checksums as the serial loop — overlap changes
    scheduling only, never payload (units are disjoint by pmod(xxhash64))."""
    from char_ner_spark import lineage

    alias, pages_pdf = corpus
    pages = spark.createDataFrame(pages_pdf)
    d1, d2 = tempfile.mkdtemp(), tempfile.mkdtemp()
    try:
        lineage.run_partitioned(spark, pages, alias, d1, n_parts=3, max_inflight=1)
        rows = lineage.run_partitioned(
            spark, pages, alias, d2, n_parts=3, max_inflight=3
        )
        assert sorted(r["part_id"] for r in rows) == [0, 1, 2]
        m1 = {r.part_id: r.checksum for r in lineage.read_manifest(spark, d1).collect()}
        m2 = {r.part_id: r.checksum for r in lineage.read_manifest(spark, d2).collect()}
        assert m1 == m2
        # snapshot metadata converged to the same completed set either way
        assert lineage.current_snapshot(d2)["completed"] == [0, 1, 2]
        t1 = lineage.read_triples(spark, d1).toPandas()
        t2 = lineage.read_triples(spark, d2).toPandas()
        key = ["subj", "pred", "obj", "url", "sent_idx", "part_id"]
        assert sorted(map(tuple, t1[key].itertuples(index=False))) == sorted(
            map(tuple, t2[key].itertuples(index=False))
        )
    finally:
        shutil.rmtree(d1, ignore_errors=True)
        shutil.rmtree(d2, ignore_errors=True)


def test_connected_components_long_chain_converges(spark):
    """A diameter-60 chain: plain min-label propagation needs 60 rounds, the
    pointer-jumping step makes it converge well under max_iter (round-1
    verdict: >25-diameter graphs silently returned wrong labels)."""
    from char_ner_spark.graph import connected_components

    n = 61
    verts = spark.createDataFrame([(i,) for i in range(n)], "id long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    got = {
        r.entity_id: r.canonical_id
        for r in connected_components(verts, edges, max_iter=12).collect()
    }
    assert got == {i: 0 for i in range(n)}


def test_connected_components_raises_on_exhaustion(spark):
    from char_ner_spark.graph import connected_components

    n = 40
    verts = spark.createDataFrame([(i,) for i in range(n)], "id long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(verts, edges, max_iter=2)


def test_union_find_matches_connected_components(spark):
    """The driver union-find canonicalization equals the Spark CC on an
    alias graph with a 30-member shared alias and a 60-link alias chain
    whose minimum entity id sits at the chain's far end."""
    import pandas as pd

    from char_ner_spark.graph import connected_components
    from char_ner_spark.textops import normalize_surface

    rows = [(eid, "Shared Name") for eid in range(100, 130)]
    for i in range(60):
        rows += [(300 - i, f"Link {i}"), (299 - i, f"Link {i}")]
    rows.append((50, "Lone Entity"))
    alias = pd.DataFrame(rows, columns=["entity_id", "alias"])

    groups: dict[str, list[int]] = {}
    for eid, name in rows:
        groups.setdefault(normalize_surface(name), []).append(eid)
    edges = [(g[j], g[j + 1]) for g in groups.values()
             for j in range(len(g) - 1)]
    got = {
        r.entity_id: r.canonical_id
        for r in connected_components(
            spark.createDataFrame(
                [(e,) for e in sorted(set(alias.entity_id))], "id long"),
            spark.createDataFrame(edges, "src long, dst long"),
        ).collect()
    }
    want = union_find_canonical(alias)
    assert got == want
    assert set(want.values()) == {50, 100, 240}


def test_snapshot_pointer_and_time_travel(spark, corpus):
    from char_ner_spark import lineage

    alias, pages_pdf = corpus
    pages = spark.createDataFrame(pages_pdf)
    d = tempfile.mkdtemp()
    try:
        with pytest.raises(RuntimeError, match="injected"):
            lineage.run_partitioned(spark, pages, alias, d, n_parts=3, fail_after=1)
        snap0 = lineage.current_snapshot(d)
        assert snap0["completed"] == [0]
        assert snap0["schema_fingerprint"] and snap0["schema_json"]
        lineage.run_partitioned(spark, pages, alias, d, n_parts=3)
        snap = lineage.current_snapshot(d)
        assert snap["completed"] == [0, 1, 2]
        assert snap["parent_id"] == snap["snapshot_id"] - 1
        assert [p["checksum"] for p in snap["manifest"]]
        # read via the current pointer == full glob read
        via_snap = lineage.read_triples(spark, d).count()
        assert via_snap == spark.read.parquet(os.path.join(d, "triples")).count()
        # time travel: pin the first snapshot → only part 0's rows
        old = lineage.read_triples(spark, d, snapshot_id=snap0["snapshot_id"])
        assert set(r.part_id for r in old.select("part_id").distinct().collect()) == {0}
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_pipeline_from_saved_weights_bitwise_equal(spark, corpus):
    """--weights-dir path: inference from .npz parameter files equals the
    seeded run bitwise (S3-load parity, ref:src/exper.py save/load)."""
    from char_ner_spark.pipeline import run_pipeline
    from char_ner_spark.relations import LANGS
    from char_ner_spark.tagger import load_weights, save_weights

    alias, pages_pdf = corpus
    pages = spark.createDataFrame(pages_pdf)
    wdir = tempfile.mkdtemp()
    try:
        weights_map = {
            lang: load_weights(save_weights(lang, wdir)) for lang in LANGS
        }
        got = run_pipeline(spark, pages, alias, weights_map=weights_map)[
            "triples"
        ].toPandas()
        want = run_pipeline(spark, pages, alias)["triples"].toPandas()
        key = ["subj", "pred", "obj", "url", "sent_idx", "conf"]
        assert sorted(map(tuple, got[key].itertuples(index=False))) == sorted(
            map(tuple, want[key].itertuples(index=False))
        )
    finally:
        shutil.rmtree(wdir, ignore_errors=True)


def test_salted_repartition_defuses_domain_skew(spark):
    """north_rule: 'salted repartitioning to defuse host/domain skew'.
    A corpus where 90% of urls share one domain and one lang must still
    spread near-uniformly across partitions (url-hash salt is unbounded,
    so hot domains cannot concentrate)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from char_ner_spark.pipeline import _salted_repartition

    rows = []
    for i in range(4000):
        dom = "hot.example.org" if i % 10 else f"cold{i}.example.net"
        rows.append((f"https://{dom}/p/{i}", f"text {i}", "de" if i % 10 else "en"))
    pdf = pd.DataFrame(rows, columns=["url", "text", "lang"])
    df = _salted_repartition(spark.createDataFrame(pdf), salt=16)
    sizes = (
        df.groupBy(F.spark_partition_id().alias("pid")).count().toPandas()["count"]
    )
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert len(sizes) == n_part  # every partition non-empty
    assert sizes.max() / sizes.mean() < 1.5, sizes.describe()


def test_weights_map_missing_lang_raises(spark, corpus):
    """A weights_map that does not cover a corpus lang must fail loudly,
    never silently tag those pages with seeded (untrained) parameters."""
    from char_ner_spark.pipeline import run_pipeline
    from char_ner_spark.tagger import model_weights

    alias, pages_pdf = corpus
    langs = sorted(pages_pdf.lang.unique())
    assert len(langs) >= 2, langs  # fixture must be multilingual for this test
    partial = {langs[0]: model_weights(langs[0])}
    pages = spark.createDataFrame(pages_pdf)
    with pytest.raises(Exception, match="weights_map has no entry for lang"):
        run_pipeline(spark, pages, alias, weights_map=partial)["triples"].count()


def test_snapshot_pointer_healed_on_resume(spark, corpus):
    """The current snapshot is the commit record: a pointer left behind
    (a crash before later units' snapshots landed) means those units are
    not committed, so the next run_partitioned re-commits them and
    read_triples converges to the full table, part for part."""
    from char_ner_spark import lineage

    alias, pages_pdf = corpus
    pages = spark.createDataFrame(pages_pdf)
    d = tempfile.mkdtemp()
    try:
        lineage.run_partitioned(spark, pages, alias, d, n_parts=3)
        full = lineage.read_triples(spark, d).count()
        snap = lineage.current_snapshot(d)
        assert sorted(snap["completed"]) == [0, 1, 2]
        sums = {p["part_id"]: p["checksum"] for p in snap["manifest"]}
        # simulate the stale-pointer crash window: rewind to snapshot 0
        with open(os.path.join(d, "metadata", "current"), "w") as f:
            f.write("0")
        stale = lineage.current_snapshot(d)
        assert len(stale["completed"]) < 3  # pointer now behind the units
        assert lineage.read_triples(spark, d).count() < full
        # the units the rewound snapshot lacks run again
        rows = lineage.run_partitioned(spark, pages, alias, d, n_parts=3)
        assert sorted(r["part_id"] for r in rows) == sorted(
            set(range(3)) - set(stale["completed"]))
        healed = lineage.current_snapshot(d)
        assert sorted(healed["completed"]) == [0, 1, 2]
        assert lineage.read_triples(spark, d).count() == full
        assert {p["part_id"]: p["checksum"]
                for p in healed["manifest"]} == sums
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_multi_sink_snapshots_and_retention(spark, corpus):
    """Round-3 generalization: entities/edges/mentions sinks get the same
    snapshot/lineage treatment as triples (metadata/<table>/ pointers),
    re-running is a no-op, and `retain` bounds snapshot history (the
    O(K²)-metadata fix) while keeping the current pointer readable."""
    from pyspark.sql import functions as F

    from char_ner_spark import lineage
    from char_ner_spark.pipeline import edges_from_triples

    alias, pages_pdf = corpus
    pages = spark.createDataFrame(pages_pdf)
    d = tempfile.mkdtemp()
    sinks = ("triples", "edges", "mentions", "entities")
    try:
        rows = lineage.run_partitioned(
            spark, pages, alias, d, n_parts=3, sinks=sinks, retain=2
        )
        assert {r["stage"] for r in rows} == set(sinks)
        # every sink resolves through its own snapshot pointer
        tri = lineage.read_table(spark, d, "triples")
        edg = lineage.read_table(spark, d, "edges")
        men = lineage.read_table(spark, d, "mentions")
        ent = lineage.read_table(spark, d, "entities")
        for table in sinks:
            snap = lineage.current_snapshot(d, table=table)
            assert snap is not None and snap["table"] == table
            assert [p["checksum"] for p in snap["manifest"]]
        assert lineage.current_snapshot(d, table="entities")["completed"] == [0]
        assert ent.count() == alias["entity_id"].nunique()
        assert men.count() > 0
        assert set(r.part_id for r in men.select("part_id").distinct().collect()) \
            == {0, 1, 2}
        # per-unit edges re-aggregate to the global graph over all triples
        # (read_edges is the documented total-weight surface; edges/ holds
        # per-unit partials)
        got = {
            (r.src, r.dst, r.rel): round(r.weight, 6)
            for r in lineage.read_edges(spark, d).collect()
        }
        want = {
            (r.src, r.dst, r.rel): round(r.weight, 6)
            for r in edges_from_triples(tri).collect()
        }
        assert got == want
        # everything committed -> a re-run is a pure no-op across all sinks
        assert lineage.run_partitioned(
            spark, pages, alias, d, n_parts=3, sinks=sinks, retain=2
        ) == []
        # retention: triples saw 3 unit commits but keeps only the newest 2
        # snapshot files; the current pointer still resolves, expired ids
        # fail loudly (None), never silently re-read
        meta = os.path.join(d, "metadata")
        ids = sorted(
            int(f[len("snapshot-"):-len(".json")])
            for f in os.listdir(meta) if f.startswith("snapshot-")
        )
        assert len(ids) <= 2, ids
        cur = lineage.current_snapshot(d)
        assert cur is not None and sorted(cur["completed"]) == [0, 1, 2]
        expired_id = 0
        assert expired_id not in ids
        assert lineage.current_snapshot(d, snapshot_id=expired_id) is None
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_resume_with_different_n_parts_fails_loud(spark, corpus):
    """part_id = pmod(xxhash64(url), K): resuming under a different K would
    silently remap every url's unit — must raise, never guess."""
    from char_ner_spark import lineage

    alias, pages_pdf = corpus
    pages = spark.createDataFrame(pages_pdf)
    d = tempfile.mkdtemp()
    try:
        lineage.run_partitioned(spark, pages, alias, d, n_parts=2)
        with pytest.raises(ValueError, match="n_parts=2"):
            lineage.run_partitioned(spark, pages, alias, d, n_parts=3)
        # same K resumes fine (no-op)
        assert lineage.run_partitioned(spark, pages, alias, d, n_parts=2) == []
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_resume_n_parts_guard_covers_non_triples_sinks(spark, corpus):
    """An out_dir written with sinks=("edges",) has no triples snapshot —
    the unit-count guard must still fire off the edges metadata instead of
    silently remapping the url→unit assignment (ADVICE r3)."""
    from char_ner_spark import lineage

    alias, pages_pdf = corpus
    pages = spark.createDataFrame(pages_pdf)
    d = tempfile.mkdtemp()
    try:
        lineage.run_partitioned(spark, pages, alias, d, n_parts=2,
                                sinks=("edges",))
        assert lineage.snapshot_tables(d) == ["edges"]
        with pytest.raises(ValueError, match="edges.*n_parts=2"):
            lineage.run_partitioned(spark, pages, alias, d, n_parts=3,
                                    sinks=("edges",))
        # even a different sink selection must respect the committed layout
        with pytest.raises(ValueError, match="edges.*n_parts=2"):
            lineage.run_partitioned(spark, pages, alias, d, n_parts=3)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_expire_snapshots_never_drops_pointer_target():
    """Pure-filesystem edge: even when the `current` pointer targets a
    snapshot OLDER than the keep-last window (e.g. after a rewind), expiry
    must retain that file — a resolvable pointer is the invariant."""
    import json

    from char_ner_spark import lineage

    d = tempfile.mkdtemp()
    try:
        meta = os.path.join(d, "metadata")
        os.makedirs(meta)
        for i in range(5):
            with open(os.path.join(meta, f"snapshot-{i}.json"), "w") as f:
                json.dump({"snapshot_id": i, "completed": []}, f)
        with open(os.path.join(meta, "current"), "w") as f:
            f.write("1")  # pointer rewound below the keep window
        expired = lineage.expire_snapshots(d, keep_last=2)
        assert expired == [0, 2]  # keeps 3,4 (newest 2) AND 1 (pointer)
        assert lineage.current_snapshot(d)["snapshot_id"] == 1
        assert lineage.current_snapshot(d, snapshot_id=4) is not None
        assert lineage.current_snapshot(d, snapshot_id=0) is None
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_compact_table_preserves_content_and_heals(spark, corpus):
    """Compaction rewrites each part's shuffle-task files as one file with
    byte-identical content: manifest checksums stay valid, reads are
    unchanged, a second call is a no-op, and the crash window (part
    removed, verified tmp present) heals on the next call."""
    from char_ner_spark import lineage

    alias, pages_pdf = corpus
    pages = spark.createDataFrame(pages_pdf)
    d = tempfile.mkdtemp()
    try:
        lineage.run_partitioned(spark, pages, alias, d, n_parts=2)
        before_rows = sorted(
            map(tuple, lineage.read_triples(spark, d).toPandas()[
                ["subj", "pred", "obj", "url", "sent_idx", "part_id"]
            ].itertuples(index=False))
        )
        manifest = {
            r.part_id: r.checksum
            for r in lineage.read_manifest(spark, d).collect()
        }
        # AQE coalesces the tiny test corpus to single-file parts — fragment
        # them the way a K~10k-unit production run does (shuffle_partitions
        # files per part) so compaction has real work
        for pid in (0, 1):
            part = os.path.join(d, "triples", f"part_id={pid}")
            pdf = spark.read.parquet(part)
            pdf.repartition(4).write.mode("overwrite").parquet(part + ".frag")
            shutil.rmtree(part)
            os.rename(part + ".frag", part)
            files = [f for f in os.listdir(part) if f.endswith(".parquet")]
            assert len(files) > 1, files
        stats = lineage.compact_table(spark, d)
        assert stats, "expected multi-file parts to compact"
        for pid, (n_before, n_after) in stats.items():
            assert n_before > 1 and n_after == 1, (pid, n_before, n_after)
        for pid in (0, 1):
            part = os.path.join(d, "triples", f"part_id={pid}")
            files = [f for f in os.listdir(part) if f.endswith(".parquet")]
            assert len(files) == 1
            n, checksum = lineage.table_checksum(spark.read.parquet(part))
            assert checksum == manifest[pid]          # content invariant
        after_rows = sorted(
            map(tuple, lineage.read_triples(spark, d).toPandas()[
                ["subj", "pred", "obj", "url", "sent_idx", "part_id"]
            ].itertuples(index=False))
        )
        assert after_rows == before_rows
        assert lineage.compact_table(spark, d) == {}  # idempotent no-op
        # crash window: swap interrupted after remove — verified tmp only
        # (tmp lives under _compact_tmp/ since round 4: an underscore dir
        # keeps crash orphans out of partition globs)
        part0 = os.path.join(d, "triples", "part_id=0")
        tmp0 = os.path.join(d, "triples", "_compact_tmp", "part_id=0")
        os.makedirs(os.path.dirname(tmp0), exist_ok=True)
        os.rename(part0, tmp0)
        lineage.compact_table(spark, d)
        assert os.path.isdir(part0) and not os.path.isdir(tmp0)
        assert lineage.read_triples(spark, d).count() == len(before_rows)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_resume_added_sink_skips_committed_siblings(spark, corpus):
    """Adding a sink to an existing output commits only the new sink
    (edges derive from each unit's committed triples part) and must NOT
    re-commit the sibling sinks that are already manifested — no
    duplicate manifest rows, no extra snapshots for the completed
    table."""
    from char_ner_spark import lineage

    alias, pages_pdf = corpus
    pages = spark.createDataFrame(pages_pdf)
    d = tempfile.mkdtemp()
    try:
        lineage.run_partitioned(spark, pages, alias, d, n_parts=2)
        snap_before = lineage.current_snapshot(d)["snapshot_id"]
        rows = lineage.run_partitioned(
            spark, pages, alias, d, n_parts=2, sinks=("triples", "edges")
        )
        assert {r["stage"] for r in rows} == {"edges"}  # only the new sink
        m = lineage.read_manifest(spark, d).toPandas()
        tri_rows = m[m.stage == "triples"]
        assert len(tri_rows) == 2 and sorted(tri_rows.part_id) == [0, 1]
        assert len(m[m.stage == "edges"]) == 2
        # triples snapshot untouched by the second run
        assert lineage.current_snapshot(d)["snapshot_id"] == snap_before
        assert lineage.read_edges(spark, d).count() > 0
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_snapshots_are_immutable_after_pointer_rewind(spark, corpus):
    """write_snapshot allocates ids past every EXISTING file: after a crash
    leaves an orphan snapshot-N.json with the pointer at N-1, the next
    commit must create snapshot-(N+1), never rewrite snapshot-N (readers
    may pin N for time travel)."""
    import json

    from char_ner_spark import lineage

    alias, pages_pdf = corpus
    pages = spark.createDataFrame(pages_pdf)
    d = tempfile.mkdtemp()
    try:
        lineage.run_partitioned(spark, pages, alias, d, n_parts=2)
        meta = os.path.join(d, "metadata")
        ids = sorted(
            int(f[len("snapshot-"):-len(".json")])
            for f in os.listdir(meta) if f.startswith("snapshot-")
        )
        top = ids[-1]
        orphan_path = os.path.join(meta, f"snapshot-{top}.json")
        orphan_bytes = open(orphan_path, "rb").read()
        # crash window: snapshot-top exists but pointer rewound to top-1
        with open(os.path.join(meta, "current"), "w") as f:
            f.write(str(top - 1))
        n = lineage.write_snapshot(spark, d, n_parts=2)
        assert n == top + 1                      # appended, not reused
        assert open(orphan_path, "rb").read() == orphan_bytes  # untouched
        assert json.load(open(os.path.join(meta, f"snapshot-{n}.json")))[
            "parent_id"
        ] == top - 1                             # parent = committed pointer
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_resume_pre_round3_checksum_epoch_fails_loud(spark, corpus):
    """A snapshot without checksum_ver (pre-round-3 recipe) is not
    checksum-comparable to the current manifest recipe — resume must raise
    a clear error instead of trusting incomparable digests (round-4,
    verdict item 5); fresh outputs carry the tag and resume fine."""
    import json

    from char_ner_spark import lineage

    alias, pages_pdf = corpus
    pages = spark.createDataFrame(pages_pdf)
    d = tempfile.mkdtemp()
    try:
        lineage.run_partitioned(spark, pages, alias, d, n_parts=2)
        snap = lineage.current_snapshot(d)
        assert snap["checksum_ver"] == lineage.CHECKSUM_VER
        # same-epoch resume is a no-op
        assert lineage.run_partitioned(spark, pages, alias, d, n_parts=2) == []
        # simulate a pre-round-3 snapshot: strip the tag from the current
        meta = os.path.join(d, "metadata")
        cur = int(open(os.path.join(meta, "current")).read())
        path = os.path.join(meta, f"snapshot-{cur}.json")
        s = json.load(open(path))
        del s["checksum_ver"]
        json.dump(s, open(path, "w"))
        with pytest.raises(ValueError, match="checksum recipe"):
            lineage.run_partitioned(spark, pages, alias, d, n_parts=2)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_compact_raises_on_missing_nonempty_part(spark, corpus):
    """A part the snapshot records as non-empty but whose directory is gone
    is data loss — compact_table must raise, not report a clean pass
    (round-4 review fix)."""
    from char_ner_spark import lineage

    alias, pages_pdf = corpus
    pages = spark.createDataFrame(pages_pdf)
    d = tempfile.mkdtemp()
    try:
        lineage.run_partitioned(spark, pages, alias, d, n_parts=2)
        snap = lineage.current_snapshot(d)
        victim = next(p["part_id"] for p in snap["manifest"] if p["rows"] > 0)
        shutil.rmtree(os.path.join(d, "triples", f"part_id={victim}"))
        with pytest.raises(FileNotFoundError, match="data loss"):
            lineage.compact_table(spark, d)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_pipeline_output_invariant_across_parallelism(spark, corpus, gold):
    """The north rule's implicit determinism contract: the SAME corpus must
    yield the IDENTICAL triple set (values, confidences, counts) whatever
    the parallelism knobs — salt (pre-tagger repartition width, hence
    Arrow batch composition) and shuffle partitions. Per-row fp32 ops with
    no cross-row reductions are what make this hold; this pins it."""
    from char_ner_spark.pipeline import run_pipeline

    alias, pages_pdf = corpus
    pages = spark.createDataFrame(pages_pdf)
    key = ["subj", "pred", "obj", "url", "sent_idx", "conf"]

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    outs = []
    try:
        for salt, parts in ((2, "3"), (32, "17")):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            t = run_pipeline(spark, pages, alias, salt=salt)["triples"].toPandas()
            outs.append(sorted(map(tuple, t[key].itertuples(index=False))))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert outs[0] == outs[1]
    # and both equal the single-process oracle bit-for-bit on conf too
    want = sorted(
        map(tuple, gold["triples"][key].itertuples(index=False))
    )
    assert outs[0] == want


def test_aqe_skew_join_splits_hot_key(spark):
    """The session profile claims AQE defuses skewed joins (the link-score
    join's hot-surface hazard). Runtime proof, not a config assertion: a
    join with 90% of rows on one key, thresholds scaled to the corpus,
    must execute as SortMergeJoin(skew=true) with a skewed AQEShuffleRead
    — the hot partition actually split."""
    from pyspark.sql import functions as F

    keys = ["spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes"]
    prev = {k: spark.conf.get(k, None) for k in keys}
    try:
        spark.conf.set(keys[0], "-1")      # force a shuffle join
        spark.conf.set(keys[1], "2")       # thresholds sized to the test
        spark.conf.set(keys[2], "64KB")    # corpus, same mechanism as the
        spark.conf.set(keys[3], "64KB")    # production defaults at TB scale
        left = spark.range(0, 300000).select(
            F.when(F.col("id") % 10 < 9, F.lit(0))
             .otherwise(F.col("id") % 1000).alias("k"),
            F.concat(F.lit("x" * 100), F.col("id").cast("string"))
             .alias("payload"),
        )
        right = spark.range(0, 1000).select(
            F.col("id").alias("k"), F.col("id").alias("v"))
        j = left.join(right, "k")
        # drive THIS DataFrame's own query execution: a count()/write wraps
        # the plan in a fresh execution and the adaptive final plan would
        # not materialize on j
        rows = j._jdf.queryExecution().executedPlan().executeCollect()
        assert len(rows) == 300000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:1500]
        assert "skewed" in plan, plan[:1500]  # AQEShuffleRead split the key
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
