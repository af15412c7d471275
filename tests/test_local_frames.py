"""Frames built on the driver plan as a ``LocalTableScan``: the template
table, the removal remap and every typed empty frame. ``createDataFrame``
over a Python list (or an empty pandas frame) makes a pickled Python RDD
(``Scan ExistingRDD``) instead, and each scan of it starts Python
workers."""

import pandas as pd

from char_ner_spark import lineage, relations
from char_ner_spark.session import local_frame

COLS = ["entity_id", "canonical_name", "alias", "lang", "prior", "ner_type"]


def _assert_local(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan, plan
    assert "ExistingRDD" not in plan, plan


def _dict(rows):
    return pd.DataFrame(
        [(e, f"E{e}", a, "en", 0.5, "ORG") for e, a in rows], columns=COLS)


def test_local_frame_rows_and_types(spark):
    ddl = "a long, b string, c int, d boolean, e double"
    rows = [(1, "x", 2, True, 0.5), (3, None, 4, False, None)]
    for data in (rows, pd.DataFrame(rows, columns=list("abcde"))):
        df = local_frame(spark, data, ddl)
        _assert_local(df)
        assert df.schema.simpleString() == \
            "struct<a:bigint,b:string,c:int,d:boolean,e:double>"
        assert [tuple(r) for r in df.collect()] == rows
    empty = local_frame(spark, [], ddl)
    _assert_local(empty)
    assert empty.schema == df.schema and empty.count() == 0


def test_middles_table_is_local(spark):
    from char_ner_spark.pipeline import middles_table

    m = middles_table(spark)
    _assert_local(m)
    assert m.schema.simpleString() == (
        "struct<lang:string,pre:string,post:string,f:int,pred:string,"
        "subj_left:boolean>")
    want = {(lang, " ".join(pre), " ".join(post), f, pred, subj_left)
            for lang, specs in relations.TEMPLATES.items()
            for pre, gmax, post, pred, subj_left in specs
            for f in range(gmax + 1)}
    assert {tuple(r) for r in m.collect()} == want


def test_removal_remap_is_local(spark):
    from char_ner_spark.pipeline import build_dictionary_state
    from char_ner_spark.removal import remove_aliases

    d = _dict([(1, "a"), (2, "a"), (2, "c"), (3, "c")])
    state = build_dictionary_state(spark, d)
    for removed, want in (([(2, "c")], {(1, 3)}), ([(5, "z")], set())):
        _, remap, _ = remove_aliases(spark, state, d, _dict(removed))
        _assert_local(remap)
        assert {tuple(r) for r in remap.collect()} == want


def test_empty_remaps_are_local(spark):
    from char_ner_spark.incremental import incremental_canon
    from char_ner_spark.pipeline import build_dictionary_state

    d = _dict([(1, "a"), (2, "a")])
    canon = build_dictionary_state(spark, d)["canon"]
    # an empty delta, and a delta that merges nothing
    for delta in (d.iloc[:0], _dict([(7, "q")])):
        _, remap = incremental_canon(spark, canon, d, delta)
        _assert_local(remap)
        assert remap.count() == 0


def test_read_table_all_empty_fallback_is_local(spark, tmp_path):
    d = str(tmp_path)
    schema = local_frame(spark, [], "subj long, batch_id int").schema
    lineage.write_snapshot(
        spark, d, n_parts=None, table="stream_triples",
        schema_json=schema.json(),
        add_part={"part_id": 0, "rows": 0, "checksum": "0" * 16})
    df = lineage.read_table(spark, d, "stream_triples")
    _assert_local(df)
    assert df.schema == schema and df.count() == 0


def test_stream_without_batches_returns_local_empty_frame(spark, tmp_path):
    from char_ner_spark.fixtures import make_alias_table, make_pages
    from char_ner_spark.streaming import stream_triples

    alias = make_alias_table(20, seed=5)
    src = str(tmp_path / "pages")
    # the schema the stream reads with comes from one file; the empty
    # filter leaves the stream a source with no rows
    spark.createDataFrame(make_pages(2, seed=5, alias_df=alias)).limit(0) \
        .write.parquet(src)
    got = stream_triples(spark, src, alias, str(tmp_path / "out"),
                         str(tmp_path / "ck"))
    _assert_local(got)
    assert got.count() == 0
    assert [f.name for f in got.schema.fields] == [
        "subj", "pred", "obj", "url", "sent_idx", "conf", "batch_id"]


def test_empty_pagerank_is_local(spark):
    from char_ner_spark.graph import pagerank

    edges = local_frame(spark, [], "src long, dst long, rel string, "
                                   "weight double")
    for kw in ({}, {"distributed_threshold": -1}):
        ranks = pagerank(edges, **kw)
        _assert_local(ranks)
        assert ranks.count() == 0


def test_canon_and_entities_are_local(spark):
    """The canonical map and the entities dimension are driver-side
    frames; the dimension's left merge with the map plans no join."""
    from char_ner_spark.pipeline import (ENTITIES_DDL, build_dictionary_state,
                                         canon_frame, entities_table)

    d = _dict([(1, "a"), (2, "a"), (3, "c")])
    canon = build_dictionary_state(spark, d)["canon"]
    _assert_local(canon)
    ents = entities_table(spark, d, canon_frame(spark, {1: 1, 2: 1}))
    _assert_local(ents)
    assert "Join" not in ents._jdf.queryExecution().executedPlan().toString()
    assert ents.schema == local_frame(spark, [], ENTITIES_DDL).schema
    want = [(1, 1, "E1", "en"), (2, 1, "E2", "en"), (3, None, "E3", "en")]
    assert sorted(tuple(r) for r in ents.collect()) == want
    # the same dimension from the driver dict a dictionary state carries
    ents = entities_table(spark, d, {1: 1, 2: 1})
    _assert_local(ents)
    assert sorted(tuple(r) for r in ents.collect()) == want
