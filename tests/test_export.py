"""N-Triples export: every emitted line must parse under a strict
N-Triples 1.1 grammar regex and round-trip back to the source rows."""

import re

import pandas as pd
import pytest

from char_ner_spark.fixtures import make_alias_table, make_pages

# strict-enough N-Triples statement grammar for this export's shapes:
# IRI subject/predicate + (IRI | language-tagged literal) object
_NT_LINE = re.compile(
    r'^<[^<>"\s{}|^`\\]+> <[^<>"\s{}|^`\\]+> '
    r'(<[^<>"\s{}|^`\\]+>|"(?:[^"\\\n\r]|\\.)*"@[a-zA-Z-]+) \.$'
)


def test_triples_export_roundtrip(spark):
    from char_ner_spark.export import triples_to_ntriples

    pdf = pd.DataFrame({
        "subj": [1, 2], "pred": ["works_for", "located_in"],
        "obj": [3, 4], "url": ["u1", "u2"], "sent_idx": [0, 1],
        "conf": [0.9, 0.8],
    })
    lines = sorted(
        r.line for r in triples_to_ntriples(spark.createDataFrame(pdf))
        .collect()
    )
    assert lines == [
        "<http://kg.local/entity/1> <http://kg.local/pred/works_for> "
        "<http://kg.local/entity/3> .",
        "<http://kg.local/entity/2> <http://kg.local/pred/located_in> "
        "<http://kg.local/entity/4> .",
    ]
    assert all(_NT_LINE.match(l) for l in lines)


def test_entity_labels_escaped(spark):
    from char_ner_spark.export import entities_to_ntriples

    pdf = pd.DataFrame({
        "entity_id": [1, 2, 3],
        "canonical_id": [1, 1, 3],
        "canonical_name": ['Quo "Vadis"', "Back\\slash\nCo", "Tab\tCo"],
        "lang": ["en", "de", "nl"],
    })
    lines = [r.line
             for r in entities_to_ntriples(spark.createDataFrame(pdf))
             .collect()]
    assert all(_NT_LINE.match(l) for l in lines), lines
    label_lines = [l for l in lines if "rdf-schema#label" in l]
    assert any('\\"Vadis\\"' in l for l in label_lines)
    assert any("Back\\\\slash\\nCo" in l for l in label_lines)
    assert any("Tab\\tCo" in l for l in label_lines)
    # exactly one sameAs: entity 2 -> canonical 1
    same = [l for l in lines if "owl#sameAs" in l]
    assert same == [
        "<http://kg.local/entity/2> <http://www.w3.org/2002/07/owl#sameAs> "
        "<http://kg.local/entity/1> ."
    ]


def test_export_pipeline_kg(spark, tmp_path):
    """Full pipeline output exports as valid N-Triples, one line per
    triple, re-readable from the text shards."""
    from char_ner_spark.export import (entities_to_ntriples,
                                       triples_to_ntriples, write_ntriples)
    from char_ner_spark.pipeline import entities_table, run_pipeline

    alias = make_alias_table(40, seed=17)
    pages = make_pages(20, seed=17, alias_df=alias)
    out = run_pipeline(spark, spark.createDataFrame(pages), alias)
    n_triples = out["triples"].count()
    if n_triples == 0:
        pytest.skip("fixture produced no triples")
    nt = triples_to_ntriples(out["triples"]).unionAll(
        entities_to_ntriples(entities_table(spark, alias, out["canon"])))
    path = str(tmp_path / "kg_nt")
    write_ntriples(nt, path)
    back = [r.value for r in spark.read.text(path).collect()]
    assert len(back) == nt.count()
    bad = [l for l in back if not _NT_LINE.match(l)]
    assert bad == [], bad[:3]
    assert sum("kg.local/pred/" in l for l in back) == n_triples


def test_ntriples_reader_roundtrip(spark, tmp_path):
    """write_ntriples → read_ntriples recovers exactly the distinct
    (subj, pred, obj) set; label/sameAs lines are skipped by the parse."""
    from char_ner_spark.export import (entities_to_ntriples, read_ntriples,
                                      triples_to_ntriples, write_ntriples)

    tr = pd.DataFrame({
        "subj": [1, 2, 2], "pred": ["works_for", "located_in", "located_in"],
        "obj": [3, 4, 4], "url": ["u1", "u2", "u3"], "sent_idx": [0, 0, 1],
        "conf": [0.9, 0.8, 0.7],
    })
    en = pd.DataFrame({
        "entity_id": [1, 2], "canonical_id": [1, 1],
        "canonical_name": ["Acme", "Acme Corp"], "lang": ["en", "en"],
    })
    path = str(tmp_path / "nt")
    write_ntriples(
        triples_to_ntriples(spark.createDataFrame(tr)).unionAll(
            entities_to_ntriples(spark.createDataFrame(en))), path)
    got = set(map(tuple, read_ntriples(spark, path).toPandas()
                  .itertuples(index=False)))
    want = set(map(tuple,
                   tr[["subj", "pred", "obj"]].drop_duplicates()
                   .itertuples(index=False)))
    assert got == want
