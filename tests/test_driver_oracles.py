"""Parity tests for the driver contract: every ``queries()`` entry run on
Spark equals its ``oracle_sql()`` run on DuckDB, and so does the media
byte-stat check that stays outside the registry. These mirror the driver's
compare (sorted columns, order-insensitive rows) so a change to either side
fails here before it fails the round gate."""

import duckdb
import pandas as pd
import pytest

from __spark_entry__ import oracle_sql, queries

#: registry entries checked by a named test below; the parametrized test
#: covers every other entry, so a new entry is checked without an edit here
_NAMED = {"conll_reader_fixture", "kg_mentions_fixture"}


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    yield con
    con.close()


@pytest.fixture(scope="module")
def oracles():
    return oracle_sql()


def _assert_entry_matches_oracle(name, spark, sf_dir, duck, oracles):
    sdf = queries()[name](spark, sf_dir).toPandas()
    odf = duck.sql(oracles[name]).df()
    a, b = _canon(sdf), _canon(odf)
    assert len(a) == len(b) > 0
    pd.testing.assert_frame_equal(a, b)


def test_registry_fully_oracled(oracles):
    assert set(queries()) == set(oracles)
    assert _NAMED <= set(queries())


@pytest.mark.parametrize("name", sorted(set(queries()) - _NAMED))
def test_entry_matches_oracle(name, spark, sf_dir, duck, oracles):
    _assert_entry_matches_oracle(name, spark, sf_dir, duck, oracles)


def test_conll_oracle_reparses_identically(spark, sf_dir, duck, oracles):
    _assert_entry_matches_oracle("conll_reader_fixture", spark, sf_dir, duck, oracles)


def test_kg_gold_staged_oracle_matches_spark(spark, sf_dir, duck, oracles):
    """The staged single-process golden run (kg gold parquet) must equal the
    distributed tagger query bit-for-bit — the driver-side evidence for the
    flagship KG path."""
    _assert_entry_matches_oracle("kg_mentions_fixture", spark, sf_dir, duck, oracles)


def test_media_oracle_matches_byte_stats(spark, sf_dir, duck):
    from char_ner_spark.driver_queries import _fn_media_features, _media_duck_sql

    sdf = _fn_media_features(spark, sf_dir).toPandas()
    odf = duck.sql(_media_duck_sql()).df()
    a, b = _canon(sdf), _canon(odf)
    assert len(a) == len(b) == 96
    pd.testing.assert_frame_equal(a, b)
    # payload_hex equality proves binary columns cross Arrow byte-identically
    assert sdf.payload_hex.str.len().ge(128).all()


def test_media_fixture_parquet_is_stable(tmp_path):
    """Re-generating the staged fixture yields byte-identical content (the
    oracle depends on the staged file being deterministic)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from char_ner_spark.multimodal import make_media_fixture

    a = make_media_fixture(96, seed=42)
    b = make_media_fixture(96, seed=42)
    ta = pa.Table.from_pandas(a, preserve_index=False)
    tb = pa.Table.from_pandas(b, preserve_index=False)
    assert ta.equals(tb)
    p = tmp_path / "media.parquet"
    pq.write_table(ta, p)
    assert pq.read_table(p).equals(ta)
