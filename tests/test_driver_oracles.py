"""Parity tests for the driver contract: every ``queries()`` entry run on
Spark equals its ``oracle_sql()`` run on DuckDB. These mirror the driver's
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
