"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)      — flagship KG pipeline smoke on sf0.001-scaled fixtures.
queries()         — KG registry (char_ner_spark/driver_queries.py): the KG
                    pipeline, the tagger and the CoNLL reader on fixtures.
oracle_sql()      — DuckDB oracle SQL for every registry entry.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: the full KG-construction pipeline (extract → tag →
    link → canonicalize → triples) on a small deterministic fixture corpus.
    Returns the triples DataFrame (driver checks rows ≥ 0, stable schema:
    subj, pred, obj, url, sent_idx, conf — same as round 1)."""
    from char_ner_spark.fixtures import make_alias_table, make_pages
    from char_ner_spark.pipeline import run_pipeline

    alias = make_alias_table(120, seed=42)
    pages = spark.createDataFrame(make_pages(60, seed=42, alias_df=alias))
    return run_pipeline(spark, pages, alias)["triples"]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """KG-engine entries, each checked against an independent engine:
    kg_triples_fixture, kg_mentions_fixture, conll_reader_fixture."""
    from char_ner_spark.driver_queries import build_queries

    return build_queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB SQL for every registry entry (same keys as queries()). The KG
    pipeline and tagger entries are hash-checked against a staged parquet
    of the single-process golden run; the CoNLL reader against a DuckDB
    re-parse of the same fixture file."""
    from char_ner_spark.driver_queries import build_oracle_sql

    return build_oracle_sql()
