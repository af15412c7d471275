"""Driver-contract query registry: KG-engine code checked against an
independent engine.

Each entry is a Spark callable ``fn(spark, sf_dir)`` paired with a DuckDB
oracle that recomputes the same rows without Spark. No entry reads an sf
table (``sf_dir`` is accepted for the driver's calling convention only):
each runs on a deterministic fixture staged under the temp dir.

  - ``kg_triples_fixture``: the full KG pipeline (extract → tag → link →
    canonicalize → triples) against the staged single-process golden run;
  - ``kg_mentions_fixture``: the tagger stage alone against the golden
    run's mention table;
  - ``conll_reader_fixture``: the reference's CoNLL input format through
    the Spark reader against a DuckDB re-parse of the same file.

Contract invariants (learned in round 1):
  - every computed numeric column is integerized (e6 fixed-point via
    FLOOR→BIGINT) so Spark and DuckDB hash identically;
  - no array-typed output columns — the driver's canonicalizer sorts
    column values in pandas and lists are unhashable; arrays are projected
    to space-joined strings.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# flagship KG fixture corpus: fixed size (NOT sized from the sf tables) so
# the staged golden-oracle parquet below matches the Spark query at any sf
_KG_N_ENTITIES, _KG_N_PAGES = 120, 240


def _kg_corpus():
    from .fixtures import make_alias_table, make_pages

    alias = make_alias_table(_KG_N_ENTITIES, seed=42)
    pages = make_pages(_KG_N_PAGES, seed=42, alias_df=alias)
    return alias, pages


def _kg_gold_paths() -> dict[str, str]:
    """Stage the single-process golden run (oracle.run_oracle — the same
    pure semantics composed sequentially in pandas, no Spark) as parquet
    for the DuckDB side. The driver's value-hash gate then verifies that
    every distribution mechanism in the Spark pipeline — mapInPandas
    batching, salted repartition, broadcast linking, distributed
    canonicalization, shuffled dedup — reproduces the sequential
    composition bit-for-bit (scores/confidences included, via e6
    fixed-point). Floats use floor(x*1e6+0.5): same double inputs on both
    sides (verified bitwise in tests/test_pipeline_spark.py), same rule."""
    import tempfile

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from .oracle import run_oracle

    # cache key: PINNED to the round-6-start source fingerprint of the
    # golden-run closure (oracle, fixtures, tagger, textops, linking,
    # relations, spans, driver_queries). The oracle SQL text embeds this
    # path, and the driver freezes oracle SQL text across the optimization
    # round — a source-derived fingerprint would turn any perf-only edit
    # into a spurious text change. Golden SEMANTICS stay guarded by the
    # driver's value-hash gate itself (Spark output vs freshly staged
    # golden run); if those semantics are ever intentionally changed, bump
    # this literal to the first 12 hex digits of the sha256 over the bytes
    # of those eight source files, in the order listed, so stale /tmp
    # stagings from the old semantics cannot be read back.
    code_fp = "089e310dc884"
    tmp = tempfile.gettempdir()
    paths = {
        k: os.path.join(
            tmp,
            f"cns_kg_gold_{k}_{_KG_N_PAGES}x{_KG_N_ENTITIES}_{code_fp}.parquet",
        )
        for k in ("triples", "mentions")
    }
    if not all(os.path.exists(p) for p in paths.values()):
        alias, pages = _kg_corpus()
        gold = run_oracle(pages, alias)
        tri = gold["triples"].copy()
        tri["conf_e6"] = np.floor(
            tri["conf"].astype("float64") * 1e6 + 0.5
        ).astype("int64")
        tri = tri[["subj", "pred", "obj", "url", "sent_idx", "conf_e6"]]
        men = gold["mentions"].copy()
        men["score_e6"] = np.floor(
            men["score"].astype("float64") * 1e6 + 0.5
        ).astype("int64")
        men = men[
            ["url", "sent_idx", "begin", "end", "surface", "ner_type", "lang", "score_e6"]
        ]
        for k, pdf in (("triples", tri), ("mentions", men)):
            # atomic stage: a killed/concurrent first writer must never
            # leave a half-written parquet at the final path (exists()
            # would then skip regeneration forever)
            t = f"{paths[k]}.tmp.{os.getpid()}"
            pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), t)
            os.replace(t, paths[k])
    return paths


def _kg_triples_duck_sql() -> str:
    p = _kg_gold_paths()["triples"]
    return f"SELECT subj, pred, obj, url, sent_idx, conf_e6 FROM read_parquet('{p}')"


def _kg_mentions_duck_sql() -> str:
    p = _kg_gold_paths()["mentions"]
    return (
        "SELECT url, sent_idx, begin, \"end\", surface, ner_type, lang, score_e6 "
        f"FROM read_parquet('{p}')"
    )


def _fn_kg_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship KG pipeline (extract → tag → link → canonicalize → triples)
    on the deterministic fixture corpus, hash-checked against the staged
    single-process golden run (see _kg_gold_paths)."""
    from .pipeline import run_pipeline

    alias, pages_pdf = _kg_corpus()
    pages = spark.createDataFrame(pages_pdf)
    return run_pipeline(spark, pages, alias)["triples"].selectExpr(
        "subj", "pred", "obj", "url", "sent_idx",
        "CAST(FLOOR(CAST(conf AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS conf_e6",
    )


def _fn_kg_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tagger stage alone (extract_text + BiLSTM + Viterbi inside
    tag_pages' one vectorized UDF), hash-checked against the golden run's mention table —
    scores included (e6 fixed-point; batch composition is provably
    score-invariant, tests/test_tagger_oracle.py)."""
    from .pipeline import tag_pages

    alias, pages_pdf = _kg_corpus()
    pages = spark.createDataFrame(pages_pdf)
    return tag_pages(pages).selectExpr(
        "url", "sent_idx", "begin", "end", "surface", "ner_type", "lang",
        "CAST(FLOOR(CAST(score AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS score_e6",
    )


def _conll_fixture_path() -> str:
    import tempfile

    from .sources import write_conll_fixture

    path = os.path.join(
        tempfile.gettempdir(),
        # pinned round-6-start fingerprint of sources.py (see _kg_gold_paths)
        "char_ner_spark_conll_fixture_6b1201b94ce5.txt",
    )
    if not os.path.exists(path):
        tmp = f"{path}.tmp.{os.getpid()}"  # atomic stage (see _kg_gold_paths)
        write_conll_fixture(tmp, n_sents=120, seed=42)
        os.replace(tmp, path)
    return path


def _fn_conll_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's CoNLL input format through the Spark reader
    (SURVEY §2.1 S1; deterministic fixture file). Token/tag arrays are
    projected to space-joined strings (canonicalizer-safe). Oracled: the
    DuckDB side re-parses the same file from scratch (read_text + window
    segmentation), so the whole parse path is hash-checked."""
    from .sources import read_conll

    return read_conll(spark, _conll_fixture_path()).selectExpr(
        "sent_id",
        "concat_ws(' ', tokens) AS tokens_str",
        "concat_ws(' ', tags) AS tags_str",
    )


def _conll_duck_sql() -> str:
    """Lazy oracle: ensures the fixture file exists, then returns DuckDB SQL
    that re-implements the CoNLL parse (blank-line sentence segmentation via
    a running-count window, col0 = token, last col = tag, -DOCSTART- rows
    dropped) directly over the text file."""
    path = _conll_fixture_path()
    return f"""
    WITH raw AS (
        SELECT unnest(string_split(content, chr(10))) AS line,
               generate_subscripts(string_split(content, chr(10)), 1) AS line_id
        FROM read_text('{path}')),
    marked AS (
        SELECT trim(line) AS line, line_id,
               CASE WHEN trim(line) = '' THEN 1 ELSE 0 END AS is_blank
        FROM raw),
    numbered AS (
        SELECT line, line_id, is_blank,
               SUM(is_blank) OVER (ORDER BY line_id) AS sent_id
        FROM marked),
    toks AS (
        SELECT sent_id, line_id, regexp_split_to_array(line, '\\s+') AS cols
        FROM numbered
        WHERE is_blank = 0 AND NOT starts_with(line, '-DOCSTART-'))
    SELECT CAST(sent_id AS BIGINT) AS sent_id,
           string_agg(cols[1], ' ' ORDER BY line_id) AS tokens_str,
           string_agg(cols[-1], ' ' ORDER BY line_id) AS tags_str
    FROM toks GROUP BY sent_id
    """


SPARK_FN: dict[
    str, tuple[Callable[[SparkSession, str], DataFrame], Callable[[], str]]
] = {
    "kg_triples_fixture": (_fn_kg_triples, _kg_triples_duck_sql),
    "kg_mentions_fixture": (_fn_kg_mentions, _kg_mentions_duck_sql),
    "conll_reader_fixture": (_fn_conll_reader, _conll_duck_sql),
}


def build_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _) in SPARK_FN.items()}


def build_oracle_sql() -> dict[str, str]:
    # lazy oracles: each stages its fixture file on disk before returning
    # SQL that reads it
    return {name: duck_sql() for name, (_, duck_sql) in SPARK_FN.items()}
