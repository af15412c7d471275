"""Structured Streaming surface: page ingestion as a stream.

Provides:
  - ``stream_pages``: file-source stream over a pages parquet dir.
  - ``stream_triples``: the FULL pipeline per micro-batch (foreachBatch),
    batch_id-partitioned parquet with dynamic-overwrite exactly-once, each
    micro-batch committed as a ``stream_triples`` snapshot.

Tests drain with ``trigger(availableNow=True)``: process everything
currently available, then stop — deterministic, no wall-clock dependence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def stream_pages(spark: SparkSession, pages_dir: str) -> DataFrame:
    """readStream over the pages table (schema inferred from the batch
    reader — file streams need an explicit schema)."""
    schema = spark.read.parquet(pages_dir).schema
    return spark.readStream.schema(schema).parquet(pages_dir)


def stream_triples(
    spark: SparkSession,
    pages_dir: str,
    alias_pdf,
    out_dir: str,
    checkpoint_dir: str,
    salt: int = 16,
    retain: int | None = None,
):
    """The FULL KG pipeline as a stream: pages file-source → foreachBatch
    running :func:`~char_ner_spark.pipeline.run_pipeline` on each
    micro-batch (with a dictionary within its broadcast budget, one
    :func:`~char_ner_spark.pipeline.kg_pass` per page batch: extract + tag
    → link → relate → canonicalize, then explode + distinct of its
    triples) → parquet partitioned by micro-batch id.

    Exactly-once: the write is keyed by ``batch_id`` with dynamic partition
    overwrite, so a micro-batch replayed after a crash (the streaming
    checkpoint re-delivers it) overwrites ITS OWN partition instead of
    appending duplicates — the parquet output converges to exactly one copy
    per batch regardless of retries. Dictionary-side state (alias tables +
    canonical map) is built once and shared across all micro-batches, the
    streaming analog of run_partitioned's unit-invariant dict state.

    Per-batch lineage (north_rule: every stage checkpoints counters): every
    committed micro-batch commits a ``stream_triples`` snapshot line
    (``_snapshots/stream_triples/`` — underscore-prefixed because the data
    lives at the out_dir root and a bare ``metadata/`` sibling would break
    Spark's partition discovery over ``batch_id=*``) whose entry for
    part_id=batch_id records pages in, triples out and the order-insensitive
    checksum — the same commit log the batch sinks use. So a streamed output
    is readable via ``lineage.read_table(out_dir, "stream_triples")`` with
    time-travel, ``compact_table`` can rewrite its small files
    checksum-verified, and ``retain`` bounds snapshot history. A replayed
    batch REPLACES its own entry (add_part keys by part_id), converging
    metadata with the data; an empty replay commits rows=0 and readers skip
    the part. ``n_parts`` is recorded as None — micro-batch ids are an
    open-ended sequence, not a fixed unit count, so the batch-side resume
    guard treats the table as wildcard.

    Returns the table's committed triples (:func:`lineage.read_table` of
    the current snapshot), so part directories a copy-on-write update
    superseded stay out of the result.
    """
    from .lineage import _observed_rows, commit_part, read_table
    from .pipeline import build_dictionary_state, run_pipeline

    dict_state = build_dictionary_state(spark, alias_pdf)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        # the batch's page count rides the write's action, as in
        # lineage._commit_unit: no count job of its own
        obs = Observation(f"stream_pages_in_{batch_id}")
        out = run_pipeline(
            spark, batch_df.observe(obs, F.count(F.lit(1)).alias("rows_in")),
            alias_pdf, salt=salt, dict_state=dict_state)
        triples = out["triples"]
        # commit_part replaces this batch's batch_id=N partition (a replay
        # that now yields no triples removes the stale one) and commits it
        commit_part(
            spark, out_dir, "stream_triples", int(batch_id), triples,
            rows_in=lambda: _observed_rows(obs, batch_df),
            # schema as READ: data cols + the batch_id partition column as
            # INT — Spark's partition-value inference types batch_id=N dirs
            # as int, so recording long here would make an all-empty
            # read_table frame type-flip against a non-empty one
            schema_json=triples.withColumn(
                "batch_id", F.lit(int(batch_id)).cast("int")
            ).schema.json(),
            retain=retain,
        )
        out["passed"].unpersist()

    q = (
        stream_pages(spark, pages_dir)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return read_table(spark, out_dir, "stream_triples")
