"""Structured Streaming surface (SURVEY.md §2.10 — optional extension;
north_rule's resume requirement is met by batch lineage, but page ingestion
maps naturally onto a stream).

Provides:
  - ``stream_pages``: file-source stream over a pages parquet dir →
    watermarked tumbling-window page counts per lang (late data handled).
  - ``stream_mention_counts``: the same tagger UDF applied to a stream
    (mapInPandas works unchanged on streaming DataFrames) → per-window
    mention counts, exactly-once via checkpoint dir.
  - ``stream_triples``: the FULL pipeline per micro-batch (foreachBatch),
    batch_id-partitioned parquet with dynamic-overwrite exactly-once.
  - ``dedup_pages_stream`` / ``sessionize_stream``: stateful operators
    (bounded dedup state; applyInPandasWithState gap sessionizer).

Both run with ``trigger(availableNow=True)`` in tests: process everything
currently available, then stop — deterministic, no wall-clock dependence.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .session import local_frame


def stream_pages(spark: SparkSession, pages_dir: str) -> DataFrame:
    """readStream over the pages table (schema inferred from the batch
    reader — file streams need an explicit schema)."""
    schema = spark.read.parquet(pages_dir).schema
    return spark.readStream.schema(schema).parquet(pages_dir)


def windowed_page_counts(pages_stream: DataFrame) -> DataFrame:
    """Tumbling 10-minute windows on warc_ts with 1-hour watermark."""
    return (
        pages_stream.withWatermark("warc_ts", "1 hour")
        .groupBy(F.window("warc_ts", "10 minutes").alias("win"), "lang")
        .agg(F.count(F.lit(1)).alias("n_pages"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "lang",
            "n_pages",
        )
    )


def streamed_mentions(pages_stream: DataFrame, salt: int = 16) -> DataFrame:
    """The batch tagger stage applied to a stream — mapInPandas is
    streaming-compatible; repartition keeps the same plan shape."""
    from .pipeline import _MENTION_SCHEMA, _tag_pages_batches

    return pages_stream.select("url", "html", "lang").mapInPandas(
        _tag_pages_batches, schema=_MENTION_SCHEMA
    )


def dedup_pages_stream(pages_stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Stateful streaming dedup on url (SURVEY §2.10). Uses
    ``dropDuplicatesWithinWatermark``: plain ``dropDuplicates(["url"])``
    would never evict state (the watermark only expires dedup state when
    the event-time column is part of the key), so at Common-Crawl scale the
    store would grow with every url ever seen; the within-watermark variant
    holds one watermark-window of urls."""
    return pages_stream.withWatermark("warc_ts", watermark).dropDuplicatesWithinWatermark(
        ["url"]
    )


def sessionize_stream(
    events_stream: DataFrame, gap_s: int = 1800
) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user session
    counting with a ``gap_s`` inactivity gap, state carried across
    micro-batches (the streaming twin of the batch ``sessionize_events``
    contract query). Emits (user_id, n_sessions, last_ts) per group per
    batch; the latest row per user is the running total.

    State is (last_ts, n_sessions) — 16 bytes per user, partitioned by the
    groupBy key, so a 10^9-user stream shards state across executors and
    each micro-batch only touches the users present in it."""
    import pandas as pd

    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_sessions", T.LongType()),
            T.StructField("last_ts", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("last_ts", T.LongType()),
            T.StructField("n_sessions", T.LongType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        (user_id,) = key
        last_ts, n = state.get if state.exists else (None, 0)
        ts_all = pd.concat([pdf["ts_epoch"] for pdf in pdfs]).sort_values()
        for ts in ts_all:
            ts = int(ts)
            if last_ts is None or ts - last_ts > gap_s:
                n += 1
                last_ts = ts
            elif ts > last_ts:
                last_ts = ts
            # ts <= last_ts: a cross-micro-batch LATE event. State must stay
            # monotone — regressing last_ts would let the next on-time event
            # fake a session split (batch-oracle divergence). The late event
            # is attributed to the current session without extending it;
            # exact gap-sessionization of arbitrarily late data is a batch
            # concern (sessionize_events oracle), not a streaming-state one.
        state.update((last_ts, n))
        yield pd.DataFrame(
            {"user_id": [user_id], "n_sessions": [n], "last_ts": [last_ts]}
        )

    ev = events_stream.select(
        "user_id", F.unix_timestamp(F.col("ts").cast("timestamp")).alias("ts_epoch")
    )
    return ev.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def run_stream_to_memory(
    spark: SparkSession,
    stream_df: DataFrame,
    name: str,
    checkpoint_dir: str,
    output_mode: str = "append",
) -> DataFrame:
    """Drain a stream with availableNow into an in-memory sink; returns the
    result table. Exactly-once per checkpoint_dir."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


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

    Returns the drained-stream StreamingQuery's final triples DataFrame
    (read back from out_dir).
    """
    from .lineage import _observed_rows, commit_part
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
    # a corpus yielding zero triples (or zero micro-batches) writes no
    # parquet DATA files; read.parquet would then fail schema inference even
    # though the stream itself succeeded — return a typed empty frame.
    # Only batch_id=*/ partitions count: Spark's reader skips underscore
    # dirs (so _snapshots never pollutes the data read), and the existence
    # probe must skip them too or an all-empty stream would try to infer a
    # schema from a directory holding only snapshot metadata.
    import glob as _glob
    import os as _os

    if not _glob.glob(_os.path.join(out_dir, "batch_id=*", "**", "*.parquet"),
                      recursive=True):
        return local_frame(
            spark, [],
            # batch_id int: matches Spark's partition-value inference over
            # batch_id=N dirs (and the snapshot schema_json), so the empty
            # and non-empty shapes agree
            "subj long, pred string, obj long, url string, sent_idx int, "
            "conf double, batch_id int",
        )
    return spark.read.parquet(out_dir)
