"""Per-partition lineage + checkpoint-resume (north_rule: "Every stage
checkpoints per-partition lineage and counters so the job resumes mid-run").

Design (SURVEY.md §4.2 Resume): the url space is split into K work units
(``part_id = pmod(xxhash64(url), K)``). Each unit runs the full pipeline on
its slice, writes ``triples/part_id=<k>/`` idempotently (overwrite), then
commits a snapshot entry (rows in/out, checksum). On restart, parts the
current snapshot lists are skipped — a crashed run resumes exactly where
it stopped, and re-running a completed unit rewrites identical bytes.

At 100 TB scale K is sized so one unit ≈ a few hundred GB (K ~ 10k); units
are embarrassingly parallel across job submissions too.

Every writer commits a part through :func:`commit_part`, and a commit is
one Spark job: the data write. The part's row count and checksum are
observed on the rows as the write writes them (``df.observe``) and
cross-checked against the row counts in the part's parquet footers, so
the part is not read back. The rest is driver-only file IO: the
table's ``snapshot-N.json`` and its ``current`` pointer flip, the only
commit record — every read of commit state comes from them. Work-unit
input counters use ``df.observe`` (SURVEY §2.1 S4) so they ride the
pipeline's own action instead of re-scanning.
"""

from __future__ import annotations

import datetime as dt
import fcntl
import functools
import json
import os
import shutil
import uuid
from collections.abc import Callable

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from py4j.protocol import Py4JJavaError
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, FloatType, StructType

from .session import local_frame

LINEAGE_COLS = ["stage", "part_id", "rows_in", "rows_out", "checksum", "completed_at"]

#: column types of the manifest rows read_manifest serves and
#: append_manifest writes (long counters, a UTC timestamp)
_MANIFEST_SCHEMA = pa.schema([
    ("stage", pa.string()), ("part_id", pa.int64()), ("rows_in", pa.int64()),
    ("rows_out", pa.int64()), ("checksum", pa.string()),
    ("completed_at", pa.timestamp("us", tz="UTC")),
])
_MANIFEST_DDL = ("stage string, part_id long, rows_in long, rows_out long, "
                 "checksum string, completed_at timestamp")

#: footer key under which Spark's parquet writer records the row schema
_SPARK_ROW_SCHEMA = b"org.apache.spark.sql.parquet.row.metadata"

#: current table_checksum recipe epoch (see write_snapshot); bump whenever
#: the checksum recipe changes incompatibly
CHECKSUM_VER = 2


def _manifest_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_lineage")


def _data_files(path: str) -> list[str]:
    """Parquet data files directly under ``path`` — Spark's reader skips
    ``_``/``.``-prefixed names (markers, checksums, in-flight temp files),
    and so does every driver-side reader here."""
    if not os.path.isdir(path):
        return []
    return sorted(
        os.path.join(path, f) for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )


def _snapshot_entry(row) -> dict:
    """Commit row (as commit_part returns it) → snapshot entry."""
    return {"part_id": int(row["part_id"]), "rows": int(row["rows_out"]),
            "rows_in": int(row["rows_in"]), "checksum": row["checksum"]}


def _entries(out_dir: str, table: str) -> list[dict]:
    """The entries of ``table``'s current snapshot."""
    snap = current_snapshot(out_dir, table=table)
    return snap.get("manifest", []) if snap else []


def _rows_in(entry: dict) -> int:
    """Entries written without ``rows_in`` count their rows."""
    return entry.get("rows_in", entry["rows"])


def read_manifest(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """One ``LINEAGE_COLS`` row per entry of each table's current snapshot
    (``stage`` = table, ``rows_out`` = rows; a superseded part shows its
    tombstone). ``completed_at`` is null: snapshots record no per-part
    commit time. None before any commit. Built on the driver: no Spark
    job."""
    tables = snapshot_tables(out_dir)
    if not tables:
        return None
    rows = [(t, p["part_id"], _rows_in(p), p["rows"], p["checksum"], None)
            for t in tables for p in _entries(out_dir, t)]
    return local_frame(spark, rows, _MANIFEST_DDL)


def _live_rows_in(out_dir: str, stage: str) -> dict[int, int]:
    """``rows_in`` of each part of ``stage``'s current snapshot that no
    copy-on-write rewrite has superseded (its entry is not a tombstone)."""
    return {p["part_id"]: _rows_in(p) for p in _entries(out_dir, stage)
            if not str(p["checksum"]).startswith("superseded-by:")}


def completed_parts(spark: SparkSession, out_dir: str, stage: str) -> set[int]:
    """Parts ``stage``'s current snapshot lists, superseded ones included
    (their units ran)."""
    snap = current_snapshot(out_dir, table=stage)
    return set(snap["completed"]) if snap else set()


def append_manifest(spark: SparkSession, out_dir: str, row: dict) -> None:
    """Append ``row`` (``LINEAGE_COLS``) to the ``_lineage`` manifest as one
    parquet file written on the driver: a dot-prefixed temp file renamed
    into place, so a crash never leaves a torn file. A naive
    ``completed_at`` is taken as UTC.

    Nothing in the library writes or reads ``_lineage`` any more: the table
    snapshots are the only commit record, and a leftover manifest is
    ignored. The last caller is perfbench's traced commit copy
    (``perfbench/workloads.py:_commit_part``), which ROADMAP item 4
    removes."""
    path = _manifest_path(out_dir)
    os.makedirs(path, exist_ok=True)
    at = pd.Timestamp(row["completed_at"])
    at = at.tz_localize("UTC") if at.tzinfo is None else at.tz_convert("UTC")
    table = pa.table({c: [at if c == "completed_at" else row[c]]
                      for c in LINEAGE_COLS}, schema=_MANIFEST_SCHEMA)
    name = f"part-{uuid.uuid4()}.parquet"
    tmp = os.path.join(path, f".{name}.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(path, name))


def read_parts(spark: SparkSession, *paths: str,
               base: str | None = None) -> DataFrame:
    """Read part directories with the schema Spark recorded in the first
    one's parquet footer, so the read launches no schema-inference job
    (the partition column of a ``base``-relative read is still discovered
    from the paths). Without such a footer the read falls back to
    inference."""
    reader = spark.read
    files = _data_files(paths[0])
    js = (pq.read_schema(files[0]).metadata or {}).get(_SPARK_ROW_SCHEMA) \
        if files else None
    if js:
        reader = reader.schema(StructType.fromJson(json.loads(js)))
    if base is not None:
        reader = reader.option("basePath", base)
    return reader.parquet(*paths)


def _checksum_aggs(df: DataFrame) -> list[Column]:
    """The row count and the order-insensitive checksum of ``df`` as
    aggregate columns ``n`` and ``s``: the xor of per-row xxhash64 over
    every column in schema order, float and double columns entering
    integer-stabilized (e6 fixed point). :func:`table_checksum` runs them
    as a query; :func:`commit_part` observes them on the rows it writes."""
    h = F.xxhash64(*[
        F.expr(f"CAST(ROUND(`{f.name}` * 1e6) AS BIGINT)")
        if isinstance(f.dataType, (DoubleType, FloatType))
        else F.col(f.name)
        for f in df.schema.fields
    ])
    # bit_xor: order-insensitive, overflow-free
    return [F.count(h).alias("n"), F.bit_xor(h).alias("s")]


def _checksum(n, s) -> tuple[int, str]:
    return int(n), format((int(s or 0)) & 0xFFFFFFFFFFFFFFFF, "016x")


def table_checksum(df: DataFrame) -> tuple[int, str]:
    """(row_count, order-insensitive checksum) of ANY sink DataFrame —
    xor of per-row xxhash64, computed distributed (no collect). Float and
    double columns enter integer-stabilized (e6 fixed point) so resumed
    units cannot silently drift in confidence/weight/score (ADVICE r1).
    Same recipe as the historical triples checksum (schema column order,
    e6 conf stabilization) — but note it hashes EVERY column of the frame
    it is given: a committed part's checksum covers its part_id column,
    so checksums recorded by round-3 code are not comparable to manifests
    written before the multi-sink change."""
    h = df.agg(*_checksum_aggs(df)).collect()[0]
    return _checksum(h["n"], h["s"])


#: parts up to this size are checksummed in one task: the aggregate then
#: needs no shuffle, so the checksum is one Spark job instead of a map
#: stage plus a result stage. Spark's default per-file open cost — below
#: it, splitting a part's scan across cores saves nothing
ONE_TASK_CHECKSUM_BYTES = 4 << 20


def _written_checksum(spark: SparkSession, part_path: str,
                      obs: Observation) -> tuple[int, str]:
    """(rows, checksum) of the part just written to ``part_path``.

    The count and checksum ``obs`` observed on the rows as the write
    wrote them stand if the part's parquet footers hold as many rows
    (driver-side file IO, no job). Otherwise, or when the observation is
    missing (reading it raises, as :func:`_observed_rows` allows for),
    the part is read back and checksummed: one more job."""
    footer_rows = sum(pq.read_metadata(f).num_rows
                      for f in _data_files(part_path))
    try:
        seen = obs.get
    except Py4JJavaError:
        seen = None
    if seen is not None and seen["n"] == footer_rows:
        return _checksum(seen["n"], seen["s"])
    back = read_parts(spark, part_path)
    size = sum(os.path.getsize(f) for f in _data_files(part_path))
    return table_checksum(
        back.coalesce(1) if size <= ONE_TASK_CHECKSUM_BYTES else back)


def commit_part(spark: SparkSession, out_dir: str, table: str, pid: int,
                df: DataFrame,
                rows_in: int | Callable[[], int] | None = None,
                n_parts: int | None = None, schema_json: str | None = None,
                supersedes: tuple[int, ...] | list[int] = (),
                snapshot: bool = True,
                retain: int | None = None) -> list[dict]:
    """Commit ``df`` as part ``pid`` of ``table`` — the one commit sequence
    behind work units, ingests, copy-on-write rewrites and the streaming
    sink:

    1. write the part directory (overwrite, so a retry is idempotent) —
       the commit's one Spark job. The rows it writes are observed
       (``df.observe``) into the part's row count and checksum:
       :func:`table_checksum`'s recipe over the columns the part holds on
       disk (``part_id`` included; a root-layout part keeps its key only
       in the directory name). The observation sits in the write's result
       stage, whose accumulator updates Spark merges from one successful
       attempt per task, so a retried task cannot enter it twice;
    2. check the observed count against the parquet footers' row counts
       and take the schema from the footer — driver-side file IO
       (:func:`_written_checksum`, which falls back to reading the part
       back when the two disagree);
    3. with ``snapshot``, commit the next snapshot of ``table`` (previous
       entries + this part's) and flip its ``current`` pointer — driver
       only (:func:`write_snapshot`, which serializes concurrent commits).
       Until that pointer flips the part is not committed: a crash before
       it leaves an orphan directory that a resume rewrites and
       :func:`gc_orphan_parts` reclaims.

    Each part in ``supersedes`` gets a tombstone row (``rows_out=0``,
    ``checksum="superseded-by:<pid>"``; readers skip zero-row entries).
    Copy-on-write callers pass ``snapshot=False`` and commit one snapshot
    per table for all their parts (``write_snapshot``'s ``add_parts``, one
    :func:`_snapshot_entry` per returned row), so no reader sees a
    half-applied rewrite. ``rows_in`` defaults to the rows written; a
    callable is called after the write (an observed count the write's
    action fills in). ``schema_json`` (recorded in the snapshot) defaults
    to the schema the part is read back with.
    Returns the commit rows (``LINEAGE_COLS``), the part's own row first."""
    base, prefix = _table_base(out_dir, table)
    part_path = os.path.join(base, f"{prefix}={pid}")
    obs = Observation()
    if _TABLE_LAYOUT.get(table, (table,))[0] == "":
        # root layout (the streaming sink): the part key lives only in the
        # directory name. Dynamic overwrite replaces a partition only if it
        # RECEIVES rows, so drop this one first: a replay that now yields
        # nothing must converge to no directory, not to the stale one
        shutil.rmtree(part_path, ignore_errors=True)
        df.observe(obs, *_checksum_aggs(df)).withColumn(
            prefix, F.lit(pid)).write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic").partitionBy(prefix).parquet(base)
    else:
        keyed = df.withColumn(prefix, F.lit(pid))
        keyed.observe(obs, *_checksum_aggs(keyed)).write.mode(
            "overwrite").parquet(part_path)
    if os.path.isdir(part_path):
        n, checksum = _written_checksum(spark, part_path, obs)
        schema_json = schema_json or read_parts(spark, part_path).schema.json()
    else:
        n, checksum = 0, "0" * 16  # a root-layout part that received no rows
    if callable(rows_in):
        rows_in = rows_in()
    now = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    rows = [{"stage": table, "part_id": pid,
             "rows_in": n if rows_in is None else rows_in, "rows_out": n,
             "checksum": checksum, "completed_at": now}]
    rows += [{"stage": table, "part_id": old, "rows_in": 0, "rows_out": 0,
              "checksum": f"superseded-by:{pid}", "completed_at": now}
             for old in supersedes]
    if snapshot:
        write_snapshot(spark, out_dir, n_parts, table=table,
                       schema_json=schema_json,
                       add_parts=[_snapshot_entry(r) for r in rows],
                       retain=retain)
    return rows


def committed_triples(spark: SparkSession, out_dir: str,
                      pid: int) -> DataFrame:
    """Triples part ``pid`` as committed to disk, read with its footer
    schema. Edges derive from these bytes, so the relation stage that
    produced them is not run a second time."""
    base, prefix = _table_base(out_dir, "triples")
    return read_parts(spark, f"{base}/{prefix}={pid}").drop(prefix)


def _commit_unit(spark: SparkSession, out_dir: str, pid: int,
                 slice_df: DataFrame, tables: list[str],
                 done: dict[str, set[int]], live_triples: dict[int, int],
                 pipeline_kw: dict, commit_kw: dict) -> list[dict]:
    """Commit the per-unit sinks in ``tables`` that part ``pid`` still
    lacks — the work-unit loop behind run_partitioned and ingest_pages.
    Returns the commit rows written.

    Triples commit first, whatever order ``tables`` gives; edges then
    derive from the triples part as committed to disk (when ``tables``
    holds triples), so a unit runs its relation stage once. The unit's
    pipeline over ``slice_df`` runs only if a missing sink needs it: a
    unit missing only edges, whose triples part is committed and live
    (``live_triples`` maps such parts to their ``rows_in``), skips it."""
    from .pipeline import edges_from_triples, run_pipeline

    missing = sorted((t for t in tables if pid not in done[t]),
                     key=lambda t: t != "triples")
    from_triples = "triples" in tables and (
        "triples" in missing or pid in live_triples)
    out, rows_in, written = None, live_triples.get(pid), []
    for table in missing:
        if table == "edges" and from_triples:
            df = edges_from_triples(committed_triples(spark, out_dir, pid))
        else:
            if out is None:
                obs = Observation(f"pages_in_{pid}")
                out = run_pipeline(
                    spark, slice_df.observe(
                        obs, F.count(F.lit(1)).alias("rows_in")),
                    **pipeline_kw)
                rows_in = functools.cache(
                    lambda: _observed_rows(obs, slice_df))
            df = out[table]
        written += commit_part(spark, out_dir, table, pid, df, rows_in,
                               **commit_kw)
    if out is not None:
        # done with this unit — release the cached tagger output before the
        # next unit persists its own (K~10k units would otherwise pile up
        # cached blocks for the whole session; ADVICE r1)
        out["passed"].unpersist()
    return written


def _observed_rows(obs: Observation, slice_df: DataFrame) -> int:
    """The pages a unit's (or a streamed micro-batch's) pipeline read,
    observed by the first action over it — the first data write, so it
    costs no job of its own."""
    try:
        return int(obs.get["rows_in"])
    except Py4JJavaError:
        # a unit whose pages yield no mentions: AQE drops the empty cached
        # scan, and the observed count with it, from the pipeline's first
        # action — count the slice
        return slice_df.count()


def run_partitioned(
    spark: SparkSession,
    pages: DataFrame,
    alias_pdf: pd.DataFrame,
    out_dir: str,
    n_parts: int = 4,
    fail_after: int | None = None,
    weights_map: dict | None = None,
    max_inflight: int | None = None,
    sinks: tuple[str, ...] = ("triples",),
    retain: int | None = None,
) -> list[dict]:
    """Run the pipeline per work unit with resume: units whose parts every
    sink's current snapshot lists are skipped. ``fail_after`` injects a
    crash after that many units (tests); ``weights_map`` (lang → params)
    runs inference from stored weights. Returns the commit rows written
    (sorted by (stage, part_id) — overlapped completion order is not
    semantic).

    ``max_inflight`` > 1 overlaps work units: up to that many units run as
    concurrent Spark jobs (driver threads; Spark's scheduler interleaves
    their stages), so the cluster never idles between a unit's final write
    and the next unit's first scan — at K ~ 10k units the serial loop's
    per-unit ramp-down/ramp-up gap is the dominant waste. The default
    (None) overlaps automatically — min(4, n_parts) once there are ≥3
    units; pass 1 to force the serial loop. Snapshot commits stay linear
    history (write_snapshot serializes them per table); unit payloads are
    disjoint by construction (pmod(xxhash64(url))), so data writes never
    race.

    ``sinks`` selects the materialized tables: per-unit sinks
    ("triples", "edges", "mentions") write part_id=<pid>/ each unit and
    commit their own snapshot line (metadata/<table>/); the unit-invariant
    "entities" sink (dictionary ⋈ canonical map — identical whatever unit
    computes it) writes once as part_id=0 after the units. With "triples"
    among the sinks, each unit commits its triples part first and derives
    its edges part from that part as committed to disk, so the relation
    stage runs once per unit; a unit that lacks only its edges part (a
    crash between the two commits, or "edges" added to a triples-only
    output) reads its triples back and runs no pipeline. ``retain``
    bounds snapshot history per table (see expire_snapshots)."""
    from concurrent.futures import ThreadPoolExecutor

    from .pipeline import build_dictionary_state

    per_unit = [s for s in sinks if s != "entities"]
    unknown = set(sinks) - {"triples", "edges", "mentions", "entities"}
    if unknown:
        raise ValueError(f"unknown sinks: {sorted(unknown)}")
    os.makedirs(out_dir, exist_ok=True)
    # fail-loud on a unit-count change: part_id = pmod(xxhash64(url), K), so
    # resuming an output produced under a different K would assign every url
    # to a different unit — "completed" parts would silently cover the WRONG
    # url slices and re-run units would double some urls and drop others.
    # EVERY table with a committed snapshot is checked, not just triples: an
    # out_dir written with sinks=("edges",) carries its unit assignment in
    # metadata/edges/ only, and the old triples-only probe silently let a
    # different n_parts remap it (ADVICE r3)
    for t in snapshot_tables(out_dir):
        prev_snap = current_snapshot(out_dir, table=t)
        if prev_snap is None:
            continue
        if prev_snap.get("n_parts") not in (None, n_parts):
            raise ValueError(
                f"{out_dir} ({t}) was written with n_parts="
                f"{prev_snap['n_parts']}; resuming with n_parts={n_parts} "
                "would remap the url→unit assignment under the committed "
                "parts. Re-run with the original n_parts, or start a fresh "
                "output directory."
            )
        if prev_snap.get("checksum_ver") != CHECKSUM_VER:
            raise ValueError(
                f"{out_dir} ({t}) was written under checksum recipe "
                f"v{prev_snap.get('checksum_ver')} (pre-multi-sink); this "
                f"code records v{CHECKSUM_VER} checksums, so resumed parts "
                "could not be integrity-compared against the committed "
                "manifest. Start a fresh output directory (or re-run the "
                "whole job into it)."
            )
    done = {s: completed_parts(spark, out_dir, s) for s in sinks}
    live_triples = _live_rows_in(out_dir, "triples")
    staged = pages.withColumn(
        "part_id", F.pmod(F.xxhash64("url"), F.lit(n_parts)).cast("int")
    )
    dict_state = build_dictionary_state(spark, alias_pdf)  # unit-invariant
    pipeline_kw = {"alias_pdf": alias_pdf, "dict_state": dict_state,
                   "weights_map": weights_map}
    commit_kw = {"n_parts": n_parts, "retain": retain}
    written: list[dict] = []

    def run_unit(pid: int) -> None:
        written.extend(_commit_unit(
            spark, out_dir, pid,
            staged.filter(F.col("part_id") == pid).drop("part_id"),
            per_unit, done, live_triples, pipeline_kw, commit_kw))

    pending = [
        pid for pid in range(n_parts)
        if any(pid not in done[s] for s in per_unit)
    ]
    if max_inflight is None:
        max_inflight = 1 if len(pending) < 3 else min(4, len(pending))
    if max_inflight <= 1 or fail_after is not None:
        # serial path (and the only one where fail_after is well-defined)
        for i, pid in enumerate(pending):
            if fail_after is not None and i >= fail_after:
                raise RuntimeError(f"injected failure before part {pid}")
            run_unit(pid)
    else:
        with ThreadPoolExecutor(max_workers=max_inflight) as pool:
            list(pool.map(run_unit, pending))  # re-raises the first failure
    if "entities" in sinks and 0 not in done["entities"]:
        # unit-invariant dimension: dict_state's canonical map ⋈ alias names
        from .pipeline import entities_table

        written.extend(commit_part(
            spark, out_dir, "entities", 0,
            entities_table(spark, alias_pdf, dict_state["canon_map"]),
            rows_in=len(alias_pdf), **commit_kw))
    return sorted(written, key=lambda r: (r["stage"], r["part_id"]))


# ---------------------------------------------------------------------------
# Iceberg-style snapshot metadata, the one commit log per table: every
# commit appends snapshot-N.json (the manifest list at that point: completed
# parts + rows + checksums + schema fingerprint) and flips the `current`
# pointer atomically (rename). Readers resolve the pointer and read exactly
# the files a committed snapshot covers — the shape a real catalog
# (Iceberg/Delta) would slot into behind the same module boundary.
# ---------------------------------------------------------------------------


def snapshot_tables(out_dir: str) -> list[str]:
    """Tables with a committed snapshot pointer in ``out_dir`` — the flat
    ``metadata/`` location is the triples table; each ``metadata/<name>/``
    subdirectory with a ``current`` pointer is another sink."""
    meta = os.path.join(out_dir, "metadata")
    out = []
    if os.path.exists(os.path.join(meta, "current")):
        out.append("triples")
    if os.path.isdir(meta):
        for d in sorted(os.listdir(meta)):
            if os.path.exists(os.path.join(meta, d, "current")):
                out.append(d)
    umeta = os.path.join(out_dir, "_snapshots")  # root-layout tables (stream)
    if os.path.isdir(umeta):
        for d in sorted(os.listdir(umeta)):
            if os.path.exists(os.path.join(umeta, d, "current")):
                out.append(d)
    return out


def _snapshot_dir(out_dir: str, table: str = "triples") -> str:
    """Per-table snapshot metadata. The triples (flagship) table keeps the
    historical flat ``metadata/`` location; every other sink namespaces
    under ``metadata/<table>/`` — except tables whose DATA lives at the
    out_dir root (the streaming sink): their metadata hides under
    ``_snapshots/<table>/``, because Spark's partition discovery over
    ``batch_id=*`` treats any non-underscore sibling directory as a
    conflicting partition root."""
    under = os.path.join(out_dir, "_snapshots", table)
    # route by layout — or by an existing _snapshots pointer, so every
    # table snapshot_tables() can discover also RESOLVES through here
    # (generic discovery + name-hardcoded routing would silently skip the
    # resume guards for any future root-layout table)
    if _TABLE_LAYOUT.get(table, (table,))[0] == "" \
            or os.path.exists(os.path.join(under, "current")):
        return under
    meta = os.path.join(out_dir, "metadata")
    return meta if table == "triples" else os.path.join(meta, table)


#: physical layout per table: (data subdir under out_dir, partition-dir
#: prefix). Batch sinks live at out_dir/<table>/part_id=N; the streaming
#: sink kept its historical layout (out_dir/batch_id=N, the partition key
#: IS the micro-batch id) when it joined the snapshot machinery in round 4.
_TABLE_LAYOUT: dict[str, tuple[str, str]] = {"stream_triples": ("", "batch_id")}


def _table_base(out_dir: str, table: str) -> tuple[str, str]:
    """(data base dir, partition-dir prefix) for a snapshotted table."""
    sub, prefix = _TABLE_LAYOUT.get(table, (table, "part_id"))
    return (os.path.join(out_dir, sub) if sub else out_dir), prefix


def write_snapshot(spark: SparkSession, out_dir: str, n_parts: int | None,
                   schema_json: str | None = None,
                   add_part: dict | None = None,
                   table: str = "triples",
                   retain: int | None = None,
                   add_parts: list[dict] | None = None) -> int:
    """Append snapshot-N.json + point `current` at it; returns N.

    The new snapshot is the previous one's entry list with ``add_part``
    (or several, ``add_parts``) added or replaced by part_id — O(1) per
    commit, whatever the number of parts already committed. Without them
    it re-commits the previous list unchanged (a new ``schema_json`` or
    ``n_parts`` still lands). Driver-only: no Spark job.

    Reading the previous snapshot, choosing N, writing the file and
    flipping the pointer run under an exclusive ``flock`` on a dot-file in
    the table's snapshot directory, so overlapped work units, concurrent
    updates and separate processes all append to one linear history, each
    snapshot's ``parent_id`` the one before it. A crash before the flip
    commits nothing: the pointer still names the previous snapshot.

    ``retain``: after committing, expire all but the newest ``retain``
    snapshot files (the new current is always kept) — without expiry, K
    commits each carrying the full manifest list cost O(K²) metadata
    bytes on disk at K ~ 10k."""
    import hashlib

    meta = _snapshot_dir(out_dir, table)
    os.makedirs(meta, exist_ok=True)
    with open(os.path.join(meta, ".commit.lock"), "a") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)  # released when the file closes
        prev = current_snapshot(out_dir, table=table)
        # next id = max EXISTING file + 1, not pointer + 1: after a crash
        # between writing snapshot-N.json and flipping `current` (pointer
        # still N-1), pointer+1 would REWRITE snapshot-N.json — snapshots are
        # immutable history (time-travel readers may pin N), so the file is
        # created exclusively
        existing = [
            int(f[len("snapshot-"):-len(".json")])
            for f in os.listdir(meta)
            if f.startswith("snapshot-") and f.endswith(".json")
        ]
        n = (max(existing) + 1) if existing else 0
        parts = {p["part_id"]: p for p in (prev["manifest"] if prev else [])}
        adds = [add_part] if add_part is not None else []
        parts.update((p["part_id"], p) for p in adds + (add_parts or []))
        parts = [parts[k] for k in sorted(parts)]
        if schema_json is None and prev is not None:
            schema_json = prev.get("schema_json")
        snap = {
            "snapshot_id": n,
            "table": table,
            # checksum recipe epoch: 2 = table_checksum hashes EVERY column
            # of the written part including part_id (the round-3 multi-sink
            # change). Snapshots written before the tag (or by pre-round-3
            # code) are not checksum-comparable; resume fails loud on them
            # instead of silently trusting incomparable digests.
            "checksum_ver": CHECKSUM_VER,
            "n_parts": n_parts,
            "parent_id": prev["snapshot_id"] if prev else None,
            "completed": [p["part_id"] for p in parts],
            "manifest": parts,
            "schema_json": schema_json,
            "schema_fingerprint": hashlib.sha256(
                (schema_json or "").encode()
            ).hexdigest()[:16],
        }
        with open(os.path.join(meta, f"snapshot-{n}.json"), "x") as f:
            json.dump(snap, f, indent=1, sort_keys=True)
        tmp = os.path.join(meta, "current.tmp")
        with open(tmp, "w") as f:
            f.write(str(n))
        os.replace(tmp, os.path.join(meta, "current"))
        if retain is not None:
            expire_snapshots(out_dir, table=table, keep_last=retain)
    return n


def expire_snapshots(out_dir: str, table: str = "triples",
                     keep_last: int = 10) -> list[int]:
    """Delete all but the newest ``keep_last`` snapshot files (the current
    pointer's target is always kept). Returns the expired ids.

    Each snapshot carries the full manifest list, so K unexpired commits
    cost O(K²) metadata bytes — Iceberg's expire_snapshots exists for the
    same reason. Time-travel reads older than the retained window fail
    loudly afterwards (current_snapshot → None), never silently re-read."""
    meta = _snapshot_dir(out_dir, table)
    if not os.path.isdir(meta):
        return []
    ids = sorted(
        int(f[len("snapshot-"):-len(".json")])
        for f in os.listdir(meta)
        if f.startswith("snapshot-") and f.endswith(".json")
    )
    keep = set(ids[-max(keep_last, 1):])
    ptr = os.path.join(meta, "current")
    if os.path.exists(ptr):
        with open(ptr) as f:
            keep.add(int(f.read().strip()))
    expired = [i for i in ids if i not in keep]
    for i in expired:
        os.remove(os.path.join(meta, f"snapshot-{i}.json"))
    return expired


def compact_table(spark: SparkSession, out_dir: str, table: str = "triples",
                  target_files: int = 1) -> dict[int, tuple[int, int]]:
    """Small-file compaction for a snapshotted sink: rewrite each committed
    part's many shuffle-task files as ``target_files`` coalesced files.

    At K ~ 10k work units each leaving shuffle_partitions-many small
    parquet files, scan planning and file-open overhead dominate reads —
    the standard lakehouse fix is an idempotent rewrite. Protocol per
    part: write the coalesced copy to ``_compact_tmp/<part>/`` (an
    underscore-prefixed sibling, so readers and ``<prefix>=*`` globs never
    see half-written or crash-orphaned copies — a bare ``<part>.compact.
    tmp`` at a root-layout table's data root would match the partition
    glob and double-read), verify its checksum equals the live part's,
    then swap. A crash between the swap's remove and rename leaves the
    tmp dir with the verified content; the next call restores it before
    compacting further. Checksums (and therefore the manifest and every
    snapshot) are invariant — compaction changes file layout, never
    content. Returns {part_id: (files_before, files_after)} for the parts
    rewritten. A part the snapshot records as NON-empty but whose
    directory is missing raises — silently skipping it would report a
    clean compaction over lost data."""
    snap = current_snapshot(out_dir, table=table)
    parts = snap["completed"] if snap else []
    rows_by_part = {
        p["part_id"]: p.get("rows", 1) for p in (snap or {}).get("manifest", [])
    }
    base, prefix = _table_base(out_dir, table)
    stats: dict[int, tuple[int, int]] = {}
    for pid in parts:
        part = os.path.join(base, f"{prefix}={pid}")
        tmp = os.path.join(base, "_compact_tmp", f"{prefix}={pid}")
        # migrate pre-round-4 crash orphans at the legacy sibling location
        # ('<part>.compact.tmp'): restore a missing part from a verified copy,
        # remove a stale pre-verify orphan (it matches '<prefix>=*' globs)
        legacy = part + ".compact.tmp"
        if os.path.isdir(legacy):
            if not os.path.isdir(part) and not os.path.isdir(tmp):
                os.rename(legacy, part)
            else:
                shutil.rmtree(legacy)
        if not os.path.isdir(part) and not os.path.isdir(tmp):
            if rows_by_part.get(pid, 1) > 0:
                raise FileNotFoundError(
                    f"{table} part {pid}: snapshot records "
                    f"{rows_by_part.get(pid)} rows but {part} is missing — "
                    "data loss, refusing to report a clean compaction"
                )
            continue  # zero-row part (e.g. an empty replayed micro-batch)
        if not os.path.isdir(part) and os.path.isdir(tmp):
            os.rename(tmp, part)  # finish the interrupted swap (content verified
            # before the interrupted swap began)
        elif os.path.isdir(tmp):
            shutil.rmtree(tmp)  # stale tmp from a pre-verify crash
        files = [f for f in os.listdir(part) if f.endswith(".parquet")]
        if len(files) <= target_files:
            continue
        live = read_parts(spark, part)
        before = table_checksum(live)
        live.coalesce(target_files).write.mode("overwrite").parquet(tmp)
        after = table_checksum(read_parts(spark, tmp))
        if after != before:
            shutil.rmtree(tmp)
            raise RuntimeError(
                f"compaction checksum mismatch for {table} part {pid}: "
                f"{before} != {after}; live part left untouched"
            )
        shutil.rmtree(part)
        os.rename(tmp, part)
        n_after = len(
            [f for f in os.listdir(part) if f.endswith(".parquet")]
        )
        stats[pid] = (len(files), n_after)
    return stats


def current_snapshot(out_dir: str, snapshot_id: int | None = None,
                     table: str = "triples") -> dict | None:
    """Resolve the `current` pointer (or a pinned id — time travel)."""
    meta = _snapshot_dir(out_dir, table)
    ptr = os.path.join(meta, "current")
    if snapshot_id is None:
        if not os.path.exists(ptr):
            return None
        with open(ptr) as f:
            snapshot_id = int(f.read().strip())
    path = os.path.join(meta, f"snapshot-{snapshot_id}.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def read_table(spark: SparkSession, out_dir: str, table: str,
               snapshot_id: int | None = None) -> DataFrame:
    """Read any snapshotted sink via its pointer (pin ``snapshot_id`` for
    time travel); falls back to a directory glob when no snapshot exists.
    The parts are read through :func:`read_parts`, so the read launches
    no schema-inference job. Zero-row parts are skipped — a replayed streaming micro-batch that
    converged to empty commits rows=0 with NO partition directory on disk
    (the replay removed the stale one), so its path must not reach the
    reader."""
    base, prefix = _table_base(out_dir, table)
    snap = current_snapshot(out_dir, snapshot_id, table=table)
    if snap is None and snapshot_id is not None:
        # an explicitly pinned snapshot that no longer resolves must fail
        # loud: the directory-glob fallback below would silently read a
        # DIFFERENT table state — after a copy-on-write rewrite it would
        # even double-read superseded part directories kept for time travel
        raise FileNotFoundError(
            f"{table} snapshot {snapshot_id} not found under {out_dir} "
            "(expired or never written); time travel past the retention "
            "window is unreadable by design"
        )
    if snap is not None:
        if snap.get("manifest"):
            parts = [p["part_id"] for p in snap["manifest"]
                     if p.get("rows", 1) > 0]
        else:
            parts = snap["completed"]
        paths = [os.path.join(base, f"{prefix}={p}") for p in parts]
        if not paths:
            # nothing readable on disk (e.g. every micro-batch replayed to
            # empty) — the snapshot's recorded schema builds the typed
            # empty frame; a parquet read of the bare base dir would fail
            # schema inference for root-layout tables
            if snap.get("schema_json"):
                return local_frame(spark, [], StructType.fromJson(
                    json.loads(snap["schema_json"])))
            return spark.read.option("basePath", base).parquet(base).limit(0)
        return read_parts(spark, *paths, base=base)
    return spark.read.option("basePath", base).parquet(
        os.path.join(base, f"{prefix}=*")
    )


def read_triples(spark: SparkSession, out_dir: str,
                 snapshot_id: int | None = None) -> DataFrame:
    return read_table(spark, out_dir, "triples", snapshot_id)


def read_edges(spark: SparkSession, out_dir: str,
               snapshot_id: int | None = None) -> DataFrame:
    """Global edge graph from the per-unit ``edges`` sink.

    The sink stores each work unit's PARTIAL aggregation (resume-friendly,
    idempotent per part — an edge whose supporting triples span units
    appears once per unit with a partial weight), so total weights require
    this re-aggregation on read. Reading ``out_dir/edges`` directly gives
    partials; use this helper for the graph the pre-multi-sink tool used
    to materialize."""
    e = read_table(spark, out_dir, "edges", snapshot_id)
    return e.groupBy("src", "dst", "rel").agg(F.sum("weight").alias("weight"))


def gc_orphan_parts(spark: SparkSession, out_dir: str,
                    table: str = "triples") -> list[int]:
    """Delete part directories no retained snapshot references — Iceberg's
    ``remove_orphan_files`` for this facade.

    Copy-on-write rewrites (:func:`~char_ner_spark.incremental.
    apply_dictionary_update`) leave each superseded part directory on disk
    because older snapshots still reference it for time travel; once those
    snapshots expire (:func:`expire_snapshots`), the directory is
    unreachable through any pointer and only wastes scan-planning time and
    storage. A part is LIVE (never collected) if any retained snapshot
    file lists it with rows > 0. The snapshots are the only commit record,
    so a part whose commit crashed before its snapshot landed is an orphan
    too (its unit re-runs on resume) — and so is a part a concurrent writer
    has written but not yet committed: do not collect a table while it is
    being written. Returns the part ids removed."""
    meta = _snapshot_dir(out_dir, table)
    if not os.path.isdir(meta):
        return []
    live: set[int] = set()
    for f in os.listdir(meta):
        if not (f.startswith("snapshot-") and f.endswith(".json")):
            continue
        with open(os.path.join(meta, f)) as fh:
            snap = json.load(fh)
        if snap.get("manifest"):
            live |= {p["part_id"] for p in snap["manifest"]
                     if p.get("rows", 1) > 0}
        else:
            live |= set(snap.get("completed", []))
    base, prefix = _table_base(out_dir, table)
    if not os.path.isdir(base):
        return []
    removed: list[int] = []
    for d in sorted(os.listdir(base)):
        if not d.startswith(f"{prefix}="):
            continue
        try:
            pid = int(d[len(prefix) + 1:])
        except ValueError:
            continue
        if pid not in live:
            shutil.rmtree(os.path.join(base, d))
            removed.append(pid)
    return removed


#: ingested corpus slices take part ids from here: disjoint from the
#: original unit range [0, n_parts) and from the COW rewrite ranges, and
#: deterministic per (ingest_id, unit) so a crashed ingest RESUMES instead
#: of duplicating (pid = base + ingest_id * stride + unit)
INGEST_PID_BASE = 1 << 20
INGEST_PID_STRIDE = 1 << 10
#: highest permitted ingest_id: every ingest pid must stay below the
#: batch copy-on-write rewrite range (incremental._BATCH_REWRITE_PID_BASE
#: = 1 << 28) — a pid that crossed into it could collide with a rewrite
INGEST_MAX_ID = ((1 << 28) - INGEST_PID_BASE) // INGEST_PID_STRIDE - 1


def ingest_pages(
    spark: SparkSession,
    pages: DataFrame,
    alias_pdf: pd.DataFrame,
    out_dir: str,
    ingest_id: int,
    n_units: int = 1,
    weights_map: dict | None = None,
    fail_after: int | None = None,
    retain: int | None = None,
) -> list[dict]:
    """Append a NEW corpus slice to an existing batch output — the batch
    layout's corpus-delta path (the streaming sink covers continuous
    ingest; this covers 'a new crawl slice arrived for an out_dir built
    by run_partitioned').

    Contract: the slice's urls are disjoint from everything already in
    ``out_dir`` (same invariant the original unit partitioning guarantees
    between units — a repeated url would duplicate its triples; dedupe
    upstream). Part ids are allocated DETERMINISTICALLY as
    ``INGEST_PID_BASE + ingest_id * INGEST_PID_STRIDE + unit``, so:

    * they never collide with the original units, another ingest_id, or
      the COW-rewrite ranges;
    * re-running the same (ingest_id, pages) after a crash resumes —
      committed units are found in the current snapshots and skipped, as in
      run_partitioned (``fail_after`` injects a crash for tests);
    * the resume guard is untouched: snapshots keep the ORIGINAL n_parts,
      and a later run_partitioned over the original pages is still a
      no-op.

    Sinks follow what the out_dir already materializes (triples and, when
    present, edges/mentions); the unit-invariant entities dimension is
    dictionary-side and unchanged by a corpus delta. Returns the commit
    rows written."""
    from .pipeline import build_dictionary_state

    if not (0 <= ingest_id <= INGEST_MAX_ID) or not (
            1 <= n_units <= INGEST_PID_STRIDE):
        raise ValueError(
            f"0 <= ingest_id <= {INGEST_MAX_ID} and 1 <= n_units <= "
            f"{INGEST_PID_STRIDE} required (ids above the bound would "
            "collide with the copy-on-write rewrite range)")
    present = [t for t in snapshot_tables(out_dir)
               if t in ("triples", "edges", "mentions")]
    if not present:
        raise ValueError(
            f"{out_dir} has no batch sinks to ingest into (found "
            f"{snapshot_tables(out_dir)}); run run_partitioned first")
    snaps = {t: current_snapshot(out_dir, table=t) for t in present}
    n_parts_orig = next(
        (s.get("n_parts") for s in snaps.values() if s is not None), None)
    for t, s in snaps.items():
        if s is not None and s.get("checksum_ver") != CHECKSUM_VER:
            raise ValueError(
                f"{out_dir} ({t}) carries checksum recipe "
                f"v{s.get('checksum_ver')}; cannot append comparable parts")
    done = {t: completed_parts(spark, out_dir, t) for t in present}
    live_triples = _live_rows_in(out_dir, "triples")
    base_pid = INGEST_PID_BASE + ingest_id * INGEST_PID_STRIDE
    staged = pages.withColumn(
        "unit", F.pmod(F.xxhash64("url"), F.lit(n_units)).cast("int"))
    pipeline_kw = {"alias_pdf": alias_pdf,
                   "dict_state": build_dictionary_state(spark, alias_pdf),
                   "weights_map": weights_map}
    commit_kw = {"n_parts": n_parts_orig, "retain": retain}
    written: list[dict] = []
    pending = [
        u for u in range(n_units)
        if any(base_pid + u not in done[t] for t in present)
    ]
    for i, u in enumerate(pending):
        if fail_after is not None and i >= fail_after:
            raise RuntimeError(f"injected failure before ingest unit {u}")
        written += _commit_unit(
            spark, out_dir, base_pid + u,
            staged.filter(F.col("unit") == u).drop("unit"),
            present, done, live_triples, pipeline_kw, commit_kw)
    return sorted(written, key=lambda r: (r["stage"], r["part_id"]))
