"""Incremental dictionary updates + copy-on-write recanonicalization.

The KG-maintenance problem at 10^12-document scale (SURVEY §2.9 M7 /
north_rule "canonicalize entities with connected-components clustering"):
the alias dictionary is not static — new aliases and new entities arrive
after the corpus has been processed. Re-running global CC over the whole
dictionary and rewriting every materialized triple is O(corpus) work for
an O(delta) change. This module makes both steps proportional to the
delta:

* :func:`incremental_canon` — CC over the CONTRACTED graph only. Every
  old component collapses to its canonical id (one node), so the graph
  the update runs on is O(|delta| + touched components), independent of
  dictionary size. Because the canonical id is defined as the MIN entity
  id of a component (a history-independent function of the merged alias
  set), the incremental result provably equals a full recompute — and the
  tests assert exactly that, against both the driver union-find oracle
  and the distributed CC path.

* :func:`recanonicalize_triples` / :func:`apply_dictionary_update` —
  remap already-materialized triples through the (old → new) canonical-id
  delta. The snapshot-level apply is copy-on-write in the Iceberg sense:
  only parts that contain a remapped id are rewritten, each into a NEW
  part directory; the committed snapshot history still references the old
  directories, so time-travel reads are unaffected and
  :func:`~char_ner_spark.lineage.gc_orphan_parts` reclaims the old copies
  only after every snapshot referencing them has expired.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import lineage
from .linking import normalize_surface
from .session import local_frame

#: the canonical-id delta every remap frame carries
REMAP_DDL = "old_canonical_id long, new_canonical_id long"

#: copy-on-write rewrites of the streaming sink take part ids from here up
#: — disjoint from any id the streaming checkpoint will ever assign, so a
#: resumed stream can't dynamic-overwrite a rewritten part
_STREAM_REWRITE_PID_BASE = 1 << 30

#: batch-sink rewrites take ids from here up — above every original unit
#: AND every ingest range (lineage.ingest_pages bounds ingest ids below
#: this). Allocating max(manifest)+1 instead could creep into a FUTURE
#: ingest_id's deterministic range, and that ingest would then find its
#: pid already manifested and silently skip the unit
_BATCH_REWRITE_PID_BASE = 1 << 28

#: above this many delta rows the contracted CC runs distributed (same
#: dispatch rule as build_dictionary_state — the contracted graph is tiny
#: relative to the dictionary, so the driver path covers even large
#: dictionaries as long as the DELTA is broadcast-sized)
CC_DISTRIBUTED_THRESHOLD = 1_000_000


def _normed_pairs(alias_pdf: pd.DataFrame) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "alias_norm": alias_pdf["alias"].map(normalize_surface),
            "entity_id": alias_pdf["entity_id"].astype("int64"),
        }
    ).drop_duplicates()


def incremental_canon(
    spark: SparkSession,
    old_canon: DataFrame,
    old_alias_pdf: pd.DataFrame,
    new_alias_pdf: pd.DataFrame,
    cc_distributed_threshold: int = CC_DISTRIBUTED_THRESHOLD,
) -> tuple[DataFrame, DataFrame]:
    """Update the canonical map for a dictionary delta.

    Returns ``(new_canon, remap)``:

    * ``new_canon`` — (entity_id, canonical_id) covering the UNION
      dictionary, equal to ``canonical_map(old ∪ delta)`` recomputed from
      scratch (min-entity-id representative is history-independent, so
      incremental ≡ full; test-enforced).
    * ``remap`` — (old_canonical_id, new_canonical_id), non-identity rows
      only: the contracted nodes whose component gained a smaller member.
      This is the delta :func:`recanonicalize_triples` needs — broadcast-
      sized by construction (bounded by touched components, not by the
      dictionary or the corpus).

    Semantics of "stable": an entity's canonical id changes only when its
    component merges with one containing a smaller entity id (or a new
    smaller-id entity joins it). Anything the delta doesn't touch keeps
    its id — the contraction never even enumerates those components.

    The contracted graph: for each normalized alias present in the delta,
    its node set is {canonical id of the old alias group, if the alias
    already existed} ∪ {contract(m) for each delta member m}, where
    contract(m) = old canonical id when m is a known entity, else m
    itself. All old members of one alias group share one canonical id
    already, so ONE representative node per touched alias is sufficient —
    that is what keeps the update O(delta).
    """
    if len(new_alias_pdf) == 0:
        return old_canon, local_frame(spark, [], REMAP_DDL)
    if len(new_alias_pdf) <= cc_distributed_threshold:
        return _incremental_canon_driver(spark, old_canon, old_alias_pdf,
                                         new_alias_pdf)
    return _incremental_canon_distributed(spark, old_canon, old_alias_pdf,
                                          new_alias_pdf)


def _incremental_canon_pure(
    old_map: dict[int, int],
    old_alias_pdf: pd.DataFrame,
    new_alias_pdf: pd.DataFrame,
) -> tuple[dict[int, int], list[tuple[int, int]]]:
    """The contraction + union-find core, Spark-free (so the property test
    can fuzz it against linking.union_find_canonical at hundreds of random
    dictionary/delta splits). Returns (new entity→canonical map, sorted
    non-identity (old_canonical, new_canonical) remap rows)."""
    new_pairs = _normed_pairs(new_alias_pdf)
    touched = set(new_pairs["alias_norm"])
    old_pairs = _normed_pairs(old_alias_pdf)
    old_touched = old_pairs[old_pairs["alias_norm"].isin(touched)]

    # contracted union-find, same min-id rule as linking.union_find_canonical
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a: int, b: int) -> None:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    group_rep: dict[str, int] = {}
    for norm, eid in zip(old_touched["alias_norm"], old_touched["entity_id"]):
        node = old_map[int(eid)]
        if norm in group_rep:
            union(node, group_rep[norm])
        else:
            group_rep[norm] = node
        parent.setdefault(node, node)
    new_nodes: dict[int, int] = {}  # entity_id -> contracted node
    for norm, eid in zip(new_pairs["alias_norm"], new_pairs["entity_id"]):
        node = old_map.get(int(eid), int(eid))
        new_nodes[int(eid)] = node
        if norm in group_rep:
            union(node, group_rep[norm])
        else:
            group_rep[norm] = node
        parent.setdefault(node, node)
    comp_min: dict[int, int] = {}
    for node in list(parent):
        r = find(node)
        comp_min[r] = min(comp_min.get(r, node), node)
    label = {node: comp_min[find(node)] for node in parent}

    remap_rows = sorted(
        (node, lab) for node, lab in label.items() if lab != node
    )
    new_map = {eid: label.get(c, c) for eid, c in old_map.items()}
    for eid, node in new_nodes.items():
        if eid not in new_map:
            new_map[eid] = label.get(node, node)
    return new_map, remap_rows


def _incremental_canon_driver(
    spark: SparkSession,
    old_canon: DataFrame,
    old_alias_pdf: pd.DataFrame,
    new_alias_pdf: pd.DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """Driver union-find over the contracted graph (delta is broadcast-
    sized by contract — the dictionary itself already is, north_rule).
    The old canonical map is collected once: dictionary-scale, the same
    budget alias_spark_tables spends building the broadcast join table."""
    canon_pdf = old_canon.toPandas()
    old_map = dict(
        zip(canon_pdf["entity_id"].astype("int64"),
            canon_pdf["canonical_id"].astype("int64"))
    )
    new_map, remap_rows = _incremental_canon_pure(old_map, old_alias_pdf,
                                                  new_alias_pdf)
    remap = local_frame(spark, remap_rows, REMAP_DDL)
    items = sorted(new_map.items())
    new_canon = spark.createDataFrame(
        pd.DataFrame({"entity_id": [k for k, _ in items],
                      "canonical_id": [v for _, v in items]}),
        schema="entity_id long, canonical_id long",
    )
    return new_canon, remap


def _incremental_canon_distributed(
    spark: SparkSession,
    old_canon: DataFrame,
    old_alias_pdf: pd.DataFrame,
    new_alias_pdf: pd.DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """Same contraction, as DataFrame ops + the iterative Spark CC — the
    path for deltas past broadcast size. Parity-tested against the driver
    path (threshold=0 in tests forces this branch)."""
    from .pipeline import _norm_col, connected_components

    old_df = spark.createDataFrame(
        old_alias_pdf[["entity_id", "alias"]]
    ).select(_norm_col(F.col("alias")).alias("alias_norm"),
             F.col("entity_id").cast("long").alias("entity_id")).distinct()
    new_df = spark.createDataFrame(
        new_alias_pdf[["entity_id", "alias"]]
    ).select(_norm_col(F.col("alias")).alias("alias_norm"),
             F.col("entity_id").cast("long").alias("entity_id")).distinct()
    touched = new_df.select("alias_norm").distinct()
    # one representative node per touched OLD alias group: every old member
    # shares one canonical id, min() is just a deterministic pick
    old_rep = (
        old_df.join(touched, "alias_norm")
        .join(old_canon, "entity_id")
        .groupBy("alias_norm")
        .agg(F.min("canonical_id").alias("node"))
    )
    new_nodes = (
        new_df.join(old_canon, "entity_id", "left")
        .select("alias_norm",
                F.coalesce("canonical_id", "entity_id").alias("node"))
    )
    by_norm = new_nodes.union(old_rep.select("alias_norm", "node")).distinct()
    # contracted star edges per alias group (same shape as alias_edges)
    mins = by_norm.groupBy("alias_norm").agg(
        F.min("node").alias("src"), F.count("*").alias("n")
    )
    edges = (
        by_norm.join(mins.filter("n > 1"), "alias_norm")
        .filter(F.col("node") != F.col("src"))
        .select("src", F.col("node").alias("dst"))
        .distinct()
    )
    verts = by_norm.select(F.col("node").alias("id")).distinct()
    cc = connected_components(verts, edges)  # (entity_id=node, canonical_id)
    remap = (
        cc.filter(F.col("entity_id") != F.col("canonical_id"))
        .select(F.col("entity_id").alias("old_canonical_id"),
                F.col("canonical_id").alias("new_canonical_id"))
        .localCheckpoint()
    )
    relabeled = (
        old_canon.join(
            remap, old_canon.canonical_id == remap.old_canonical_id, "left"
        )
        .select("entity_id",
                F.coalesce("new_canonical_id", "canonical_id").alias(
                    "canonical_id"))
    )
    brand_new = (
        new_df.select("entity_id").distinct()
        .join(old_canon.select("entity_id"), "entity_id", "left_anti")
        .join(remap, F.col("entity_id") == remap.old_canonical_id, "left")
        .select("entity_id",
                F.coalesce("new_canonical_id", "entity_id").alias(
                    "canonical_id"))
    )
    return relabeled.union(brand_new), remap


def update_dictionary_state(
    spark: SparkSession,
    dict_state: dict[str, DataFrame],
    old_alias_pdf: pd.DataFrame,
    new_alias_pdf: pd.DataFrame,
    cc_distributed_threshold: int = CC_DISTRIBUTED_THRESHOLD,
) -> tuple[dict[str, DataFrame], DataFrame]:
    """Dictionary-delta refresh of the unit-invariant pipeline state.

    Returns ``(new_state, remap)`` where ``new_state`` is a drop-in for
    :func:`~char_ner_spark.pipeline.run_pipeline`'s ``dict_state``:

    * ``bands`` — the banded MinHash join table gains ONLY the delta's
      rows (band signatures are per-alias, so the old table is reusable
      verbatim; dedup handles re-sent alias rows).
    * ``canon`` — :func:`incremental_canon` over the contracted graph.
    """
    from .pipeline import alias_spark_tables

    new_canon, remap = incremental_canon(
        spark, dict_state["canon"], old_alias_pdf, new_alias_pdf,
        cc_distributed_threshold=cc_distributed_threshold,
    )
    delta_bands = alias_spark_tables(spark, new_alias_pdf)["bands"]
    # all-column dedup: identical to rebuilding the table from the union
    # dictionary (re-sent identical rows collapse; genuinely conflicting
    # rows — same alias, different prior — survive in both, as a full
    # rebuild would keep them)
    bands = dict_state["bands"].unionByName(delta_bands).dropDuplicates()
    return {"bands": bands, "canon": new_canon}, remap


# ---------------------------------------------------------------------------
# applying a canonical-id delta to already-materialized outputs
# ---------------------------------------------------------------------------


def recanonicalize_triples(triples: DataFrame, remap: DataFrame) -> DataFrame:
    """Remap subj/obj through the canonical-id delta; re-distinct.

    Equivalent to re-running extract_triples under the new canonical map
    (test-enforced): the underlying linked pairs and confidences don't
    change when the dictionary grows, only the id mapping does — and two
    formerly-distinct triples may collapse once their subjects merge,
    hence the trailing distinct. The remap is broadcast (bounded by
    touched components, not the corpus)."""
    r = F.broadcast(remap)
    sub = r.withColumnRenamed("old_canonical_id", "subj").withColumnRenamed(
        "new_canonical_id", "subj_new")
    obj = r.withColumnRenamed("old_canonical_id", "obj").withColumnRenamed(
        "new_canonical_id", "obj_new")
    cols = triples.columns
    out = (
        triples.join(sub, "subj", "left")
        .join(obj, "obj", "left")
        .withColumn("subj", F.coalesce("subj_new", "subj"))
        .withColumn("obj", F.coalesce("obj_new", "obj"))
        .select(*cols)
        .distinct()
    )
    return out


def _parts_min_max(base: str, prefix: str, pids: list[int],
                   columns: tuple[str, ...]) -> dict[int, dict[str, tuple]]:
    """Per-part (min, max) over ``columns`` from parquet FOOTER statistics —
    no data IO, no Spark job. The Iceberg-style pruning input: a part whose
    id ranges can't contain any remapped id is skipped without ever being
    scanned. Parts with missing stats get no entry (treated as candidates
    — pruning must stay conservative)."""
    import pyarrow.parquet as pq

    out: dict[int, dict[str, tuple]] = {}
    for pid in pids:
        part_dir = f"{base}/{prefix}={pid}"
        if not os.path.isdir(part_dir):
            continue
        agg: dict[str, tuple] = {}
        ok = True
        for fname in os.listdir(part_dir):
            if not fname.endswith(".parquet"):
                continue
            meta = pq.read_metadata(os.path.join(part_dir, fname))
            names = {meta.schema.column(i).name: i
                     for i in range(meta.num_columns)}
            for col in columns:
                ci = names.get(col)
                if ci is None:
                    ok = False
                    break
                for rg in range(meta.num_row_groups):
                    st = meta.row_group(rg).column(ci).statistics
                    if st is None or not st.has_min_max:
                        ok = False
                        break
                    lo, hi = st.min, st.max
                    cur = agg.get(col)
                    agg[col] = (lo, hi) if cur is None else (
                        min(cur[0], lo), max(cur[1], hi))
                if not ok:
                    break
            if not ok:
                break
        if ok and len(agg) == len(columns):
            out[pid] = agg
    return out


def _prune_parts_by_stats(base: str, prefix: str, pids: list[int],
                          columns: tuple[str, ...],
                          keys: set[int]) -> list[int]:
    """Parts that COULD contain one of ``keys`` in any of ``columns`` per
    footer min/max — a conservative superset of the truly affected parts
    (the exact semi-join then runs over only these)."""
    stats = _parts_min_max(base, prefix, pids, columns)
    keep: list[int] = []
    for pid in pids:
        st = stats.get(pid)
        if st is None:
            keep.append(pid)  # no stats → cannot prune
            continue
        if any(any(st[c][0] <= k <= st[c][1] for k in keys)
               for c in columns):
            keep.append(pid)
    return keep


def relink_parts(
    spark: SparkSession,
    out_dir: str,
    dict_state: dict[str, DataFrame],
    alias_pdf: pd.DataFrame,
    canon_ids: set[int],
    retain: int | None = None,
) -> dict[str, dict]:
    """Re-derive triples (and edges) for the parts whose stored triples
    reference any of ``canon_ids`` — from the MENTIONS sink, skipping the
    tagger entirely (the expensive stage; mentions carry the adjacency the
    triple stage needs).

    This is the repair path a dictionary REMOVAL requires: a removed
    alias row can change link winners (and split components), which a
    canonical-id remap cannot express — the stored triple has lost which
    entity its mention actually matched. Re-linking the affected parts'
    mentions against the reduced dictionary recomputes exactly what a
    from-scratch run would produce (test-enforced), while untouched parts
    are never read (footer-stats pruning + semi-join, same as
    :func:`apply_dictionary_update`). Commits are copy-on-write with the
    same tombstone protocol and one snapshot per table, so time travel and
    crashes behave identically. Pass ``canon_ids`` from
    :func:`~char_ner_spark.removal.stale_canonical_ids` (∪ the split
    piece ids, conservatively).

    Requires the ``mentions`` and ``triples`` sinks. The unit-invariant
    entities dimension is refreshed from ``alias_pdf`` + the new canon
    when the sink exists.
    """
    from .pipeline import (edges_from_triples, entities_table,
                           extract_triples, link_pairs, middles_table)

    tables = lineage.snapshot_tables(out_dir)
    for need in ("mentions", "triples"):
        if need not in tables:
            raise ValueError(
                f"relink_parts needs the '{need}' sink in {out_dir} "
                f"(found {tables}); re-run with sinks including it"
            )
    if not canon_ids:
        return {}
    snap = lineage.current_snapshot(out_dir, table="triples")
    manifest = [p for p in snap.get("manifest", []) if p.get("rows", 1) > 0]
    if not manifest:
        return {}
    base, prefix = lineage._table_base(out_dir, "triples")
    pids = sorted(p["part_id"] for p in manifest)
    candidates = _prune_parts_by_stats(base, prefix, pids, ("subj", "obj"),
                                       set(canon_ids))
    affected: list[int] = []
    if candidates:
        live = lineage.read_parts(
            spark, *[f"{base}/{prefix}={p}" for p in candidates], base=base)
        ids_df = F.broadcast(spark.createDataFrame(
            pd.DataFrame({"cid": sorted(canon_ids)}), schema="cid long"))
        affected = sorted(
            r[prefix]
            for r in live.join(ids_df, (live.subj == F.col("cid"))
                               | (live.obj == F.col("cid")), "leftsemi")
            .select(prefix).distinct().collect()
        )
    stats: dict[str, dict] = {}
    if affected:
        next_pid = max(max(p["part_id"] for p in snap["manifest"]) + 1,
                       _BATCH_REWRITE_PID_BASE)
        middles = middles_table(spark)
        mbase, _ = lineage._table_base(out_dir, "mentions")
        written = {"triples": [], "edges": []}
        entries = {"triples": [], "edges": []}
        for old_pid in affected:
            mdir = f"{mbase}/{prefix}={old_pid}"
            if not os.path.isdir(mdir):
                raise FileNotFoundError(
                    f"mentions part {old_pid} missing at {mdir}; cannot "
                    "re-link its triples"
                )
            mentions = lineage.read_parts(spark, mdir).drop("part_id")
            linked = link_pairs(mentions,
                                {"bands": dict_state["bands"]},
                                alias_pdf=alias_pdf)
            new_triples = extract_triples(linked, dict_state["canon"],
                                          middles)
            entries["triples"] += map(
                lineage._snapshot_entry, lineage.commit_part(
                    spark, out_dir, "triples", next_pid, new_triples,
                    supersedes=[old_pid], snapshot=False))
            written["triples"].append((old_pid, next_pid))
            if "edges" in tables:
                entries["edges"] += map(
                    lineage._snapshot_entry, lineage.commit_part(
                        spark, out_dir, "edges", next_pid,
                        edges_from_triples(lineage.committed_triples(
                            spark, out_dir, next_pid)),
                        supersedes=[old_pid], snapshot=False))
                written["edges"].append((old_pid, next_pid))
            next_pid += 1
        for t, w in written.items():
            if w:
                n = lineage.write_snapshot(spark, out_dir,
                                           snap.get("n_parts"), table=t,
                                           add_parts=entries[t],
                                           retain=retain)
                stats[t] = {"rewritten": w, "snapshot_id": n}
    if "entities" in tables:
        esnap = lineage.current_snapshot(out_dir, table="entities")
        old_pids = sorted(p["part_id"] for p in esnap.get("manifest", [])
                          if p.get("rows", 1) > 0)
        if old_pids:
            epid = max(max(p["part_id"] for p in esnap["manifest"]) + 1,
                       _BATCH_REWRITE_PID_BASE)
            ents = lineage.commit_part(
                spark, out_dir, "entities", epid,
                entities_table(spark, alias_pdf, dict_state["canon"]),
                supersedes=old_pids, snapshot=False)
            n = lineage.write_snapshot(
                spark, out_dir, esnap.get("n_parts"), table="entities",
                add_parts=[*map(lineage._snapshot_entry, ents)],
                retain=retain)
            stats["entities"] = {"rewritten": [(p, epid) for p in old_pids],
                                 "snapshot_id": n}
    return stats


def apply_dictionary_update(
    spark: SparkSession,
    out_dir: str,
    remap: DataFrame,
    alias_pdf: pd.DataFrame | None = None,
    canon: DataFrame | None = None,
    retain: int | None = None,
) -> dict[str, dict]:
    """Copy-on-write apply of a canonical-id delta to the materialized
    sinks under ``out_dir``.

    Per snapshotted table, only the parts that CONTAIN a remapped id are
    rewritten — each into a fresh ``part_id=<new>`` directory, never in
    place. The new snapshot's manifest points at the new directories plus
    every untouched old one; previously committed snapshots keep
    referencing the old directories, so pinned time-travel reads see
    exactly the pre-update table. Superseded parts are tombstoned in the
    new snapshot (rows=0 — readers already skip zero-row parts). Each
    table's rewrite commits as one snapshot, so a crash mid-table publishes
    nothing for that table, and a re-run redoes it from the unchanged
    snapshot. Old directories become orphans once the snapshots
    referencing them expire; reclaim with
    :func:`~char_ner_spark.lineage.gc_orphan_parts`.

    * ``triples`` / ``stream_triples`` — :func:`recanonicalize_triples`
      per part. Part-local distinct is globally correct: work units
      partition pages by url (and the streaming file source delivers each
      pages file to exactly one micro-batch), so a (url, sent_idx)
      collision never spans parts. Stream rewrites take part ids from a
      range disjoint from the streaming checkpoint's batch-id sequence.
    * ``edges`` — re-DERIVED from the rewritten triples part (remapping
      edge weights directly would double-count triples that collapse
      under the merge, because partial weights lose the per-triple key).
      Requires the triples sink; raises if ``out_dir`` has edges but no
      triples.
    * ``entities`` — canonical_id remap; pass ``alias_pdf`` + ``canon``
      to refresh the dimension with the delta's new entities too.

    Returns ``{table: {"rewritten": [(old_pid, new_pid), ...],
    "snapshot_id": N}}``.
    """
    from .pipeline import edges_from_triples, entities_table

    tables = lineage.snapshot_tables(out_dir)
    if "edges" in tables and "triples" not in tables:
        raise ValueError(
            "edges sink cannot be recanonicalized without the triples sink: "
            "merged edge weights need per-triple dedup, which partial edge "
            "weights do not carry"
        )
    # the remap to the driver in ONE action: bounded by touched components
    # (the same broadcast-sized contract the per-part joins rely on). Its
    # keys drive the footer-stats pruning below, and the per-part joins
    # read it back as a local relation instead of recomputing the CC
    remap_pdf = remap.toPandas()
    if len(remap_pdf) == 0 and alias_pdf is None:
        return {}
    remap = local_frame(spark, remap_pdf, REMAP_DDL)
    remap_keys = {int(k) for k in remap_pdf["old_canonical_id"]}
    stats: dict[str, dict] = {}
    rewritten_triples: dict[int, int] = {}  # old part → its rewrite

    for table in tables:
        if table not in ("triples", "stream_triples", "edges", "entities"):
            continue  # the mentions sink carries no canonical ids
        snap = lineage.current_snapshot(out_dir, table=table)
        manifest = [p for p in snap.get("manifest", []) if p.get("rows", 1) > 0]
        if not manifest:
            continue
        next_pid = max(p["part_id"] for p in snap["manifest"]) + 1
        if table == "stream_triples":
            # micro-batch ids are an open-ended sequence owned by the
            # streaming checkpoint: a resumed stream would claim max+1 next
            # and dynamic-overwrite the rewritten part. Rewrites live in a
            # disjoint id range instead (still int32 — batch_id partition
            # values are inferred as int)
            next_pid = max(next_pid, _STREAM_REWRITE_PID_BASE)
        else:
            # keep clear of every deterministic ingest range (see constant)
            next_pid = max(next_pid, _BATCH_REWRITE_PID_BASE)
        base, prefix = lineage._table_base(out_dir, table)
        written: list[tuple[int, int]] = []
        entries: list[dict] = []
        if table == "entities" and alias_pdf is not None and canon is not None:
            # full dimension refresh (new entities entered the dictionary):
            # ONE new part supersedes every old one — the dimension is
            # unit-invariant, run_partitioned writes it as a single part
            old_pids = sorted(p["part_id"] for p in manifest)
            entries += map(lineage._snapshot_entry, lineage.commit_part(
                spark, out_dir, "entities", next_pid,
                entities_table(spark, alias_pdf, canon),
                supersedes=old_pids, snapshot=False))
            written = [(p, next_pid) for p in old_pids]
        else:
            key_cols = {"triples": ("subj", "obj"),
                        "stream_triples": ("subj", "obj"),
                        "edges": ("src", "dst"),
                        "entities": ("canonical_id",)}[table]
            # Iceberg-style two-phase pruning: footer min/max stats drop
            # every part whose id ranges can't contain a remapped id (no
            # data IO), then the exact semi-join scans only the surviving
            # candidates — O(metadata) + O(candidate parts), never a full
            # table scan to locate the delta
            pids = sorted(p["part_id"] for p in manifest)
            candidates = _prune_parts_by_stats(base, prefix, pids, key_cols,
                                               remap_keys)
            if not candidates:
                continue
            live = lineage.read_parts(
                spark, *[f"{base}/{prefix}={p}" for p in candidates],
                base=base)
            if table == "edges":
                cond = ((live.src == remap.old_canonical_id)
                        | (live.dst == remap.old_canonical_id))
            elif table == "entities":
                cond = live.canonical_id == remap.old_canonical_id
            else:
                cond = ((live.subj == remap.old_canonical_id)
                        | (live.obj == remap.old_canonical_id))
            affected = sorted(
                r[prefix]
                for r in live.join(F.broadcast(remap), cond, "leftsemi")
                .select(prefix).distinct().collect()
            )
            for old_pid in affected:
                part_df = lineage.read_parts(
                    spark, f"{base}/{prefix}={old_pid}").drop("part_id")
                if table == "stream_triples":
                    # per-part distinct is globally safe for the stream too:
                    # the file source delivers each pages file to exactly one
                    # micro-batch, so a url never spans batch partitions
                    new_df = recanonicalize_triples(part_df, remap)
                elif table == "triples":
                    new_df = recanonicalize_triples(part_df, remap)
                    rewritten_triples[old_pid] = next_pid
                elif table == "edges":
                    if old_pid not in rewritten_triples:
                        # edges derive from triples, so a remap that hits an
                        # edges part must have hit the matching triples part
                        # — anything else means the sinks diverged; fail loud
                        raise RuntimeError(
                            f"edges part {old_pid} affected but the triples "
                            "part was not rewritten; sinks are out of sync"
                        )
                    new_df = edges_from_triples(lineage.committed_triples(
                        spark, out_dir, rewritten_triples[old_pid]))
                else:
                    new_df = (
                        part_df.join(
                            F.broadcast(remap),
                            part_df.canonical_id == remap.old_canonical_id,
                            "left")
                        .withColumn("canonical_id",
                                    F.coalesce("new_canonical_id",
                                               "canonical_id"))
                        .select(*part_df.columns)
                    )
                entries += map(lineage._snapshot_entry, lineage.commit_part(
                    spark, out_dir, table, next_pid, new_df,
                    supersedes=[old_pid], snapshot=False))
                written.append((old_pid, next_pid))
                next_pid += 1
        if written:
            n = lineage.write_snapshot(spark, out_dir, snap.get("n_parts"),
                                       table=table, add_parts=entries,
                                       retain=retain)
            stats[table] = {"rewritten": written, "snapshot_id": n}
    return stats
