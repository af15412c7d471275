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
  tests assert exactly that, against the driver union-find oracle. The
  contracted graph is solved by driver union-find: its inputs are the
  driver-side alias frames, and the canonical map it updates is collected
  whole and broadcast anyway.

* :func:`recanonicalize_triples` / :func:`apply_dictionary_update` —
  remap already-materialized triples through the (old → new) canonical-id
  delta. The snapshot-level apply is copy-on-write in the Iceberg sense:
  only parts that contain a remapped id are rewritten, each into a NEW
  part directory; the committed snapshot history still references the old
  directories, so time-travel reads are unaffected and
  :func:`~char_ner_spark.lineage.gc_orphan_parts` reclaims the old copies
  only after every snapshot referencing them has expired.

* :func:`relink_parts` — the removal side: re-derive the affected parts'
  triples from the mentions sink, through the same copy-on-write loop
  (each triples part followed by its edges part, then one snapshot
  pointer flip per table, triples before edges).
"""

from __future__ import annotations

import functools
import operator
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
) -> tuple[DataFrame, DataFrame]:
    """Update the canonical map for a dictionary delta.

    Returns ``(new_canon, remap)``:

    * ``new_canon`` — (entity_id, canonical_id) covering the UNION
      dictionary, equal to ``union_find_canonical(old ∪ delta)`` recomputed
      from scratch (min-entity-id representative is history-independent, so
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
    that is what keeps the update O(delta). The old canonical map is
    collected once: dictionary-scale, the same budget alias_spark_tables
    spends building the broadcast join table.
    """
    from .pipeline import canon_dict, canon_frame

    if len(new_alias_pdf) == 0:
        return old_canon, local_frame(spark, [], REMAP_DDL)
    new_map, remap_rows = _incremental_canon_pure(
        canon_dict(old_canon), old_alias_pdf, new_alias_pdf)
    return canon_frame(spark, new_map), local_frame(spark, remap_rows,
                                                    REMAP_DDL)


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


def update_dictionary_state(
    spark: SparkSession,
    dict_state: dict,
    old_alias_pdf: pd.DataFrame,
    new_alias_pdf: pd.DataFrame,
) -> tuple[dict, DataFrame]:
    """Dictionary-delta refresh of the unit-invariant pipeline state.

    Returns ``(new_state, remap)`` where ``new_state`` is a drop-in for
    :func:`~char_ner_spark.pipeline.run_pipeline`'s ``dict_state``:

    * ``bands`` — the banded MinHash join table gains ONLY the delta's
      rows (band signatures are per-alias, so the old table is reusable
      verbatim; dedup handles re-sent alias rows).
    * ``canon`` / ``canon_map`` — the canonical map
      :func:`incremental_canon` computes over the contracted graph, from
      the state's ``canon_map`` (no collect), as a frame and as the driver
      dict.
    """
    from .pipeline import alias_spark_tables, canon_frame

    new_map, remap_rows = _incremental_canon_pure(
        dict_state["canon_map"], old_alias_pdf, new_alias_pdf)
    delta_bands = alias_spark_tables(spark, new_alias_pdf)["bands"]
    # all-column dedup: identical to rebuilding the table from the union
    # dictionary (re-sent identical rows collapse; genuinely conflicting
    # rows — same alias, different prior — survive in both, as a full
    # rebuild would keep them)
    bands = dict_state["bands"].unionByName(delta_bands).dropDuplicates()
    return ({"bands": bands, "canon": canon_frame(spark, new_map),
             "canon_map": new_map},
            local_frame(spark, remap_rows, REMAP_DDL))


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


def _rewrite_parts(
    spark: SparkSession,
    out_dir: str,
    tables: list[str],
    rewrites: dict[str, tuple],
    keys: set[int],
    retain: int | None,
) -> dict[str, dict]:
    """The copy-on-write loop behind :func:`apply_dictionary_update` and
    :func:`relink_parts`. ``rewrites`` maps each table to rewrite to
    ``(key_cols, rewrite)``; ``tables`` lists the sinks under ``out_dir``.

    Each table's snapshot is read once, and that one read drives its part
    pruning, its part-id claim and its commit. With ``key_cols``, the live
    parts holding one of ``keys`` in those columns are found (footer-stats
    pruning, then one semi-join over the surviving candidates) and each is
    committed as a fresh part ``rewrite(old_pid)``. Without, one part
    ``rewrite(None)`` supersedes every live part: the unit-invariant
    entities dimension. When the KG has an edges sink, each rewritten
    triples part is followed by its edges part, under the same new part id
    and derived from the triples bytes just committed. Parts commit
    without a snapshot; only once every part is written does each table
    commit one snapshot (triples before edges), so a crash before the
    first pointer flip publishes nothing and a re-run redoes the update.

    Raises before writing anything if a live edges part is not a live
    triples part: edges derive from triples, so the sinks diverged (a
    crash between the triples and the edges pointer flips leaves that).
    """
    from .pipeline import edges_from_triples

    follow = "triples" in rewrites and "edges" in tables
    order = list(rewrites)
    if follow:
        order.insert(order.index("triples") + 1, "edges")
    snaps = {t: lineage.current_snapshot(out_dir, table=t) for t in order}
    live = {t: sorted(p["part_id"] for p in snaps[t].get("manifest", [])
                      if p.get("rows", 1) > 0) for t in order}
    if follow and not set(live["edges"]) <= set(live["triples"]):
        raise RuntimeError(
            f"edges parts {sorted(set(live['edges']) - set(live['triples']))} "
            "are not live triples parts; sinks are out of sync")
    entries: dict[str, list[dict]] = {t: [] for t in order}
    written: dict[str, list[tuple[int, int]]] = {t: [] for t in order}

    def commit(table: str, pid: int, df: DataFrame, old_pids: list[int]):
        entries[table] += map(lineage._snapshot_entry, lineage.commit_part(
            spark, out_dir, table, pid, df, supersedes=old_pids,
            snapshot=False))
        written[table] += [(old, pid) for old in old_pids]

    for table, (key_cols, rewrite) in rewrites.items():
        if not live[table]:
            continue
        # stream_triples: micro-batch ids are an open-ended sequence owned
        # by the streaming checkpoint, so a resumed stream would claim
        # max+1 next and dynamic-overwrite the rewritten part. Rewrites
        # live in a disjoint id range instead (still int32 — batch_id
        # partition values are inferred as int). Batch sinks keep clear of
        # every deterministic ingest range (see the constants)
        next_pid = max(
            max(p["part_id"] for p in snaps[table]["manifest"]) + 1,
            _STREAM_REWRITE_PID_BASE if table == "stream_triples"
            else _BATCH_REWRITE_PID_BASE)
        if key_cols is None:
            commit(table, next_pid, rewrite(None), live[table])
            continue
        # Iceberg-style two-phase pruning: footer min/max stats drop every
        # part whose id ranges can't contain a key (no data IO), then the
        # exact semi-join scans only the surviving candidates —
        # O(metadata) + O(candidate parts), never a full table scan
        base, prefix = lineage._table_base(out_dir, table)
        candidates = _prune_parts_by_stats(base, prefix, live[table],
                                           key_cols, keys)
        if not candidates:
            continue
        parts = lineage.read_parts(
            spark, *[f"{base}/{prefix}={p}" for p in candidates], base=base)
        ids = F.broadcast(local_frame(spark, [(k,) for k in sorted(keys)],
                                      "key long"))
        hit = functools.reduce(operator.or_,
                               [parts[c] == ids["key"] for c in key_cols])
        affected = sorted(r[prefix] for r in parts.join(ids, hit, "leftsemi")
                          .select(prefix).distinct().collect())
        for old_pid in affected:
            commit(table, next_pid, rewrite(old_pid), [old_pid])
            if table == "triples" and follow:
                commit("edges", next_pid, edges_from_triples(
                    lineage.committed_triples(spark, out_dir, next_pid)),
                    [old_pid])
            next_pid += 1
    stats: dict[str, dict] = {}
    for table in order:
        if written[table]:
            n = lineage.write_snapshot(spark, out_dir,
                                       snaps[table].get("n_parts"),
                                       table=table, add_parts=entries[table],
                                       retain=retain)
            stats[table] = {"rewritten": written[table], "snapshot_id": n}
    return stats


def relink_parts(
    spark: SparkSession,
    out_dir: str,
    dict_state: dict,
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
    are never read. The pruning, the copy-on-write commits and the
    snapshots are :func:`apply_dictionary_update`'s (one shared loop), so
    time travel and crashes behave identically. Pass ``canon_ids`` from
    :func:`~char_ner_spark.removal.stale_canonical_ids` (∪ the split
    piece ids, conservatively).

    Requires the ``mentions`` and ``triples`` sinks. The unit-invariant
    entities dimension is refreshed from ``alias_pdf`` + the new canon
    when the sink exists.
    """
    from .pipeline import (entities_table, extract_triples, link_pairs,
                           middles_table)

    tables = lineage.snapshot_tables(out_dir)
    for need in ("mentions", "triples"):
        if need not in tables:
            raise ValueError(
                f"relink_parts needs the '{need}' sink in {out_dir} "
                f"(found {tables}); re-run with sinks including it"
            )
    if not canon_ids:
        return {}
    middles = middles_table(spark)
    mbase, prefix = lineage._table_base(out_dir, "mentions")

    def relinked(old_pid: int) -> DataFrame:
        mdir = f"{mbase}/{prefix}={old_pid}"
        if not os.path.isdir(mdir):
            raise FileNotFoundError(
                f"mentions part {old_pid} missing at {mdir}; cannot "
                "re-link its triples"
            )
        # split: link_pairs' AliasIndex probe runs in Python per surface
        mentions = lineage.read_parts(spark, mdir, one_task=False).drop(prefix)
        linked = link_pairs(mentions, {"bands": dict_state["bands"]},
                            alias_pdf=alias_pdf)
        return extract_triples(linked, dict_state["canon"], middles)

    rewrites = {"triples": (("subj", "obj"), relinked)}
    if "entities" in tables:
        rewrites["entities"] = (None, lambda _: entities_table(
            spark, alias_pdf, dict_state["canon"]))
    return _rewrite_parts(spark, out_dir, tables, rewrites, set(canon_ids),
                          retain)


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
    new snapshot (rows=0 — readers already skip zero-row parts). No
    snapshot is written until every part of the update is, then each
    table commits one, so a crash before the first pointer flip publishes
    nothing and a re-run redoes the update from the unchanged snapshots.
    A crash between two tables' pointer flips is still a window: the
    re-run finds the edges sink out of sync with triples and raises.
    Old directories become orphans once the snapshots referencing them
    expire; reclaim with :func:`~char_ner_spark.lineage.gc_orphan_parts`.

    * ``triples`` / ``stream_triples`` — :func:`recanonicalize_triples`
      per part. Part-local distinct is globally correct: work units
      partition pages by url (and the streaming file source delivers each
      pages file to exactly one micro-batch), so a (url, sent_idx)
      collision never spans parts. Stream rewrites take part ids from a
      range disjoint from the streaming checkpoint's batch-id sequence.
    * ``edges`` — re-DERIVED from each rewritten triples part, under its
      part id (remapping edge weights directly would double-count triples
      that collapse under the merge, because partial weights lose the
      per-triple key). Requires the triples sink; raises if ``out_dir``
      has edges but no triples.
    * ``entities`` — canonical_id remap; pass ``alias_pdf`` + ``canon``
      to refresh the dimension with the delta's new entities too.

    Returns ``{table: {"rewritten": [(old_pid, new_pid), ...],
    "snapshot_id": N}}``.
    """
    from .pipeline import entities_table

    tables = lineage.snapshot_tables(out_dir)
    if "edges" in tables and "triples" not in tables:
        raise ValueError(
            "edges sink cannot be recanonicalized without the triples sink: "
            "merged edge weights need per-triple dedup, which partial edge "
            "weights do not carry"
        )
    # the remap to the driver in ONE action: bounded by touched components
    # (the same broadcast-sized contract the per-part joins rely on). Its
    # keys drive the part pruning, and the per-part joins read it back as
    # a local relation instead of recomputing the CC. collect(), not
    # toPandas(): on a local relation it issues no job
    remap_rows = [tuple(r) for r in remap.select(
        "old_canonical_id", "new_canonical_id").collect()]
    if not remap_rows and alias_pdf is None:
        return {}
    remap = local_frame(spark, remap_rows, REMAP_DDL)

    def remapped(table: str):
        base, prefix = lineage._table_base(out_dir, table)

        def rewrite(old_pid: int) -> DataFrame:
            part = lineage.read_parts(
                spark, f"{base}/{prefix}={old_pid}").drop("part_id")
            if table != "entities":
                return recanonicalize_triples(part, remap)
            return (
                part.join(F.broadcast(remap),
                          part.canonical_id == remap.old_canonical_id, "left")
                .withColumn("canonical_id",
                            F.coalesce("new_canonical_id", "canonical_id"))
                .select(*part.columns)
            )
        return rewrite

    rewrites: dict[str, tuple] = {}
    for table in tables:
        if table in ("triples", "stream_triples"):
            rewrites[table] = (("subj", "obj"), remapped(table))
        elif table == "entities" and alias_pdf is not None \
                and canon is not None:
            # full dimension refresh (new entities entered the dictionary):
            # ONE new part supersedes every old one — the dimension is
            # unit-invariant, run_partitioned writes it as a single part
            rewrites[table] = (None, lambda _: entities_table(
                spark, alias_pdf, canon))
        elif table == "entities":
            rewrites[table] = (("canonical_id",), remapped(table))
        # edges follow their triples part; mentions carry no canonical ids
    return _rewrite_parts(spark, out_dir, tables, rewrites,
                          {int(old) for old, _ in remap_rows},
                          retain)
