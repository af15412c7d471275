"""Alias removal — the deletion side of the dictionary-maintenance algebra.

Additions only ever MERGE components (``incremental.incremental_canon``);
removals can only SPLIT them: deleting an alias row removes edges, never
an entity, so a component's canonical id (its min entity id) changes iff
connectivity to that min entity is lost. That asymmetry shapes the design:

* the update is still delta-proportional — only the components that LOST
  an alias row need their subgraph re-clustered; everything else keeps
  its canonical id untouched (never even enumerated);
* a split is detected EXACTLY (the re-clustered piece that no longer
  contains the old min gets a new id), and splits are reported to the
  caller rather than silently applied to materialized triples: a stored
  triple carries only the canonical id, so a split target is ambiguous
  without re-linking the underlying mentions — ``apply_dictionary_update``
  must not guess. The no-split case (removing a redundant alias while
  other aliases keep the component connected) yields an empty remap and
  is safe everywhere.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from .linking import normalize_surface
from .session import local_frame


def remove_aliases(
    spark: SparkSession,
    dict_state: dict,
    old_alias_pdf: pd.DataFrame,
    removed_pdf: pd.DataFrame,
) -> tuple[dict, DataFrame, dict[int, list[int]]]:
    """Delete alias rows; returns ``(new_state, remap, splits)``.

    * ``new_state`` — bands table without the removed rows + the updated
      canonical map (only affected components re-clustered), as the frame
      ``canon`` and the driver dict ``canon_map``.
    * ``remap`` — (old_canonical_id, new_canonical_id) rows for entities
      whose component SPLIT away from its old min; empty when every
      affected component stayed connected.
    * ``splits`` — {old_canonical_id: [new canonical ids]} for components
      that split into 2+ pieces. When non-empty, materialized triples
      referencing those ids are ambiguous (the triple stores only the
      canonical id); re-derive them from the mentions sink / re-link
      instead of remapping — this function makes the ambiguity explicit
      instead of letting a COW apply guess.

    Remaining dictionary rows for the affected components are re-clustered
    with the same union-find/min-id rule, so the result is EXACTLY
    ``union_find_canonical(old minus removed)`` (test-enforced).
    """
    from .incremental import REMAP_DDL
    from .pipeline import alias_spark_tables, canon_frame

    new_map, remap_rows, splits = _remove_pure(
        dict_state["canon_map"], old_alias_pdf, removed_pdf)
    remap = local_frame(spark, sorted(set(remap_rows)), REMAP_DDL)
    new_canon = canon_frame(spark, new_map)
    # bands: delta-proportional anti-join (same incrementality as the
    # additive side) — removal is keyed by (entity_id, normalized alias),
    # so prior is excluded from the key and every matching row goes
    removed_bands = alias_spark_tables(spark, removed_pdf)["bands"]
    bands = dict_state["bands"].join(
        removed_bands.select("band_idx", "band_hash", "alias_norm",
                             "entity_id"),
        ["band_idx", "band_hash", "alias_norm", "entity_id"],
        "left_anti",
    )
    return ({"bands": bands, "canon": new_canon, "canon_map": new_map},
            remap, splits)


def _remove_pure(
    old_map: dict[int, int],
    old_alias_pdf: pd.DataFrame,
    removed_pdf: pd.DataFrame,
) -> tuple[dict[int, int], list[tuple[int, int]], dict[int, list[int]]]:
    """Spark-free core (fuzz-tested vs union_find_canonical on the reduced
    dictionary): returns (new entity→canonical map, non-identity remap
    rows, {old_canonical: [piece ids]} for components that split)."""
    rm_keys = {
        (int(e), normalize_surface(a))
        for e, a in zip(removed_pdf["entity_id"], removed_pdf["alias"])
    }
    norm = old_alias_pdf["alias"].map(normalize_surface)
    keep_mask = [
        (int(e), s) not in rm_keys
        for e, s in zip(old_alias_pdf["entity_id"], norm)
    ]
    new_alias_pdf = old_alias_pdf[pd.Series(keep_mask,
                                            index=old_alias_pdf.index)]

    touched_canons = {old_map[int(e)] for e in removed_pdf["entity_id"]
                      if int(e) in old_map}
    # the affected subgraph: every remaining alias row of every entity in a
    # touched component (splits need the component's FULL remaining
    # connectivity, not just the removed alias's group)
    aff_entities = {e for e, c in old_map.items() if c in touched_canons}
    sub_mask = new_alias_pdf["entity_id"].astype("int64").isin(aff_entities)
    sub = new_alias_pdf[sub_mask]

    # re-cluster the subgraph with the shared min-id rule; entities that
    # lost their last alias still exist as singletons
    from .linking import union_find_canonical

    sub_map = union_find_canonical(sub) if len(sub) else {}
    for e in aff_entities:
        sub_map.setdefault(e, e)

    new_map = dict(old_map)
    remap_rows: list[tuple[int, int]] = []
    piece_ids: dict[int, set[int]] = {}
    for e in aff_entities:
        new_c = sub_map[e]
        old_c = old_map[e]
        new_map[e] = new_c
        piece_ids.setdefault(old_c, set()).add(new_c)
        if new_c != old_c:
            remap_rows.append((old_c, new_c))
    splits = {c: sorted(ids) for c, ids in piece_ids.items() if len(ids) > 1}
    # a clean relabel (component stayed whole but — impossible under pure
    # removal — changed id) would land here; under removal semantics every
    # non-identity row IS part of a split, asserted for safety
    assert all(oc in splits for oc, _ in remap_rows), (
        "non-split relabel under removal violates min-id invariance")
    return new_map, remap_rows, splits


def stale_canonical_ids(dict_state: dict,
                        removed_pdf: pd.DataFrame) -> set[int]:
    """Canonical ids whose materialized triples may be stale after the
    removal — the OLD canonical of every entity that lost an alias row.

    This is deliberately broader than the split set: deleting a WINNING
    alias row changes which entity a surface links to even when the
    component stays connected (canon map unchanged, remap empty), so any
    triple referencing a touched component may need re-deriving. Triples
    outside these components are provably unaffected: a removal only
    shrinks candidate sets, a shrunk set changes the winner only if the
    old winner was the removed row (whose canonical id IS a touched id),
    and an unlinked mention can never become linked by a removal. Feed
    the result to :func:`~char_ner_spark.incremental.relink_parts`."""
    old_map = dict_state["canon_map"]
    return {old_map[int(e)] for e in removed_pdf["entity_id"]
            if int(e) in old_map}
