"""Physical-plan audit: capture .explain("formatted") for the engine's key
plans and verify the properties SURVEY.md §4.2 promises:

  - parquet scans are column-pruned (ReadSchema excludes unused cols)
  - filters are pushed down (PushedFilters non-empty where expected)
  - dimension joins are broadcast (BroadcastHashJoin), big joins AQE-planned
  - non-UDF stages run inside WholeStageCodegen

Writes docs/PLANS.md with the captured plans + a PASS/FAIL property table.
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


#: the run-specific parts of a captured plan: Spark's plan ids and the
#: random names of the audit's temp directories. Masked, so docs/PLANS.md
#: changes only when a plan does
_VOLATILE = [
    (re.compile(r"\[plan_id=\d+\]"), "[plan_id=N]"),
    (re.compile(r"file:[^\s\],]*/(plan_audit_train_|plan_bgp_|plan_commit_|"
                r"plan_read_)"
                r"[^/\s\],]+"),
     r"file:<tmp>/\1<random>"),
    (re.compile(r"(?<=path=)/[^\s\],]*/(plan_commit_)[^/\s\],]+"),
     r"<tmp>/\1<random>"),
    (re.compile(r"[0-9a-f]{8}(?:-[0-9a-f]{4}){3}-[0-9a-f]{12}"), "<uuid>"),
]


def mask(text: str) -> str:
    for pattern, repl in _VOLATILE:
        text = pattern.sub(repl, text)
    return text


def fmt(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return mask(buf.getvalue())


def clip(plan: str) -> str:
    """The plan's leading whole lines that fit in 4,000 characters, plus a
    note of how many lines were dropped."""
    lines = plan.strip().split("\n")
    kept, size = 0, 0
    for line in lines:
        if size + len(line) > 4000:
            break
        size += len(line) + 1
        kept += 1
    dropped = len(lines) - kept
    tail = [f"... ({dropped} of {len(lines)} lines dropped)"] if dropped else []
    return "\n".join(lines[:kept] + tail)


def main() -> int:
    from pyspark.sql import functions as F

    from char_ner_spark.fixtures import make_alias_table, make_pages
    from char_ner_spark.pipeline import (
        build_dictionary_state, extract_text_df, link_pairs, tag_pages,
    )
    from char_ner_spark.session import build_session

    spark = build_session("plan_audit", master="local[8]")

    sections: list[tuple[str, str, list[tuple[str, bool]]]] = []

    # 3. KG pipeline: tagger stage plan
    alias = make_alias_table(100, seed=42)
    pages = spark.createDataFrame(make_pages(100, seed=42, alias_df=alias))
    m = tag_pages(pages)
    p3 = fmt(m)
    sections.append((
        "tag_pages (Arrow UDF stage)", p3,
        [
            ("single exchange before UDF",
             len(re.findall(r"\(\d+\) Exchange", p3)) == 1),
            ("Arrow eval (MapInPandas)", "MapInPandas" in p3 or "mapInPandas" in p3.lower()),
        ],
    ))

    # 4. extract_text column pruning: html+url+lang only
    ext = extract_text_df(spark.createDataFrame(make_pages(50, seed=42, alias_df=alias)))
    p4 = fmt(ext)
    sections.append((
        "extract_text_df (column pruning)", p4,
        [("warc_ts/text not in project", "warc_ts" not in p4)],
    ))

    # 5. link_pairs: broadcast winners
    ds = build_dictionary_state(spark, alias)
    lk = link_pairs(m, {"bands": ds["bands"]})
    p5 = fmt(lk)
    sections.append((
        "link_pairs (broadcast pair-link joins)", p5,
        [
            ("both link joins broadcast", p5.count("BroadcastHashJoin") >= 2),
            ("no sort-merge join of mention stream", "SortMergeJoin" not in p5),
        ],
    ))

    # 5b. extract_triples (round-4 bounded-gap keys): template matching must
    # stay a broadcast equi-join with the gap-key expansion fully JVM-side.
    # The pair input is checkpointed so the audited plan shows THIS stage
    # only (the upstream tagger's Arrow stages are audited in §3/§5).
    from char_ner_spark.pipeline import extract_triples, middles_table

    p5b = fmt(extract_triples(lk.localCheckpoint(), ds["canon"],
                              middles_table(spark)))
    sections.append((
        "extract_triples (bounded-gap template join)", p5b,
        [
            ("template + canon joins broadcast",
             p5b.count("BroadcastHashJoin") >= 3),
            # "Python" alone would false-positive on applySchemaToPythonRDD
            # (the driver-local template-table materialization) — only the
            # eval operators mean per-row Python at runtime
            ("gap-key expansion is JVM generate (no Python eval)",
             "Generate" in p5b and "ArrowEvalPython" not in p5b
             and "BatchEvalPython" not in p5b),
            ("no sort-merge join of the pair stream",
             "SortMergeJoin" not in p5b),
        ],
    ))

    # 5c. run_pipeline's triples over the fused pass: a dictionary within
    # the broadcast budget tags, links, relates and canonicalizes in ONE
    # MapInPandas fed by the salted repartition; the mention stream meets
    # no join, and the only other shuffle is the final distinct
    from char_ner_spark.pipeline import run_pipeline

    run = run_pipeline(spark, pages, alias, dict_state=ds)
    p5c = fmt(run["triples"])
    tree = p5c.split("\n\n")[0]
    at = tree.find("MapInPandas")
    exchanges = [m.start() for m in re.finditer(r"(?<!Broadcast)Exchange",
                                                tree)]
    sections.append((
        "run_pipeline triples (one tag-link-relate pass)", p5c,
        [
            ("one Exchange before a single MapInPandas",
             tree.count("MapInPandas") == 1
             and sum(x > at for x in exchanges) == 1),
            ("no BroadcastHashJoin or SortMergeJoin on the mention stream",
             "BroadcastHashJoin" not in p5c and "SortMergeJoin" not in p5c),
            ("one more Exchange, for the final distinct",
             sum(x < at for x in exchanges) == 1
             and "HashAggregate" in tree[:at]),
        ],
    ))
    run["passed"].unpersist()

    # 12. training gradient job (round 5): the epoch/batch filter must
    # prune JVM-side BEFORE the Python crossing, and the job must be
    # shuffle-free (scan → filter → MapInPandas) — at 10^12 docs the
    # mini-batch selectivity is what keeps one SGD step's Python work
    # bounded, so a filter evaluated after the UDF would be a scale bug.
    import tempfile

    from char_ner_spark import training as TR

    with tempfile.TemporaryDirectory(prefix="plan_audit_train_") as td:
        spark.createDataFrame(
            [(f"s{i}", "Alice met Bob", [1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 1, 1, 1])
             for i in range(64)],
            "sent_id string, text string, labels array<int>",
        ).write.parquet(td + "/sents")
        sents_t = spark.read.parquet(td + "/sents")
        gj = (
            TR.with_batch_col(sents_t, 0, 4)
            .filter(F.col("batch") == 1)
            .select("text", "labels")
            .mapInPandas(TR._partial_grads_fn(TR.init_weights("en")),
                         schema=TR._PARTIAL_SCHEMA)
        )
        p11 = fmt(gj)
        mip = p11.find("MapInPandas")
        filt = p11.find("Filter")
        sections.append((
            "training batch-gradient job (epoch filter before Python)", p11,
            [
                ("Arrow eval (MapInPandas)", mip >= 0),
                # formatted tree prints output-first: the Filter must be a
                # descendant of (printed after) MapInPandas in the tree
                ("batch filter prunes JVM-side before the UDF",
                 0 <= mip < filt and "xxhash64" in p11),
                ("shuffle-free (no Exchange)", "Exchange" not in p11),
            ],
        ))

    # 12. graph analytics: one distributed PageRank round. The loop-
    # invariant transition table and vertex set are persisted (an
    # InMemoryRelation keeps the repartition's outputPartitioning visible;
    # a localCheckpoint degrades to UnknownPartitioning and silently
    # re-shuffles the edge table EVERY round — the regression this section
    # exists to catch). Only vertex-scale frames may shuffle per round.
    from char_ner_spark.graph import _graph_npart, _pr_step

    def outer_tree(plan: str) -> str:
        """The plan tree with cached-relation BUILD subtrees removed —
        those one-time exchanges are not per-round work."""
        tree = plan.split("\n\n")[0]
        out_lines, skip_indent = [], None
        for line in tree.splitlines():
            indent = len(line) - len(line.lstrip(" :+-*"))
            if skip_indent is not None:
                if indent > skip_indent:
                    continue
                skip_indent = None
            if "InMemoryRelation" in line:
                skip_indent = indent
                continue
            out_lines.append(line)
        return "\n".join(out_lines)

    import pandas as pd

    edges_g = spark.createDataFrame(
        pd.DataFrame({
            "src": list(range(100)) * 2,
            "dst": [(i * 7 + 3) % 100 for i in range(200)],
            "rel": ["r"] * 200,
            "weight": [1.0] * 200,
        })
    )
    npart = _graph_npart(edges_g)
    gg = edges_g.groupBy("src", "dst").agg(F.sum("weight").alias("w")) \
        .localCheckpoint()
    ow = gg.groupBy("src").agg(F.sum("w").alias("out_w"))
    trans = gg.join(ow, "src").select(
        "src", "dst", (F.col("w") / F.col("out_w")).alias("p")
    ).repartition(npart, "src").persist()
    verts = (
        gg.select(F.col("src").alias("entity"))
        .union(gg.select(F.col("dst").alias("entity"))).distinct()
        .join(ow.select(F.col("src").alias("entity"),
                        F.lit(False).alias("dang")), "entity", "left")
        .select("entity", F.coalesce("dang", F.lit(True)).alias("dang"))
        .repartition(npart, "entity").persist()
    )
    nv = verts.count()
    trans.count()
    verts_r = verts.withColumn("reset", F.lit(1.0 / nv))
    ranks0 = verts.select("entity", "dang",
                          F.lit(1.0 / nv).alias("rank")).localCheckpoint()
    p12 = fmt(_pr_step(verts_r, ranks0, trans, 0.85, 0.0))
    t12 = outer_tree(p12)
    n_shuffles = len(re.findall(r"\bExchange\b", t12.replace(
        "BroadcastExchange", "BCX")))
    sections.append((
        "pagerank distributed round (loop invariants cached, vertex-scale shuffles only)",
        p12,
        [
            ("both loop-invariant sides read from cache",
             t12.count("InMemoryTableScan") >= 2),
            ("edge table never re-shuffled per round (<=3 vertex-scale shuffles)",
             0 < n_shuffles <= 3),
        ],
    ))
    trans.unpersist()
    verts.unpersist()

    # 13. k-hop: the frontier is broadcast, the adjacency streams in place
    # (k_hop materializes each hop eagerly, so audit the hop join SHAPE it
    # builds: broadcast frontier probing the checkpointed adjacency)
    seed_df = edges_g.select(F.col("src").alias("entity")).limit(1)
    hop_probe = (
        edges_g.select("src", "dst").distinct().localCheckpoint()
        .join(F.broadcast(seed_df.withColumnRenamed("entity", "src")), "src")
    )
    p13 = fmt(hop_probe)
    sections.append((
        "k_hop frontier expansion (broadcast probe over adjacency)", p13,
        [
            ("frontier broadcast-joined", "BroadcastHashJoin" in p13),
            ("adjacency never shuffled",
             "Exchange" not in outer_tree(p13).replace("BroadcastExchange",
                                                       "BCX")),
        ],
    ))

    # 14. recanonicalization: the canonical-id delta joins as broadcast
    # maps over the triples stream — no sort-merge of the corpus-scale side
    from char_ner_spark.incremental import recanonicalize_triples

    trip_demo = spark.createDataFrame(
        pd.DataFrame({
            "subj": [1, 2, 3], "pred": ["p"] * 3, "obj": [4, 5, 6],
            "url": ["u"] * 3, "sent_idx": [0, 1, 2], "conf": [0.9] * 3,
        })
    )
    remap_demo = spark.createDataFrame(
        pd.DataFrame({"old_canonical_id": [2], "new_canonical_id": [1]}))
    p14 = fmt(recanonicalize_triples(trip_demo, remap_demo))
    sections.append((
        "recanonicalize_triples (broadcast remap, no corpus-side sort-merge)",
        p14,
        [
            ("both remap joins broadcast", p14.count("BroadcastHashJoin") >= 2),
            ("no sort-merge join", "SortMergeJoin" not in p14),
        ],
    ))

    # 15. BGP pattern match: constant-pred filters reach the parquet scan,
    # legs equijoin on shared variables (never a cartesian), all JVM
    import tempfile

    from char_ner_spark.graph import match_pattern, triangle_counts

    tri_path = os.path.join(tempfile.mkdtemp(prefix="plan_bgp_"), "tri")
    spark.createDataFrame(pd.DataFrame({
        "subj": [1, 2, 3, 4] * 25, "pred": ["works_for", "located_in"] * 50,
        "obj": [2, 3, 4, 5] * 25,
        "url": ["u"] * 100, "sent_idx": list(range(100)),
        "conf": [0.9] * 100,
    })).write.mode("overwrite").parquet(tri_path)
    tri_pq = spark.read.parquet(tri_path)
    p15 = fmt(match_pattern(tri_pq, [("?person", "works_for", "?org"),
                                     ("?org", "located_in", "?place")]))
    sections.append((
        "match_pattern 2-hop BGP (pred pushdown, var equijoin, no Python)",
        p15,
        [
            ("constant predicates pushed into the scan",
             "EqualTo(pred,works_for)" in p15
             and "EqualTo(pred,located_in)" in p15),
            ("scan pruned to the pattern's columns",
             "url" not in re.findall(r"ReadSchema: \S+", p15)[0]),
            ("legs equijoin — no cartesian product",
             "CartesianProduct" not in p15 and "BroadcastNestedLoop"
             not in p15),
            ("all JVM (no Python eval in the plan)",
             "EvalPython" not in p15),
        ],
    ))

    # 15b. semi-naive inference round: one rule body with one leg
    # restricted to the (small) delta — the join must stay an equijoin
    # with the delta feeding one side only, all JVM
    from char_ner_spark.graph import _compile_bgp

    tri_all = tri_pq.select("subj", "pred", "obj").distinct()
    delta_demo = tri_all.limit(3).localCheckpoint()
    body = [("?p", "works_for", "?o"), ("?o", "located_in", "?c")]
    sols, _vs = _compile_bgp(tri_all, body, allow_product=False,
                             leg_bases=[delta_demo, None])
    p15b = fmt(sols)
    sections.append((
        "infer semi-naive round (delta-restricted leg equijoin)", p15b,
        [
            ("delta joins the full fact set as an equijoin (no cartesian)",
             "CartesianProduct" not in p15b
             and "BroadcastNestedLoop" not in p15b),
            ("all JVM (no Python eval in the plan)", "EvalPython" not in p15b),
            ("non-delta leg still scans with its pred filter pushed",
             "EqualTo(pred,located_in)" in p15b),
        ],
    ))

    # 16. triangle_counts: oriented wedge join is an equijoin (the O(m^1.5)
    # bound rests on never materializing a nested-loop pair expansion)
    p16 = fmt(triangle_counts(edges_g))
    sections.append((
        "triangle_counts (degree-oriented wedge equijoin)", p16,
        [
            ("wedge + closing joins are hash/sort equijoins, not nested loops",
             "CartesianProduct" not in p16
             and "BroadcastNestedLoop" not in p16),
            ("all JVM (no Python eval in the plan)", "EvalPython" not in p16),
            ("map-side partial aggregation for the per-entity counts",
             "partial_count" in p16 or "HashAggregate" in p16),
        ],
    ))

    # 17. part commits: lineage.commit_part observes each part's row count
    # and checksum on the rows its write writes. The observation must sit
    # directly under WriteFiles, in the write's result stage: Spark merges
    # a result task's metrics from one successful attempt, while a shuffle
    # map stage below an Exchange may re-run and count rows twice. The
    # entities dimension is a driver-side frame, so its write scans a
    # LocalTableScan and joins nothing. The plans are the executed ones a
    # one-unit, four-sink build records in the SQL status store
    from char_ner_spark import lineage

    store = spark._jsparkSession.sharedState().statusStore()
    before = store.executionsList().size()
    with tempfile.TemporaryDirectory(prefix="plan_commit_") as td:
        lineage.run_partitioned(
            spark, spark.createDataFrame(make_pages(20, seed=42,
                                                    alias_df=alias)),
            alias, td, n_parts=1,
            sinks=("triples", "edges", "mentions", "entities"))
    runs = store.executionsList()
    writes = {}
    for i in range(before, runs.size()):
        plan = mask(runs.apply(i).physicalPlanDescription())
        hit = re.search(r"InsertIntoHadoopFsRelationCommand\n.*?"
                        r"plan_commit_<random>/(\w+)/part_id=", plan, re.S)
        if hit:
            writes[hit.group(1)] = plan

    def observed_in_write(plan: str) -> bool:
        tree = plan.split("\n\n")[0].splitlines()
        at = [i for i, line in enumerate(tree) if "WriteFiles" in line]
        return bool(at) and all(i + 1 < len(tree)
                                and "CollectMetrics" in tree[i + 1]
                                for i in at)

    sections.append((
        "part commits (checksum observed in the write's result stage)",
        writes.get("triples", ""),
        [
            ("one write per sink",
             sorted(writes) == ["edges", "entities", "mentions", "triples"]),
            ("CollectMetrics directly under WriteFiles, no Exchange between",
             len(writes) == 4 and all(map(observed_in_write,
                                          writes.values()))),
        ],
    ))
    p17 = writes.get("entities", "")
    sections.append((
        "entities commit (driver-side dimension)", p17,
        [
            ("writes a LocalTableScan", "LocalTableScan" in p17),
            ("no join", "Join" not in p17),
        ],
    ))

    # 18. stored-table reads: a small part reads as one partition
    # (lineage.read_parts' coalesce(1)), whose SinglePartition satisfies
    # every distribution, so neither kg_refresh's 2-hop BGP over
    # read_triples nor PageRank's collapse over read_edges plans an
    # Exchange. The collapse plan is the executed one of pagerank's eager
    # checkpoint, which also observes the collapsed edge count
    from char_ner_spark import graph
    from char_ner_spark.pipeline import edges_from_triples

    def one_partition(plan: str) -> bool:
        coalesced = re.findall(r"\(\d+\) Coalesce\n.*\nArguments: (\d+)",
                               plan)
        return bool(coalesced) and set(coalesced) == {"1"}

    with tempfile.TemporaryDirectory(prefix="plan_read_") as kg:
        lineage.commit_part(spark, kg, "triples", 0, tri_pq, n_parts=1)
        lineage.commit_part(spark, kg, "edges", 0, edges_from_triples(
            lineage.committed_triples(spark, kg, 0)), n_parts=1)
        p18 = fmt(match_pattern(
            lineage.read_triples(spark, kg).drop("part_id"),
            [("?p", "works_for", "?o"), ("?o", "located_in", "?c")]))
        before = store.executionsList().size()
        graph.pagerank(lineage.read_edges(spark, kg)).collect()
        runs = store.executionsList()
        p18b = next((mask(runs.apply(i).physicalPlanDescription())
                     for i in range(before, runs.size())
                     if runs.apply(i).description().startswith(
                         "localCheckpoint")), "")
    sections.append((
        "read_triples → 2-hop BGP (one-partition reads, no shuffle)", p18,
        [
            ("each leg's scan reads as one partition (Coalesce 1)",
             len(re.findall(r"\(\d+\) Scan parquet", p18)) == 2
             and len(re.findall(r"\(\d+\) Coalesce", p18)) == 2
             and one_partition(p18)),
            ("no shuffle Exchange", not re.search(r"\bExchange\b", p18)),
        ],
    ))
    sections.append((
        "read_edges → PageRank collapse (executed, edge count observed)",
        p18b,
        [
            ("the edges scan reads as one partition (Coalesce 1)",
             one_partition(p18b)),
            ("no Exchange", "Exchange" not in p18b),
            ("the edge count is observed on the checkpoint",
             "CollectMetrics" in p18b),
        ],
    ))

    out = ["# Physical plan audit (generated by tools/plan_audit.py)\n"]
    ok_all = True
    for title, plan, checks in sections:
        out.append(f"\n## {title}\n")
        for desc, ok in checks:
            ok_all &= ok
            out.append(f"- {'PASS' if ok else 'FAIL'}: {desc}")
        out.append("\n```\n" + clip(plan) + "\n```\n")
    os.makedirs("docs", exist_ok=True)
    with open("docs/PLANS.md", "w") as f:
        f.write("\n".join(out))
    print("wrote docs/PLANS.md; all checks pass:", ok_all)
    for title, _, checks in sections:
        for desc, ok in checks:
            print(f"{'PASS' if ok else 'FAIL'}: {title}: {desc}")
    spark.stop()
    return 0 if ok_all else 1


if __name__ == "__main__":
    raise SystemExit(main())
