"""Analytics over the materialized entity/edge graph (north_star:
"materialize (subj, pred, obj) triples plus an entity/edge graph").

Once the KG is on disk (``lineage.read_edges``), the questions a consumer
asks are graph-shaped: which entities are hubs (degree), which are
globally central (PageRank), what is within k hops of a seed set. These
are iterative jobs Spark has no built-in operator for; each is expressed
as DataFrame joins/aggregations with the same scale discipline as
:func:`connected_components`:

* the edge list is hash-partitioned ONCE on ``src`` and reused across
  every iteration — re-shuffling the (corpus-scale) edge table per round
  is the classic PageRank-on-Spark mistake;
* per-iteration state (ranks / frontier) is small relative to the edges
  and co-partitioned on the same key, so each round's join is exchange-
  free on the big side;
* ``localCheckpoint()`` per round truncates lineage (an unbounded
  iterative plan re-evaluates the whole chain);
* convergence is observed (`Observation`), never assumed, and
  non-convergence raises instead of returning silently-wrong results.

Each operator is parity-tested against a driver-side oracle
(tests/test_graph.py): NumPy power iteration for PageRank, dict-BFS for
k-hop, pandas groupby for degrees.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .session import local_frame


def _graph_npart(df: DataFrame) -> int:
    # graph working sets are orders of magnitude smaller than the page
    # stream — keep them on few partitions so each iteration is a handful
    # of tasks, not shuffle_partitions-many
    return max(2, int(df.sparkSession.conf.get(
        "spark.sql.shuffle.partitions")) // 8)


def degrees(edges: DataFrame) -> DataFrame:
    """Per-entity degree over the (src, dst, rel, weight) edge graph →
    (entity, out_degree, in_degree, degree, weighted_degree).

    One pass: explode each edge into its two endpoint roles, then a single
    hash aggregation — no join, map-side partial aggregation applies."""
    ends = edges.select(
        F.col("src").alias("entity"),
        F.lit(1).alias("out_e"), F.lit(0).alias("in_e"),
        F.col("weight"),
    ).unionAll(edges.select(
        F.col("dst").alias("entity"),
        F.lit(0).alias("out_e"), F.lit(1).alias("in_e"),
        F.col("weight"),
    ))
    return ends.groupBy("entity").agg(
        F.sum("out_e").alias("out_degree"),
        F.sum("in_e").alias("in_degree"),
        F.count("*").alias("degree"),
        F.sum("weight").alias("weighted_degree"),
    )


#: above this many collapsed (src, dst) pairs the distributed iteration
#: runs; below it, driver-side sparse power iteration (same dispatch
#: rationale as build_dictionary_state: a Spark round costs seconds of
#: fixed scheduling latency regardless of size, and PageRank needs
#: ~log(tol)/log(alpha) ≈ 130 rounds at 1e-9 — latency-bound on any
#: broadcast-sized graph, throughput-bound only past this)
PR_DISTRIBUTED_THRESHOLD = 5_000_000


def pagerank(edges: DataFrame, alpha: float = 0.85, tol: float = 1e-9,
             max_iter: int = 200, weighted: bool = True,
             distributed_threshold: int = PR_DISTRIBUTED_THRESHOLD,
             exact_iters: int | None = None,
             personalize: DataFrame | None = None) -> DataFrame:
    """PageRank over the entity graph → (entity, rank), ranks sum to 1.

    Semantics: directed graph from the distinct (src, dst) pairs (parallel
    edges under different predicates collapse; with ``weighted`` their
    summed weights set the transition probability, else uniform over
    out-neighbors). Dangling mass is redistributed uniformly each round —
    the standard Google-matrix completion, so the result is the exact
    stationary distribution the NumPy oracle computes.

    Dispatch: graphs up to ``distributed_threshold`` collapsed edges run
    as ONE driver-side sparse power iteration (the entity graph is orders
    of magnitude smaller than the corpus; a Spark round is ~seconds of
    fixed latency and convergence needs ~130 of them). Past the threshold,
    the distributed loop below: ranks (|V| rows) join the edge table
    pre-partitioned once on ``src`` — the big side never re-shuffles —
    then one aggregation by ``dst``, and EXACTLY ONE Spark job per round
    (the convergence L1 delta AND the next round's dangling mass ride the
    Observation the eager checkpoint fires). Both paths apply the
    identical update rule and are parity-tested per-iteration
    (``exact_iters`` runs exactly that many rounds, no convergence test —
    the hook that lets tests compare the paths without waiting out ~130
    latency-bound rounds). Raises on non-convergence within
    ``max_iter``.

    ``personalize``: a (entity) seed frame → PERSONALIZED PageRank (the
    KG-consumer relatedness query "what is central relative to THESE
    entities"): teleport and dangling mass go uniformly to the seed set
    instead of all vertices, so rank mass concentrates in the seeds'
    neighborhood. Seeds outside the graph are ignored; an empty effective
    seed set raises. The update rule generalizes uniformly — the reset
    vector e is 1/|V| everywhere (classic) or 1/|seeds| on seeds:
    ``r' = ((1-alpha) + alpha*dangling_mass) * e + alpha * inflow``."""
    from pyspark.sql import Observation

    spark = edges.sparkSession
    npart = _graph_npart(edges)
    g = edges.groupBy("src", "dst").agg(F.sum("weight").alias("w"))
    if not weighted:
        g = g.withColumn("w", F.lit(1.0))
    g = g.localCheckpoint()  # consumed 2-4×: count probe, out_w, trans/collect
    seeds = (personalize.select("entity").distinct().localCheckpoint()
             if personalize is not None else None)
    if g.count() <= distributed_threshold:
        seed_ids = (frozenset(r["entity"] for r in seeds.collect())
                    if seeds is not None else None)
        return _pagerank_driver(spark, g, alpha, tol, max_iter, exact_iters,
                                seed_ids)
    out_w = g.groupBy("src").agg(F.sum("w").alias("out_w"))
    # loop-invariant sides are PERSISTED, not checkpointed: an
    # InMemoryRelation keeps the repartition's outputPartitioning visible
    # to the planner, so the per-round join reuses it exchange-free — a
    # localCheckpoint here degrades to UnknownPartitioning and silently
    # re-shuffles the (corpus-scale) edge table every round (caught by the
    # plan audit; lineage truncation is only needed for the ITERATED frame)
    trans = (
        g.join(out_w, "src")
        .select("src", "dst", (F.col("w") / F.col("out_w")).alias("p"))
        .repartition(npart, "src")
        .persist()
    )
    verts_base = (
        g.select(F.col("src").alias("entity"))
        .union(g.select(F.col("dst").alias("entity")))
        .distinct()
        .join(out_w.select(F.col("src").alias("entity"),
                           F.lit(False).alias("dang")), "entity", "left")
        .select("entity", F.coalesce("dang", F.lit(True)).alias("dang"))
        .repartition(npart, "entity")
        .persist()
    )
    verts = verts_base
    try:
        counts = verts.agg(
            F.count("*").alias("n"),
            F.sum(F.col("dang").cast("long")).alias("nd")).collect()[0]
        n, n_dang = int(counts["n"]), int(counts["nd"] or 0)
        if n == 0:
            return local_frame(spark, [], "entity long, rank double")
        if seeds is None:
            verts = verts.withColumn("reset", F.lit(1.0 / n))
            d_mass = n_dang / n
        else:
            # broadcast the (query-scale) seed set; narrow ops keep the
            # persisted entity partitioning visible to the per-round join
            verts = (
                verts.join(
                    F.broadcast(seeds.withColumn("is_seed", F.lit(True))),
                    "entity", "left")
                .withColumn("is_seed",
                            F.coalesce("is_seed", F.lit(False)))
            )
            stats = verts.agg(
                F.sum(F.col("is_seed").cast("long")).alias("ns"),
                F.sum(F.when(F.col("is_seed") & F.col("dang"),
                             F.lit(1.0)).otherwise(0.0)).alias("sd"),
            ).collect()[0]
            n_seed = int(stats["ns"] or 0)
            if n_seed == 0:
                raise ValueError(
                    "personalize: no seed entity exists in the graph")
            verts = (verts.withColumn(
                "reset", F.when(F.col("is_seed"),
                                F.lit(1.0 / n_seed)).otherwise(F.lit(0.0)))
                .drop("is_seed"))
            d_mass = float(stats["sd"] or 0.0) / n_seed
        ranks = verts.select("entity", "dang",
                             F.col("reset").alias("rank"))
        rounds = max_iter if exact_iters is None else exact_iters
        for it in range(rounds):
            obs = Observation(f"pr_delta_{it}")
            new_ranks = (
                _pr_step(verts, ranks, trans, alpha, d_mass)
                .observe(
                    obs,
                    F.sum(F.abs(F.col("rank") - F.col("old"))).alias("l1"),
                    F.sum(F.when(F.col("dang"), F.col("rank"))
                          .otherwise(F.lit(0.0))).alias("d_mass"),
                )
                .select("entity", "dang", "rank")
                .localCheckpoint()  # eager — fires the observation + cuts
                # the iterated frame's lineage
            )
            ranks = new_ranks
            got = obs.get
            d_mass = float(got["d_mass"] or 0.0)
            if exact_iters is None and float(got["l1"] or 0.0) <= tol:
                return ranks.select("entity", "rank")
        if exact_iters is not None:
            return ranks.select("entity", "rank")
        raise RuntimeError(
            f"pagerank did not converge to L1 <= {tol} within {max_iter} "
            "iterations; raise max_iter or loosen tol"
        )
    finally:
        trans.unpersist()
        verts_base.unpersist()


def _pr_step(verts: DataFrame, ranks: DataFrame, trans: DataFrame,
             alpha: float, d_mass: float) -> DataFrame:
    """One distributed PageRank round (pre-observation) — factored out so
    the plan audit can inspect exactly the shape the loop executes:
    contributions flow through the once-partitioned transition table, the
    per-round shuffles move only vertex-scale rows, never the edge table.
    ``verts`` carries the reset vector (uniform 1/n classic, seed-uniform
    personalized); emits (entity, dang, rank, old)."""
    contrib = (
        ranks.select(F.col("entity").alias("src"), "rank")
        .join(trans, "src")
        .groupBy(F.col("dst").alias("entity"))
        .agg(F.sum(F.col("rank") * F.col("p")).alias("inflow"))
    )
    return (
        verts.join(contrib, "entity", "left")
        .select(
            "entity", "dang",
            (F.lit(1.0 - alpha + alpha * d_mass) * F.col("reset")
             + F.lit(alpha) * F.coalesce("inflow", F.lit(0.0))
             ).alias("rank"),
        )
        .join(ranks.select("entity", F.col("rank").alias("old")), "entity")
    )


def _pagerank_driver(spark, g: DataFrame, alpha: float, tol: float,
                     max_iter: int, exact_iters: int | None,
                     seed_ids=None) -> DataFrame:
    """Sparse power iteration on the collapsed (src, dst, w) edge list —
    the broadcast-sized fast path. Identical update rule to the
    distributed loop (dangling + teleport mass redistributed over the
    reset vector — uniform classic, seed-uniform personalized);
    parity-tested iteration-for-iteration against it."""
    import numpy as np
    import pandas as pd

    pdf = g.toPandas()
    nodes = np.unique(np.concatenate([pdf["src"].to_numpy(),
                                      pdf["dst"].to_numpy()]))
    n = len(nodes)
    if n == 0:
        return local_frame(spark, [], "entity long, rank double")
    idx = {v: i for i, v in enumerate(nodes.tolist())}
    si = pdf["src"].map(idx).to_numpy()
    di = pdf["dst"].map(idx).to_numpy()
    w = pdf["w"].to_numpy(dtype="float64")
    out_w = np.zeros(n)
    np.add.at(out_w, si, w)
    p = w / out_w[si]
    dang = out_w == 0.0
    if seed_ids is None:
        e = np.full(n, 1.0 / n)
    else:
        mask = np.array([v in seed_ids for v in nodes.tolist()])
        if not mask.any():
            raise ValueError(
                "personalize: no seed entity exists in the graph")
        e = np.where(mask, 1.0 / mask.sum(), 0.0)
    r = e.copy()
    rounds = max_iter if exact_iters is None else exact_iters
    converged = exact_iters is not None
    for _ in range(rounds):
        inflow = np.zeros(n)
        np.add.at(inflow, di, r[si] * p)
        r_new = (1.0 - alpha + alpha * r[dang].sum()) * e + alpha * inflow
        l1 = np.abs(r_new - r).sum()
        r = r_new
        if exact_iters is None and l1 <= tol:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"pagerank did not converge to L1 <= {tol} within {max_iter} "
            "iterations; raise max_iter or loosen tol"
        )
    return spark.createDataFrame(
        pd.DataFrame({"entity": nodes.astype("int64"), "rank": r}),
        schema="entity long, rank double",
    )


def k_hop(edges: DataFrame, sources: DataFrame, k: int,
          directed: bool = False) -> DataFrame:
    """Entities within ``k`` hops of a seed set → (entity, dist), dist =
    minimum hop count (0 for the seeds themselves).

    Frontier BFS: each round broadcast-joins only the CURRENT frontier
    (vertex-scale, shrinking) against the materialized adjacency list,
    then anti-joins the visited set — a broadcast hash join streams the
    corpus-scale adjacency in place, so it is never shuffled at all and
    never scanned more than ``k`` times (the checkpoint materializes the
    symmetrized distinct once; its partitioning is irrelevant under a
    broadcast probe). Stops early when the frontier empties."""
    adj = edges.select("src", "dst").distinct()
    if not directed:
        adj = adj.union(adj.select(F.col("dst").alias("src"),
                                   F.col("src").alias("dst"))).distinct()
    adj = adj.localCheckpoint()
    frontier = sources.select(F.col("entity")).distinct().localCheckpoint()
    visited = frontier.select("entity", F.lit(0).alias("dist"))
    for d in range(1, k + 1):
        nxt = (
            adj.join(F.broadcast(frontier.withColumnRenamed("entity", "src")),
                     "src")
            .select(F.col("dst").alias("entity"))
            .distinct()
            .join(visited.select("entity"), "entity", "left_anti")
            .localCheckpoint()
        )
        if nxt.limit(1).count() == 0:
            break
        visited = visited.union(
            nxt.select("entity", F.lit(d).alias("dist"))
        ).localCheckpoint()
        frontier = nxt
    return visited


def triple_support(triples: DataFrame) -> DataFrame:
    """Support/provenance rollup per DISTINCT (subj, pred, obj) →
    (subj, pred, obj, n_mentions, n_urls, max_conf, mean_conf).

    The KG-quality table consumers filter on (keep assertions seen on ≥k
    distinct pages, rank by confidence). One hash aggregation with
    map-side partials; n_urls is exact distinct within the group —
    bounded by the group's mention count, so no sketch needed (swap in
    approx_count_distinct if a pathological triple appears on a large
    fraction of all pages)."""
    return triples.groupBy("subj", "pred", "obj").agg(
        F.count("*").alias("n_mentions"),
        F.countDistinct("url").alias("n_urls"),
        F.max("conf").alias("max_conf"),
        F.avg("conf").alias("mean_conf"),
    )


def connected_components(vertices: DataFrame, edges: DataFrame,
                         max_iter: int = 50) -> DataFrame:
    """Min-label propagation CC with pointer jumping, to fixpoint.

    Each round: label := min(label, neighbors' labels), then one
    shortcutting join label := label(label) — the pointer-jumping step halves
    the remaining propagation depth, so convergence is O(log diameter)
    rounds, not O(diameter) (round-1 verdict: a >max_iter-diameter chain
    silently returned wrong labels). localCheckpoint() per round cuts
    lineage (SURVEY §4.2).
    vertices: (id:long); edges: (src:long, dst:long) → (entity_id, canonical_id).

    Raises ``RuntimeError`` if the fixpoint is not reached within
    ``max_iter`` rounds — non-convergence must never return silently-wrong
    canonical ids (2^50 pointer-jumped hops ≫ any real graph)."""
    from pyspark.sql import Observation

    npart = _graph_npart(vertices)
    sym = edges.select("src", "dst").union(edges.select(F.col("dst").alias("src"),
                                                        F.col("src").alias("dst")))
    sym = sym.repartition(npart, "src").localCheckpoint()
    labels = (
        vertices.select(F.col("id"), F.col("id").alias("label"))
        .repartition(npart, "id")
        .localCheckpoint()
    )
    for it in range(max_iter):
        nbr_min = (
            sym.join(labels, sym.src == labels.id, "inner")
            .groupBy(F.col("dst").alias("id2"))
            .agg(F.min("label").alias("nbr_label"))
        )
        stepped = (
            labels.withColumnRenamed("label", "old")
            .join(nbr_min, F.col("id") == F.col("id2"), "left")
            .select(
                "id",
                F.least(F.col("old"), F.coalesce("nbr_label", F.col("old"))).alias("label"),
                F.col("old"),
            )
        )
        # pointer jumping: label := label(label) (labels are vertex ids, so
        # the lookup is a self-join on the same small table)
        jump = stepped.select(
            F.col("id").alias("label"), F.col("label").alias("label2")
        )
        obs = Observation(f"cc_changed_{it}")
        new_labels = (
            stepped.join(jump, "label", "left")
            .select(
                "id",
                F.least(F.col("label"), F.coalesce("label2", F.col("label"))).alias("label"),
                "old",
            )
            .observe(obs, F.sum((F.col("label") != F.col("old")).cast("long")).alias("n"))
            .select("id", "label")
        ).localCheckpoint()  # eager: materializes and fires the observation
        labels = new_labels
        if int(obs.get["n"] or 0) == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge within {max_iter} rounds "
            "(component diameter exceeds max_iter); raise max_iter"
        )
    return labels.select(F.col("id").alias("entity_id"), F.col("label").alias("canonical_id"))


def weakly_connected_components(edges: DataFrame) -> DataFrame:
    """Weakly-connected components of the entity graph → (entity,
    component), component = min entity id of the component (the same
    min-label convention as the canonicalization stage).

    Thin adapter over :func:`connected_components` (min-label
    propagation + pointer jumping, O(log diameter) rounds, observed
    convergence) — the graph-consumer surface for "which entities form
    one connected cluster" over the MATERIALIZED graph, as opposed to the
    dictionary-side alias graph the pipeline canonicalizes."""
    verts = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    cc = connected_components(verts, edges.select("src", "dst").distinct())
    return cc.select(F.col("entity_id").alias("entity"),
                     F.col("canonical_id").alias("component"))


# ---------------------------------------------------------------------------
# declarative KG queries: basic graph patterns (the SPARQL BGP core)
# ---------------------------------------------------------------------------

def _parse_term(term):
    """A pattern term is a variable ("?name") or a constant (entity id /
    predicate string). Returns (var_name | None, constant | None)."""
    if isinstance(term, str) and term.startswith("?"):
        v = term[1:]
        if not v.isidentifier():
            raise ValueError(f"invalid variable name in pattern term {term!r}")
        return v, None
    return None, term


class PredPath:
    """Property path in a pattern's predicate slot (the SPARQL path core):
    ``PredPath(["p1", "p2"])`` = alternation (p1|p2);
    ``PredPath(["p"], closure=True, max_depth=8)`` = bounded transitive
    closure p+ (1..max_depth hops). String sugar: ``"p+"`` ≡
    ``PredPath(["p"], closure=True)``; a tuple/list of strings ≡
    alternation."""

    def __init__(self, preds, closure: bool = False, max_depth: int = 8):
        self.preds = [str(p) for p in preds]
        if not self.preds or any(p.startswith("?") for p in self.preds):
            raise ValueError("PredPath needs constant predicate names")
        self.closure = bool(closure)
        if max_depth < 1:
            raise ValueError("max_depth must be >= 1")
        self.max_depth = int(max_depth)


def _as_predpath(p):
    """Sugar → PredPath | None (None = plain var/constant term)."""
    if isinstance(p, PredPath):
        return p
    if isinstance(p, (list, tuple, set, frozenset)):
        return PredPath(sorted(p))
    if isinstance(p, str) and p.endswith("+") and not p.startswith("?"):
        return PredPath([p[:-1]], closure=True)
    return None


def _closure_pairs(base: DataFrame, path: PredPath,
                   src_const=None, dst_const=None) -> DataFrame:
    """Bounded transitive closure of the pred-filtered assertion set →
    distinct (subj, obj) pairs reachable in 1..max_depth hops.

    Frontier iteration with per-round `localCheckpoint` (same discipline
    as k_hop/CC: truncate the iterated lineage, stop early on an empty
    frontier). A CONSTANT endpoint seeds the frontier, so the work is
    O(reachable-from-seed), not O(full closure) — the full closure is only
    materialized when both endpoints are variables, which is meant for
    hierarchy-shaped predicates (located_in, part_of) whose closure is
    vertex-scale; a dense relation's closure is quadratic and no engine
    can materialize it, bounded depth or not."""
    E = (base.filter(F.col("pred").isin(path.preds))
         .select("subj", "obj").distinct().localCheckpoint())
    fwd = dst_const is None or src_const is not None  # extend on the right
    if src_const is not None:
        paths = E.filter(F.col("subj") == F.lit(src_const))
    elif dst_const is not None:
        paths = E.filter(F.col("obj") == F.lit(dst_const))
    else:
        paths = E
    # accumulate CHECKPOINTED parts and union them lazily (≤max_depth
    # shallow leaves) — checkpointing a union of already-checkpointed
    # frames trips Spark's LogicalRDD constraint rewrite (NoSuchElement
    # on the dropped attribute), and the lazy union keeps lineage flat
    # without it
    import functools

    # .toDF after every checkpoint mints FRESH attribute ids: each round's
    # plan references the frontier leaf twice (extension join + seen
    # anti-join) and Spark 4.1's checkpoint-time constraint rewrite throws
    # NoSuchElementException when the duplicated leaf's original ids leak
    # into both branches (observed; the re-project sidesteps it)
    fresh = lambda df: df.toDF("subj", "obj")
    parts = [fresh(paths.localCheckpoint())]
    frontier = parts[0]
    seen = lambda: functools.reduce(lambda a, b: a.union(b), parts)
    for _ in range(1, path.max_depth):
        if fwd:
            nxt = (frontier.alias("f")
                   .join(E.alias("e"), F.col("f.obj") == F.col("e.subj"))
                   .select(F.col("f.subj").alias("subj"),
                           F.col("e.obj").alias("obj")))
        else:
            nxt = (E.alias("e")
                   .join(frontier.alias("f"),
                         F.col("e.obj") == F.col("f.subj"))
                   .select(F.col("e.subj").alias("subj"),
                           F.col("f.obj").alias("obj")))
        nxt = fresh(
            nxt.distinct()
            .join(seen(), ["subj", "obj"], "left_anti").localCheckpoint())
        if nxt.limit(1).count() == 0:
            break
        parts.append(nxt)
        frontier = nxt
    return seen()


def match_pattern(triples: DataFrame, pattern,
                  allow_product: bool = False,
                  filters=None, select=None,
                  optional=None, minus=None) -> DataFrame:
    """Evaluate a basic graph pattern (the SPARQL BGP core) over the
    triple table → one column per variable, one row per solution.

    ``pattern`` is a sequence of (subj, pred, obj) triple patterns whose
    terms are either variables (``"?x"``) or constants (entity ids for
    subj/obj, predicate names for pred), e.g. the 2-hop chain "people at
    an org located somewhere"::

        [("?person", "works_for", "?org"),
         ("?org", "located_in", "?place")]

    Semantics are SPARQL's: the pattern is matched against the DISTINCT
    (subj, pred, obj) set (the triple table carries one row per supporting
    mention; assertion-level semantics are what a query consumer means),
    shared variables join, and the result is a solution SET — which falls
    out structurally: every leg projects all of its variables from a
    distinct triple set, and legs combine by equijoin on the shared
    variables, so no final distinct pass is needed or taken.

    Scale shape (how this compiles, audited in docs/PLANS.md):

    * each leg is the SAME distinct-triples scan with constant predicates
      pushed down — Catalyst pushes the ``pred =``/``subj =`` filters into
      the parquet scan per leg, so a selective leg reads row-group stats,
      not the table;
    * legs join on shared variables only. Join ORDER is chosen greedily —
      start at the most-constant-bound (most selective) leg, always extend
      with a connected leg, most constants first — so the intermediate
      stays filtered from the first join instead of exploding and
      filtering late;
    * selective legs are broadcast at runtime by AQE (filtered size is a
      runtime property; the static planner cannot know it), turning the
      typical chain query into broadcast probes over the one big leg;
    * a disconnected pattern is a cartesian product — refused unless
      ``allow_product=True`` (at KG scale that is almost always a query
      bug, and Spark would silently build it).

    A leg with NO variables (a fully-ground triple) acts as an existence
    gate: solutions survive only if that triple is present (evaluated as a
    broadcast of at most one row, never a scan-sized join).

    Extensions beyond plain BGPs:

    * **property paths** in the predicate slot (:class:`PredPath`, with
      string sugar): ``("?a", ("works_for", "employed_by"), "?b")`` is
      alternation; ``("?a", "located_in+", "?b")`` is bounded transitive
      closure (1..max_depth hops, frontier-iterated with seed restriction
      when an endpoint is constant — see :func:`_closure_pairs`);
    * ``filters``: SQL boolean expressions over the variable names
      (``["person != place"]``), applied to the joined solutions —
      Catalyst pushes each as deep as legality allows;
    * ``select``: project a subset of variables; the result is
      re-distinct-ed, matching SPARQL's ``SELECT DISTINCT``;
    * ``optional``: a list of pattern GROUPS, each a list of legs —
      SPARQL ``OPTIONAL``: a left join on the variables shared with the
      required pattern; a group's new variables come back null where it
      found no match. Each group must share ≥1 variable with the
      required pattern, and two optional groups may not bind the same
      new variable (the supported scoping subset — nested/correlated
      OPTIONAL is out of scope);
    * ``minus``: a list of pattern groups — SPARQL ``MINUS``: solutions
      agreeing with a minus group on its shared variables are removed
      (one anti-join per group on the DISTINCT projection of the shared
      variables; disjoint-domain groups are refused rather than silently
      removing nothing).

    Evaluation order matches SPARQL group semantics: required pattern →
    OPTIONAL extensions → MINUS removals → FILTERs → SELECT projection.
    """
    base = triples.select("subj", "pred", "obj").distinct()
    acc, var_order = _compile_bgp(base, pattern, allow_product)
    required_vars = set(var_order)
    for grp in (optional or []):
        opt, opt_vars = _compile_bgp(base, grp, allow_product)
        shared = [v for v in opt_vars if v in required_vars]
        if not shared:
            raise ValueError(
                "optional group shares no variable with the required "
                "pattern — it would multiply solutions, not extend them")
        new = [v for v in opt_vars if v not in var_order]
        clash = [v for v in opt_vars if v in var_order
                 and v not in required_vars]
        if clash:
            raise ValueError(f"variable(s) {clash} bound by two optional "
                             "groups (unsupported scoping)")
        acc = acc.join(opt, on=shared, how="left")
        var_order = var_order + new
    for grp in (minus or []):
        m, m_vars = _compile_bgp(base, grp, allow_product)
        shared = [v for v in m_vars if v in var_order]
        if not shared:
            raise ValueError(
                "minus group shares no variable with the pattern — SPARQL "
                "MINUS over disjoint domains removes nothing; this is "
                "almost certainly a query bug")
        acc = acc.join(m.select(*shared).distinct(), on=shared,
                       how="left_anti")
    acc = acc.select(*var_order)
    for expr in (filters or []):
        acc = acc.filter(expr)
    if select is not None:
        missing = [v for v in select if v not in var_order]
        if missing:
            raise ValueError(f"select names unbound variables: {missing}")
        acc = acc.select(*select).distinct()
    return acc


def _compile_bgp(base: DataFrame, pattern, allow_product: bool,
                 leg_bases=None):
    """Compile one BGP group over the distinct-triples frame → (solutions
    DataFrame, variable order). The shared core of required / optional /
    minus groups in :func:`match_pattern`; ``leg_bases`` (parallel to
    ``pattern``, entries None or a (subj, pred, obj) frame) overrides the
    source of individual legs — :func:`infer`'s semi-naive delta
    restriction (plain legs only)."""
    pattern = list(pattern)
    if not pattern:
        raise ValueError("empty pattern")

    legs = []  # (var set, n_constants, leg_df) — variable-binding legs
    gates = []  # fully-ground legs (existence tests)
    var_order: list[str] = []  # output column order: first appearance
    for idx, (s, p, o) in enumerate(pattern):
        src = base
        if leg_bases is not None and leg_bases[idx] is not None:
            src = leg_bases[idx]
        pp = _as_predpath(p)
        pos_of_var: dict[str, str] = {}
        if pp is not None:
            if leg_bases is not None and leg_bases[idx] is not None:
                raise ValueError(
                    "per-leg source override is not supported for "
                    "property-path legs")
            # property-path leg (alternation / bounded closure): the pred
            # position is consumed by the path; only subj/obj bind
            sv, sc = _parse_term(s)
            ov, oc = _parse_term(o)
            if pp.closure:
                leg = _closure_pairs(base, pp, src_const=sc, dst_const=oc)
            else:
                leg = (base.filter(F.col("pred").isin(pp.preds))
                       .select("subj", "obj").distinct())
            n_const = 1  # the pred constraint itself
            if sc is not None:
                leg = leg.filter(F.col("subj") == F.lit(sc))
                n_const += 1
            if oc is not None:
                leg = leg.filter(F.col("obj") == F.lit(oc))
                n_const += 1
            if sv is not None:
                pos_of_var[sv] = "subj"
            if ov is not None:
                if ov in pos_of_var:  # (?x, p+, ?x): cycles only
                    leg = leg.filter(F.col("obj") == F.col("subj"))
                else:
                    pos_of_var[ov] = "obj"
        else:
            leg = src
            n_const = 0
            for pos, term in (("subj", s), ("pred", p), ("obj", o)):
                v, const = _parse_term(term)
                if v is None:
                    leg = leg.filter(F.col(pos) == F.lit(const))
                    n_const += 1
                elif v in pos_of_var:  # same variable twice in one leg
                    leg = leg.filter(F.col(pos) == F.col(pos_of_var[v]))
                else:
                    pos_of_var[v] = pos
        leg_vars = list(pos_of_var)
        for v in leg_vars:
            if v not in var_order:
                var_order.append(v)
        if leg_vars:
            leg = leg.select(*[F.col(pos_of_var[v]).alias(v)
                               for v in leg_vars])
            legs.append((set(leg_vars), n_const, leg))
        else:
            # fully-ground leg: a pure existence gate, applied after the
            # variable legs join (≤1 broadcast row — never a scan-sized
            # join, and it cannot seed the join order)
            gates.append(leg)
    if not var_order:
        raise ValueError(
            "pattern binds no variables — a fully-ground pattern is an "
            "existence test, not a query; add at least one ?var")

    # greedy connected join order: seed with the most-constant leg, then
    # always extend with a leg sharing a variable (most constants first,
    # original order breaking ties — deterministic)
    remaining = list(range(len(legs)))
    start = max(remaining, key=lambda i: (legs[i][1], -i))
    order = [start]
    remaining.remove(start)
    bound = set(legs[start][0])
    while remaining:
        connected = [i for i in remaining if legs[i][0] & bound]
        if not connected:
            if not allow_product:
                raise ValueError(
                    "disconnected pattern (cartesian product between "
                    "variable groups); pass allow_product=True if the "
                    "product is intended")
            connected = remaining
        nxt = max(connected, key=lambda i: (legs[i][1], -i))
        order.append(nxt)
        remaining.remove(nxt)
        bound |= legs[nxt][0]

    acc = None
    for i in order:
        leg_vars, _, leg = legs[i]
        if acc is None:
            acc = leg
            continue
        shared = sorted(leg_vars & set(acc.columns))
        acc = (acc.crossJoin(leg) if not shared
               else acc.join(leg, on=shared))
    for gate in gates:
        acc = acc.crossJoin(
            F.broadcast(gate.select(F.lit(1).alias("__gate")).limit(1)))
    return acc.select(*var_order), var_order


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-entity triangle participation over the UNDIRECTED simple graph
    → (entity, n_triangles); entities in no triangle are absent.

    Scale discipline is the classic degree orientation: symmetrize +
    de-duplicate to canonical undirected pairs, then orient every edge
    from the (degree, id)-smaller endpoint to the larger. The oriented
    graph is a DAG where each triangle appears as EXACTLY one wedge
    (a→b, a→c) plus its closing edge (b→c), and — the scale property —
    max out-degree is O(sqrt(m)), so the wedge self-join materializes
    O(m^1.5) candidates worst-case instead of the O(sum deg^2) of naive
    wedge counting on skewed graphs (a celebrity node with 10^6 neighbors
    contributes 10^12 naive wedges; oriented, its edges point INTO it).
    Two shuffles on vertex keys + one join against the oriented edge set;
    all JVM, no Python."""
    und = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("a"),
                F.greatest("src", "dst").alias("b"))
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("entity"))
        .unionAll(und.select(F.col("b").alias("entity")))
        .groupBy("entity").agg(F.count("*").alias("deg"))
    )
    ranked = (
        und.join(deg.withColumnRenamed("entity", "a")
                    .withColumnRenamed("deg", "deg_a"), "a")
        .join(deg.withColumnRenamed("entity", "b")
                 .withColumnRenamed("deg", "deg_b"), "b")
        .select(
            F.when((F.col("deg_a") < F.col("deg_b"))
                   | ((F.col("deg_a") == F.col("deg_b"))
                      & (F.col("a") < F.col("b"))), F.col("a"))
             .otherwise(F.col("b")).alias("lo"),
            F.when((F.col("deg_a") < F.col("deg_b"))
                   | ((F.col("deg_a") == F.col("deg_b"))
                      & (F.col("a") < F.col("b"))), F.col("b"))
             .otherwise(F.col("a")).alias("hi"),
        )
    ).localCheckpoint()  # consumed twice (wedge build + closing probe)
    wedges = (
        ranked.alias("e1")
        .join(ranked.alias("e2"),
              (F.col("e1.lo") == F.col("e2.lo"))
              & (F.col("e1.hi") < F.col("e2.hi")))
        .select(F.col("e1.lo").alias("apex"),
                F.col("e1.hi").alias("u"), F.col("e2.hi").alias("v"))
    )
    # closing-edge probe: the wedge's (u, v) is id-ordered (the u < v above
    # de-duplicates the neighbor pair), but the stored edge {u, v} is
    # (deg, id)-rank-ordered — the two orders need not agree, so probe the
    # SYMMETRIC closing set (each stored pair contributes both tuples;
    # exactly one can equal an id-ordered (u, v), so counts stay exact)
    closing = ranked.select(F.col("lo").alias("u"), F.col("hi").alias("v")) \
        .unionAll(ranked.select(F.col("hi").alias("u"),
                                F.col("lo").alias("v")))
    tri = wedges.join(closing, ["u", "v"])
    per_entity = (
        tri.select(F.col("apex").alias("entity"))
        .unionAll(tri.select(F.col("u").alias("entity")))
        .unionAll(tri.select(F.col("v").alias("entity")))
        .groupBy("entity").agg(F.count("*").alias("n_triangles"))
    )
    return per_entity


# ---------------------------------------------------------------------------
# rule-based enrichment: CONSTRUCT + datalog-style fixpoint inference
# ---------------------------------------------------------------------------

def _head_cols(head, bound_vars):
    cols = []
    for pos, term in zip(("subj", "pred", "obj"), head):
        v, const = _parse_term(term)
        if v is not None:
            if v not in bound_vars:
                raise ValueError(
                    f"head variable ?{v} is not bound by the rule body")
            cols.append(F.col(v).alias(pos))
        else:
            cols.append(F.lit(const).alias(pos))
    return cols


def construct(triples: DataFrame, pattern, head,
              **match_kwargs) -> DataFrame:
    """SPARQL CONSTRUCT: match ``pattern`` (full :func:`match_pattern`
    surface — paths, optional, minus, filters) and emit one NEW triple per
    solution through the ``head`` template, e.g.::

        construct(t, [("?p", "works_for", "?o"),
                      ("?o", "located_in", "?c")],
                  head=("?p", "based_in", "?c"))

    → distinct (subj, pred, obj) rows. Head terms are variables bound by
    the body or constants."""
    sols = match_pattern(triples, pattern, **match_kwargs)
    return sols.select(*_head_cols(head, set(sols.columns))).distinct()


def infer(triples: DataFrame, rules, max_rounds: int = 10,
          include_base: bool = False) -> DataFrame:
    """Datalog-style fixpoint inference: apply ``rules`` (list of
    ``(body_pattern, head_template)``) until no rule derives a new triple
    (or ``max_rounds``), returning the DERIVED triples (``include_base``
    adds the input assertions).

    Evaluation is SEMI-NAIVE — the textbook datalog optimization and the
    only shape that scales: after the first round, a rule can only fire
    through a fact derived LAST round, so each body is re-evaluated once
    per leg with THAT leg restricted to the round's delta (|delta| ≪
    |facts|) and every other leg reading the accumulated fact set; naive
    re-evaluation would redo the whole join over all facts every round.
    Per-round discipline matches the CC/closure loops: delta is
    deduplicated against all known facts (anti-join), localCheckpoint
    truncates the iterated lineage, fresh attribute ids per round (same
    Spark 4.1 checkpoint quirk as :func:`_closure_pairs`), early exit on
    an empty delta. Non-convergence within ``max_rounds`` raises — a
    silent cut would return a fact set that LOOKS complete.

    Rule bodies are plain BGP legs (no property paths — a closure INSIDE
    a round would hide derivation steps from the fixpoint; express
    transitivity as a rule instead, e.g. ``[("?x", "p", "?y"),
    ("?y", "p", "?z")] → ("?x", "p", "?z")``)."""
    import functools

    for body, head in rules:
        for leg in body:
            if _as_predpath(leg[1]) is not None:
                raise ValueError(
                    "property paths are not allowed in rule bodies; "
                    "express closure as a recursive rule")

    fresh = lambda df: df.toDF("subj", "pred", "obj")
    base0 = fresh(
        triples.select("subj", "pred", "obj").distinct().localCheckpoint())
    parts = [base0]
    all_facts = lambda: functools.reduce(lambda a, b: a.union(b), parts)
    delta = base0
    converged = False
    for rnd in range(max_rounds):
        total = all_facts()
        derived = []
        for body, head in rules:
            if rnd == 0:
                # first round: every leg reads the full base — one
                # evaluation per rule (delta == everything)
                sols, vs = _compile_bgp(total, body, allow_product=False)
                derived.append(sols.select(*_head_cols(head, set(vs))))
            else:
                for i in range(len(body)):
                    lb = [delta if j == i else None
                          for j in range(len(body))]
                    sols, vs = _compile_bgp(total, body,
                                            allow_product=False,
                                            leg_bases=lb)
                    derived.append(
                        sols.select(*_head_cols(head, set(vs))))
        new = (functools.reduce(lambda a, b: a.union(b), derived)
               .distinct()
               .join(total, ["subj", "pred", "obj"], "left_anti"))
        new = fresh(new.localCheckpoint())
        if new.limit(1).count() == 0:
            converged = True
            break
        parts.append(new)
        delta = new
    if not converged:
        raise RuntimeError(
            f"inference did not reach a fixpoint within {max_rounds} "
            "rounds; raise max_rounds (or check the rules for unbounded "
            "generation, e.g. a head minting values no body constrains)")
    derived_parts = parts[1:] if not include_base else parts
    if not derived_parts:
        return base0.limit(0)
    return functools.reduce(lambda a, b: a.union(b), derived_parts)
