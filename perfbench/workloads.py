"""The benchmark's workloads: set-up, one closed-loop operation, its
correctness check, and the same operation decomposed into traced layer
calls.

Every workload draws its inputs from ``fixtures`` with the run's seed and
drives only public entry points of ``char_ner_spark``. An operation
returns its timings; a wrong result raises :class:`WrongResult`.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time
from collections.abc import Iterator

import numpy as np
import pandas as pd

from . import gold
from .env import Phases, tree_cpu_s
from .trace import MB, Tracer

ALL_SINKS = ("triples", "edges", "mentions", "entities")


class WrongResult(AssertionError):
    """The program returned an output that differs from the reference."""


def _expect(ok: bool, what: str) -> None:
    if not ok:
        raise WrongResult(what)


def _dir_mb(path: str) -> float:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files) / MB


class Stopwatch:
    """Wall time of each timed step of one operation, and the CPU time
    the whole process tree (driver, JVM, Python workers) spent in them;
    the untimed checks between steps count in neither."""

    def __init__(self) -> None:
        self.steps: dict[str, float] = {}
        self.cpu_s = 0.0

    @contextlib.contextmanager
    def step(self, name: str) -> Iterator[None]:
        w0, c0 = time.perf_counter(), tree_cpu_s()
        try:
            yield
        finally:
            self.steps[name] = time.perf_counter() - w0
            self.cpu_s += tree_cpu_s() - c0

    def result(self, **extra: float) -> dict[str, float]:
        """``op_s`` (wall), ``cpu_s`` and ``<step>_s`` per step."""
        return {"op_s": sum(self.steps.values()), "cpu_s": self.cpu_s,
                **{f"{k}_s": v for k, v in self.steps.items()}, **extra}


class Workload:
    """Base: subclasses set ``name`` and the corpus size, and implement
    :meth:`set_up`, :meth:`op` and :meth:`traced_op`."""

    name = ""
    N_PAGES = 0
    N_ENTITIES = 0
    _oracle = None

    def __init__(self, spark, work: str, seed: int, procs: int) -> None:
        self.spark, self.work, self.seed, self.procs = spark, work, seed, procs

    def make_inputs(self) -> None:
        """Generate the seeded corpus and dictionary (pure Python; timed
        several times for ``setup_s``)."""
        from char_ner_spark.fixtures import make_alias_table, make_pages

        self.alias = make_alias_table(self.N_ENTITIES, seed=self.seed)
        self.pages = make_pages(self.N_PAGES, seed=self.seed,
                                alias_df=self.alias)

    def start_gold(self) -> None:
        """Start ``oracle.run_oracle`` over the corpus in child
        interpreters, while the JVM starts. They get half the cores, so
        they do not slow down the JVM's start and warm-up beside them."""
        self._oracle = gold.OraclePool(
            [(c, self.alias) for c in gold.chunks(self.pages, self.procs)],
            max(1, self.procs // 2), os.path.join(self.work, "tmp"))

    def set_up(self) -> None:
        """Everything before the first measured operation, warm-up
        included."""
        raise NotImplementedError

    def op(self, i: int) -> dict[str, float]:
        """Operation ``i`` of the closed loop; returns its
        :meth:`Stopwatch.result`."""
        raise NotImplementedError

    def traced_op(self, i: int, tr: Tracer) -> dict[str, float]:
        """Operation ``i`` as a sequence of forced layer calls in spans."""
        raise NotImplementedError

    def close(self) -> None:
        """Release anything set-up left running."""
        if self._oracle is not None:
            self._oracle.close()

    # --- helpers shared by the workloads ---------------------------------

    def _gold_triples(self) -> pd.DataFrame:
        """The oracle's triples of the whole corpus, once it has them."""
        return pd.concat(self._oracle.result(), ignore_index=True) \
            .drop_duplicates()

    def _write_pages(self, pages: pd.DataFrame, name: str) -> str:
        """The corpus as a parquet input table, written by pyarrow rather
        than by a Spark job."""
        path = os.path.join(self.work, "input", f"{name}.parquet")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pages.assign(warc_ts=pages.warc_ts.dt.tz_localize("UTC")).to_parquet(
            path, index=False, coerce_timestamps="us")
        return path

    def _gold_checksum(self, triples_pdf: pd.DataFrame,
                       schema) -> tuple[int, str]:
        """(count, checksum) of gold triples cast to the stored schema."""
        from pyspark.sql import functions as F

        from char_ner_spark.lineage import table_checksum

        df = self.spark.createDataFrame(triples_pdf[gold.TRIPLE_COLS])
        return table_checksum(df.select(
            *[F.col(f.name).cast(f.dataType) for f in schema.fields]))

    def _stored_triples(self, out_dir: str):
        from char_ner_spark import lineage

        return lineage.read_triples(self.spark, out_dir).drop("part_id")


# ---------------------------------------------------------------------------
# traced decomposition of one pipeline pass plus its commits, shared by the
# build and ingest operations (mirrors lineage.run_partitioned / ingest_pages)
# ---------------------------------------------------------------------------


def _traced_pipeline(tr: Tracer, spark, pages_df, alias: pd.DataFrame,
                     dict_state: dict) -> dict:
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from char_ner_spark import pipeline

    with tr.span("tagger."):
        mentions = pipeline.tag_pages(pages_df, salt=16).persist(
            StorageLevel.MEMORY_AND_DISK)
        n_mentions = mentions.count()
    with tr.span("linking.probe_"):
        linked = pipeline.link_pairs(
            mentions, {"bands": dict_state["bands"]}, alias_pdf=alias
        ).persist(StorageLevel.MEMORY_AND_DISK)
        linked.count()
    with tr.span("relations."):
        triples = pipeline.extract_triples(
            linked, dict_state["canon"], pipeline.middles_table(spark)
        ).persist(StorageLevel.MEMORY_AND_DISK)
        n_triples = triples.count()
    # counts outside the layer spans (they cost the layers nothing)
    n_pages = pages_df.count()
    n_linked = linked.filter(F.col("entity_id").isNotNull()).count()
    n_pairs = linked.filter(F.col("entity_id").isNotNull()
                            & F.col("next_entity").isNotNull()).count()
    n_surfaces = (
        mentions.select(F.explode(F.array("surface", "next_surface")))
        .dropna().distinct().count())
    tr.count("tagger.pages", n_pages)
    tr.count("tagger.mentions", n_mentions)
    tr.count("linking.distinct_surfaces", n_surfaces)
    tr.count("linking.linked_mentions", n_linked)
    tr.count("relations.pairs", n_pairs)
    tr.count("relations.triples", n_triples)
    return {"mentions": mentions, "linked": linked, "triples": triples,
            "edges": pipeline.edges_from_triples(triples),
            "n_pages": n_pages}


def _traced_dict_state(tr: Tracer, spark, alias: pd.DataFrame) -> dict:
    from char_ner_spark import pipeline

    with tr.span("linking.dict_"):
        state = pipeline.build_dictionary_state(spark, alias)
    tr.count("linking.alias_rows", len(alias))
    tr.count("linking.band_rows", state["bands"].count())
    return state


def _no_span(stem: str):
    return contextlib.nullcontext()


def _commit_part(spark, out_dir: str, table: str, pid: int, df, n_parts: int,
                 rows_in: int, span=_no_span) -> str:
    """Commit ``df`` as part ``pid`` of ``table`` the way
    ``lineage.run_partitioned`` does: write the part, checksum it, append
    the manifest row and the snapshot. Returns the part's directory."""
    import datetime as dt

    from pyspark.sql import functions as F

    from char_ner_spark import lineage

    part_path = os.path.join(out_dir, table, f"part_id={pid}")
    with span("lineage.commit_"):
        df.withColumn("part_id", F.lit(pid)).write.mode(
            "overwrite").parquet(part_path)
    with span("lineage.checksum_"):
        back = spark.read.parquet(part_path)
        n, checksum = lineage.table_checksum(back)
    with span("lineage.snapshot_"):
        lineage.append_manifest(spark, out_dir, {
            "stage": table, "part_id": pid, "rows_in": rows_in,
            "rows_out": n, "checksum": checksum,
            "completed_at": dt.datetime.now(dt.timezone.utc).replace(
                tzinfo=None)})
        lineage.write_snapshot(spark, out_dir, n_parts, table=table,
                               schema_json=back.schema.json(),
                               add_part={"part_id": pid, "rows": n,
                                         "checksum": checksum})
    return part_path


def _traced_commit(tr: Tracer, spark, out_dir: str, table: str, pid: int,
                   df, n_parts: int, rows_in: int) -> None:
    part_path = _commit_part(spark, out_dir, table, pid, df, n_parts, rows_in,
                             tr.span)
    tr.count("lineage.commits", 1)
    tr.count("lineage.written_mb", _dir_mb(part_path))


def _finish_traced_pass(tr, spark, out_dir, pid, outs, tables, n_parts,
                        rows_in) -> None:
    for table in tables:
        _traced_commit(tr, spark, out_dir, table, pid, outs[table], n_parts,
                       rows_in)
    for key in ("triples", "linked", "mentions"):
        outs[key].unpersist()


# ---------------------------------------------------------------------------
# kg_build: bulk construction
# ---------------------------------------------------------------------------


class KgBuild(Workload):
    """Closed loop of ``lineage.run_partitioned`` jobs over one corpus,
    every job into a fresh output directory; each job's triples must
    equal the oracle's. The warm-up is the same job: a smaller one leaves
    the JIT compiling the per-row paths during the first measured job."""

    name = "kg_build"
    N_PAGES = 500
    N_ENTITIES = 500
    N_PARTS = 1

    def set_up(self) -> None:
        from char_ner_spark import lineage

        ph = Phases(self.name)
        self.pages_path = self._write_pages(self.pages, "pages")
        out = self._job_dir("warmup")
        lineage.run_partitioned(self.spark, self._pages_df(), self.alias,
                                out, n_parts=self.N_PARTS, sinks=ALL_SINKS)
        self.schema = self._stored_triples(out).schema
        shutil.rmtree(out)
        ph.done("warm-up job")
        want = self._gold_triples()
        self.gold_set = gold.triple_set(want)
        self.gold = self._gold_checksum(want, self.schema)
        ph.done("oracle wait and gold checksum")

    def _pages_df(self):
        return self.spark.read.parquet(self.pages_path)

    def _job_dir(self, tag) -> str:
        return os.path.join(self.work, "kg", f"job-{tag}")

    def _check(self, out: str) -> int:
        """Count and checksum equal to the oracle's; the first job's
        triples are also compared as sets (P = R = 1)."""
        from char_ner_spark.lineage import table_checksum

        triples = self._stored_triples(out)
        if self.gold_set is not None:
            p, r = gold.precision_recall(gold.triple_set(triples.toPandas()),
                                         self.gold_set)
            _expect(p == 1.0 and r == 1.0,
                    f"triples P={p:.4f} R={r:.4f} against the oracle")
            self.gold_set = None
        got = table_checksum(triples)
        _expect(got == self.gold,
                f"job triples {got} != oracle {self.gold}")
        shutil.rmtree(out)
        return got[0]

    def op(self, i: int) -> dict[str, float]:
        from char_ner_spark import lineage

        out = self._job_dir(i)
        sw = Stopwatch()
        with sw.step("job"):
            lineage.run_partitioned(self.spark, self._pages_df(), self.alias,
                                    out, n_parts=self.N_PARTS,
                                    sinks=ALL_SINKS)
        n = self._check(out)
        return sw.result(triples_per_s=n / sw.steps["job"])

    def traced_op(self, i: int, tr: Tracer) -> dict[str, float]:
        from char_ner_spark import pipeline

        out = self._job_dir(f"traced-{i}")
        sw = Stopwatch()
        with sw.step("job"), tr.span("trace.op_"):
            state = _traced_dict_state(tr, self.spark, self.alias)
            # N_PARTS is 1: the single work unit 0 holds the whole corpus
            outs = _traced_pipeline(tr, self.spark, self._pages_df(),
                                    self.alias, state)
            _finish_traced_pass(tr, self.spark, out, 0, outs,
                                ("triples", "edges", "mentions"),
                                self.N_PARTS, outs["n_pages"])
            _traced_commit(tr, self.spark, out, "entities", 0,
                           pipeline.entities_table(self.spark, self.alias,
                                                   state["canon"]),
                           self.N_PARTS, len(self.alias))
        self._check(out)
        return sw.result()


# ---------------------------------------------------------------------------
# kg_refresh: dictionary delta on a stored KG + read-back
# ---------------------------------------------------------------------------

BGP_QUERY = ("SELECT ?p ?o ?c WHERE { ?p works_for ?o . "
             "?o located_in ?c . }")

#: column types of the triples table as ``lineage.run_partitioned`` stores it
TRIPLES_DDL = ("subj BIGINT, pred STRING, obj BIGINT, url STRING, "
               "sent_idx INT, conf DOUBLE")


class KgRefresh(Workload):
    """KG upkeep on a stored KG. Each round restores the base KG
    (untimed), then times two steps a maintainer and a reader of the KG
    wait for:

    1. a one-alias dictionary delta bridging two canonical components
       present in the stored triples (``update_dictionary_state`` +
       ``apply_dictionary_update``);
    2. read-back queries on the updated snapshot: a SPARQL 2-hop BGP and
       PageRank, each reading the tables afresh through ``lineage``.

    The base KG holds the triples and edges tables: the oracle's triples
    of the base corpus, committed in set-up through the lineage calls
    ``run_partitioned`` makes (``kg_build`` checks that the pipeline
    stores exactly the oracle's triples). No page is tagged, so a run does
    not pay the tagger's start-up a second time. Deltas follow a seeded
    cycle of ``CYCLE`` rounds; the set-up's warm-up round is the last."""

    name = "kg_refresh"
    N_PAGES = 600
    N_ENTITIES = 3000
    N_PARTS = 1
    CYCLE = 6

    def set_up(self) -> None:
        from pyspark.sql import functions as F

        from char_ner_spark.pipeline import (build_dictionary_state,
                                             edges_from_triples)

        ph = Phases(self.name)
        base = self._gold_triples()
        ph.done("oracle wait")
        self.base_dir = os.path.join(self.work, "base")
        stored = [c.split() for c in TRIPLES_DDL.split(", ")]
        triples = self.spark.createDataFrame(base[gold.TRIPLE_COLS]).select(
            *[F.col(c).cast(t) for c, t in stored])
        for table, df in (("triples", triples),
                          ("edges", edges_from_triples(triples))):
            _commit_part(self.spark, self.base_dir, table, 0, df,
                         self.N_PARTS, len(self.pages))
        ph.done(f"base KG commit ({len(base)} triples)")
        self.deltas = self._bridging_deltas(base)
        self.unions = [pd.concat([self.alias, d], ignore_index=True)
                       for d in self.deltas]
        self.base_state = build_dictionary_state(self.spark, self.alias)
        ph.done("deltas and dictionary state")
        self.op(self.CYCLE - 1)
        ph.done("warm-up round")

    def _bridging_deltas(self, triples: pd.DataFrame) -> list[pd.DataFrame]:
        """Seeded one-alias deltas: entity ``b`` gains an alias of entity
        ``a``, both canonical ids that occur in the stored triples."""
        present = np.array(sorted(set(triples.subj) | set(triples.obj)),
                           dtype=np.int64)
        first_alias = self.alias.drop_duplicates("entity_id") \
            .set_index("entity_id")["alias"]
        rng = np.random.RandomState(self.seed)
        deltas = []
        for k in range(self.CYCLE):
            a, b = rng.choice(present, size=2, replace=False)
            deltas.append(pd.DataFrame(
                [(int(b), f"Bridge {k}", first_alias[int(a)], "en", 0.5,
                  "ORG")],
                columns=list(self.alias.columns)))
        return deltas

    def _restore(self) -> str:
        kg = os.path.join(self.work, "kg")
        shutil.rmtree(kg, ignore_errors=True)
        shutil.copytree(self.base_dir, kg)
        return kg

    # --- the two timed steps -----------------------------------------------

    def _update(self, kg: str, k: int):
        from char_ner_spark.incremental import (apply_dictionary_update,
                                                update_dictionary_state)

        state, remap = update_dictionary_state(
            self.spark, self.base_state, self.alias, self.deltas[k])
        stats = apply_dictionary_update(self.spark, kg, remap,
                                        alias_pdf=self.unions[k],
                                        canon=state["canon"])
        return remap, stats

    def _read_back(self, kg: str, read=None, span=_no_span) -> dict:
        """The read-back queries' answers, collected to the client."""
        from char_ner_spark import graph, lineage, sparql

        read = read or {
            "triples": lambda: self._stored_triples(kg),
            "edges": lambda: lineage.read_edges(self.spark, kg)}
        with span("sparql.parse_"):
            args = sparql.parse(BGP_QUERY)
        triples = read["triples"]()
        with span("graph.bgp."):
            bgp = graph.match_pattern(triples, args.pop("pattern"),
                                      **args).collect()
        edges = read["edges"]()
        with span("graph.pagerank."):
            ranks = graph.pagerank(edges, tol=1e-10, max_iter=2000).collect()
        return {"bgp": bgp, "pagerank": ranks}

    # --- checks (untimed) --------------------------------------------------

    def _check_update(self, kg: str, remap) -> None:
        from char_ner_spark.incremental import recanonicalize_triples
        from char_ner_spark.lineage import table_checksum

        got = table_checksum(self._stored_triples(kg))
        want = table_checksum(recanonicalize_triples(
            self._stored_triples(self.base_dir), remap))
        _expect(got == want, f"updated triples {got} != remapped {want}")

    def _check_read_back(self, kg: str, answers: dict) -> None:
        """Query answers against pandas/NumPy over the stored snapshot."""
        from char_ner_spark import lineage

        triples = self._stored_triples(kg).toPandas()
        edges = lineage.read_edges(self.spark, kg).toPandas()
        _expect({tuple(r) for r in answers["bgp"]}
                == gold.bgp_chain(triples, "works_for", "located_in"),
                "2-hop BGP answer differs from the oracle")
        want = gold.pagerank(edges)
        got = {r["entity"]: r["rank"] for r in answers["pagerank"]}
        _expect(got.keys() == want.keys()
                and all(abs(got[v] - want[v]) < 1e-7 for v in want),
                "PageRank differs from the oracle beyond 1e-7")

    # --- operations ----------------------------------------------------------

    def op(self, i: int) -> dict[str, float]:
        k = i % self.CYCLE
        kg = self._restore()
        sw = Stopwatch()
        with sw.step("dict_update"):
            remap, _ = self._update(kg, k)
        self._check_update(kg, remap)
        with sw.step("read_back"):
            answers = self._read_back(kg)
        self._check_read_back(kg, answers)
        return sw.result()

    def traced_op(self, i: int, tr: Tracer) -> dict[str, float]:
        from pyspark import StorageLevel

        from char_ner_spark import lineage
        from char_ner_spark.incremental import (apply_dictionary_update,
                                                update_dictionary_state)

        k = i % self.CYCLE
        kg = self._restore()
        sw = Stopwatch()
        with sw.step("dict_update"), tr.span("trace.op_"):
            with tr.span("incremental.canon_"):
                state, remap = update_dictionary_state(
                    self.spark, self.base_state, self.alias, self.deltas[k])
                remap = remap.localCheckpoint()
            with tr.span("incremental.apply_"):
                stats = apply_dictionary_update(
                    self.spark, kg, remap, alias_pdf=self.unions[k],
                    canon=state["canon"])
        tr.count("incremental.parts_rewritten",
                 sum(len(s["rewritten"]) for s in stats.values()))
        tr.count("incremental.triples_parts_rewritten",
                 len(stats.get("triples", {}).get("rewritten", [])))
        tr.count("incremental.triples_parts", self.N_PARTS)
        self._check_update(kg, remap)

        cached = []

        def reader(table):
            def read():
                with tr.span("lineage.read_"):
                    df = (self._stored_triples(kg) if table == "triples"
                          else lineage.read_edges(self.spark, kg))
                    df = df.persist(StorageLevel.MEMORY_AND_DISK)
                    df.count()
                cached.append(df)
                return df
            return read

        with sw.step("read_back"), tr.span("trace.op_"):
            answers = self._read_back(
                kg, read={t: reader(t) for t in ("triples", "edges")},
                span=tr.span)
        for df in cached:
            df.unpersist()
        tr.count("graph.bgp.rows", len(answers["bgp"]))
        tr.count("graph.pagerank.rows", len(answers["pagerank"]))
        self._check_read_back(kg, answers)
        return sw.result()


WORKLOADS = {w.name: w for w in (KgBuild, KgRefresh)}
