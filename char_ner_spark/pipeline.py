"""The KG-construction pipeline, expressed Spark-first (SURVEY.md §3.2).

Plan shape (hot path, a dictionary within ``BROADCAST_MAX_ROWS``):
  pages parquet scan (url,html,lang pruned columns)
   → repartition(salted url-hash)                   [shuffle 1 — skew-
     sortWithinPartitions(length(html))              defused batches]
   → mapInPandas kg_pass, one Python pass per batch [the one Arrow
     crossing]: extract_text + tag → probe each surface against the
     worker-resident AliasIndex → match each linked mention and its linked
     successor against the relation templates → canonical ids from the
     broadcast driver map
   → persist: mention rows + one array<struct<subj,pred,obj,conf>> column
   → mentions = the mention columns; triples = explode → distinct
                                                    [shuffle 2]

A dictionary beyond ``BROADCAST_MAX_ROWS`` takes the staged plan instead:
tag_pages → link_pairs (distributed LSH join) → extract_triples (template
and canonical-map broadcast joins); relink_parts runs the same staged
stages over stored mentions.

All Python crossings are Arrow-vectorized (no per-row Python —
BASELINE.json input_hint). The pure semantics live in textops/tagger/
linking/relations and are shared with the single-process oracle.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import linking, relations, textops
from .session import local_frame
from .tagger import tag_sentences

# ---------------------------------------------------------------------------
# stage 1: extract_text (byte-identical per url; SURVEY §2.2 P7)
# ---------------------------------------------------------------------------

_EXTRACT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("sha256", T.StringType()),
        T.StructField("lang", T.StringType()),
    ]
)


def _extract_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        texts = [textops.extract_text(h) for h in pdf["html"]]
        yield pd.DataFrame(
            {
                "url": pdf["url"].values,
                "text": texts,
                "sha256": [textops.sha256_text(t) for t in texts],
                "lang": pdf["lang"].values,
            }
        )


def extract_text_df(pages: DataFrame) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) → (url, text, sha256, lang).

    Only url/html/lang are read — Catalyst prunes the rest out of the scan."""
    return pages.select("url", "html", "lang").mapInPandas(
        _extract_batches, schema=_EXTRACT_SCHEMA
    )


# ---------------------------------------------------------------------------
# stage 2: tag_pages (fused extract + M1+M2+M4+M5; SURVEY §2.9)
# ---------------------------------------------------------------------------

_MENTION_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("sent_idx", T.IntegerType()),
        T.StructField("midx", T.IntegerType()),
        T.StructField("begin", T.IntegerType()),
        T.StructField("end", T.IntegerType()),
        T.StructField("surface", T.StringType()),
        T.StructField("ner_type", T.StringType()),
        T.StructField("score", T.DoubleType()),
        T.StructField("lang", T.StringType()),
        # text between this mention and the next one in the same sentence,
        # plus that mention's surface — carries exactly what relation-template
        # matching and pair-linking need, so neither needs a window shuffle:
        # kg_pass matches pairs inside the tagger's own batch, and the
        # staged extract_triples joins them against broadcast tables
        T.StructField("next_gap", T.StringType()),
        T.StructField("next_surface", T.StringType()),
    ]
)


def _tag_pdf(pdf: pd.DataFrame,
             weights_map: dict[str, dict] | None = None) -> pd.DataFrame:
    """One Arrow batch of (url, text, lang) → mention rows. ``weights_map``
    (lang → parameter dict, e.g. loaded from .npz) overrides the seeded
    weights — the reference's stored-model inference path."""
    out: dict[str, list] = {f.name: [] for f in _MENTION_SCHEMA.fields}
    # dropna=False: pandas' default silently SKIPS the NaN group — pages with
    # missing lang metadata would vanish from the mention stream without a
    # trace, contradicting the fail-loudly contract enforced just below
    for lang, grp in pdf.groupby("lang", sort=True, dropna=False):
        if lang is None or (isinstance(lang, float) and pd.isna(lang)):
            raise ValueError(
                f"{len(grp)} page(s) have null lang (e.g. url="
                f"{grp['url'].iloc[0]!r}); per-lang model dispatch requires "
                "a language tag — filter or backfill lang upstream"
            )
        # split every page of this lang, tag all sentences in one batch
        # (cross-page batching = big uniform GEMMs, the engine's analog
        # of the reference's sort-by-length batching)
        sent_texts: list[str] = []
        sent_meta: list[tuple[str, int]] = []
        for url, text in zip(grp["url"], grp["text"]):
            for si, sent in enumerate(textops.split_sentences(text)):
                sent_texts.append(sent)
                sent_meta.append((url, si))
        if weights_map is not None and lang not in weights_map:
            # never silently mix stored and seeded models: a corpus lang
            # absent from --weights-dir must fail loudly, not tag those
            # pages with untrained seeded parameters
            raise ValueError(
                f"weights_map has no entry for lang={lang!r} "
                f"(loaded: {sorted(weights_map)}); provide charner_{lang}.npz "
                "or drop --weights-dir to use seeded weights for all langs"
            )
        tagged = tag_sentences(sent_texts, lang,
                               weights=weights_map[lang] if weights_map else None)
        for (url, si), sent, spans in zip(sent_meta, sent_texts, tagged):
            for mi, (b, e, ner, sc) in enumerate(spans):
                nxt = spans[mi + 1] if mi + 1 < len(spans) else None
                out["url"].append(url)
                out["sent_idx"].append(si)
                out["midx"].append(mi)
                out["begin"].append(b)
                out["end"].append(e)
                out["surface"].append(sent[b:e])
                out["ner_type"].append(ner)
                out["score"].append(sc)
                out["lang"].append(lang)
                out["next_gap"].append(sent[e : nxt[0]] if nxt else None)
                out["next_surface"].append(sent[nxt[0] : nxt[1]] if nxt else None)
    return pd.DataFrame(out)


def _tag_pages_batches_fn(weights_map: dict[str, dict] | None = None):
    """Fused extract_text + tag: one Python crossing for the mention path."""

    def go(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pd.DataFrame(
                {
                    "url": pdf["url"].values,
                    "text": [textops.extract_text(h) for h in pdf["html"]],
                    "lang": pdf["lang"].values,
                }
            )
            yield _tag_pdf(pdf, weights_map)

    return go


#: default (seeded-weights) instance — the streaming surface imports this
_tag_pages_batches = _tag_pages_batches_fn(None)


#: domain of a page url (JVM regexp — no Python crossing)
_DOMAIN_RE = r"^[a-z]+://([^/]+)"


def _domain_col(url_col="url"):
    return F.regexp_extract(F.col(url_col), _DOMAIN_RE, 1)


def derive_salt(pages: DataFrame, n_parts: int | None = None,
                sample_fraction: float = 0.01, seed: int = 42,
                min_salt: int = 16) -> tuple[int, dict]:
    """Measure domain skew on a seeded url sample and derive the salt
    (bucket count) a BOUNDED-key repartition/aggregation needs to stay
    balanced (round-5 item; A7 per-domain histograms). One extra narrow
    job: sample 1% of the pruned url column, count per domain, take the
    max share. salt = next power of two ≥ 2 · max_share · n_parts,
    clamped to [min_salt, 4·n_parts] — i.e. the hottest domain splits
    into enough buckets that no partition carries more than ~half a
    partition's fair share of it. Returns (salt, stats) where stats
    carries the evidence (max domain share, sampled rows, top domain);
    callers surface it through ``df.observe`` so it rides the action into
    the lineage metrics. Scale note: at 100 TB this reads ONE pruned
    column at 1% — the same probe a real cluster job would run — and the
    aggregate is partial-agg'd map-side (#domains rows cross the wire)."""
    if n_parts is None:
        n_parts = int(pages.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    # one narrow job: per-domain partial counts, then a single-row rollup of
    # (hottest domain, total sampled rows)
    row = (
        pages.select(_domain_col().alias("domain"))
        .sample(fraction=sample_fraction, seed=seed)
        .groupBy("domain")
        .count()
        .agg(
            F.max(F.struct(F.col("count"), F.col("domain"))).alias("top"),
            F.sum("count").alias("total"),
        )
        .collect()[0]
    )
    total = row["total"] or 0
    if total == 0:
        return min_salt, {"max_domain_share_e6": 0, "sampled_rows": 0,
                          "top_domain": None, "salt": min_salt}
    top = row["top"]
    max_share = top["count"] / total
    salt = min_salt
    while salt < min(2 * max_share * n_parts, 4 * n_parts):
        salt *= 2
    stats = {
        "max_domain_share_e6": int(max_share * 1_000_000),
        "sampled_rows": int(total),
        "top_domain": top["domain"],
        "salt": int(salt),
    }
    return int(salt), stats


def domain_histogram(pages: DataFrame, salt: int | str = "auto") -> DataFrame:
    """Per-domain page count + byte volume (SURVEY §2.4 A7) as a two-stage
    skew-salted aggregation: stage 1 partial-aggregates on the bounded key
    (domain, url-hash mod salt) so one hot domain spreads over `salt`
    reducers; stage 2 merges the ≤ #domains·salt partials. With
    salt="auto" the bucket count comes from :func:`derive_salt`'s measured
    skew and the evidence rides the action via ``observe`` (metrics
    ``domain_salt``). Output is identical to a naive groupBy(domain) —
    the skew test pins that."""
    pages, salt = _resolve_salt(pages, salt)
    stage1 = (
        pages.select(
            _domain_col().alias("domain"),
            F.pmod(F.xxhash64("url"), F.lit(int(salt))).alias("bucket"),
            F.length("html").alias("n_bytes"),
        )
        .groupBy("domain", "bucket")
        .agg(F.count(F.lit(1)).alias("pages"), F.sum("n_bytes").alias("bytes"))
    )
    return stage1.groupBy("domain").agg(
        F.sum("pages").alias("pages"), F.sum("bytes").alias("bytes")
    )


def _salted_repartition(df: DataFrame, salt: int) -> DataFrame:
    """Spread pages evenly by url hash — the unbounded salt. This defuses
    host/domain/lang skew completely (urls are unique), and the tagger UDF
    groups by lang inside each Arrow batch, so batches stay GEMM-friendly
    without lang-pure partitions. (A bounded lang×salt key set collides into
    partitions unevenly — measured stragglers at 32 partitions.) `salt`
    is therefore a hash SEED here, not a bucket count: per-row keys need
    no skew factor, which the domain-skew test pins (one domain = 50% of
    pages still yields balanced partitions). The measured-skew salt from
    :func:`derive_salt` parameterizes the bounded-key aggs
    (:func:`domain_histogram`) where bucket count genuinely matters."""
    n = df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    return df.repartition(int(n), F.xxhash64("url", F.lit(salt)))


def _resolve_salt(df: DataFrame, salt: int | str) -> tuple[DataFrame, int]:
    """salt="auto" → derive from measured domain skew and attach the
    evidence to the frame via observe (metrics ``domain_salt``)."""
    if salt != "auto":
        return df, int(salt)
    derived, stats = derive_salt(df)
    df = df.observe(
        "domain_salt",
        F.max(F.lit(stats["salt"])).alias("salt"),
        F.max(F.lit(stats["max_domain_share_e6"])).alias("max_domain_share_e6"),
        F.max(F.lit(stats["sampled_rows"])).alias("sampled_rows"),
    )
    return df, derived


def tag_pages(pages: DataFrame, salt: int | str = 16,
              weights_map: dict[str, dict] | None = None) -> DataFrame:
    """pages(url, html, lang) → mentions, extracting text inside the same
    UDF: the tagger's one batch entry point (extract_text_df stays the
    byte-identity surface). html length is the padding-sort proxy for
    text length.
    salt="auto" derives the value from measured domain skew
    (:func:`derive_salt`) and logs the evidence through observe; the
    default stays a fixed seed because the per-row url-hash key is
    skew-immune (see :func:`_salted_repartition`) and the extra sampled
    probe job is only worth paying when the caller wants the skew metrics
    recorded."""
    return _page_batches(pages, salt).mapInPandas(
        _tag_pages_batches_fn(weights_map), schema=_MENTION_SCHEMA)


def _page_batches(pages: DataFrame, salt: int | str) -> DataFrame:
    """The tagger's input: (url, html, lang) spread by the salted url hash,
    each partition sorted by html length."""
    pages, salt = _resolve_salt(pages.select("url", "html", "lang"), salt)
    return _salted_repartition(pages, salt).sortWithinPartitions(
        F.length("html"))


# ---------------------------------------------------------------------------
# stage 3: linking (broadcast exact + MinHash LSH fuzzy; SURVEY §2.3 J3/J4)
# ---------------------------------------------------------------------------


def _norm_col(c):
    """Spark-native surface normalization — must equal textops.normalize_surface."""
    x = F.lower(c)
    x = F.regexp_replace(x, r"[^a-z0-9 ]+", " ")
    x = F.regexp_replace(x, r" +", " ")
    return F.trim(x)


@F.pandas_udf(T.ArrayType(T.LongType()))
def _bands_udf(s: pd.Series) -> pd.Series:
    # None → no bands; but an EMPTY normalized surface gets its (degenerate)
    # bands like any other — AliasIndex computes minhash_bands('') too, and
    # an `if x else []` here made the LSH path unable to link surfaces that
    # normalize empty while the broadcast/oracle path could (path divergence).
    # already_norm: the input is _norm_col output ≡ normalize_surface (P4
    # parity-tested), so the batch path skips re-normalization and runs one
    # vectorized universal-hash pass over the whole Arrow batch.
    import numpy as np

    idx = np.flatnonzero(s.notna().to_numpy())
    bands = textops.minhash_bands_batch(s.iloc[idx].tolist(), already_norm=True)
    out: list[list[int]] = [[] for _ in range(len(s))]
    for j, i in enumerate(idx):
        out[i] = bands[j].tolist()
    return pd.Series(out, index=s.index)


@F.pandas_udf(T.DoubleType())
def _cand_score_udf(surface_norm: pd.Series, alias_norm: pd.Series,
                    prior: pd.Series) -> pd.Series:
    """Candidate score: exact normalized match → exact_score (≥1.0, always
    beats fuzzy ≤1.0, so 'exact wins' needs no separate join path); else
    trigram-Jaccard fuzzy score, None below threshold.

    The Jaccard runs as ONE textops.batch_jaccard_pairs call per Arrow
    batch (sorted-array set ops over packed gram codes — the round-3
    verdict's remaining zip-loop built two Python gram sets per row);
    only the round()-bearing score arithmetic stays per-row, pinned to
    linking.fuzzy_score/exact_score so scores remain bit-identical to the
    oracle's."""
    import numpy as np

    s = surface_norm.to_numpy(dtype=object)
    a = alias_norm.to_numpy(dtype=object)
    p = prior.to_numpy(dtype="float64")
    out = np.full(len(s), np.nan)
    exact = s == a
    for i in np.flatnonzero(exact):
        out[i] = linking.exact_score(float(p[i]))
    fz = np.flatnonzero(~exact)
    if len(fz):
        jacc = textops.batch_jaccard_pairs(
            s[fz].tolist(), a[fz].tolist(), already_norm=True
        )
        for k, i in enumerate(fz):
            if jacc[k] >= linking.JACCARD_MIN:
                out[i] = linking.fuzzy_score(float(jacc[k]), float(p[i]))
    return pd.Series(out, dtype="float64")


def alias_spark_tables(spark: SparkSession, alias_pdf: pd.DataFrame) -> dict[str, DataFrame]:
    """Alias dictionary → banded LSH join table (broadcast-sized by contract,
    north_rule: 'broadcast alias dictionary'). One table serves exact AND
    fuzzy candidates: equal normalized surfaces have identical MinHash
    signatures, so every exact match is a guaranteed band collision — a
    separate exact-join table would be dead plumbing (nothing consumed the
    one this function used to emit)."""
    norm = alias_pdf["alias"].map(textops.normalize_surface)
    exact_pdf = pd.DataFrame(
        {
            "alias_norm": norm,
            "entity_id": alias_pdf["entity_id"].astype("int64"),
            "prior": alias_pdf["prior"].astype("float64"),
        }
    ).drop_duplicates()
    band_rows = []
    all_bands = textops.minhash_bands_batch(
        exact_pdf["alias_norm"].tolist(), already_norm=True
    )
    for (an, eid, prior), row_bands in zip(
        exact_pdf.itertuples(index=False), all_bands
    ):
        for bi, bh in enumerate(row_bands):
            band_rows.append((bi, int(bh), an, eid, prior))
    bands_pdf = pd.DataFrame(
        band_rows, columns=["band_idx", "band_hash", "alias_norm", "entity_id", "prior"]
    )
    return {"bands": spark.createDataFrame(bands_pdf)}


def best_links(surfaces: DataFrame, alias_tables: dict[str, DataFrame]) -> DataFrame:
    """DISTINCT surfaces → (surface_norm, entity_id, link_score) winners.

    One LSH pass covers exact matches too: equal normalized surfaces have
    identical MinHash signatures, so every exact match is a guaranteed
    band collision; the scoring UDF detects exactness (score ≥ 1.0 ≥ any
    fuzzy score, preserving the oracle's exact-first contract)."""
    bands = alias_tables["bands"]
    norm = surfaces.select(_norm_col(F.col("surface")).alias("surface_norm")).distinct()
    cands = (
        norm.select("surface_norm",
                    F.posexplode(_bands_udf("surface_norm")).alias("band_idx", "band_hash"))
        .join(F.broadcast(bands), ["band_idx", "band_hash"], "inner")
        .select("surface_norm", "alias_norm", "entity_id", "prior")
        .distinct()
        .withColumn("cand_score", _cand_score_udf("surface_norm", "alias_norm", "prior"))
        .filter(F.col("cand_score").isNotNull())
        .withColumn(
            "is_exact", (F.col("surface_norm") == F.col("alias_norm")).cast("int")
        )
        .select("surface_norm", "entity_id", "cand_score", "is_exact")
    )
    # rank exact candidates strictly above fuzzy ones, NOT by score alone:
    # AliasIndex.link ignores fuzzy entirely when an exact hit exists, and
    # "exact_score >= 1.0 >= fuzzy_score" ties at the knife edge (exact
    # prior 0 vs jaccard-1.0 fuzzy prior 1 both score 1.0) — score-only
    # ordering could then pick the fuzzy row the oracle never considers
    w = Window.partitionBy("surface_norm").orderBy(
        F.desc("is_exact"), F.desc("cand_score"), F.asc("entity_id")
    )
    return (
        cands.withColumn("rk", F.row_number().over(w))
        .filter("rk = 1")
        .select("surface_norm", "entity_id", F.col("cand_score").alias("link_score"))
    )


_ALIAS_IDX_CACHE: dict[str, object] = {}


def _alias_fingerprint(alias_pdf: pd.DataFrame) -> str:
    """Content fingerprint of an alias dictionary — the worker-side cache
    key. id(bc.value) is NOT safe: with worker reuse a later broadcast can
    be allocated at a freed address and silently hit a stale AliasIndex
    built from a different dictionary (ADVICE r1)."""
    h = pd.util.hash_pandas_object(
        alias_pdf[["entity_id", "alias", "prior"]], index=False
    )
    return f"{len(alias_pdf)}-{int(h.sum()) & 0xFFFFFFFFFFFFFFFF:016x}"


_BC_CACHE: dict[tuple, tuple[object, object]] = {}


def _cached_broadcast(spark: SparkSession, key, value):
    """Driver-side cache of a dictionary-scale broadcast, keyed by
    (applicationId, ``key``): run_partitioned runs a pass once per work
    unit (K ~ 10k), and re-broadcasting the identical dictionary per unit
    is pure wasted shipment. applicationId in the key keeps a restarted
    SparkContext from resurrecting a dead broadcast. The entry holds the
    value too, so an ``id()`` in ``key`` cannot be reused by another
    object while the entry lives."""
    full = (spark.sparkContext.applicationId, key)
    hit = _BC_CACHE.get(full)
    if hit is None:
        if len(_BC_CACHE) >= 8:  # bound driver-held broadcasts
            _BC_CACHE.clear()
        hit = (value, spark.sparkContext.broadcast(value))
        _BC_CACHE[full] = hit
    return hit[1]


def _alias_broadcast(spark: SparkSession, alias_pdf: pd.DataFrame):
    """The alias dictionary's broadcast and its content fingerprint."""
    fp = _alias_fingerprint(alias_pdf)
    return _cached_broadcast(spark, ("alias", fp), alias_pdf), fp


def _canon_broadcast(spark: SparkSession, canon_map: dict[int, int]):
    """The ``{entity_id: canonical_id}`` driver map as a broadcast, keyed
    by the map's identity: every unit of a build passes the same
    ``dict_state["canon_map"]``, so no unit hashes the dictionary-scale
    map again (dictionary states are never mutated, only replaced)."""
    return _cached_broadcast(spark, ("canon", id(canon_map)), canon_map)


def _worker_alias_index(bc, fp):
    """Worker-resident AliasIndex for a broadcast dictionary, cached by
    content fingerprint (worker reuse makes the cache span tasks; the
    fingerprint key keeps a re-used worker from probing a stale index —
    ADVICE r1)."""
    from .linking import AliasIndex

    idx = _ALIAS_IDX_CACHE.get(fp)
    if idx is None:
        idx = AliasIndex(bc.value)
        if len(_ALIAS_IDX_CACHE) >= 4:  # bound worker-resident indexes
            _ALIAS_IDX_CACHE.clear()
        _ALIAS_IDX_CACHE[fp] = idx
    return idx


#: the largest alias dictionary the linker broadcasts to every worker;
#: beyond it linking takes the distributed LSH join
BROADCAST_MAX_ROWS = 5_000_000


def link_pairs(mentions: DataFrame, alias_tables: dict[str, DataFrame],
               alias_pdf: pd.DataFrame | None = None,
               broadcast_max_rows: int = BROADCAST_MAX_ROWS) -> DataFrame:
    """Link each mention AND its sentence-adjacent successor in one pass:
    two broadcast joins against a RAW-surface winner table — no shuffle of
    the mention stream, and (critically) no normalization of it either.
    Surface normalization (3 regex passes) runs only on the DISTINCT raw
    surfaces — Zipf-deduped, orders of magnitude smaller than the mention
    stream; measured 8.3s of the 400k-page run at local[8] (and worse, it
    was the scaling anchor: Java-regex pointer chasing saturates shared
    cache, so it sped up only 2x from 2→8 cores while the tagger did 3.6x)
    when applied per-mention. The mention joins hash raw strings instead.
    With ``alias_pdf`` within ``broadcast_max_rows`` (the north_rule
    default: a broadcastable dictionary) winners come from the one-stage
    AliasIndex probe, FUSED with the raw-surface map: one job scans the
    mention stream once (both surface columns exploded), distincts the raw
    surfaces, JVM-normalizes each, and probes the broadcast index inside
    the same mapInPandas — the round-4 shape (surfaces checkpoint →
    norm-distinct shuffle → probe → join back → second checkpoint) spent
    ~9 serial seconds per 400k-page unit on eager jobs this fusion
    removes, the single largest Amdahl term in the 4-vs-16-core scaling
    fit. Winners are identical: the probe is a pure function of the
    normal form, so probing once per RAW surface instead of once per norm
    changes work shape, not results (path-equality tested against the
    distributed join). A dictionary beyond the broadcast budget — or none
    supplied — takes the distributed LSH join, which produces identical
    winners."""
    surfaces = (
        mentions.select(
            F.explode(F.array("surface", "next_surface")).alias("surface")
        )
        .filter(F.col("surface").isNotNull())
        .distinct()
    )
    if alias_pdf is not None and len(alias_pdf) <= broadcast_max_rows:
        bc, fp = _alias_broadcast(mentions.sparkSession, alias_pdf)

        def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            idx = _worker_alias_index(bc, fp)
            for pdf in batches:
                hits = idx.link_batch(
                    pdf["surface_norm"].tolist(), already_norm=True
                )
                keep = [i for i, h in enumerate(hits) if h is not None]
                yield pd.DataFrame(
                    {
                        "surface": pdf["surface"].iloc[keep].to_numpy(),
                        "entity_id": pd.array(
                            [hits[i][0] for i in keep], dtype="int64"
                        ),
                        "link_score": pd.array(
                            [hits[i][1] for i in keep], dtype="float64"
                        ),
                    }
                )

        raw_map = (
            surfaces.withColumn("surface_norm", _norm_col(F.col("surface")))
            .mapInPandas(
                gen,
                schema="surface string, entity_id bigint, link_score double",
            )
            .localCheckpoint()
        )
    else:
        # dictionary beyond broadcast budget (or none supplied): the
        # distributed banded-LSH join path — identical winners to the
        # broadcast probe (test_link_pairs_broadcast_budget_fallback_identical)
        surfaces = surfaces.localCheckpoint()  # feeds the LSH join AND the raw map
        best = best_links(surfaces, alias_tables)
        # per-NORM winners → per-RAW-surface winners: two raw surfaces
        # sharing a normal form both pick up its winner
        raw_map = (
            surfaces.withColumn("surface_norm", _norm_col(F.col("surface")))
            .join(best, "surface_norm", "inner")
            .select("surface", "entity_id", "link_score")
            .localCheckpoint()
        )
    # materialized ONCE — it feeds two broadcast joins, and broadcasting a
    # plan re-executes it per join otherwise. Lifetime: these per-call
    # localCheckpoint caches (surfaces + raw_map, both tiny distinct-surface
    # tables) are released by Spark's ContextCleaner once the unit's plan
    # references are dropped (run_partitioned drops them with each unit), so
    # K~10k resumable units don't accumulate blocks for the session lifetime
    nxt = F.broadcast(
        raw_map.select(
            F.col("surface").alias("next_surface"),
            F.col("entity_id").alias("next_entity"),
            F.col("link_score").alias("next_score"),
        )
    )
    return (
        mentions.join(F.broadcast(raw_map), "surface", "left")
        .join(nxt, "next_surface", "left")
    )


# ---------------------------------------------------------------------------
# stage 4: triples via per-sentence windows (SURVEY §2.5 W2, §2.9 M8)
# ---------------------------------------------------------------------------


def _gap_norm_col(c):
    """Spark-native gap tokenization — must equal relations.normalize_gap
    (parity-tested in tests/test_relations_gap.py). Explicit character
    classes keep Java and Python regex semantics identical."""
    x = F.lower(c)
    x = F.regexp_replace(x, relations.GAP_PUNCT_PATTERN, " ")
    x = F.regexp_replace(x, relations.GAP_WS_PATTERN, " ")
    x = F.trim(x)
    return F.when(x == "", F.lit(" ")).otherwise(
        F.concat(F.lit(" "), x, F.lit(" "))
    )


def middles_table(spark: SparkSession) -> DataFrame:
    """Broadcast template table, one row per (template, filler count):
    a bounded-gap template (pre, gmax, post) explodes into rows f=0..gmax,
    so matching stays a pure EQUI-join on (lang, pre, post, f) — the same
    broadcast-hash-join plan shape the exact-middle table had (round-4:
    SURVEY §2.9 M8 bounded-gap patterns)."""
    rows = [
        (lang, " ".join(pre), " ".join(post), f, pred, subj_left)
        for lang, specs in relations.TEMPLATES.items()
        for pre, gmax, post, pred, subj_left in specs
        for f in range(gmax + 1)
    ]
    # a local frame, not createDataFrame(list): a list makes a pickled
    # Python RDD, and every broadcast of it starts a second worker pool
    return local_frame(
        spark, sorted(set(rows)),
        "lang string, pre string, post string, f int, pred string, "
        "subj_left boolean",
    )


#: longest gap (in tokens) any template shape can absorb — gaps above this
#: emit zero keys, so the triple stage drops them BEFORE key construction
_MAX_KEY_TOKENS = max(pl + jl + fmax
                      for (pl, jl), fmax in relations.TEMPLATE_SHAPES.items())


def _gap_toks_col(c):
    """Gap → normalized token array in ONE regex pass (round-5 fast path):
    split lower(gap) on the combined punct∪ws separator class instead of
    the replace→replace→collapse→re-split chain — same tokens (parity
    fuzz-tested vs relations.normalize_gap().split()), no intermediate
    string materialization per pair. The triple stage runs this on every
    adjacent linked pair, so the saved regex passes are the bounded-gap
    overhead round 4 measured."""
    return F.array_remove(
        F.split(F.lower(c), relations.GAP_SEP_PATTERN, -1), ""
    )


def _gap_keys_col(toks):
    """Candidate (pre, post, f) join keys from a gap's normalized token
    array — the probe side of the bounded-gap template join. For each
    template SHAPE (|pre| tokens, |post| tokens — driver-side constants
    from relations.TEMPLATE_SHAPES) the gap's first |pre| and last |post|
    tokens form a key with filler count f = n - |pre| - |post|, emitted
    only when 0 ≤ f ≤ that shape's max gap bound. All JVM expressions
    (slice/array_join under conditional branches) — most pairs emit ZERO
    keys (long gaps exceed every shape's bound), so explode drops them
    before the broadcast join ever sees them; the per-pair key fan-out is
    bounded by the handful of registry shapes, never by gap length."""
    n = F.size(toks)
    keys = []
    for (pl, jl), fmax in sorted(relations.TEMPLATE_SHAPES.items()):
        f = n - F.lit(pl) - F.lit(jl)
        keys.append(
            F.when(
                (n >= pl + jl) & (f <= fmax),
                F.struct(
                    F.array_join(F.slice(toks, 1, pl), " ").alias("pre"),
                    F.array_join(
                        F.slice(toks, n - F.lit(jl) + 1, jl), " "
                    ).alias("post"),
                    f.cast("int").alias("f"),
                ),
            )
        )
    return F.filter(F.array(*keys), lambda x: x.isNotNull())


def extract_triples(linked_pairs: DataFrame, canon: DataFrame, middles: DataFrame) -> DataFrame:
    """Adjacent linked mention pairs whose gap matches a template → triples.

    Input rows already carry (entity_id, next_entity) from :func:`link_pairs`
    — adjacency was captured by the tagger, so this stage is broadcast joins
    and a filter only; its single shuffle is the final dedup."""
    pairs = (
        linked_pairs.filter(
            F.col("entity_id").isNotNull() & F.col("next_entity").isNotNull()
        )
        .withColumn("gtoks", _gap_toks_col(F.col("next_gap")))
        # cheap pre-filter: a gap longer than every shape's token budget
        # can't match any template — drop it before key construction
        .where(F.size("gtoks") <= _MAX_KEY_TOKENS)
        .withColumn("gk", F.explode(_gap_keys_col(F.col("gtoks"))))
        .select("*", F.col("gk.pre").alias("pre"),
                F.col("gk.post").alias("post"), F.col("gk.f").alias("f"))
        .join(F.broadcast(middles), ["lang", "pre", "post", "f"], "inner")
    )
    canon_b = F.broadcast(canon)
    trip = (
        pairs.withColumn("subj_raw", F.when(F.col("subj_left"), F.col("entity_id"))
              .otherwise(F.col("next_entity")))
        .withColumn("obj_raw", F.when(F.col("subj_left"), F.col("next_entity"))
                    .otherwise(F.col("entity_id")))
        .withColumn("conf", F.round(F.least("link_score", "next_score"), 6))
        .join(canon_b.withColumnRenamed("entity_id", "subj_raw")
              .withColumnRenamed("canonical_id", "subj"), "subj_raw", "left")
        .join(canon_b.withColumnRenamed("entity_id", "obj_raw")
              .withColumnRenamed("canonical_id", "obj"), "obj_raw", "left")
        .select(
            F.coalesce("subj", "subj_raw").alias("subj"),
            "pred",
            F.coalesce("obj", "obj_raw").alias("obj"),
            "url",
            "sent_idx",
            "conf",
        )
        .distinct()
    )
    return trip


# ---------------------------------------------------------------------------
# the fused pass: tag, link, relate and canonicalize in one mapInPandas
# ---------------------------------------------------------------------------

#: the fused pass's output: the mention rows plus, on each mention that has
#: a linked successor, the triples of that pair
_PASS_SCHEMA = T.StructType(_MENTION_SCHEMA.fields + [
    T.StructField("triples", T.ArrayType(T.StructType([
        T.StructField("subj", T.LongType()),
        T.StructField("pred", T.StringType()),
        T.StructField("obj", T.LongType()),
        T.StructField("conf", T.DoubleType()),
    ]))),
])


def _pair_triples(m: pd.DataFrame, index,
                  canon: dict[int, int]) -> pd.Series:
    """Per mention row of one tagged batch: the triples of the mention and
    its sentence successor when both link, else None. The staged plan's
    semantics (link_pairs + extract_triples): only immediate successors
    pair, every template hit emits, conf is the weaker link score rounded
    to 6 places, ids map through the canonical map."""
    surfaces = list(dict.fromkeys(m["surface"]))  # ⊇ every next_surface
    hit = dict(zip(surfaces, index.link_batch(surfaces)))
    out: list = []
    for surface, nxt, gap, lang in zip(m["surface"], m["next_surface"],
                                       m["next_gap"], m["lang"]):
        left = hit[surface]
        right = hit[nxt] if nxt is not None else None
        if left is None or right is None:
            out.append(None)
            continue
        conf = round(min(left[1], right[1]), 6)
        rows = []
        for pred, subj_left in relations.match_middles(lang, gap):
            subj, obj = (left[0], right[0]) if subj_left else (right[0], left[0])
            rows.append({"subj": canon.get(subj, subj), "pred": pred,
                         "obj": canon.get(obj, obj), "conf": conf})
        out.append(rows or None)
    # object dtype even when empty: Arrow converts no float column to a list
    return pd.Series(out, index=m.index, dtype=object)


def kg_pass(pages: DataFrame, alias_pdf: pd.DataFrame,
            canon_map: dict[int, int], salt: int | str = 16,
            weights_map: dict[str, dict] | None = None) -> DataFrame:
    """pages(url, html, lang) → :data:`_PASS_SCHEMA` rows in ONE Python
    pass per page batch: extract + tag (:func:`_tag_pdf`), probe every
    surface against the worker-resident AliasIndex of the broadcast
    dictionary, match each linked pair against the relation templates and
    map its ids through the broadcast canonical map. Rows equal
    :func:`tag_pages`' plus the triples column; :func:`pass_triples` equals
    ``extract_triples(link_pairs(tag_pages(...)))`` row for row."""
    spark = pages.sparkSession
    alias_bc, fp = _alias_broadcast(spark, alias_pdf)
    canon_bc = _canon_broadcast(spark, canon_map)
    tag = _tag_pages_batches_fn(weights_map)

    def go(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        index = _worker_alias_index(alias_bc, fp)
        canon = canon_bc.value
        for m in tag(batches):
            yield m.assign(triples=_pair_triples(m, index, canon))

    return _page_batches(pages, salt).mapInPandas(go, schema=_PASS_SCHEMA)


def pass_triples(passed: DataFrame) -> DataFrame:
    """The triples of a :func:`kg_pass` frame, in extract_triples' columns;
    its one shuffle is the final dedup."""
    return (
        passed.select("url", "sent_idx", F.explode("triples").alias("t"))
        .select("t.subj", "t.pred", "t.obj", "url", "sent_idx", "t.conf")
        .distinct()
    )


def edges_from_triples(triples: DataFrame) -> DataFrame:
    """Graph materialization: (src, dst, rel, weight=sum conf)."""
    return (
        triples.groupBy(F.col("subj").alias("src"), F.col("obj").alias("dst"),
                        F.col("pred").alias("rel"))
        .agg(F.sum("conf").alias("weight"))
    )


#: column types of the entities dimension
ENTITIES_DDL = ("entity_id long, canonical_id long, canonical_name string, "
                "lang string")


def entities_table(spark: SparkSession, alias_pdf: pd.DataFrame,
                   canon: DataFrame | dict[int, int]) -> DataFrame:
    """Entity dimension: one row per dictionary entity with its canonical
    id (null for an entity the canonical map lacks). Unit-invariant —
    identical whichever work unit (or job) computes it, so the lineage
    layer materializes it once per run, not per unit.

    Built on the driver from the canonical map, given as the driver dict
    (a dictionary state's ``canon_map``) or as the frame (collected: no
    Spark job for :func:`canon_frame`'s local frame). The left merge runs
    in pandas and the result is a ``LocalTableScan``, so writing it is
    one Spark job."""
    if isinstance(canon, DataFrame):
        canon = dict(canon.select("entity_id", "canonical_id").collect())
    cmap = pd.DataFrame({
        "entity_id": pd.Series(list(canon), dtype="int64"),
        "canonical_id": pd.Series(list(canon.values()), dtype="Int64")})
    ents = alias_pdf[["entity_id", "canonical_name", "lang"]].drop_duplicates(
        "entity_id").astype({"entity_id": "int64"})
    return local_frame(spark, ents.merge(cmap, on="entity_id", how="left"),
                       ENTITIES_DDL)


# ---------------------------------------------------------------------------
# end-to-end
# ---------------------------------------------------------------------------


def canon_frame(spark: SparkSession, canon_map: dict[int, int]) -> DataFrame:
    """``{entity_id: canonical_id}`` as the canonical-map frame
    (``entity_id long, canonical_id long``, sorted by entity id), a
    driver-side ``LocalTableScan``: collecting it issues no Spark job."""
    items = sorted(canon_map.items())
    return local_frame(
        spark,
        pd.DataFrame({"entity_id": [k for k, _ in items],
                      "canonical_id": [v for _, v in items]}),
        "entity_id long, canonical_id long",
    )


def canon_dict(canon: DataFrame) -> dict[int, int]:
    """The canonical-map frame collected to ``{entity_id: canonical_id}``:
    dictionary-scale, one collect."""
    pdf = canon.toPandas()
    return dict(zip(pdf["entity_id"].astype("int64"),
                    pdf["canonical_id"].astype("int64")))


def build_dictionary_state(
    spark: SparkSession,
    alias_pdf: pd.DataFrame,
) -> dict:
    """Unit-invariant dictionary-side state: alias join tables + canonical
    map. Built once and shared across work units / scaling runs (the page
    stream scales with the corpus; this scales with the dictionary).

    The alias dictionary is a driver-side pandas frame and canonicalization
    is driver union-find over the alias graph
    (``linking.union_find_canonical``, min entity id per connected
    component). The map is kept both as the driver dict ``canon_map``,
    which the fused pass broadcasts, and as the frame ``canon``, which the
    staged triples join and the copy-on-write paths read; the dictionary
    updates (``incremental.update_dictionary_state``,
    ``removal.remove_aliases``) return both as well."""
    from .linking import union_find_canonical

    alias_tables = alias_spark_tables(spark, alias_pdf)
    canon_map = union_find_canonical(alias_pdf)
    return {**alias_tables, "canon": canon_frame(spark, canon_map),
            "canon_map": canon_map}


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    alias_pdf: pd.DataFrame,
    salt: int | str = 16,
    dict_state: dict | None = None,
    weights_map: dict[str, dict] | None = None,
) -> dict[str, DataFrame]:
    """Full KG pipeline. Returns DataFrames, all lazy; the tagger output is
    persisted so the tagger runs once for every sink.

    With the dictionary within :data:`BROADCAST_MAX_ROWS`, one
    :func:`kg_pass` per page batch tags, links, relates and canonicalizes;
    mentions are its mention columns and triples :func:`pass_triples`.
    Beyond it, the staged plan runs: :func:`tag_pages`, then
    :func:`link_pairs`' distributed LSH join and :func:`extract_triples`.
    Both give the same rows. ``dict_state`` defaults to
    :func:`build_dictionary_state`. The result holds no entities
    dimension: it is unit-invariant, so the writers that store it build it
    once with :func:`entities_table` over ``out["canon"]``."""
    from pyspark import StorageLevel

    if dict_state is None:
        dict_state = build_dictionary_state(spark, alias_pdf)
    canon = dict_state["canon"]
    if len(alias_pdf) <= BROADCAST_MAX_ROWS:
        # the pass feeds the triples, mentions and edges sinks — persist so
        # the tagger runs exactly once
        passed = kg_pass(pages, alias_pdf, dict_state["canon_map"],
                         salt=salt, weights_map=weights_map).persist(
            StorageLevel.MEMORY_AND_DISK)
        mentions = passed.select(*_MENTION_SCHEMA.fieldNames())
        triples = pass_triples(passed)
    else:
        passed = mentions = tag_pages(
            pages, salt=salt, weights_map=weights_map).persist(
            StorageLevel.MEMORY_AND_DISK)
        # no alias_pdf: a dictionary this size takes the distributed join
        linked = link_pairs(mentions, {"bands": dict_state["bands"]})
        triples = extract_triples(linked, canon, middles_table(spark))
    return {
        "extracted": extract_text_df(pages),
        "passed": passed,
        "mentions": mentions,
        "canon": canon,
        "triples": triples,
        "edges": edges_from_triples(triples),
    }
