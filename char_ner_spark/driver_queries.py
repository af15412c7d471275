"""Driver-contract query registry: KG-engine code checked against an
independent engine.

Each entry is a Spark callable ``fn(spark, sf_dir)`` paired with a DuckDB
oracle that recomputes the same rows without Spark. No entry reads an sf
table (``sf_dir`` is accepted for the driver's calling convention only):
each runs on a deterministic fixture staged under the temp dir.

  - ``kg_triples_fixture``: the full KG pipeline (extract → tag → link →
    canonicalize → triples) against the staged single-process golden run;
  - ``kg_mentions_fixture``: the tagger stage alone against the golden
    run's mention table;
  - ``conll_reader_fixture``: the reference's CoNLL input format through
    the Spark reader against a DuckDB re-parse of the same file.

Contract invariants (learned in round 1):
  - every computed numeric column is integerized (e6 fixed-point via
    FLOOR→BIGINT) so Spark and DuckDB hash identically;
  - no array-typed output columns — the driver's canonicalizer sorts
    column values in pandas and lists are unhashable; arrays are projected
    to space-joined strings.

The media byte-stat pair (``_fn_media_features`` / ``_media_duck_sql``)
follows the same contract but stays out of the registry: it checks
``multimodal``'s decoders, not KG code.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# flagship KG fixture corpus: fixed size (NOT sized from the sf tables) so
# the staged golden-oracle parquet below matches the Spark query at any sf
_KG_N_ENTITIES, _KG_N_PAGES = 120, 240


def _kg_corpus():
    from .fixtures import make_alias_table, make_pages

    alias = make_alias_table(_KG_N_ENTITIES, seed=42)
    pages = make_pages(_KG_N_PAGES, seed=42, alias_df=alias)
    return alias, pages


def _kg_gold_paths() -> dict[str, str]:
    """Stage the single-process golden run (oracle.run_oracle — the same
    pure semantics composed sequentially in pandas, no Spark) as parquet
    for the DuckDB side. The driver's value-hash gate then verifies that
    every distribution mechanism in the Spark pipeline — mapInPandas
    batching, salted repartition, broadcast linking, distributed
    canonicalization, shuffled dedup — reproduces the sequential
    composition bit-for-bit (scores/confidences included, via e6
    fixed-point). Floats use floor(x*1e6+0.5): same double inputs on both
    sides (verified bitwise in tests/test_pipeline_spark.py), same rule."""
    import tempfile

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from .oracle import run_oracle

    # cache key: PINNED to the round-6-start source fingerprint of the
    # golden-run closure (oracle, fixtures, tagger, textops, linking,
    # relations, spans, driver_queries). The oracle SQL text embeds this
    # path, and the driver freezes oracle SQL text across the optimization
    # round — a source-derived fingerprint would turn any perf-only edit
    # into a spurious text change. Golden SEMANTICS stay guarded by the
    # driver's value-hash gate itself (Spark output vs freshly staged
    # golden run); if those semantics are ever intentionally changed, bump
    # this literal (`_code_fp(oracle, fixtures, tagger, textops, linking,
    # relations, spans, driver_queries)` prints the new value) so stale
    # /tmp stagings from the old semantics cannot be read back.
    code_fp = "089e310dc884"
    tmp = tempfile.gettempdir()
    paths = {
        k: os.path.join(
            tmp,
            f"cns_kg_gold_{k}_{_KG_N_PAGES}x{_KG_N_ENTITIES}_{code_fp}.parquet",
        )
        for k in ("triples", "mentions")
    }
    if not all(os.path.exists(p) for p in paths.values()):
        alias, pages = _kg_corpus()
        gold = run_oracle(pages, alias)
        tri = gold["triples"].copy()
        tri["conf_e6"] = np.floor(
            tri["conf"].astype("float64") * 1e6 + 0.5
        ).astype("int64")
        tri = tri[["subj", "pred", "obj", "url", "sent_idx", "conf_e6"]]
        men = gold["mentions"].copy()
        men["score_e6"] = np.floor(
            men["score"].astype("float64") * 1e6 + 0.5
        ).astype("int64")
        men = men[
            ["url", "sent_idx", "begin", "end", "surface", "ner_type", "lang", "score_e6"]
        ]
        for k, pdf in (("triples", tri), ("mentions", men)):
            # atomic stage: a killed/concurrent first writer must never
            # leave a half-written parquet at the final path (exists()
            # would then skip regeneration forever)
            t = f"{paths[k]}.tmp.{os.getpid()}"
            pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), t)
            os.replace(t, paths[k])
    return paths


def _kg_triples_duck_sql() -> str:
    p = _kg_gold_paths()["triples"]
    return f"SELECT subj, pred, obj, url, sent_idx, conf_e6 FROM read_parquet('{p}')"


def _kg_mentions_duck_sql() -> str:
    p = _kg_gold_paths()["mentions"]
    return (
        "SELECT url, sent_idx, begin, \"end\", surface, ner_type, lang, score_e6 "
        f"FROM read_parquet('{p}')"
    )


def _fn_kg_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship KG pipeline (extract → tag → link → canonicalize → triples)
    on the deterministic fixture corpus, hash-checked against the staged
    single-process golden run (see _kg_gold_paths)."""
    from .pipeline import run_pipeline

    alias, pages_pdf = _kg_corpus()
    pages = spark.createDataFrame(pages_pdf)
    return run_pipeline(spark, pages, alias)["triples"].selectExpr(
        "subj", "pred", "obj", "url", "sent_idx",
        "CAST(FLOOR(CAST(conf AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS conf_e6",
    )


def _fn_kg_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tagger stage alone (extract_text + BiLSTM + Viterbi inside the
    vectorized UDFs), hash-checked against the golden run's mention table —
    scores included (e6 fixed-point; batch composition is provably
    score-invariant, tests/test_tagger_oracle.py)."""
    from .pipeline import extract_text_df, tag_mentions

    alias, pages_pdf = _kg_corpus()
    pages = spark.createDataFrame(pages_pdf)
    return tag_mentions(extract_text_df(pages)).selectExpr(
        "url", "sent_idx", "begin", "end", "surface", "ner_type", "lang",
        "CAST(FLOOR(CAST(score AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS score_e6",
    )


def _code_fp(*modules) -> str:
    """Source fingerprint for staged-fixture cache keys (stale /tmp files
    from a previous code revision must never survive a semantic change)."""
    import hashlib

    h = hashlib.sha256()
    for mod in modules:
        with open(mod.__file__, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def _conll_fixture_path() -> str:
    import tempfile

    from .sources import write_conll_fixture

    path = os.path.join(
        tempfile.gettempdir(),
        # pinned round-6-start fingerprint of sources.py (see _kg_gold_paths)
        "char_ner_spark_conll_fixture_6b1201b94ce5.txt",
    )
    if not os.path.exists(path):
        tmp = f"{path}.tmp.{os.getpid()}"  # atomic stage (see _kg_gold_paths)
        write_conll_fixture(tmp, n_sents=120, seed=42)
        os.replace(tmp, path)
    return path


def _fn_conll_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's CoNLL input format through the Spark reader
    (SURVEY §2.1 S1; deterministic fixture file). Token/tag arrays are
    projected to space-joined strings (canonicalizer-safe). Oracled: the
    DuckDB side re-parses the same file from scratch (read_text + window
    segmentation), so the whole parse path is hash-checked."""
    from .sources import read_conll

    return read_conll(spark, _conll_fixture_path()).selectExpr(
        "sent_id",
        "concat_ws(' ', tokens) AS tokens_str",
        "concat_ws(' ', tags) AS tags_str",
    )


def _conll_duck_sql() -> str:
    """Lazy oracle: ensures the fixture file exists, then returns DuckDB SQL
    that re-implements the CoNLL parse (blank-line sentence segmentation via
    a running-count window, col0 = token, last col = tag, -DOCSTART- rows
    dropped) directly over the text file."""
    path = _conll_fixture_path()
    return f"""
    WITH raw AS (
        SELECT unnest(string_split(content, chr(10))) AS line,
               generate_subscripts(string_split(content, chr(10)), 1) AS line_id
        FROM read_text('{path}')),
    marked AS (
        SELECT trim(line) AS line, line_id,
               CASE WHEN trim(line) = '' THEN 1 ELSE 0 END AS is_blank
        FROM raw),
    numbered AS (
        SELECT line, line_id, is_blank,
               SUM(is_blank) OVER (ORDER BY line_id) AS sent_id
        FROM marked),
    toks AS (
        SELECT sent_id, line_id, regexp_split_to_array(line, '\\s+') AS cols
        FROM numbered
        WHERE is_blank = 0 AND NOT starts_with(line, '-DOCSTART-'))
    SELECT CAST(sent_id AS BIGINT) AS sent_id,
           string_agg(cols[1], ' ' ORDER BY line_id) AS tokens_str,
           string_agg(cols[-1], ' ' ORDER BY line_id) AS tags_str
    FROM toks GROUP BY sent_id
    """


# Media byte-stat check. Not a registry entry (the registry holds KG checks
# only); tests/test_driver_oracles.py still holds the Spark side of
# multimodal's decoders equal to this DuckDB recomputation.

def _fn_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal binary-column pipeline (SURVEY §2.11; REAL pure-NumPy
    BMP/WAV/AVI decode as of round 5 — every fixture format except the
    deliberately-opaque compressed-container rows decodes for real). The
    fixture is staged as parquet so DuckDB can read the same bytes; the
    Spark side runs the production decoders inside mapInPandas and emits
    integer-exact columns the oracle recomputes from the raw payload plus
    the fixture's format contract:

    - ``payload_hex`` proves the binary column crossed Arrow byte-identically;
    - ``img_w``/``img_h``/``n_samples``/``sample_rate``/``n_frames``/
      ``frame_ms`` come from the REAL header parse (BMP DIB / WAV fmt
      chunk / AVI avih + chunk walk) — the oracle derives them from the
      fixture's metadata columns and the canonical 54/44/232-byte header
      layouts, so a wrong parse hash-mismatches;
    - ``hist16`` is the high-nibble histogram of the DECODED content
      (pixel array for images, int16 samples for audio, stacked RGB frame
      array for uncompressed-AVI video, raw payload for the opaque
      compressed-container rows) — the oracle recomputes it from the
      payload's content byte range(s) (nibble histograms are
      permutation-invariant, so BGR-bottom-up file order vs RGB-top-down
      array order agree exactly; for AVI the ranges are the per-frame
      '00db' pixel regions at the canonical encoder layout);
    - thumb dims come from the actually-resized decoded pixels.

    The float32 feature + sha256 surface is covered in
    tests/test_multimodal.py (float normalization isn't reproducible
    bit-exactly in double-precision SQL, so it stays out of the hash)."""
    import binascii
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    from .multimodal import decode_audio, decode_image, decode_video, is_avi, resize_image

    media = spark.read.parquet(_media_fixture_path())

    verify_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("kind", T.StringType()),
            T.StructField("n_bytes", T.LongType()),
            T.StructField("hist16", T.StringType()),
            T.StructField("payload_hex", T.StringType()),
            T.StructField("img_w", T.IntegerType()),
            T.StructField("img_h", T.IntegerType()),
            T.StructField("n_samples", T.IntegerType()),
            T.StructField("sample_rate", T.IntegerType()),
            T.StructField("n_frames", T.IntegerType()),
            T.StructField("frame_ms", T.IntegerType()),
            T.StructField("thumb_w", T.IntegerType()),
            T.StructField("thumb_h", T.IntegerType()),
        ]
    )

    def verify_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: dict[str, list] = {f.name: [] for f in verify_schema.fields}
            for mid, kind, payload in zip(pdf["media_id"], pdf["kind"], pdf["payload"]):
                b = bytes(payload) if payload is not None else b""
                img_w = img_h = n_samp = rate = thumb_w = thumb_h = None
                n_frames = frame_ms = None
                if kind == "image":
                    img = decode_image(b)  # REAL BMP decode, no fake fallback
                    content = img.tobytes()
                    img_h, img_w = int(img.shape[0]), int(img.shape[1])
                    thumb = resize_image(img, 8, 8)
                    thumb_w, thumb_h = int(thumb.shape[1]), int(thumb.shape[0])
                elif kind == "audio":
                    samples, rate, _ch = decode_audio(b)  # REAL PCM decode
                    content = samples.tobytes()
                    n_samp, rate = int(samples.size), int(rate)
                elif kind == "video" and is_avi(b):
                    frames, fms = decode_video(b)  # REAL AVI decode
                    content = frames.tobytes()
                    n_frames, frame_ms = int(frames.shape[0]), int(fms)
                    img_h, img_w = int(frames.shape[1]), int(frames.shape[2])
                else:  # compressed-container video: content = raw payload
                    content = b
                arr = np.frombuffer(content, dtype=np.uint8)
                hist = np.bincount(arr >> 4, minlength=16)
                rows["media_id"].append(int(mid))
                rows["kind"].append(kind)
                rows["n_bytes"].append(len(b))
                rows["hist16"].append(",".join(str(int(x)) for x in hist))
                rows["payload_hex"].append(binascii.hexlify(b).decode())
                rows["img_w"].append(img_w)
                rows["img_h"].append(img_h)
                rows["n_samples"].append(n_samp)
                rows["sample_rate"].append(rate)
                rows["n_frames"].append(n_frames)
                rows["frame_ms"].append(frame_ms)
                rows["thumb_w"].append(thumb_w)
                rows["thumb_h"].append(thumb_h)
            yield pd.DataFrame(rows)

    return media.select("media_id", "kind", "payload").mapInPandas(
        verify_batches, schema=verify_schema
    )


def _media_fixture_path() -> str:
    """Stage the deterministic media fixture as a parquet file both engines
    read (Spark via spark.read.parquet, DuckDB via read_parquet)."""
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from . import multimodal
    from .multimodal import make_media_fixture

    path = os.path.join(
        tempfile.gettempdir(),
        # pinned round-6-start fingerprint of multimodal.py (oracle SQL text
        # embeds this path and is frozen for the optimization round; bump
        # the literal to _code_fp(multimodal) on an intentional semantic
        # change — see _kg_gold_paths)
        "char_ner_spark_media_fixture_abe82a621bb4.parquet",
    )
    if not os.path.exists(path):
        # atomic stage: a killed/concurrent first writer must never leave a
        # half-written parquet at the final path (exists() would then skip
        # regeneration forever)
        pdf = make_media_fixture(96, seed=42)
        tmp = f"{path}.tmp.{os.getpid()}"
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), tmp)
        os.replace(tmp, path)
    return path


def _media_duck_sql() -> str:
    """Lazy oracle for the REAL-decode media query: recompute every column
    from the staged parquet bytes plus the fixture's format contract —
    images are canonical 54-byte-header pad-free 24-bit BMPs (pixel region
    = bytes 55..54+3wh, dims = the fixture's metadata columns, which the
    Spark side must REDISCOVER by parsing the actual DIB header), audio is
    canonical 44-byte-header PCM16 mono WAV at 8 kHz (sample region =
    bytes 45.., n_samples = (len-44)/2, rate = 8000 — Spark must parse the
    fmt chunk to match), video with metadata dims is a canonical-layout
    uncompressed AVI (n_frames = duration_ms/1000 pad-free 24-bit DIB
    frames of 3wh bytes each, frame k's pixel region starting at byte
    offset 232 + k*(3wh+8) per multimodal.AVI_FRAME0_OFFSET — Spark must
    walk the real chunk tree to match), and dim-less video rows are
    opaque compressed containers (content = whole payload). hist16 is the
    high-nibble histogram of the content range(s) (hex-digit trick: the
    high nibble of 0-based byte j is hex char 2j+1, 1-based); nibble
    histograms are permutation-invariant, so the oracle's file-order bytes
    equal Spark's decoded-array-order bytes exactly."""
    path = _media_fixture_path()
    return f"""
    WITH m AS (
        SELECT media_id, kind, payload, lower(hex(payload)) AS h,
               CAST(octet_length(payload) AS BIGINT) AS len,
               CASE WHEN kind = 'image' THEN 54
                    WHEN kind = 'audio' THEN 44
                    WHEN kind = 'video' AND width IS NOT NULL THEN 232
                    ELSE 0 END AS off,
               CASE WHEN kind = 'image' OR (kind = 'video' AND width IS NOT NULL)
                         THEN 3 * CAST(width AS BIGINT) * CAST(height AS BIGINT)
                    WHEN kind = 'audio'
                         THEN CAST(octet_length(payload) AS BIGINT) - 44
                    ELSE CAST(octet_length(payload) AS BIGINT) END AS clen,
               CASE WHEN kind = 'video' AND width IS NOT NULL
                    THEN CAST(duration_ms AS BIGINT) // 1000
                    ELSE 1 END AS nf,
               CASE WHEN kind = 'video' AND width IS NOT NULL
                    THEN 3 * CAST(width AS BIGINT) * CAST(height AS BIGINT) + 8
                    ELSE 0 END AS stride,
               CAST(width AS INTEGER) AS meta_w, CAST(height AS INTEGER) AS meta_h,
               CAST(duration_ms AS BIGINT) AS duration_ms
        FROM read_parquet('{path}')),
    regions AS (
        SELECT media_id, h, off + unnest(range(0, nf)) * stride AS roff, clen
        FROM m),
    idx AS (
        SELECT media_id, h, unnest(range(roff + 1, roff + clen + 1)) AS i
        FROM regions),
    digits AS (
        SELECT media_id,
               strpos('0123456789abcdef', substring(h, CAST(2*i - 1 AS INTEGER), 1)) - 1 AS v
        FROM idx),
    counts AS (SELECT media_id, v, COUNT(*) AS n FROM digits GROUP BY media_id, v),
    bins AS (
        SELECT m.media_id, b.v AS v, COALESCE(c.n, 0) AS n
        FROM m CROSS JOIN (SELECT unnest(range(0, 16)) AS v) b
        LEFT JOIN counts c ON c.media_id = m.media_id AND c.v = b.v),
    hists AS (
        SELECT media_id, string_agg(CAST(n AS VARCHAR), ',' ORDER BY v) AS hist16
        FROM bins GROUP BY media_id)
    SELECT m.media_id, m.kind, m.len AS n_bytes,
           hists.hist16, m.h AS payload_hex,
           CASE WHEN m.kind = 'image'
                     OR (m.kind = 'video' AND m.meta_w IS NOT NULL)
                THEN m.meta_w END AS img_w,
           CASE WHEN m.kind = 'image'
                     OR (m.kind = 'video' AND m.meta_w IS NOT NULL)
                THEN m.meta_h END AS img_h,
           CASE WHEN m.kind = 'audio'
                THEN CAST((m.len - 44) // 2 AS INTEGER) END AS n_samples,
           CASE WHEN m.kind = 'audio' THEN 8000 END AS sample_rate,
           CASE WHEN m.kind = 'video' AND m.meta_w IS NOT NULL
                THEN CAST(m.duration_ms // 1000 AS INTEGER) END AS n_frames,
           CASE WHEN m.kind = 'video' AND m.meta_w IS NOT NULL
                THEN 1000 END AS frame_ms,
           CASE WHEN m.kind = 'image' THEN 8 END AS thumb_w,
           CASE WHEN m.kind = 'image' THEN 8 END AS thumb_h
    FROM m JOIN hists ON m.media_id = hists.media_id
    """


SPARK_FN: dict[
    str, tuple[Callable[[SparkSession, str], DataFrame], Callable[[], str]]
] = {
    "kg_triples_fixture": (_fn_kg_triples, _kg_triples_duck_sql),
    "kg_mentions_fixture": (_fn_kg_mentions, _kg_mentions_duck_sql),
    "conll_reader_fixture": (_fn_conll_reader, _conll_duck_sql),
}


def build_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _) in SPARK_FN.items()}


def build_oracle_sql() -> dict[str, str]:
    # lazy oracles: each stages its fixture file on disk before returning
    # SQL that reads it
    return {name: duck_sql() for name, (_, duck_sql) in SPARK_FN.items()}
