"""Query registry for the driver contract (``__spark_entry__.py``).

Each entry pairs a Spark implementation (a callable of ``(spark, sf_dir)``)
with an equivalent ANSI-SQL oracle DuckDB can run over the same parquet
tables. Column names and types are aligned on both sides — the driver
hash-compares values after sorting columns by name.

Queries whose semantics SQL cannot express (HMAC-based CLK encoding and
everything downstream of it) are oracled against committed expected
parquet generated by the independent scalar reference-parity encoder and
a brute-force LSH-free linkage (tools/gen_expected_clk.py), backed by
the pytest golden-vector/parity suite.
"""

from __future__ import annotations

import os
from typing import Callable, Dict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators import dedup, similarity, text as text_ops
from .operators.scoring import candidate_pairs

QueryFn = Callable[[SparkSession, str], DataFrame]

MINHASH_NUM_HASHES = 32
MINHASH_NUM_BANDS = 8
MINHASH_SHINGLE = 3
TOPK_K = 10
TOPK_NUM_QUERIES = 5


def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{table}.parquet"))


# ---------------------------------------------------------------------------
# Text analysis (SURVEY §2 Part C extras; SQL-oracled)
# ---------------------------------------------------------------------------

def q_doc_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_ops.token_counts(_read(spark, sf_dir, "documents"))


SQL_DOC_TOKEN_COUNTS = r"""
SELECT doc_id,
       CASE WHEN length(trim(text)) = 0 THEN 0
            ELSE len(regexp_split_to_array(trim(text), '\s+')) END
           ::INT AS n_tokens_ws,
       len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))
           ::INT AS n_tokens_re
FROM documents
"""


def q_doc_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_ops.quality_scores(_read(spark, sf_dir, "documents"))


_SQL_STOPWORDS = ", ".join(f"'{w}'" for w in text_ops.STOPWORDS)

SQL_DOC_QUALITY_SCORES = rf"""
WITH base AS (
    SELECT doc_id, text,
           CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                ELSE regexp_split_to_array(trim(text), '\s+') END AS words,
           length(text) AS n_chars
    FROM documents
), feats AS (
    SELECT doc_id, n_chars, len(words) AS n_words,
           len([w FOR w IN words IF lower(w) IN ({_SQL_STOPWORDS})])
               AS n_stop,
           length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit,
           length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g'))
               AS n_punct,
           length(regexp_replace(text, '\s+', '', 'g')) AS n_nonspace
    FROM base
)
SELECT doc_id,
       n_chars::INT AS n_chars_measured,
       n_words::INT AS n_words,
       CASE WHEN n_words > 0
            THEN round(n_nonspace::DOUBLE / n_words, 6) ELSE 0.0 END
           AS mean_word_len,
       round(CASE WHEN n_words > 0
                  THEN n_stop::DOUBLE / n_words ELSE 0.0 END, 6)
           AS stopword_ratio,
       round(CASE WHEN n_chars > 0
                  THEN n_digit::DOUBLE / n_chars ELSE 0.0 END, 6)
           AS digit_ratio,
       round(CASE WHEN n_chars > 0
                  THEN n_punct::DOUBLE / n_chars ELSE 0.0 END, 6)
           AS punct_ratio
FROM feats
"""


def q_doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_ops.language_id(_read(spark, sf_dir, "documents"))


def _sql_lang_markers() -> str:
    parts = []
    anti = {"en": 3, "de": 2, "es": 1, "fr": 0}
    for lang, markers in text_ops.LANG_MARKERS.items():
        in_list = ", ".join(f"'{m}'" for m in markers)
        parts.append(
            f"(len([w FOR w IN words IF lower(w) IN ({in_list})]), "
            f"{anti[lang]}, '{lang}')"
        )
    return ", ".join(parts)


SQL_DOC_LANG_ID = rf"""
WITH base AS (
    SELECT doc_id,
           CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                ELSE regexp_split_to_array(trim(text), '\s+') END AS words
    FROM documents
), scored AS (
    SELECT doc_id,
           list_max([{_sql_lang_markers()}]) AS best
    FROM base
)
SELECT doc_id,
       CASE WHEN best[1] > 0 THEN best[3] ELSE 'und' END AS lang_pred,
       best[1]::INT AS marker_hits
FROM scored
"""


def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_ops.fingerprints(_read(spark, sf_dir, "documents"))


SQL_DOC_FINGERPRINTS = r"""
WITH base AS (
    SELECT doc_id,
           regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm,
           CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                ELSE regexp_split_to_array(trim(text), '\s+') END AS words
    FROM documents
)
SELECT doc_id,
       md5(norm) AS md5_fp,
       md5(CASE WHEN len(words) >= 5
                THEN list_min([array_to_string(words[i:i+4], ' ')
                               FOR i IN range(1, len(words) - 3)])
                ELSE array_to_string(words, ' ') END) AS shingle_fp
FROM base
"""


def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_ops.repetition_scores(_read(spark, sf_dir, "documents"))


SQL_DOC_REPETITION = r"""
WITH w AS (
    SELECT doc_id,
           CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                ELSE regexp_split_to_array(trim(text), '\s+') END AS words
    FROM documents
),
per_word AS (
    SELECT doc_id, word, count(*) AS c
    FROM (SELECT doc_id, unnest(words) AS word FROM w)
    GROUP BY doc_id, word
),
agg AS (
    SELECT doc_id,
           sum(c)::INT AS n_words,
           count(*)::INT AS n_distinct_words,
           max(c) AS top_c
    FROM per_word GROUP BY doc_id
),
bg AS (
    SELECT doc_id,
           CASE WHEN len(words) >= 2
                THEN [words[i] || ' ' || words[i + 1]
                      FOR i IN range(1, len(words))]
                ELSE []::VARCHAR[] END AS bigrams
    FROM w
)
SELECT w.doc_id,
       coalesce(agg.n_words, 0) AS n_words,
       coalesce(agg.n_distinct_words, 0) AS n_distinct_words,
       round(CASE WHEN coalesce(agg.n_words, 0) > 0
                  THEN 1.0 - agg.n_distinct_words::DOUBLE / agg.n_words
                  ELSE 0.0 END, 6) AS dup_word_ratio,
       round(CASE WHEN coalesce(agg.n_words, 0) > 0
                  THEN agg.top_c::DOUBLE / agg.n_words
                  ELSE 0.0 END, 6) AS top_word_ratio,
       round(CASE WHEN len(bg.bigrams) >= 1
                  THEN 1.0 - len(list_distinct(bg.bigrams))::DOUBLE
                       / len(bg.bigrams)
                  ELSE 0.0 END, 6) AS dup_bigram_ratio
FROM w
LEFT JOIN agg USING (doc_id)
LEFT JOIN bg USING (doc_id)
"""


# The sf corpora are PII-free word soup, so the PII query plants
# deterministic markers (same construction in Spark and SQL) before
# scanning — the oracle then has real non-zero counts to disagree on.
_PII_EMAIL_MOD = 7
_PII_PHONE_MOD = 5
_PII_IP_MOD = 3


def _pii_enrich(docs: DataFrame) -> DataFrame:
    did = F.col("doc_id")
    return docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                did % _PII_EMAIL_MOD == 0,
                F.concat(
                    F.lit(" contact user"),
                    did.cast("string"),
                    F.lit("@example.com"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                did % _PII_PHONE_MOD == 0,
                F.concat(
                    F.lit(" tel 555-01"),
                    F.lpad((did % 100).cast("string"), 2, "0"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                did % _PII_IP_MOD == 0,
                F.concat(
                    F.lit(" host 10.0."),
                    (did % 256).cast("string"),
                    F.lit(".7"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )


def q_doc_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_ops.pii_scan(
        _pii_enrich(_read(spark, sf_dir, "documents"))
    )


SQL_DOC_PII = rf"""
WITH enriched AS (
    SELECT doc_id,
           text
           || CASE WHEN doc_id % {_PII_EMAIL_MOD} = 0
                   THEN ' contact user' || doc_id || '@example.com'
                   ELSE '' END
           || CASE WHEN doc_id % {_PII_PHONE_MOD} = 0
                   THEN ' tel 555-01' || lpad((doc_id % 100)::VARCHAR, 2, '0')
                   ELSE '' END
           || CASE WHEN doc_id % {_PII_IP_MOD} = 0
                   THEN ' host 10.0.' || (doc_id % 256) || '.7'
                   ELSE '' END AS text
    FROM documents
),
counts AS (
    SELECT doc_id,
           len(regexp_extract_all(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{{2,}}'))::INT
               AS n_emails,
           len(regexp_extract_all(text,
               '\+?[0-9]{{3}}-[0-9]{{3,4}}-?[0-9]{{0,4}}'))::INT
               AS n_phones,
           len(regexp_extract_all(text,
               '\b[0-9]{{1,3}}\.[0-9]{{1,3}}\.[0-9]{{1,3}}\.[0-9]{{1,3}}\b'))::INT
               AS n_ipv4
    FROM enriched
)
SELECT doc_id, n_emails, n_phones, n_ipv4,
       (n_emails + n_phones + n_ipv4) > 0 AS has_pii
FROM counts
"""


# ---------------------------------------------------------------------------
# Multimodal plumbing (SQL-oracled over deterministically synthesized
# ASCII media blobs — magic prefix by doc_id % 5, payload = the document
# text; ASCII-only so DuckDB's sha256(VARCHAR) hashes the same bytes as
# Spark's sha2(BINARY))
# ---------------------------------------------------------------------------

_MM_MAGICS = ("RIFF", "GIF8", "%PDF", "OggS", "")  # '' → octet-stream
_MM_KINDS = (
    "audio/wav", "image/gif", "application/pdf", "audio/ogg",
    "application/octet-stream",
)


def _mm_media(docs: DataFrame) -> DataFrame:
    """documents → (doc_id, media binary) with a magic prefix cycle."""
    magic = F.element_at(
        F.array(*[F.lit(m) for m in _MM_MAGICS]),
        (F.col("doc_id") % len(_MM_MAGICS) + 1).cast("int"),
    )
    return docs.select(
        "doc_id",
        F.encode(F.concat(magic, F.col("text")), "utf-8").alias("media"),
    )


_SQL_MM_MEDIA = f"""
WITH media_t AS (
    SELECT doc_id,
           CASE doc_id % {len(_MM_MAGICS)}
                {" ".join(f"WHEN {i} THEN '{m}'"
                          for i, m in enumerate(_MM_MAGICS) if m)}
                ELSE '' END || text AS media,
           CASE doc_id % {len(_MM_MAGICS)}
                {" ".join(f"WHEN {i} THEN '{k}'"
                          for i, k in enumerate(_MM_KINDS[:-1]))}
                ELSE '{_MM_KINDS[-1]}' END AS kind
    FROM documents
)
"""


def q_mm_media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.multimodal import media_metadata

    media = _mm_media(_read(spark, sf_dir, "documents"))
    return media_metadata(media, media_col="media", key_col="doc_id")


SQL_MM_MEDIA_METADATA = (
    _SQL_MM_MEDIA
    + """
SELECT doc_id,
       sha256(media) AS content_sha256,
       octet_length(encode(media))::INT AS content_bytes,
       kind AS content_kind
FROM media_t
"""
)


def q_mm_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stub decode → features; digest bytes recovered integer-exact
    (features[i] = byte/255 in float32, so round(f*255) == byte)."""
    from .operators.multimodal import extract_image_features

    media = _mm_media(_read(spark, sf_dir, "documents"))
    feats = extract_image_features(
        media, media_col="media", key_col="doc_id"
    )
    fbytes = F.transform(
        "features", lambda x: F.round(x * 255).cast("int")
    )
    return feats.select(
        "doc_id",
        "width",
        "height",
        F.element_at(fbytes, 1).alias("f_0"),
        F.element_at(fbytes, 16).alias("f_last"),
        F.aggregate(
            fbytes, F.lit(0), lambda a, x: a + x
        ).alias("f_sum"),
    )


SQL_MM_IMAGE_FEATURES = (
    _SQL_MM_MEDIA
    + """
, feat AS (
    SELECT doc_id,
           octet_length(encode(media)) AS nbytes,
           [('0x' || substr(sha256(media), 2 * i + 1, 2))::INT
            FOR i IN range(0, 16)] AS fb
    FROM media_t
)
SELECT doc_id,
       (16 + nbytes % 241)::INT AS width,
       (16 + nbytes % 181)::INT AS height,
       fb[1] AS f_0,
       fb[16] AS f_last,
       list_sum(fb)::INT AS f_sum
FROM feat
"""
)


# ---------------------------------------------------------------------------
# Dedup (SQL-oracled)
# ---------------------------------------------------------------------------

def q_doc_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_duplicates(_read(spark, sf_dir, "documents"))


SQL_DOC_EXACT_DEDUP = r"""
SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS text_md5,
       count(*)::BIGINT AS n_docs,
       min(doc_id) AS canonical_doc_id
FROM documents
GROUP BY 1
"""

def q_doc_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING stateful dedup, drained batch-style — the
    ``streaming_exact_dedup`` operator (applyInPandasWithState) run as
    an ``availableNow`` catch-up over the documents table and landed in
    a memory sink. First-seen-wins degenerates to min(doc_id)-wins in a
    single-batch drain (within a batch the smallest key is kept —
    deterministic), which is exactly SQL's
    ``row_number() OVER (PARTITION BY digest ORDER BY doc_id) = 1``;
    the hash gate therefore covers the stateful streaming path
    end-to-end, not just its batch twin. No TTL (ProcessingTimeTimeout
    would keep an availableNow drain alive servicing timers)."""
    import tempfile
    import uuid

    from .streaming import streaming_exact_dedup

    batch_schema = _read(spark, sf_dir, "documents").select(
        "doc_id", "text"
    ).schema
    # the driver testdata ships single parquet FILES; the file stream
    # source wants a directory, so stream the parent with a glob pin.
    stream = (
        spark.readStream.schema(batch_schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
        .select("doc_id", "text")
    )
    deduped = streaming_exact_dedup(stream, state_ttl_minutes=None)
    name = f"stream_dedup_{uuid.uuid4().hex[:12]}"
    query = (
        deduped.writeStream.format("memory")
        .queryName(name)
        .option(
            "checkpointLocation",
            tempfile.mkdtemp(prefix="stream-dedup-ckpt-"),
        )
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    # bounded wait (documented gotcha: never unbounded-await a drain)
    finished = query.awaitTermination(300)
    if not finished:
        query.stop()
        raise RuntimeError("streaming dedup drain did not finish in 300s")
    return spark.table(name).select("text_md5", "doc_id", "text")


SQL_DOC_STREAM_DEDUP = r"""
WITH ranked AS (
    SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
               AS text_md5,
           doc_id, text,
           row_number() OVER (
               PARTITION BY md5(regexp_replace(lower(trim(text)),
                                               '\s+', ' ', 'g'))
               ORDER BY doc_id) AS rn
    FROM documents
)
SELECT text_md5, doc_id, text FROM ranked WHERE rn = 1
"""


# Shared SQL fragment: normalized word shingles + MinHash signature.
_SQL_SHINGLES = r"""
    SELECT doc_id,
           string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
                        ' ') AS words
    FROM documents
"""


def _sql_signature(num_hashes: int, shingle: int) -> str:
    from .operators.dedup import (
        _MINHASH_BASE_MOD,
        _MINHASH_PRIME,
        minhash_coefficients,
    )

    mins = ", ".join(
        f"list_min([(h * {a}::BIGINT + {b}) % {_MINHASH_PRIME} "
        f"FOR h IN base])"
        for a, b in minhash_coefficients(num_hashes)
    )
    return rf"""
WITH w AS ({_SQL_SHINGLES}),
sh AS (
    SELECT doc_id,
           CASE WHEN len(words) >= {shingle}
                THEN [array_to_string(words[i:i+{shingle - 1}], ' ')
                      FOR i IN range(1, len(words) - {shingle - 2})]
                ELSE [array_to_string(words, ' ')] END AS shingles
    FROM w
),
hashed AS (
    SELECT doc_id,
           [CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)
            % {_MINHASH_BASE_MOD} FOR s IN shingles] AS base
    FROM sh
),
sig AS (
    SELECT doc_id, [{mins}] AS signature
    FROM hashed
)
"""


def q_doc_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = dedup.minhash_signatures(
        _read(spark, sf_dir, "documents"),
        num_hashes=MINHASH_NUM_HASHES,
        shingle_size=MINHASH_SHINGLE,
    )
    return sigs.select(
        "doc_id",
        F.element_at("signature", 1).alias("sig_0"),
        F.element_at("signature", 2).alias("sig_1"),
        F.element_at("signature", MINHASH_NUM_HASHES).alias("sig_last"),
        # Checksum over the full signature; summed mod 2^31 per element so
        # 32 x ~2^61 values can never overflow a long.
        F.aggregate(
            "signature",
            F.lit(0).cast("long"),
            lambda a, x: a + F.pmod(x, F.lit(1 << 31)),
        ).alias("sig_sum"),
    )


SQL_DOC_MINHASH_SIGNATURES = (
    _sql_signature(MINHASH_NUM_HASHES, MINHASH_SHINGLE)
    + f"""
SELECT doc_id,
       signature[1] AS sig_0,
       signature[2] AS sig_1,
       signature[{MINHASH_NUM_HASHES}] AS sig_last,
       list_sum([s % {1 << 31} FOR s IN signature])::BIGINT AS sig_sum
FROM sig
"""
)


def q_doc_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_near_duplicates(
        _read(spark, sf_dir, "documents"),
        threshold=0.5,
        num_hashes=MINHASH_NUM_HASHES,
        num_bands=MINHASH_NUM_BANDS,
        shingle_size=MINHASH_SHINGLE,
    )


_ROWS_PER_BAND = MINHASH_NUM_HASHES // MINHASH_NUM_BANDS

# CTE chain ending in `pairs` — shared by the pairs query and the
# dedup-groups (connected-components) oracle.
_SQL_MINHASH_PAIRS_CTES = (
    _sql_signature(MINHASH_NUM_HASHES, MINHASH_SHINGLE)
    + f"""
, bands AS (
    SELECT doc_id,
           unnest([CAST(b AS VARCHAR) || '|' ||
                   array_to_string(
                       signature[b * {_ROWS_PER_BAND} + 1 :
                                 b * {_ROWS_PER_BAND} + {_ROWS_PER_BAND}],
                       ',')
                   FOR b IN range(0, {MINHASH_NUM_BANDS})]) AS band_raw
    FROM sig
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON CAST(('0x' || substr(md5(a.band_raw), 1, 15)) AS BIGINT)
       = CAST(('0x' || substr(md5(b.band_raw), 1, 15)) AS BIGINT)
    WHERE a.doc_id < b.doc_id
),
pairs AS (
    SELECT doc_a, doc_b,
           round(len([i FOR i IN range(1, {MINHASH_NUM_HASHES} + 1)
                      IF sa.signature[i] = sb.signature[i]])::DOUBLE
                 / {MINHASH_NUM_HASHES}, 6) AS est_jaccard
    FROM cand
    JOIN sig sa ON sa.doc_id = cand.doc_a
    JOIN sig sb ON sb.doc_id = cand.doc_b
    WHERE len([i FOR i IN range(1, {MINHASH_NUM_HASHES} + 1)
               IF sa.signature[i] = sb.signature[i]])::DOUBLE
          / {MINHASH_NUM_HASHES} >= 0.5
)"""
)

SQL_DOC_MINHASH_PAIRS = (
    _SQL_MINHASH_PAIRS_CTES
    + "\nSELECT doc_a, doc_b, est_jaccard FROM pairs\n"
)


def q_doc_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dedup keep-list: MinHash-LSH pairs → connected components →
    every document labeled with its group (min doc_id), group size, and
    a ``keep`` flag for the canonical member.

    The full training-data dedup product: downstream filters on
    ``keep`` retain one representative per near-duplicate cluster.
    Composes the banded-LSH candidate generator with the hybrid
    connected-components operator (distributed large-star/small-star
    above the driver gate).
    """
    from .operators.cluster import cluster_records

    docs = _read(spark, sf_dir, "documents")
    # cluster_records reads the pair list once (the edges), so the
    # MinHash plan runs once without a persist.
    pairs = dedup.minhash_near_duplicates(
        docs,
        threshold=0.5,
        num_hashes=MINHASH_NUM_HASHES,
        num_bands=MINHASH_NUM_BANDS,
        shingle_size=MINHASH_SHINGLE,
    )
    assigned = cluster_records(
        docs.select("doc_id"),
        pairs.select(F.col("doc_a").alias("key_a"),
                     F.col("doc_b").alias("key_b")),
        key_col="doc_id",
    ).withColumnRenamed("cluster_id", "group_id")
    # group_size via groupBy + join, NOT count() OVER (PARTITION BY
    # group_id): a window materializes every group in one task and
    # cannot partial-aggregate, so the boilerplate mega-cluster of a
    # web-scale corpus becomes a single-task straggler (windows are
    # also outside AQE skew-join handling). The aggregate+join form
    # partial-aggregates map-side and AQE can split a skewed join
    # partition. Same rows, hash-identical output.
    sizes = assigned.groupBy("group_id").agg(
        F.count("*").alias("group_size")
    )
    return assigned.join(sizes, "group_id").select(
        "doc_id",
        "group_id",
        "group_size",
        (F.col("doc_id") == F.col("group_id")).alias("keep"),
    )


# Transitive closure via recursive CTE — exact on the oracle's small
# graphs; the Spark side uses large-star/small-star (or the bounded
# driver gate) instead, which scales where closure cannot.
SQL_DOC_DEDUP_GROUPS = (
    _SQL_MINHASH_PAIRS_CTES.replace("WITH w AS", "WITH RECURSIVE w AS", 1)
    + """,
edges AS (
    SELECT doc_a AS a, doc_b AS b FROM pairs
    UNION
    SELECT doc_b, doc_a FROM pairs
),
reach(a, b) AS (
    SELECT a, b FROM edges
    UNION
    SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
labels AS (
    SELECT a AS doc_id, least(a, min(b)) AS group_id
    FROM reach GROUP BY a
),
assigned AS (
    SELECT d.doc_id, coalesce(l.group_id, d.doc_id) AS group_id
    FROM documents d LEFT JOIN labels l USING (doc_id)
)
SELECT doc_id, group_id,
       count(*) OVER (PARTITION BY group_id) AS group_size,
       (doc_id = group_id) AS keep
FROM assigned
"""
)


def q_doc_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash(_read(spark, sf_dir, "documents"))


SQL_DOC_SIMHASH = r"""
WITH w AS (
    SELECT doc_id,
           string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
                        ' ') AS words
    FROM documents
), h AS (
    SELECT doc_id,
           [CAST(('0x' || substr(md5('sim:' || w), 1, 15)) AS BIGINT)
            FOR w IN words] AS hashes
    FROM w
)
SELECT doc_id,
       list_sum([CASE WHEN list_sum([((hh >> b) & 1) * 2 - 1
                                     FOR hh IN hashes]) > 0
                      THEN (1::BIGINT << b) ELSE 0 END
                 FOR b IN range(0, 60)])::BIGINT AS simhash
FROM h
"""


def q_doc_shingle_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-shingle Jaccard for pairs sharing the min-shingle
    fingerprint (1-permutation MinHash prefilter)."""
    docs = _read(spark, sf_dir, "documents")
    # persisted: both self-join sides consume the fingerprint transform
    fps = text_ops.fingerprints(docs).persist()
    candidates = candidate_pairs(
        fps.select(F.col("shingle_fp").alias("block_key"), "doc_id"),
        key_col="doc_id",
    )
    return dedup.shingle_jaccard(docs, candidates, shingle_size=3)


SQL_DOC_SHINGLE_JACCARD = r"""
WITH base AS (
    SELECT doc_id,
           CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                ELSE regexp_split_to_array(trim(text), '\s+') END AS words,
           string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
                        ' ') AS norm_words
    FROM documents
), fp AS (
    SELECT doc_id,
           md5(CASE WHEN len(words) >= 5
                    THEN list_min([array_to_string(words[i:i+4], ' ')
                                   FOR i IN range(1, len(words) - 3)])
                    ELSE array_to_string(words, ' ') END) AS shingle_fp
    FROM base
), sh AS (
    SELECT doc_id,
           list_distinct(
               CASE WHEN len(norm_words) >= 3
                    THEN [array_to_string(norm_words[i:i+2], ' ')
                          FOR i IN range(1, len(norm_words) - 1)]
                    ELSE [array_to_string(norm_words, ' ')] END
           ) AS shingles
    FROM base
), cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM fp a JOIN fp b ON a.shingle_fp = b.shingle_fp
    WHERE a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       round(len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
             / len(list_distinct(sa.shingles || sb.shingles)), 6)
           AS jaccard
FROM cand
JOIN sh sa ON sa.doc_id = cand.doc_a
JOIN sh sb ON sb.doc_id = cand.doc_b
"""


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window style aggregate: events per type per hour with an
    exact integer value sum."""
    events = _read(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            "event_type",
        )
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum(
                F.floor(F.col("value") * 1000 + F.lit(0.5)).cast("long")
            ).alias("value_milli_sum"),
        )
    )


SQL_EVENTS_HOURLY = """
SELECT date_trunc('hour', ts) AS hour, event_type,
       count(*)::BIGINT AS n_events,
       sum(CAST(floor(value * 1000 + 0.5) AS BIGINT))::BIGINT
           AS value_milli_sum
FROM events
GROUP BY 1, 2
"""


def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way join (customer ⋈ orders ⋈ nation) with broadcast dims."""
    orders = _read(spark, sf_dir, "orders")
    customer = _read(spark, sf_dir, "customer")
    nation = _read(spark, sf_dir, "nation")
    return (
        orders.join(
            F.broadcast(customer),
            orders.o_custkey == customer.c_custkey,
        )
        .join(
            F.broadcast(nation),
            customer.c_nationkey == nation.n_nationkey,
        )
        .groupBy("n_name")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                    "long"
                )
            ).alias("revenue_cents"),
        )
    )


SQL_REVENUE_BY_NATION = """
SELECT n_name,
       count(*)::BIGINT AS n_orders,
       sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))::BIGINT
           AS revenue_cents
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


def q_local_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-table join (region→nation→supplier⋈lineitem⋈
    orders⋈customer, + part), local-supplier revenue by nation.

    Scale design: lineitem ⋈ orders is the one fact-fact join (shuffle
    on orderkey, with the date filter pushed into the orders scan).
    Constant-size dims (region/nation) carry explicit broadcast hints;
    the SF-scaling ones (customer/supplier/part) are pre-projected to
    their join/filter columns and left UN-hinted — Catalyst's size
    threshold broadcasts them at small SF, and AQE re-plans at runtime
    when they outgrow the broadcast budget (an unconditional hint on
    customer, 150k rows x SF, would eventually exceed driver/executor
    broadcast limits). Final groupBy on n_name is 25 keys — map-side
    partials make it free."""
    li = _read(spark, sf_dir, "lineitem")
    orders = _read(spark, sf_dir, "orders")
    customer = _read(spark, sf_dir, "customer")
    supplier = _read(spark, sf_dir, "supplier")
    nation = _read(spark, sf_dir, "nation")
    region = _read(spark, sf_dir, "region")
    part = _read(spark, sf_dir, "part")
    asia_nations = (
        nation.join(
            F.broadcast(region.where(F.col("r_name") == "ASIA")),
            nation.n_regionkey == region.r_regionkey,
        ).select("n_nationkey", "n_name")
    )
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
        + F.lit(0.5)
    ).cast("long")
    return (
        li.join(orders.where(
            (F.col("o_orderdate") >= "1996-01-01")
            & (F.col("o_orderdate") < "2000-01-01")
        ), li.l_orderkey == orders.o_orderkey)
        .join(customer.select("c_custkey", "c_nationkey"),
              orders.o_custkey == customer.c_custkey)
        .join(
            supplier.select("s_suppkey", "s_nationkey"),
            (li.l_suppkey == supplier.s_suppkey)
            & (customer.c_nationkey == supplier.s_nationkey),
        )
        .join(F.broadcast(asia_nations),
              supplier.s_nationkey == asia_nations.n_nationkey)
        .join(part.where(F.col("p_size") <= 40).select("p_partkey"),
              li.l_partkey == part.p_partkey)
        .groupBy("n_name")
        .agg(
            F.count("*").cast("long").alias("n_items"),
            F.sum(cents).alias("revenue_cents"),
        )
    )


SQL_LOCAL_SUPPLIER_REVENUE = """
SELECT n_name,
       count(*)::BIGINT AS n_items,
       sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                AS BIGINT))::BIGINT AS revenue_cents
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
JOIN part ON l_partkey = p_partkey
WHERE r_name = 'ASIA' AND p_size <= 40
  AND o_orderdate >= '1996-01-01' AND o_orderdate < '2000-01-01'
GROUP BY n_name
"""


# ---------------------------------------------------------------------------
# Embedding similarity (SQL-oracled, integer-exact)
# ---------------------------------------------------------------------------

def _topk_queries(emb: DataFrame) -> DataFrame:
    """The top-k query set: the first ``TOPK_NUM_QUERIES`` vectors."""
    return emb.where(F.col("vec_id") < TOPK_NUM_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


def _topk_out(ranked: DataFrame) -> DataFrame:
    """The top-k output types every ``SQL_EMB_*TOPK`` oracle mirrors."""
    return ranked.select(
        F.col("query_id").cast("long"),
        F.col("vec_id").cast("long"),
        F.col("dot_q").cast("long"),
        F.col("rank").cast("int"),
    )


def q_emb_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _read(spark, sf_dir, "embeddings")
    return _topk_out(
        similarity.brute_force_topk(emb, _topk_queries(emb), k=TOPK_K)
    )


SQL_EMB_TOPK = f"""
WITH q AS (
    SELECT vec_id AS query_id,
           [CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
            FOR x IN embedding] AS qv
    FROM embeddings WHERE vec_id < {TOPK_NUM_QUERIES}
), v AS (
    SELECT vec_id,
           [CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
            FOR x IN embedding] AS vv
    FROM embeddings
), scored AS (
    SELECT q.query_id, v.vec_id,
           list_sum([qv[i] * vv[i] FOR i IN range(1, len(qv) + 1)])::BIGINT
               AS dot_q
    FROM q CROSS JOIN v
    WHERE v.vec_id <> q.query_id
), ranked AS (
    SELECT query_id, vec_id, dot_q,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY dot_q DESC, vec_id ASC) AS rank
    FROM scored
)
SELECT query_id::BIGINT AS query_id, vec_id::BIGINT AS vec_id,
       dot_q, rank::INT AS rank
FROM ranked WHERE rank <= {TOPK_K}
"""


def q_emb_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPROXIMATE top-k via hyperplane-bucket restriction — the path a
    100 TB corpus actually runs (brute force is the labeled baseline).
    Fully SQL-expressible: buckets + integer dots + window, so the
    driver's hash gate covers the approximation end-to-end. Recall vs
    brute force is measured in tests/test_round3_fixes.py and reported
    in COVERAGE.md."""
    emb = _read(spark, sf_dir, "embeddings")
    return _topk_out(similarity.lsh_topk(
        emb, _topk_queries(emb), k=TOPK_K, num_planes=8, dim=64
    ))


SQL_EMB_LSH_TOPK = f"""
WITH v AS (
    SELECT vec_id,
           [CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
            FOR x IN embedding] AS qv
    FROM embeddings
), b AS (
    SELECT vec_id, qv, ({{planes}}) AS bucket FROM v
), q AS (
    SELECT vec_id AS query_id, qv AS qqv, bucket
    FROM b WHERE vec_id < {TOPK_NUM_QUERIES}
), scored AS (
    SELECT q.query_id, b.vec_id,
           list_sum([qqv[i] * qv[i]
                     FOR i IN range(1, len(qv) + 1)])::BIGINT AS dot_q
    FROM q JOIN b ON q.bucket = b.bucket
    WHERE b.vec_id <> q.query_id
), ranked AS (
    SELECT query_id, vec_id, dot_q,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY dot_q DESC, vec_id ASC) AS rank
    FROM scored
)
SELECT query_id::BIGINT AS query_id, vec_id::BIGINT AS vec_id,
       dot_q, rank::INT AS rank
FROM ranked WHERE rank <= {TOPK_K}
"""


MULTI_LSH_PLANES = 6
MULTI_LSH_TABLES = 4


def q_emb_lsh_topk_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k through the MULTI-TABLE hyperplane path — the
    production configuration shape (union of independent plane tables;
    recall rises with table count: measured 0.89-0.92 at 4 planes x 16
    tables, see COVERAGE.md). 6 planes x 4 tables keeps the SQL oracle
    tractable (1,536 plane terms) while exercising everything the
    16-table config runs: per-table seed offsets (seed + 7919*t),
    table-tagged buckets, the skinny candidate dedup across tables, and
    the shared integer-dot ranking."""
    emb = _read(spark, sf_dir, "embeddings")
    return _topk_out(similarity.lsh_topk(
        emb, _topk_queries(emb), k=TOPK_K,
        num_planes=MULTI_LSH_PLANES, num_tables=MULTI_LSH_TABLES, dim=64,
    ))


def _sql_multi_table_buckets(
    num_planes: int, num_tables: int, dim: int = 64, seed: int = 42
) -> str:
    """DuckDB list literal of every table's tagged bucket id — table t
    uses planes from seed + 7919*t and tags its sign bits with
    ``t << num_planes``, mirroring _table_signatures exactly."""
    entries = []
    for t in range(num_tables):
        terms = _sql_planes_terms(num_planes, dim, seed + 7919 * t)
        entries.append(f"(({terms}) + {t << num_planes})")
    return ", ".join(entries)


PROD_LSH_PLANES = 4
PROD_LSH_TABLES = 16


def q_emb_lsh_topk_prod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION multi-table config — 4 planes x 16 tables, the
    setting whose recall COVERAGE.md advertises (measured 0.89 at
    sf0.01 / 0.92 at sf0.1 vs brute force,
    tests/test_round3_fixes.py::TestAnnRecall). Same mechanism as
    `emb_lsh_topk_multi`, now hash-gated at the exact config users run:
    the DuckDB oracle expands all 16 tables' plane terms (16 x 4 x 64 =
    4,096 products) — heavier SQL, same semantics."""
    emb = _read(spark, sf_dir, "embeddings")
    return _topk_out(similarity.lsh_topk(
        emb, _topk_queries(emb), k=TOPK_K,
        num_planes=PROD_LSH_PLANES, num_tables=PROD_LSH_TABLES, dim=64,
    ))


def _sql_emb_lsh_topk_multi(
    num_planes: int = MULTI_LSH_PLANES,
    num_tables: int = MULTI_LSH_TABLES,
) -> str:
    buckets = _sql_multi_table_buckets(num_planes, num_tables)
    return f"""
WITH v AS (
    SELECT vec_id,
           [CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
            FOR x IN embedding] AS qv
    FROM embeddings
), b AS (
    SELECT vec_id, unnest([{buckets}]) AS bucket FROM v
), q AS (
    SELECT vec_id AS query_id, bucket
    FROM b WHERE vec_id < {TOPK_NUM_QUERIES}
), cand AS (
    SELECT DISTINCT q.query_id, b.vec_id
    FROM q JOIN b ON q.bucket = b.bucket
    WHERE b.vec_id <> q.query_id
), scored AS (
    SELECT cand.query_id, cand.vec_id,
           list_sum([qc.qv[i] * vc.qv[i]
                     FOR i IN range(1, len(vc.qv) + 1)])::BIGINT AS dot_q
    FROM cand
    JOIN v qc ON qc.vec_id = cand.query_id
    JOIN v vc ON vc.vec_id = cand.vec_id
), ranked AS (
    SELECT query_id, vec_id, dot_q,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY dot_q DESC, vec_id ASC) AS rank
    FROM scored
)
SELECT query_id::BIGINT AS query_id, vec_id::BIGINT AS vec_id,
       dot_q, rank::INT AS rank
FROM ranked WHERE rank <= {TOPK_K}
"""


def q_emb_bucket_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH bucket occupancy — checks hyperplane bucketing end-to-end."""
    emb = _read(spark, sf_dir, "embeddings")
    buckets = similarity.hyperplane_signatures(emb, num_planes=8, dim=64)
    return (
        buckets.groupBy("bucket")
        .agg(F.count("*").cast("long").alias("n_vecs"))
    )


def _sql_planes_terms(num_planes: int = 8, dim: int = 64, seed: int = 42) -> str:
    planes = similarity.rademacher_planes(num_planes, dim, seed)
    terms = []
    for p, row in enumerate(planes):
        dot = " + ".join(
            f"({c}) * qv[{d + 1}]" for d, c in enumerate(row)
        )
        terms.append(
            f"(CASE WHEN ({dot}) >= 0 THEN (1::BIGINT << {p}) "
            f"ELSE 0 END)"
        )
    return " + ".join(terms)


# Defined above with a {planes} placeholder (the plane terms need
# _sql_planes_terms, defined here); resolve it now.
SQL_EMB_LSH_TOPK = SQL_EMB_LSH_TOPK.format(
    planes=_sql_planes_terms(8, 64, 42)
)


def q_emb_ivf_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cell occupancy under the fixed (sha-derived) integer coarse
    quantizer — oracle-checks the cell-assignment plumbing end-to-end
    (quantized dots, argmax, first-max tie-break)."""
    emb = _read(spark, sf_dir, "embeddings")
    cells = similarity.ivf_cell_fixed(emb, num_centroids=8, dim=64)
    return cells.groupBy("cell").agg(
        F.count("*").cast("long").alias("n_vecs")
    )


def _sql_ivf_dots(num_centroids: int = 8, dim: int = 64,
                  seed: int = 42) -> str:
    cents = similarity.fixed_integer_centroids(num_centroids, dim, seed)
    terms = []
    for row in cents:
        dot = " + ".join(
            f"({c}) * qv[{d + 1}]" for d, c in enumerate(row)
        )
        terms.append(f"({dot})")
    return ", ".join(terms)


SQL_EMB_IVF_CELLS = f"""
WITH v AS (
    SELECT vec_id,
           [CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
            FOR x IN embedding] AS qv
    FROM embeddings
), d AS (
    SELECT vec_id, [{_sql_ivf_dots(8, 64, 42)}] AS dots
    FROM v
)
SELECT CAST(list_position(dots, list_max(dots)) AS BIGINT) AS cell,
       count(*)::BIGINT AS n_vecs
FROM d GROUP BY 1
"""


IVF_TOPK_NPROBE = 2


def q_emb_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k through the IVF PROBE path — corpus assigned
    to fixed integer-centroid cells once, each query probes its
    ``nprobe`` best cells (dot DESC, cell ASC — bit-exact ranking), and
    only co-cell vectors are scored. Completes the similarity oracle
    family: cell assignment (`emb_ivf_cells`), LSH buckets, and now the
    probe-join-rank mechanism itself are all hash-gated; the
    data-adaptive `ivf_topk`/`kmeans_centroids` production path runs
    the identical plan shape with trained centroids (recall measured in
    COVERAGE.md)."""
    emb = _read(spark, sf_dir, "embeddings")
    return _topk_out(similarity.ivf_topk_fixed(
        emb, _topk_queries(emb),
        k=TOPK_K, num_centroids=8, nprobe=IVF_TOPK_NPROBE, dim=64,
    ))


SQL_EMB_IVF_TOPK = f"""
WITH v AS (
    SELECT vec_id,
           [CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
            FOR x IN embedding] AS qv
    FROM embeddings
), d AS (
    SELECT vec_id, qv, [{_sql_ivf_dots(8, 64, 42)}] AS dots
    FROM v
), c AS (
    SELECT vec_id, qv,
           CAST(list_position(dots, list_max(dots)) AS BIGINT) AS cell
    FROM d
), qc AS (
    SELECT query_id, qqv, cell FROM (
        SELECT d.vec_id AS query_id, d.qv AS qqv,
               CAST(t.i AS BIGINT) AS cell,
               row_number() OVER (
                   PARTITION BY d.vec_id
                   ORDER BY d.dots[CAST(t.i AS INT)] DESC, t.i ASC
               ) AS rn
        FROM d, range(1, 9) t(i)
        WHERE d.vec_id < {TOPK_NUM_QUERIES}
    ) WHERE rn <= {IVF_TOPK_NPROBE}
), scored AS (
    SELECT qc.query_id, c.vec_id,
           list_sum([qc.qqv[i] * c.qv[i]
                     FOR i IN range(1, len(c.qv) + 1)])::BIGINT AS dot_q
    FROM qc JOIN c ON qc.cell = c.cell
    WHERE c.vec_id <> qc.query_id
), ranked AS (
    SELECT query_id, vec_id, dot_q,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY dot_q DESC, vec_id ASC) AS rank
    FROM scored
)
SELECT query_id::BIGINT AS query_id, vec_id::BIGINT AS vec_id,
       dot_q, rank::INT AS rank
FROM ranked WHERE rank <= {TOPK_K}
"""


IVF_2L_C1 = 4
IVF_2L_BRANCH = 4


def q_emb_ivf_two_level_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level IVF cell occupancy through the REAL
    :class:`TwoLevelQuantizer` Arrow UDF path (coarse argmax → fine
    argmax within the chosen coarse cell → global id ``l1·branch+l2``)
    under a fixed sha-derived integer quantizer. The vectors are
    pre-quantized to integers (stored as double) so every float64 dot
    inside ``assign_np`` is an exact integer — DuckDB reproduces the
    assignment bit-for-bit. This oracles the growth-path mechanism the
    data-adaptive `two_level_centroids`/`ivf_topk_auto` production path
    runs with trained centroids (>65k-cell corpora)."""
    emb = _read(spark, sf_dir, "embeddings")
    qemb = emb.select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)"
            " * 1000000 + 0.5) AS DOUBLE))"
        ).alias("qv"),
    )
    quantizer = similarity.fixed_two_level_quantizer(
        IVF_2L_C1, IVF_2L_BRANCH, dim=64, seed=43
    )
    cells = similarity.ivf_assign_two_level(
        qemb, quantizer, key_col="vec_id", vec_col="qv"
    )
    return cells.groupBy(
        F.col("centroid_id").alias("cell")
    ).agg(F.count("*").cast("long").alias("n_vecs"))


def _sql_int_centroid_dots(cents: list) -> str:
    """One bracketed SQL list of integer dot expressions of ``qv``
    against each centroid row."""
    terms = []
    for row in cents:
        dot = " + ".join(
            f"({c}) * qv[{d + 1}]" for d, c in enumerate(row)
        )
        terms.append(f"({dot})")
    return ", ".join(terms)


def _sql_emb_ivf_two_level_cells() -> str:
    coarse = similarity.fixed_integer_centroids(IVF_2L_C1, 64, seed=43)
    fine = similarity.fixed_integer_centroids(
        IVF_2L_C1 * IVF_2L_BRANCH, 64, seed=43 + 1000003
    )
    b = IVF_2L_BRANCH
    return f"""
WITH v AS (
    SELECT vec_id,
           [CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
            FOR x IN embedding] AS qv
    FROM embeddings
), d AS (
    SELECT vec_id,
           [{_sql_int_centroid_dots(coarse)}] AS cd,
           [{_sql_int_centroid_dots(fine)}] AS fd
    FROM v
), a AS (
    SELECT vec_id,
           CAST(list_position(cd, list_max(cd)) - 1 AS BIGINT) AS l1,
           fd
    FROM d
), s AS (
    SELECT vec_id, l1,
           fd[CAST(l1 * {b} + 1 AS INT):CAST(l1 * {b} + {b} AS INT)] AS sub
    FROM a
), assigned AS (
    SELECT vec_id,
           l1 * {b}
               + CAST(list_position(sub, list_max(sub)) - 1 AS BIGINT)
               AS cell
    FROM s
)
SELECT cell, count(*)::BIGINT AS n_vecs
FROM assigned GROUP BY 1
"""


IVF_2L_NPROBE = 2


def q_emb_ivf_two_level_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k through the two-level PROBE path: the corpus is
    assigned once under the fixed integer two-level quantizer, each
    query probes its ``nprobe`` jointly-best (coarse × branch) cells
    via the real stable-sorted `probe_np` Arrow UDF, and only co-cell
    vectors are scored. Cell geometry runs on pre-quantized integer
    vectors (exact float64 dots); scoring is the proven 1e6-quantized
    integer dot of the RAW embeddings — every ranking decision
    (coarse tie → lower cell, joint tie → coarse rank then branch,
    score tie → lower vec_id) is bit-reproducible in DuckDB. With
    `emb_ivf_two_level_cells` this puts both halves of the >65k-cell
    IVF growth path under the driver's hash gate."""
    emb = _read(spark, sf_dir, "embeddings")
    qemb = emb.select(
        "vec_id",
        "embedding",
        F.expr(
            "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)"
            " * 1000000 + 0.5) AS DOUBLE))"
        ).alias("qv"),
    )
    quantizer = similarity.fixed_two_level_quantizer(
        IVF_2L_C1, IVF_2L_BRANCH, dim=64, seed=43
    )
    corpus = similarity.ivf_assign_two_level(
        qemb, quantizer, key_col="vec_id", vec_col="qv"
    )
    probes = similarity.ivf_probe_two_level(
        qemb.where(F.col("vec_id") < TOPK_NUM_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("_qvec"),
            F.col("qv").alias("_qqv"),
        ),
        quantizer, nprobe=IVF_2L_NPROBE, vec_col="_qqv",
    )
    joined = similarity.ivf_probe_join(corpus, probes, "centroid_id")
    return _topk_out(similarity.rank_topk(joined, TOPK_K))


def _sql_emb_ivf_two_level_topk() -> str:
    coarse = similarity.fixed_integer_centroids(IVF_2L_C1, 64, seed=43)
    fine = similarity.fixed_integer_centroids(
        IVF_2L_C1 * IVF_2L_BRANCH, 64, seed=43 + 1000003
    )
    c1, b, cp = IVF_2L_C1, IVF_2L_BRANCH, min(IVF_2L_C1, IVF_2L_NPROBE)
    return f"""
WITH v AS (
    SELECT vec_id,
           [CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
            FOR x IN embedding] AS qv
    FROM embeddings
), d AS (
    SELECT vec_id, qv,
           [{_sql_int_centroid_dots(coarse)}] AS cd,
           [{_sql_int_centroid_dots(fine)}] AS fd
    FROM v
), assigned AS (
    SELECT vec_id, qv,
           l1 * {b} + CAST(list_position(sub, list_max(sub)) - 1
                           AS BIGINT) AS cell
    FROM (
        SELECT vec_id, qv, l1,
               fd[CAST(l1 * {b} + 1 AS INT)
                  :CAST(l1 * {b} + {b} AS INT)] AS sub
        FROM (
            SELECT vec_id, qv, fd,
                   CAST(list_position(cd, list_max(cd)) - 1
                        AS BIGINT) AS l1
            FROM d
        )
    )
), qc AS (
    -- coarse ranking per query: dot DESC, cell ASC (stable argsort)
    SELECT d.vec_id AS query_id, d.qv AS qqv, d.fd,
           CAST(t.i AS BIGINT) AS c,
           row_number() OVER (
               PARTITION BY d.vec_id
               ORDER BY d.cd[CAST(t.i + 1 AS INT)] DESC, t.i ASC
           ) AS rnc
    FROM d, range(0, {c1}) t(i)
    WHERE d.vec_id < {TOPK_NUM_QUERIES}
), cand AS (
    -- joint sub-cell ranking over the probed coarse cells:
    -- fine dot DESC, then (coarse rank, branch) ASC (stable argsort)
    SELECT query_id, qqv, (c * {b} + j.i) AS cell,
           row_number() OVER (
               PARTITION BY query_id
               ORDER BY fd[CAST(c * {b} + j.i + 1 AS INT)] DESC,
                        rnc ASC, j.i ASC
           ) AS rn
    FROM qc, range(0, {b}) j(i)
    WHERE rnc <= {cp}
), scored AS (
    SELECT p.query_id, a.vec_id,
           list_sum([p.qqv[i] * a.qv[i]
                     FOR i IN range(1, len(a.qv) + 1)])::BIGINT AS dot_q
    FROM (SELECT query_id, qqv, cell FROM cand
          WHERE rn <= {IVF_2L_NPROBE}) p
    JOIN assigned a ON p.cell = a.cell
    WHERE a.vec_id <> p.query_id
), ranked AS (
    SELECT query_id, vec_id, dot_q,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY dot_q DESC, vec_id ASC) AS rank
    FROM scored
)
SELECT query_id::BIGINT AS query_id, vec_id::BIGINT AS vec_id,
       dot_q, rank::INT AS rank
FROM ranked WHERE rank <= {TOPK_K}
"""


SQL_EMB_BUCKET_SIZES = f"""
WITH v AS (
    SELECT vec_id,
           [CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
            FOR x IN embedding] AS qv
    FROM embeddings
)
SELECT ({_sql_planes_terms(8, 64, 42)}) AS bucket,
       count(*)::BIGINT AS n_vecs
FROM v
GROUP BY 1
"""


NEAR_DUP_THRESHOLD_PCT = 20
NEAR_DUP_PLANES = 6


def q_emb_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate pairs under an ENGINE-EXACT cosine
    threshold: bucket by 6-plane hyperplane signature, then keep
    co-bucket pairs with cos >= 0.20 decided in integer arithmetic
    (10000·dot² >= 400·|a|²·|b|², decimal(38)/HUGEINT) so no float
    rounding can flip a boundary pair between engines. Completes the
    dedup family's oracle coverage: the float-cosine
    `embedding_near_duplicates` runs the identical bucket-join plan."""
    emb = _read(spark, sf_dir, "embeddings")
    out = similarity.embedding_near_duplicates_exact(
        emb, threshold_pct=NEAR_DUP_THRESHOLD_PCT,
        num_planes=NEAR_DUP_PLANES, dim=64,
    )
    return out.select(
        F.col("vec_a").cast("long"),
        F.col("vec_b").cast("long"),
        F.col("dot_q").cast("long"),
    )


SQL_EMB_NEAR_DUP = f"""
WITH v AS (
    SELECT vec_id,
           [CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
            FOR x IN embedding] AS qv
    FROM embeddings
), s AS (
    SELECT vec_id, qv, ({_sql_planes_terms(NEAR_DUP_PLANES, 64, 42)}) AS bucket,
           list_sum([qv[i] * qv[i]
                     FOR i IN range(1, len(qv) + 1)])::BIGINT AS nq
    FROM v
), p AS (
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           list_sum([a.qv[i] * b.qv[i]
                     FOR i IN range(1, len(a.qv) + 1)])::BIGINT AS dot_q,
           a.nq AS na, b.nq AS nb
    FROM s a JOIN s b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT vec_a::BIGINT AS vec_a, vec_b::BIGINT AS vec_b, dot_q
FROM p
WHERE dot_q > 0
  AND dot_q::HUGEINT * dot_q::HUGEINT * 10000
      >= {NEAR_DUP_THRESHOLD_PCT * NEAR_DUP_THRESHOLD_PCT}
         * na::HUGEINT * nb::HUGEINT
"""


# ---------------------------------------------------------------------------
# Relational sanity queries (joins / aggs / windows; SQL-oracled)
# ---------------------------------------------------------------------------

def q_lineitem_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            F.sum(
                F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast(
                    "long"
                )
            ).alias("sum_base_price_cents"),
            F.count("*").cast("long").alias("count_order"),
        )
    )


SQL_LINEITEM_PRICING = """
SELECT l_returnflag, l_linestatus,
       sum(CAST(l_quantity AS BIGINT))::BIGINT AS sum_qty,
       sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))::BIGINT
           AS sum_base_price_cents,
       count(*)::BIGINT AS count_order
FROM lineitem
GROUP BY l_returnflag, l_linestatus
"""


def q_orders_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _read(spark, sf_dir, "orders")
    customer = _read(spark, sf_dir, "customer")
    return (
        orders.join(
            F.broadcast(customer),
            orders.o_custkey == customer.c_custkey,
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                    "long"
                )
            ).alias("total_cents"),
        )
    )


SQL_ORDERS_BY_SEGMENT = """
SELECT c_mktsegment,
       count(*)::BIGINT AS n_orders,
       sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))::BIGINT
           AS total_cents
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


def q_events_top_by_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    events = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.desc("value"), F.asc("event_id")
    )
    return (
        events.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type", "value")
    )


SQL_EVENTS_TOP_BY_USER = """
SELECT user_id, event_id, event_type, value
FROM (
    SELECT user_id, event_id, event_type, value,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY value DESC, event_id ASC) AS rn
    FROM events
) WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# CLK pipeline queries. SQL cannot express HMAC-SHA1/MD5, so the oracles
# read committed expected parquet generated ONCE by the independent
# scalar reference-parity encoder + a brute-force (LSH-free) all-pairs
# linkage (tools/gen_expected_clk.py; scalar path proven byte-exact
# against data61/clkhash by tests/golden_vectors.json). The encode
# oracles join on (url, md5(text)) against the live `documents` view, so
# one static SQL string stays correct at every scale factor.
# ---------------------------------------------------------------------------

_EXPECTED_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tests", "expected",
)

def _documents_as_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").cast("string").alias("url"), "text"
    )


def q_clk_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.encode import encode_clks
    from .pipeline import webpages_schema

    pages = _documents_as_pages(spark, sf_dir)
    clks = encode_clks(
        pages, webpages_schema(), "spark-graft-secret", key_cols=("url",)
    )
    from .functions import clk_to_base64

    return clks.select(
        "url",
        clk_to_base64(F.col("clk")).alias("clk_b64"),
        F.col("popcount").cast("int"),
    )


def q_clk_popcount_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.encode import encode_clks
    from .pipeline import webpages_schema

    pages = _documents_as_pages(spark, sf_dir)
    clks = encode_clks(
        pages, webpages_schema(), "spark-graft-secret", key_cols=("url",)
    )
    return (
        clks.groupBy(
            (F.floor(F.col("popcount") / 32) * 32).cast("int").alias(
                "popcount_bucket"
            )
        )
        .agg(F.count("*").cast("long").alias("n"))
    )


def q_clk_linkage_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full pipeline on the deterministic synthetic web-pages fixture;
    returns the cluster-size distribution (stable across runs)."""
    from .pipeline import LinkageConfig, run_linkage, webpages_schema
    from .sources.webpages import synthetic_webpages

    pages = synthetic_webpages(spark, 2000, seed=42).select("url", "text")
    result = run_linkage(
        spark, pages,
        LinkageConfig(schema=webpages_schema(), secret="spark-graft-secret"),
    )
    return (
        result.clusters.groupBy("cluster_id")
        .agg(F.count("*").alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(F.count("*").cast("long").alias("n_clusters"))
    )


def q_clk_linkage_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline quality vs ground truth as a 1-row DataFrame."""
    from .operators.evaluate import (
        cluster_pairs,
        pairwise_metrics,
        truth_pairs,
    )
    from .pipeline import LinkageConfig, run_linkage, webpages_schema
    from .sources.webpages import synthetic_webpages, webpages_truth

    pages = synthetic_webpages(spark, 2000, seed=42)
    result = run_linkage(
        spark, pages.select("url", "text"),
        LinkageConfig(schema=webpages_schema(), secret="spark-graft-secret"),
    )
    metrics = pairwise_metrics(
        cluster_pairs(result.clusters, key_col="url"),
        truth_pairs(webpages_truth(pages)),
    )
    return spark.createDataFrame(
        [(metrics["tp"], metrics["predicted"], metrics["truth"],
          round(metrics["precision"], 6), round(metrics["recall"], 6),
          round(metrics["f1"], 6))],
        ["tp", "predicted", "truth", "precision", "recall", "f1"],
    )


SQL_CLK_ENCODE = f"""
SELECT DISTINCT e.url, e.clk_b64, e.popcount
FROM read_parquet('{_EXPECTED_DIR}/clk_encode_*.parquet') e
JOIN documents d
  ON e.url = CAST(d.doc_id AS VARCHAR) AND e.text_md5 = md5(d.text)
"""

SQL_CLK_POPCOUNT_HIST = f"""
WITH matched AS (
    SELECT DISTINCT e.url, e.popcount
    FROM read_parquet('{_EXPECTED_DIR}/clk_encode_*.parquet') e
    JOIN documents d
      ON e.url = CAST(d.doc_id AS VARCHAR) AND e.text_md5 = md5(d.text)
)
SELECT CAST(floor(popcount / 32) * 32 AS INT) AS popcount_bucket,
       count(*)::BIGINT AS n
FROM matched GROUP BY 1
"""

SQL_CLK_LINKAGE_CLUSTERS = f"""
SELECT cluster_size, n_clusters
FROM read_parquet('{_EXPECTED_DIR}/clk_linkage_clusters.parquet')
"""

SQL_CLK_LINKAGE_F1 = f"""
SELECT tp, predicted, truth, precision, recall, f1
FROM read_parquet('{_EXPECTED_DIR}/clk_linkage_f1.parquet')
"""


def q_clk_febrl_two_party(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-party FEBRL dirty-data linkage (the reference tutorial flow):
    encode both CSVs under one secret, block, score, mutual-best 1-1
    match at threshold 0.8. Returns the matched pairs + Dice score.

    Pinned-regression oracle: tools/gen_expected_clk.py runs this once
    and commits the (fully deterministic) matching; measured quality is
    P=1.000 / R=1.000 vs the 500 shared rec_ids."""
    import os as _os

    from .pipeline import LinkageConfig, run_linkage_two_party
    from .sources.febrl import (
        FEBRL_FEATURES,
        FEBRL_TESTDATA,
        febrl_schema,
        load_febrl_party,
    )

    if not _os.path.isdir(FEBRL_TESTDATA):
        raise FileNotFoundError(
            f"FEBRL corpus directory {FEBRL_TESTDATA!r} not found: set "
            "CLKHASH_SPARK_FEBRL_DIR to a directory holding "
            "dirty_1000_50_1.csv and dirty_1000_50_2.csv"
        )
    a = load_febrl_party(
        spark, _os.path.join(FEBRL_TESTDATA, "dirty_1000_50_1.csv"), "a:"
    )
    b = load_febrl_party(
        spark, _os.path.join(FEBRL_TESTDATA, "dirty_1000_50_2.csv"), "b:"
    )
    config = LinkageConfig(
        schema=febrl_schema(),
        secret="spark-graft-secret",
        key_col="key",
        feature_cols=list(FEBRL_FEATURES),
        threshold=0.8,
        num_bands=64,
        bits_per_band=8,
    )
    result = run_linkage_two_party(spark, a, b, config)
    return result.pairs.select(
        F.substring("key_a", 3, 100).alias("id_a"),
        F.substring("key_b", 3, 100).alias("id_b"),
        F.round("score", 6).alias("score"),
    )


SQL_CLK_FEBRL_TWO_PARTY = f"""
SELECT id_a, id_b, score
FROM read_parquet('{_EXPECTED_DIR}/clk_febrl_pairs.parquet')
"""


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

QUERIES: Dict[str, QueryFn] = {
    # text analysis
    "doc_token_counts": q_doc_token_counts,
    "doc_quality_scores": q_doc_quality_scores,
    "doc_lang_id": q_doc_lang_id,
    "doc_fingerprints": q_doc_fingerprints,
    "doc_repetition": q_doc_repetition,
    "doc_pii": q_doc_pii,
    # multimodal plumbing
    "mm_media_metadata": q_mm_media_metadata,
    "mm_image_features": q_mm_image_features,
    # dedup
    "doc_exact_dedup": q_doc_exact_dedup,
    "doc_stream_dedup": q_doc_stream_dedup,
    "doc_minhash_signatures": q_doc_minhash_signatures,
    "doc_minhash_pairs": q_doc_minhash_pairs,
    "doc_dedup_groups": q_doc_dedup_groups,
    "doc_simhash": q_doc_simhash,
    "doc_shingle_jaccard": q_doc_shingle_jaccard,
    # similarity
    "emb_topk": q_emb_topk,
    "emb_lsh_topk": q_emb_lsh_topk,
    "emb_lsh_topk_multi": q_emb_lsh_topk_multi,
    "emb_lsh_topk_prod": q_emb_lsh_topk_prod,
    "emb_bucket_sizes": q_emb_bucket_sizes,
    "emb_near_dup": q_emb_near_dup,
    "emb_ivf_cells": q_emb_ivf_cells,
    "emb_ivf_topk": q_emb_ivf_topk,
    "emb_ivf_two_level_cells": q_emb_ivf_two_level_cells,
    "emb_ivf_two_level_topk": q_emb_ivf_two_level_topk,
    # relational sanity
    "lineitem_pricing": q_lineitem_pricing,
    "orders_by_segment": q_orders_by_segment,
    "events_top_by_user": q_events_top_by_user,
    "events_hourly": q_events_hourly,
    "revenue_by_nation": q_revenue_by_nation,
    "local_supplier_revenue": q_local_supplier_revenue,
    # CLK pipeline (expected-parquet oracles)
    "clk_encode": q_clk_encode,
    "clk_popcount_hist": q_clk_popcount_hist,
    "clk_linkage_clusters": q_clk_linkage_clusters,
    "clk_linkage_f1": q_clk_linkage_f1,
    "clk_febrl_two_party": q_clk_febrl_two_party,
}

ORACLES: Dict[str, str] = {
    "doc_token_counts": SQL_DOC_TOKEN_COUNTS,
    "doc_quality_scores": SQL_DOC_QUALITY_SCORES,
    "doc_lang_id": SQL_DOC_LANG_ID,
    "doc_fingerprints": SQL_DOC_FINGERPRINTS,
    "doc_repetition": SQL_DOC_REPETITION,
    "doc_pii": SQL_DOC_PII,
    "mm_media_metadata": SQL_MM_MEDIA_METADATA,
    "mm_image_features": SQL_MM_IMAGE_FEATURES,
    "doc_exact_dedup": SQL_DOC_EXACT_DEDUP,
    "doc_stream_dedup": SQL_DOC_STREAM_DEDUP,
    "doc_minhash_signatures": SQL_DOC_MINHASH_SIGNATURES,
    "doc_minhash_pairs": SQL_DOC_MINHASH_PAIRS,
    "doc_dedup_groups": SQL_DOC_DEDUP_GROUPS,
    "doc_simhash": SQL_DOC_SIMHASH,
    "doc_shingle_jaccard": SQL_DOC_SHINGLE_JACCARD,
    "emb_topk": SQL_EMB_TOPK,
    "emb_lsh_topk": SQL_EMB_LSH_TOPK,
    "emb_lsh_topk_multi": _sql_emb_lsh_topk_multi(),
    "emb_lsh_topk_prod": _sql_emb_lsh_topk_multi(
        PROD_LSH_PLANES, PROD_LSH_TABLES
    ),
    "emb_bucket_sizes": SQL_EMB_BUCKET_SIZES,
    "emb_near_dup": SQL_EMB_NEAR_DUP,
    "emb_ivf_cells": SQL_EMB_IVF_CELLS,
    "emb_ivf_topk": SQL_EMB_IVF_TOPK,
    "emb_ivf_two_level_cells": _sql_emb_ivf_two_level_cells(),
    "emb_ivf_two_level_topk": _sql_emb_ivf_two_level_topk(),
    "lineitem_pricing": SQL_LINEITEM_PRICING,
    "orders_by_segment": SQL_ORDERS_BY_SEGMENT,
    "events_top_by_user": SQL_EVENTS_TOP_BY_USER,
    "events_hourly": SQL_EVENTS_HOURLY,
    "revenue_by_nation": SQL_REVENUE_BY_NATION,
    "local_supplier_revenue": SQL_LOCAL_SUPPLIER_REVENUE,
    "clk_encode": SQL_CLK_ENCODE,
    "clk_popcount_hist": SQL_CLK_POPCOUNT_HIST,
    "clk_linkage_clusters": SQL_CLK_LINKAGE_CLUSTERS,
    "clk_linkage_f1": SQL_CLK_LINKAGE_F1,
    "clk_febrl_two_party": SQL_CLK_FEBRL_TWO_PARTY,
}
