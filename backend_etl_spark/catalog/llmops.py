"""LLM-data-pipeline operator catalog: text analysis, dedup (exact /
MinHash-LSH / SimHash / n-gram Jaccard), similarity search, multimodal
plumbing — over the `documents` and `embeddings` tables.

These are the training-data-pipeline operators the reference only
sketched (its 0-byte preprocessors/clean.py and inference/sentiment.py),
built here as first-class scale-out operators. All hash functions are
md5-derived so the DuckDB oracle reproduces them exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from backend_etl_spark.catalog.registry import register
from backend_etl_spark.operators import dedup, similarity, textops
from backend_etl_spark.operators.multimodal import binary_meta
from backend_etl_spark.session import tune
from backend_etl_spark.sources.loader import load_table

# shared SQL fragments -------------------------------------------------------

_TOKS = r"list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')"
_NORM = r"lower(trim(regexp_replace(text, '\s+', ' ', 'g')))"
_NORM_TOKS = rf"list_filter(string_split_regex(trim({_NORM}), '\s+'), t -> t <> '')"

_SHINGLES_CTE = rf"""
    toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
             unnest(CASE WHEN len(t) >= 3
                         THEN list_transform(range(len(t) - 2),
                                             i -> array_to_string(t[i+1:i+3], ' '))
                         ELSE CAST([] AS VARCHAR[]) END) AS shingle
      FROM toks)
"""

_SIGS_CTE = rf"""
    {_SHINGLES_CTE},
    sigs AS (
      SELECT doc_id,
             min(md5('0#' || shingle)) AS mh0,
             min(md5('1#' || shingle)) AS mh1,
             min(md5('2#' || shingle)) AS mh2,
             min(md5('3#' || shingle)) AS mh3
      FROM sh GROUP BY doc_id)
"""

_BANDS_CTE = f"""
    {_SIGS_CTE},
    bands AS (
      SELECT doc_id, '0' AS band_id, mh0 AS band_value FROM sigs UNION ALL
      SELECT doc_id, '1', mh1 FROM sigs UNION ALL
      SELECT doc_id, '2', mh2 FROM sigs UNION ALL
      SELECT doc_id, '3', mh3 FROM sigs),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared_bands
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.band_value = b.band_value
       AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id)
"""


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------


@register(
    "text_stats",
    oracle=f"""
    WITH toks AS (SELECT doc_id, length(text) AS n_chars, {_TOKS} AS t FROM documents)
    SELECT doc_id,
           CAST(n_chars AS BIGINT)          AS n_chars,
           CAST(len(t) AS BIGINT)           AS n_tokens,
           CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct_tokens,
           round(list_sum(list_transform(t, s -> CAST(length(s) AS DOUBLE))) / len(t), 4)
             AS avg_token_len
    FROM toks
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token/char statistics per document — map-only, UDF-free."""
    tune(spark)
    docs = load_table(spark, sf_dir, "documents")
    out = textops.text_stats(docs)
    return out.select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("n_distinct_tokens").cast("bigint").alias("n_distinct_tokens"),
        "avg_token_len",
    )


@register(
    "text_quality",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    m AS (
      SELECT doc_id,
             len(toks) AS n_tokens,
             round(len(list_filter(toks, s -> s IN
               ('the','a','and','of','to','in','is','on','for','with'))) / len(toks), 4)
               AS stopword_ratio,
             round(len(list_distinct(toks)) / len(toks), 4) AS distinct_ratio
      FROM t)
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, stopword_ratio, distinct_ratio,
           CASE WHEN n_tokens >= 20 AND stopword_ratio >= 0.05 AND distinct_ratio >= 0.5
                  THEN 'high'
                WHEN n_tokens >= 10 AND distinct_ratio >= 0.3 THEN 'medium'
                ELSE 'low' END AS quality_class
    FROM m
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining-style quality heuristics + coarse class."""
    tune(spark)
    docs = load_table(spark, sf_dir, "documents")
    out = textops.quality_score(docs)
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        "stopword_ratio",
        "distinct_ratio",
        "quality_class",
    )


@register(
    "lang_id_heuristic",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_NORM_TOKS} AS toks FROM documents),
    h AS (
      SELECT doc_id,
             CAST(len(list_filter(toks, s -> s IN ('the','and','of','to','a'))) AS BIGINT)   AS hits_en,
             CAST(len(list_filter(toks, s -> s IN ('el','la','de','que','y'))) AS BIGINT)    AS hits_es,
             CAST(len(list_filter(toks, s -> s IN ('der','die','und','das','ist'))) AS BIGINT) AS hits_de,
             CAST(len(list_filter(toks, s -> s IN ('le','la','et','les','des'))) AS BIGINT)  AS hits_fr
      FROM t)
    SELECT doc_id, hits_en, hits_es, hits_de, hits_fr,
           CASE WHEN hits_en = greatest(hits_en, hits_es, hits_de, hits_fr) THEN 'en'
                WHEN hits_es = greatest(hits_en, hits_es, hits_de, hits_fr) THEN 'es'
                WHEN hits_de = greatest(hits_en, hits_es, hits_de, hits_fr) THEN 'de'
                ELSE 'fr' END AS lang_guess
    FROM h
    """,
)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-family language guess (deterministic argmax)."""
    tune(spark)
    docs = load_table(spark, sf_dir, "documents")
    out = textops.lang_id(docs)
    return out.select(
        "doc_id",
        *[F.col(f"hits_{lang}").cast("bigint").alias(f"hits_{lang}")
          for lang in ("en", "es", "de", "fr")],
        "lang_guess",
    )


@register(
    "doc_fingerprint",
    oracle=f"""
    WITH n AS (SELECT doc_id, {_NORM} AS norm FROM documents)
    SELECT doc_id,
           md5(norm) AS content_md5,
           md5(array_to_string(list_sort(list_distinct(list_filter(
               string_split_regex(trim(norm), '\\s+'), t -> t <> ''))), ' ')) AS token_bag_md5
    FROM n
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content + order-insensitive token-bag fingerprints (md5-based,
    engine-portable)."""
    tune(spark)
    return textops.fingerprint(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# dedup family
# ---------------------------------------------------------------------------


@register(
    "dedup_exact_docs",
    oracle=f"""
    WITH n AS (SELECT doc_id, md5({_NORM}) AS content_md5 FROM documents)
    SELECT content_md5,
           min(doc_id) AS keep_id,
           count(*)    AS dup_count
    FROM n GROUP BY content_md5
    """,
)
def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup: one representative per normalized-text hash."""
    tune(spark)
    return dedup.exact_dedup(load_table(spark, sf_dir, "documents"), "doc_id", "text")


@register(
    "dedup_minhash_signatures",
    oracle=f"""
    WITH {_SIGS_CTE}
    SELECT doc_id, mh0, mh1, mh2, mh3 FROM sigs
    """,
)
def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures over 3-token shingles (4 md5 hash families)."""
    tune(spark)
    return dedup.minhash_signatures(
        load_table(spark, sf_dir, "documents"), "doc_id", "text"
    ).select("doc_id", "mh0", "mh1", "mh2", "mh3")


@register(
    "dedup_lsh_candidates",
    oracle=f"""
    WITH {_BANDS_CTE}
    SELECT doc_a, doc_b, shared_bands FROM cand
    """,
)
def dedup_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding: near-dup candidate pairs = docs sharing ≥1 MinHash
    band. The only pairwise step, bounded by bucket size."""
    tune(spark)
    docs = load_table(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(docs, "doc_id", "text")
    return dedup.lsh_candidate_pairs(sigs, "doc_id")


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_BANDS_CTE},
    sizes AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, count(*) AS n_common
      FROM cand c
        JOIN sh a ON a.doc_id = c.doc_a
        JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
      GROUP BY c.doc_a, c.doc_b)
    SELECT i.doc_a, i.doc_b,
           round(n_common / (sa.n_shingles + sb.n_shingles - n_common), 4) AS jaccard
    FROM inter i
      JOIN sizes sa ON sa.doc_id = i.doc_a
      JOIN sizes sb ON sb.doc_id = i.doc_b
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard for LSH candidate pairs only."""
    tune(spark)
    docs = load_table(spark, sf_dir, "documents")
    return dedup.jaccard_pairs(docs, "doc_id", "text")


@register(
    "dedup_simhash",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    tok AS (SELECT DISTINCT doc_id, unnest(t) AS tok FROM toks),
    bits AS (
      SELECT doc_id, tok, unnest(range(16)) AS bit_pos FROM tok),
    contrib AS (
      SELECT doc_id, bit_pos,
             sum((ascii(substr(md5(tok || '#' || bit_pos), 1, 1)) % 2) * 2 - 1) AS v
      FROM bits GROUP BY doc_id, bit_pos)
    SELECT doc_id,
           CAST(sum(CASE WHEN v >= 0 THEN (1::BIGINT << bit_pos) ELSE 0 END) AS BIGINT)
             AS simhash16
    FROM contrib GROUP BY doc_id
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per document (majority vote of md5-derived bits)."""
    tune(spark)
    return dedup.simhash16(load_table(spark, sf_dir, "documents"), "doc_id", "text")


# ---------------------------------------------------------------------------
# similarity search over embeddings
# ---------------------------------------------------------------------------

_COS_CTE = """
    e AS (SELECT vec_id, label,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings)
"""


@register(
    "knn_brute_force_cosine",
    oracle=f"""
    WITH {_COS_CTE},
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
    scored AS (
      SELECT query_id, e.vec_id AS neighbor_id,
             round(list_dot_product(qv, v) /
                   (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))), 6)
               AS cosine_sim
      FROM q, e WHERE e.vec_id != query_id)
    SELECT query_id, neighbor_id, cosine_sim, CAST(rank AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cosine_sim DESC, neighbor_id) AS rank
          FROM scored)
    WHERE rank <= 10
    """,
)
def knn_brute_force_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 for a small query set: broadcast queries, one
    map-only pass over the corpus, per-query top-k window."""
    tune(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    out = similarity.brute_force_topk(
        emb, emb.where(F.col("vec_id") < 5), k=10
    )
    return out.select(
        "query_id", "neighbor_id", "cosine_sim", F.col("rank").cast("bigint").alias("rank")
    )


@register(
    "knn_ivf_label_pruned",
    oracle=f"""
    WITH {_COS_CTE},
    q AS (SELECT vec_id AS query_id, label AS cluster, v AS qv FROM e WHERE vec_id < 20),
    scored AS (
      SELECT query_id, e.vec_id AS neighbor_id,
             round(list_dot_product(qv, v) /
                   (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))), 6)
               AS cosine_sim
      FROM q JOIN e ON e.label = q.cluster AND e.vec_id != q.query_id)
    SELECT query_id, neighbor_id, cosine_sim, CAST(rank AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cosine_sim DESC, neighbor_id) AS rank
          FROM scored)
    WHERE rank <= 5
    """,
)
def knn_ivf_label_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: candidates pruned to the query's cluster (label as
    the coarse-quantizer assignment) — the linear-cost scale path."""
    tune(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    out = similarity.ivf_topk(emb, emb.where(F.col("vec_id") < 20), k=5)
    return out.select(
        "query_id", "neighbor_id", "cosine_sim", F.col("rank").cast("bigint").alias("rank")
    )


@register(
    "embedding_norms",
    oracle=f"""
    WITH {_COS_CTE}
    SELECT vec_id,
           CAST(len(v) AS BIGINT)                  AS dims,
           CAST(label AS BIGINT)                   AS label,
           round(sqrt(list_dot_product(v, v)), 6)  AS l2_norm
    FROM e
    """,
)
def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector hygiene scan: dimension + L2 norm per embedding."""
    tune(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    v = similarity.to_double("embedding")
    return emb.select(
        "vec_id",
        F.size("embedding").cast("bigint").alias("dims"),
        F.col("label").cast("bigint").alias("label"),
        F.round(similarity.l2_norm(v), 6).alias("l2_norm"),
    )


# ---------------------------------------------------------------------------
# multimodal plumbing
# ---------------------------------------------------------------------------


@register(
    "multimodal_binary_meta",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT)      AS n_bytes,
           md5(text)                                       AS content_md5,
           CAST(octet_length(encode(text)) % 64 AS BIGINT) AS fake_width,
           CAST(octet_length(encode(text)) % 48 AS BIGINT) AS fake_height
    FROM documents
    """,
)
def multimodal_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary metadata extraction through the Arrow-batched
    mapInPandas decode path (decode itself stubbed — schema, batching,
    and partitioning are the real thing)."""
    tune(spark)
    return binary_meta(load_table(spark, sf_dir, "documents"))


@register(
    "multimodal_frame_sample",
    oracle="""
    WITH d AS (
      SELECT doc_id, text,
             CAST(ceil(length(text) / 64.0) AS BIGINT) AS nf
      FROM documents
    ), f AS (
      SELECT doc_id, unnest(range(0, nf)) AS frame_idx, text FROM d
    )
    SELECT doc_id,
           frame_idx,
           CAST(length(substr(text, CAST(frame_idx * 64 + 1 AS INT), 64)) AS BIGINT)
               AS frame_len,
           md5(substr(text, CAST(frame_idx * 64 + 1 AS INT), 64)) AS frame_md5
    FROM f
    WHERE frame_idx % 4 = 0
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-style frame sampling (chunk payload into 64-byte frames,
    keep every 4th) via mapInPandas fan-out — 1 payload row → N frame
    rows; documents are ASCII so the byte-chunk oracle is exact SQL."""
    tune(spark)
    from backend_etl_spark.operators.multimodal import frame_sample

    return frame_sample(load_table(spark, sf_dir, "documents"))


@register(
    "multimodal_fake_embed",
    oracle="""
    WITH m AS (SELECT doc_id, md5(text) AS h FROM documents),
    k AS (SELECT doc_id, h, unnest(range(0, 4)) AS feat_idx FROM m)
    SELECT doc_id, feat_idx,
           CAST((strpos('0123456789abcdef', substr(h, CAST(feat_idx * 4 + 1 AS INT), 1)) - 1) * 4096
              + (strpos('0123456789abcdef', substr(h, CAST(feat_idx * 4 + 2 AS INT), 1)) - 1) * 256
              + (strpos('0123456789abcdef', substr(h, CAST(feat_idx * 4 + 3 AS INT), 1)) - 1) * 16
              + (strpos('0123456789abcdef', substr(h, CAST(feat_idx * 4 + 4 AS INT), 1)) - 1)
             AS BIGINT) AS feat_q
    FROM k
    """,
)
def multimodal_fake_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode-and-embed stand-in: deterministic 4-wide quantized feature
    vector per payload through the Arrow decode path (md5 windows in
    place of a model forward pass — same plan shape)."""
    tune(spark)
    from backend_etl_spark.operators.multimodal import extract_features

    return extract_features(load_table(spark, sf_dir, "documents"))


@register(
    "multimodal_resize",
    oracle="""
    SELECT doc_id,
           CAST(length(substr(text, 1, 100)) AS BIGINT) AS resized_len,
           md5(substr(text, 1, 100))                    AS resized_md5
    FROM documents
    """,
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize/thumbnail stand-in: truncate payload to 100 bytes and
    re-digest via mapInPandas (real resize stubbed behind decode_image)."""
    tune(spark)
    from backend_etl_spark.operators.multimodal import resize_payload

    return resize_payload(load_table(spark, sf_dir, "documents"))


@register(
    "multimodal_decode_ppm",
    oracle="""
    WITH px AS (
      SELECT doc_id,
             4                  AS width,
             (doc_id % 3) + 2   AS height,
             substr(repeat(md5(text), 3), 1,
                    CAST(4 * ((doc_id % 3) + 2) * 3 * 2 AS INT)) AS pix_hex
      FROM documents)
    SELECT doc_id,
           CAST(width AS BIGINT)            AS width,
           CAST(height AS BIGINT)           AS height,
           CAST(255 AS BIGINT)              AS maxval,
           CAST(width * height * 3 AS BIGINT) AS n_pixel_bytes,
           CAST(list_sum(list_transform(range(1, CAST(width * height * 3 AS INT) + 1),
                i -> ('0x' || substr(pix_hex, 2*i - 1, 2))::BIGINT)) AS BIGINT)
                                            AS sum_pixel_bytes,
           md5(pix_hex)                     AS pixel_md5
    FROM px
    """,
)
def multimodal_decode_ppm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode end-to-end: render a binary PPM (P6) per doc
    with pure Column expressions (ASCII header + md5-derived pixel
    bytes), then parse it back with the pure-Python PPM decoder inside
    mapInPandas. Header fields and pixel statistics all depend on the
    actual byte-level parse; the oracle computes them directly from the
    same deterministic construction. Map-only, no shuffle."""
    tune(spark)
    from backend_etl_spark.operators.multimodal import decode_image_meta

    docs = load_table(spark, sf_dir, "documents")
    doc_id = F.col("doc_id")
    width, height = F.lit(4), (doc_id % 3 + 2)
    n_bytes = (width * height * 3).cast("int")
    pix_hex = F.substring(F.repeat(F.md5(F.col("text")), 3), 1, n_bytes * 2)
    header = F.concat(
        F.lit("P6\n"), width.cast("string"), F.lit(" "),
        height.cast("string"), F.lit("\n255\n"),
    )
    payloads = docs.select(
        doc_id,
        F.concat(F.encode(header, "UTF-8"), F.unhex(pix_hex)).alias("payload"),
    )
    return decode_image_meta(payloads)


@register(
    "multimodal_decode_wav",
    oracle="""
    SELECT doc_id,
           CAST(1 AS BIGINT)                  AS n_channels,
           CAST(8000 AS BIGINT)               AS sample_rate,
           CAST(2 AS BIGINT)                  AS sample_width,
           CAST((doc_id % 50) + 10 AS BIGINT) AS n_samples,
           CAST(list_sum(list_transform(range(0, CAST((doc_id % 50) + 10 AS INT)),
                k -> abs(((doc_id * 31 + k * 7) % 65536) - 32768))) AS BIGINT)
                                              AS sum_abs,
           CAST(((doc_id * 31) % 65536) - 32768 AS BIGINT) AS first_sample,
           CAST(((doc_id * 31 + ((doc_id % 50) + 9) * 7) % 65536) - 32768 AS BIGINT)
                                              AS last_sample
    FROM documents
    """,
)
def multimodal_decode_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode end-to-end: a deterministic mono 16-bit PCM WAV
    per doc written by the stdlib RIFF encoder (one Arrow stage), parsed
    back by the stdlib-wave decoder (a separate Arrow stage) — params
    and sample statistics all come from actually reading the container.
    The oracle recomputes them from the sample formula directly."""
    tune(spark)
    from backend_etl_spark.operators.multimodal import (
        decode_audio_meta,
        encode_wav_fixture,
    )

    docs = load_table(spark, sf_dir, "documents")
    return decode_audio_meta(encode_wav_fixture(docs))


def _hx(raw: bytes) -> str:
    return raw.hex()


def _le32h(v: int) -> str:
    """Python-side little-endian u32 as hex."""
    import struct

    return struct.pack("<I", v).hex()


def _col_le32h(v):
    """Column-side little-endian u32 (< 65536) as a hex string."""
    lo = F.lpad(F.lower(F.hex(v % 256)), 2, "0")
    hi = F.lpad(F.lower(F.hex(F.shiftright(v.cast("int"), 8) % 256)), 2, "0")
    return F.concat(lo, hi, F.lit("0000"))


@register(
    "multimodal_decode_avi",
    oracle="""
    WITH vid AS (
      SELECT doc_id,
             4                    AS width,
             (doc_id % 3) + 2     AS height,
             (doc_id % 4) + 1     AS n_frames,
             ((doc_id % 4) + 1) * 4 * ((doc_id % 3) + 2) * 3 AS nb,
             substr(repeat(md5(text), 12), 1,
                    CAST(((doc_id % 4) + 1) * 4 * ((doc_id % 3) + 2) * 3 * 2
                         AS INT)) AS pix_hex
      FROM documents)
    SELECT doc_id,
           CAST(width AS BIGINT)    AS width,
           CAST(height AS BIGINT)   AS height,
           CAST(n_frames AS BIGINT) AS n_frames,
           CAST(nb AS BIGINT)       AS n_frame_bytes,
           CAST(list_sum(list_transform(range(1, CAST(nb AS INT) + 1),
                i -> ('0x' || substr(pix_hex, 2*i - 1, 2))::BIGINT)) AS BIGINT)
                                    AS sum_frame_bytes,
           md5(pix_hex)             AS frames_md5
    FROM vid
    """,
)
def multimodal_decode_avi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video-container decode end-to-end: render a spec-conformant
    AVI 1.0 file per doc with pure Column expressions — RIFF tree with
    a full hdrl (avih + strl(strh 'vids'/'DIB ' + strf
    BITMAPINFOHEADER)) and a movi list of uncompressed '00db' DIB
    frames whose bytes derive from md5(text) — then parse it back with
    the pure-Python RIFF walker (operators/multimodal.decode_video)
    inside mapInPandas. Dimensions and frame count come from the avih
    the decoder actually read, frame statistics from the raw bytes it
    actually collected; the oracle recomputes them from the same
    deterministic construction. Map-only, no shuffle.

    Closes the multimodal tier's last stub: DIB-in-AVI is the
    codec-free uncompressed video format, the same honesty contract as
    PPM (image) and PCM WAV (audio) — a compressed '00dc' stream still
    raises, since MJPEG/h264 need libraries absent here."""
    tune(spark)
    from backend_etl_spark.operators.multimodal import decode_video_meta

    docs = load_table(spark, sf_dir, "documents")
    doc_id = F.col("doc_id")
    w, h, f = F.lit(4), (doc_id % 3 + 2), (doc_id % 4 + 1)
    whc = (w * h * 3).cast("int")  # bytes per uncompressed 24-bit frame

    # ---- fixed-layout headers as hex strings (python-side constants,
    # Column-side computed fields) --------------------------------------
    avih = F.concat(
        F.lit(_le32h(40000) + _le32h(0) * 3),  # usec/frame, bps, pad, flags
        _col_le32h(f),                         # dwTotalFrames
        F.lit(_le32h(0) + _le32h(1) + _le32h(0)),  # init, streams, bufsize
        _col_le32h(w), _col_le32h(h),
        F.lit(_le32h(0) * 4),                  # reserved
    )
    strh = F.concat(
        F.lit(_hx(b"vids") + _hx(b"DIB ") + _le32h(0)),  # type, handler, flags
        F.lit("0000" + "0000"),                # wPriority, wLanguage
        F.lit(_le32h(0) + _le32h(1) + _le32h(25) + _le32h(0)),  # init, scale, rate, start
        _col_le32h(f),                         # dwLength
        F.lit(_le32h(0) * 3 + "00" * 8),       # bufsize, quality, sampsize, rcFrame
    )
    strf = F.concat(
        F.lit(_le32h(40)),
        _col_le32h(w), _col_le32h(h),
        F.lit("0100" + "1800" + _le32h(0)),    # planes=1, bits=24, BI_RGB
        _col_le32h(whc),                       # biSizeImage
        F.lit(_le32h(0) * 4),
    )
    strl = F.concat(
        F.lit(_hx(b"LIST") + _le32h(116) + _hx(b"strl")),
        F.lit(_hx(b"strh") + _le32h(56)), strh,
        F.lit(_hx(b"strf") + _le32h(40)), strf,
    )
    hdrl = F.concat(
        F.lit(_hx(b"LIST") + _le32h(192) + _hx(b"hdrl")),
        F.lit(_hx(b"avih") + _le32h(56)), avih,
        strl,
    )
    # ---- movi list: one '00db' chunk per frame (whc is even: no pad) --
    pix_hex = F.substring(
        F.repeat(F.md5(F.col("text")), 12), 1, (f * whc * 2).cast("int")
    )
    frames = F.aggregate(
        F.sequence(F.lit(0), (f - 1).cast("int")),
        F.lit(""),
        lambda acc, i: F.concat(
            acc,
            F.lit(_hx(b"00db")),
            _col_le32h(whc),
            pix_hex.substr(i * whc * 2 + 1, whc * 2),
        ),
    )
    movi_sz = (F.lit(4) + f * (whc + 8)).cast("int")
    riff_sz = (movi_sz + 212).cast("int")
    payload_hex = F.concat(
        F.lit(_hx(b"RIFF")), _col_le32h(riff_sz), F.lit(_hx(b"AVI ")),
        hdrl,
        F.lit(_hx(b"LIST")), _col_le32h(movi_sz), F.lit(_hx(b"movi")),
        frames,
    )
    payloads = docs.select(doc_id, F.unhex(payload_hex).alias("payload"))
    return decode_video_meta(payloads)


@register(
    "knn_lsh_bucketed",
    oracle=f"""
    WITH {_COS_CTE},
    comp AS (
      SELECT vec_id, generate_subscripts(v, 1) - 1 AS i, unnest(v) AS x FROM e),
    bits AS (SELECT vec_id, i, x, unnest(range(0, 8)) AS j FROM comp),
    proj AS (
      SELECT vec_id, j,
             sum(x * ((ascii(substr(md5(CAST(i AS VARCHAR) || '#' || CAST(j AS VARCHAR)), 1, 1)) % 2) * 2 - 1)) AS p
      FROM bits GROUP BY vec_id, j),
    sig AS (
      SELECT vec_id,
             CAST(sum(CASE WHEN round(p, 6) >= 0
                           THEN (1::BIGINT << CAST(j AS INT)) ELSE 0 END) AS BIGINT)
               AS lsh_sig
      FROM proj GROUP BY vec_id),
    es AS (SELECT e.vec_id, v, lsh_sig FROM e JOIN sig USING (vec_id)),
    q AS (SELECT vec_id AS query_id, lsh_sig, v AS qv FROM es WHERE vec_id < 20),
    scored AS (
      SELECT query_id, es.vec_id AS neighbor_id,
             round(list_dot_product(qv, v) /
                   (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))), 6)
               AS cosine_sim
      FROM q JOIN es ON es.lsh_sig = q.lsh_sig AND es.vec_id != q.query_id)
    SELECT query_id, neighbor_id, cosine_sim, CAST(rank AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cosine_sim DESC, neighbor_id) AS rank
          FROM scored)
    WHERE rank <= 5
    """,
)
def knn_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN: random-hyperplane signatures (md5-derived,
    UDF-free) bucket the corpus; exact cosine only within the query's
    bucket. The scale path when there is no precomputed cluster
    assignment — signature build is linear, search is per-bucket."""
    tune(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    out = similarity.lsh_bucket_topk(emb, F.col("vec_id") < 20, k=5)
    return out.select(
        "query_id", "neighbor_id", "cosine_sim", F.col("rank").cast("bigint").alias("rank")
    )


@register(
    "text_token_budget",
    oracle="""
    SELECT doc_id,
           CAST(len(list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '')) AS BIGINT) AS ws_tokens,
           CAST(len(regexp_extract_all(text,
                '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^ A-Za-z0-9]+'))
                AS BIGINT)                                             AS bpe_ish_tokens
    FROM documents
    """,
)
def text_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting both ways: whitespace tokens and a BPE-ish
    pre-tokenizer regex count (the pretraining token-budget estimator)."""
    tune(spark)
    from backend_etl_spark.operators.textops import bpe_ish_token_count, token_count

    return load_table(spark, sf_dir, "documents").select(
        "doc_id",
        token_count(F.col("text")).cast("bigint").alias("ws_tokens"),
        bpe_ish_token_count(F.col("text")).cast("bigint").alias("bpe_ish_tokens"),
    )


@register(
    "doc_rolling_hash",
    oracle="""
    SELECT doc_id,
           list_reduce(
             list_prepend(0::BIGINT,
                          [unicode(c)::BIGINT for c in string_split(text, '')]),
             (acc, x) -> (acc * 31 + x) % 1000000007) AS roll_hash
    FROM documents
    """,
)
def doc_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Karp-Rabin rolling-hash fingerprint per document (polynomial fold
    over codepoints, mod 1e9+7) — chunk-extendable unlike md5, identical
    arithmetic in both engines."""
    tune(spark)
    from backend_etl_spark.operators.textops import rolling_hash

    return load_table(spark, sf_dir, "documents").select(
        "doc_id", rolling_hash(F.col("text")).alias("roll_hash")
    )


@register(
    "dedup_cluster_components",
    oracle=f"""
    WITH RECURSIVE
    {_BANDS_CTE},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM cand
      UNION
      SELECT doc_b, doc_a FROM cand),
    reach(node, label) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node)
    SELECT node AS doc_id, min(label) AS cluster_id
    FROM reach GROUP BY node
    """,
)
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS of the LSH candidate graph — cluster_id = min
    doc id in the component; keep that id, drop the rest. The edges are
    LSH bucket stars (each bucket's min id linked to its other members:
    the components of the candidate pairs at ≤ bands × docs edges, no
    band self-join); components come from a per-partition union-find
    seed finished by min-label propagation, which exits after one
    no-change round when the seed is exact. The oracle computes the
    same components from the pairs via a recursive CTE (transitive
    closure + min)."""
    tune(spark)
    docs = load_table(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(docs, "doc_id", "text")
    edges = dedup.lsh_bucket_edges(sigs, "doc_id")
    return dedup.cluster_components(edges, docs.select("doc_id"), "doc_id")


@register(
    "sentiment_lexicon",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_NORM_TOKS} AS t FROM documents),
    hits AS (
      SELECT doc_id,
             CAST(len(list_filter(t, x -> list_contains(
               ['good','great','fast','love','best','easy','nice'], x))) AS BIGINT)
               AS pos_hits,
             CAST(len(list_filter(t, x -> list_contains(
               ['bad','slow','worst','hate','bug','broken','hard'], x))) AS BIGINT)
               AS neg_hits,
             len(t) AS n
      FROM toks)
    SELECT doc_id, pos_hits, neg_hits,
           round((pos_hits - neg_hits) * 1.0 / n, 6) AS sentiment,
           CASE WHEN round((pos_hits - neg_hits) * 1.0 / n, 6) > 0 THEN 'positive'
                WHEN round((pos_hits - neg_hits) * 1.0 / n, 6) < 0 THEN 'negative'
                ELSE 'neutral' END AS sentiment_class
    FROM hits
    """,
)
def sentiment_lexicon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon sentiment scoring — the reference's planned
    inference/sentiment.py stage (0-byte intent, SURVEY §2.12 D3) as a
    deterministic UDF-free expression; the model path swaps in an
    Arrow-batched pandas UDF with the same output schema."""
    tune(spark)
    from backend_etl_spark.operators.textops import sentiment_score

    return sentiment_score(load_table(spark, sf_dir, "documents"))


_MD5_U = (
    "(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT / 4294967296.0)"
)


@register(
    "curation_deterministic_sample",
    oracle=f"""
    SELECT doc_id, lang, source
    FROM documents
    WHERE {_MD5_U} < 0.25
    """,
)
def curation_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~25% sample chosen by id hash — identical rows every run, every
    engine, any partitioning (the reproducible substitute for rand()
    sampling in a training-data pipeline)."""
    tune(spark)
    from backend_etl_spark.operators.curation import deterministic_sample

    return deterministic_sample(
        load_table(spark, sf_dir, "documents").select("doc_id", "lang", "source"),
        "doc_id",
        0.25,
    )


@register(
    "curation_stratified_sample",
    oracle=f"""
    WITH ranked AS (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
                                ORDER BY {_MD5_U}, doc_id) AS rn
      FROM documents)
    SELECT doc_id, lang FROM ranked WHERE rn <= 20
    """,
)
def curation_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly 20 docs per language, picked by hash order — deterministic
    stratified sampling against majority-class domination."""
    tune(spark)
    from backend_etl_spark.operators.curation import stratified_sample

    return stratified_sample(
        load_table(spark, sf_dir, "documents").select("doc_id", "lang"),
        "doc_id",
        "lang",
        20,
    )


@register(
    "curation_weighted_sample",
    oracle="""
    WITH k AS (
      SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
             round(ln((('0x' || substr(md5('ws#' || CAST(doc_id AS VARCHAR)),
                                       1, 8))::BIGINT + 0.5) / 4294967296.0)
                   / greatest(n_chars, 1), 10) AS sample_key
      FROM documents)
    SELECT doc_id, n_chars, sample_key
    FROM k ORDER BY sample_key DESC, doc_id LIMIT 100
    """,
)
def curation_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Spirakis 2006
    A-Res): inclusion probability ∝ n_chars, via the deterministic
    ln(u)/w key — 'sample long/high-quality docs more often', the
    curation counterpart of temperature resampling but exact-k and
    replacement-free.

    Scale shape: key computation is map-only; orderBy+limit compiles to
    TakeOrdered (per-partition top-k heaps, k-row driver merge — no
    global sort), so the plan is the same one-pass shape at any corpus
    size. The md5-derived u makes the sample engine-portable: the
    DuckDB oracle draws the identical sample."""
    tune(spark)
    from backend_etl_spark.operators.curation import weighted_sample

    return weighted_sample(
        load_table(spark, sf_dir, "documents").select("doc_id", "n_chars"),
        "doc_id",
        F.col("n_chars"),
        100,
    )


@register(
    "curation_token_budget_pack",
    oracle=rf"""
    WITH q AS (
      SELECT doc_id, lang,
             CAST(len(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) AS BIGINT) AS n_tokens,
             round(len(list_distinct(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> ''))) * 1.0
                   / len(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')), 6)     AS quality
      FROM documents)
    SELECT doc_id, lang, n_tokens, quality
    FROM (SELECT *, sum(n_tokens) OVER (ORDER BY quality DESC, doc_id
                                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS cum
          FROM q)
    WHERE cum <= 20000
    """,
)
def curation_token_budget_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill a 20k-token training budget with the highest-quality docs
    (distinct-token ratio, id tie-break): global quality sort + running
    token sum. At scale, shard the budget per stratum first (see
    operators/curation.py)."""
    tune(spark)
    from backend_etl_spark.functions.scalars import tokens
    from backend_etl_spark.operators.curation import token_budget_pack

    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    prepared = docs.select(
        "doc_id",
        "lang",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.round(F.size(F.array_distinct(toks)) / F.size(toks), 6).alias("quality"),
    )
    return token_budget_pack(prepared, "doc_id", "n_tokens", F.col("quality"), 20000)


@register(
    "grouped_zscore_events",
    oracle="""
    WITH stats AS (
      SELECT user_id,
             avg(value)         AS mu,
             stddev_samp(value) AS sigma,
             count(*)           AS n
      FROM events GROUP BY user_id)
    SELECT e.event_id, e.user_id,
           CASE WHEN s.n > 1 AND s.sigma > 0
                THEN round((e.value - s.mu) / s.sigma, 6)
                ELSE 0.0 END AS zscore
    FROM events e JOIN stats s USING (user_id)
    """,
)
def grouped_zscore_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user z-score normalization as pure JVM window aggregates.

    r13 (optimization guide §4.1/§2.3): this ran as an applyInPandas
    grouped-map — every event row crossed the JVM→Arrow→Python boundary
    just to compute mean/stddev that built-ins express directly. The
    window form shares ONE hash exchange on user_id for all three
    aggregates and keeps the whole plan in WholeStageCodegen
    (FlatMapGroupsInPandas removed; solo 2.40 s → 0.54 s at sf0.1).
    pandas ``std(ddof=1)`` ≡ ``stddev_samp``; the n>1/σ>0 → 0.0 guard
    and 6-dp rounding are unchanged, so results are hash-identical
    (oracle-checked at sf0.001/0.01/0.1). The grouped-map surface this
    entry used to demonstrate stays exercised by the semantic-dedup
    kernels (operators/dedup.py intra_cluster_cosine_drops /
    intra_bucket_cosine_pairs), where per-group numpy matmuls genuinely
    beat expression trees."""
    tune(spark)
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    w = Window.partitionBy("user_id")
    sigma = F.stddev_samp("value").over(w)
    n = F.count(F.lit(1)).over(w)
    z = (F.col("value") - F.avg("value").over(w)) / sigma
    return ev.select(
        "event_id",
        "user_id",
        F.when((n > 1) & (sigma > 0), F.round(z, 6))
        .otherwise(F.lit(0.0))
        .alias("zscore"),
    )


@register(
    "knn_lsh_recall_at_5",
    oracle=f"""
    WITH {_COS_CTE},
    comp AS (
      SELECT vec_id, generate_subscripts(v, 1) - 1 AS i, unnest(v) AS x FROM e),
    bits AS (SELECT vec_id, i, x, unnest(range(0, 8)) AS j FROM comp),
    proj AS (
      SELECT vec_id, j,
             sum(x * ((ascii(substr(md5(CAST(i AS VARCHAR) || '#' || CAST(j AS VARCHAR)), 1, 1)) % 2) * 2 - 1)) AS p
      FROM bits GROUP BY vec_id, j),
    sig AS (
      SELECT vec_id,
             CAST(sum(CASE WHEN round(p, 6) >= 0
                           THEN (1::BIGINT << CAST(j AS INT)) ELSE 0 END) AS BIGINT)
               AS lsh_sig
      FROM proj GROUP BY vec_id),
    es AS (SELECT e.vec_id, v, lsh_sig FROM e JOIN sig USING (vec_id)),
    q AS (SELECT vec_id AS query_id, lsh_sig, v AS qv FROM es WHERE vec_id < 20),
    brute AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.query_id ORDER BY
                 round(list_dot_product(qv, v) /
                       (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))), 6)
                 DESC, e.vec_id) AS rank
        FROM q, e WHERE e.vec_id != q.query_id)
      WHERE rank <= 5),
    approx AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, es.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.query_id ORDER BY
                 round(list_dot_product(qv, v) /
                       (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))), 6)
                 DESC, es.vec_id) AS rank
        FROM q JOIN es ON es.lsh_sig = q.lsh_sig AND es.vec_id != q.query_id)
      WHERE rank <= 5),
    hits AS (
      SELECT b.query_id, count(a.neighbor_id) AS n_hit
      FROM brute b LEFT JOIN approx a
        ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
      GROUP BY b.query_id)
    SELECT round(avg(n_hit / 5.0), 4) AS recall_at_5,
           CAST(count(*) AS BIGINT)   AS n_queries
    FROM hits
    """,
)
def knn_lsh_recall_at_5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality measurement: recall@5 of the LSH-bucketed search
    against the exact brute-force top-5, averaged over the query set —
    the evaluation loop that picks n_bits/bands in production. Both
    pipelines and the recall join are reproduced exactly in the oracle."""
    tune(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    brute = similarity.brute_force_topk(emb, emb.where(F.col("vec_id") < 20), k=5)
    approx = similarity.lsh_bucket_topk(emb, F.col("vec_id") < 20, k=5)
    b = brute.select(
        F.col("query_id").alias("b_q"), F.col("neighbor_id").alias("b_n")
    )
    a = approx.select(
        F.col("query_id").alias("a_q"), F.col("neighbor_id").alias("a_n")
    )
    hits = (
        b.join(a, (F.col("b_q") == F.col("a_q")) & (F.col("b_n") == F.col("a_n")), "left")
        .groupBy("b_q")
        .agg(F.count("a_n").alias("n_hit"))
    )
    return hits.agg(
        F.round(F.avg(F.col("n_hit") / 5.0), 4).alias("recall_at_5"),
        F.count(F.lit(1)).cast("bigint").alias("n_queries"),
    )


@register(
    "curation_length_band_filter",
    oracle="""
    WITH bounds AS (
      SELECT quantile_cont(n_chars, 0.05) AS lo,
             quantile_cont(n_chars, 0.95) AS hi
      FROM documents)
    SELECT doc_id, lang, n_chars
    FROM documents, bounds
    WHERE n_chars >= lo AND n_chars <= hi
    """,
)
def curation_length_band_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile-band length filter (keep p5..p95): the standard
    pretraining outlier cut. The two scalar quantiles compute once and
    broadcast into the filter — one extra tiny aggregate, not a second
    pass shape."""
    tune(spark)
    docs = load_table(spark, sf_dir, "documents")
    bounds = docs.agg(
        F.percentile("n_chars", F.lit(0.05)).alias("lo"),
        F.percentile("n_chars", F.lit(0.95)).alias("hi"),
    )
    return (
        docs.crossJoin(F.broadcast(bounds))
        .where((F.col("n_chars") >= F.col("lo")) & (F.col("n_chars") <= F.col("hi")))
        .select("doc_id", "lang", "n_chars")
    )
