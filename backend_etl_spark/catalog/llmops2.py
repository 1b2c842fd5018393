"""Training-data-pipeline operator catalog, tier 2: Gopher-style
repetition filters, sub-document (passage-window) dedup, PII scrubbing,
int8 embedding quantization, and a DataFrame-native k-means that builds
a real IVF ANN index.

Like tier 1 (catalog/llmops.py) these are operators the reference's
pipeline would need at pretraining scale but never got past intent
(preprocessors/clean.py: 0 bytes); each is built Spark-first with a
DuckDB oracle. The k-means oracle unrolls the Lloyd's iterations in SQL
(per-iteration 6-dp centroid rounding makes the trajectory
engine-reproducible — see operators/clustering.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from backend_etl_spark.catalog.llmops import _TOKS
from backend_etl_spark.catalog.registry import register
from backend_etl_spark.operators import clustering, pii, quantize, textops
from backend_etl_spark.session import tune
from backend_etl_spark.sources.loader import load_table

# ---------------------------------------------------------------------------
# repetition filters (Gopher §A1.1)
# ---------------------------------------------------------------------------


@register(
    "text_repetition_metrics",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    m AS (
      SELECT doc_id, len(toks) AS n,
             list_max(list_transform(list_distinct(toks),
                      d -> len(list_filter(toks, x -> x = d)))) AS topc,
             CASE WHEN len(toks) >= 2
                  THEN list_transform(range(len(toks) - 1),
                       i -> toks[i+1] || ' ' || toks[i+2])
                  ELSE CAST([] AS VARCHAR[]) END AS g2,
             CASE WHEN len(toks) >= 3
                  THEN list_transform(range(len(toks) - 2),
                       i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])
                  ELSE CAST([] AS VARCHAR[]) END AS g3
      FROM t),
    f AS (
      SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
             round(topc / CAST(n AS DOUBLE), 4) AS top_token_frac,
             CASE WHEN len(g2) > 0
                  THEN round(1 - len(list_distinct(g2)) / CAST(len(g2) AS DOUBLE), 4)
                  ELSE 0.0 END AS dup_2gram_frac,
             CASE WHEN len(g3) > 0
                  THEN round(1 - len(list_distinct(g3)) / CAST(len(g3) AS DOUBLE), 4)
                  ELSE 0.0 END AS dup_3gram_frac
      FROM m)
    SELECT *, NOT (top_token_frac > 0.30 OR dup_2gram_frac > 0.60) AS keep
    FROM f
    """,
)
def text_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filter: top-token fraction + duplicate
    2/3-gram fractions, map-only (no explode, no shuffle)."""
    tune(spark)
    docs = load_table(spark, sf_dir, "documents")
    return textops.repetition_metrics(docs)


# ---------------------------------------------------------------------------
# passage-window (sub-document) dedup
# ---------------------------------------------------------------------------


@register(
    "dedup_passage_windows",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    p AS (SELECT doc_id, toks, CAST(floor(len(toks) / 8) AS INT) AS np
          FROM t WHERE len(toks) >= 8),
    pass AS (
      SELECT doc_id,
             unnest(list_transform(range(np),
                    i -> md5(array_to_string(toks[i*8+1:i*8+8], ' ')))) AS ph
      FROM p),
    dup AS (SELECT ph FROM pass GROUP BY ph HAVING count(DISTINCT doc_id) > 1)
    SELECT pass.doc_id,
           CAST(count(*) AS BIGINT)      AS n_passages,
           CAST(count(dup.ph) AS BIGINT) AS n_dup_passages,
           round(count(dup.ph) / CAST(count(*) AS DOUBLE), 4) AS dup_passage_frac
    FROM pass LEFT JOIN dup ON pass.ph = dup.ph
    GROUP BY pass.doc_id
    """,
)
def dedup_passage_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document dedup: 8-token passage hashes, cross-document
    duplicate detection, per-doc duplicated-passage fraction.

    Plan: map-only passage hashing (array expr + posexplode), one
    shuffle to find hashes spanning >1 doc, one shuffle back to the
    per-doc rollup — the scale-standard shape for paragraph dedup
    (RefinedWeb/CCNet-style). The dup set carries a merge hint: it
    GROWS with the corpus while its through-agg size estimate stays
    frozen tiny (the r6 derived-side class), and the SMJ reuses the
    ph partitioning the dup aggregate just produced.
    """
    tune(spark)
    docs = load_table(spark, sf_dir, "documents")
    passes = textops.passage_hashes(docs, size=8)
    dup = (
        passes.groupBy("ph")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .where(F.col("nd") > 1)
        .select("ph", F.lit(1).alias("is_dup"))
    )
    return (
        passes.join(dup.hint("merge"), "ph", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_passages"),
            F.count("is_dup").cast("bigint").alias("n_dup_passages"),
            F.round(
                F.count("is_dup") / F.count("*").cast("double"), 4
            ).alias("dup_passage_frac"),
        )
    )


# ---------------------------------------------------------------------------
# PII scrub
# ---------------------------------------------------------------------------


@register(
    "pii_scrub_customers",
    oracle="""
    SELECT c_custkey,
           'cust_' || substr(md5(c_name), 1, 12)            AS name_token,
           regexp_replace(c_name, '[0-9]', '#', 'g')        AS name_masked,
           CAST(length(c_name) -
                length(regexp_replace(c_name, '[0-9]', '', 'g')) AS BIGINT)
             AS n_digits_masked,
           CAST(floor(c_acctbal / 1000.0) * 1000 AS BIGINT) AS acctbal_band,
           c_mktsegment
    FROM customer
    """,
)
def pii_scrub_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub of the customer dimension: deterministic md5 pseudonym
    (join-preserving), digit-run masking, balance generalized to a
    1000-unit band. Map-only, UDF-free."""
    tune(spark)
    customers = load_table(spark, sf_dir, "customer")
    return pii.scrub_customers(customers)


# ---------------------------------------------------------------------------
# int8 embedding quantization
# ---------------------------------------------------------------------------


@register(
    "emb_quantize_int8",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    m AS (SELECT vec_id, v,
                 list_max(list_transform(v, x -> abs(x))) AS mx
          FROM e),
    q AS (SELECT vec_id, v, mx, 127.0 / mx AS scale,
                 list_transform(v, x -> CAST(round(x * (127.0 / mx)) AS INT)) AS qv
          FROM m WHERE mx > 0)
    SELECT vec_id,
           round(scale, 6) AS q_scale,
           CAST(list_reduce(list_transform(qv, x -> CAST(abs(x) AS BIGINT)),
                            (a, b) -> a + b) AS BIGINT) AS q_l1,
           round(list_max(list_transform(range(len(v)),
                 i -> abs(v[i+1] - qv[i+1] / scale))), 6) AS max_abs_err
    FROM q
    """,
)
def emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric max-abs int8 quantization with an exact integer
    checksum (L1 of the int8 vector) and max dequantization error."""
    tune(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    return quantize.quantize_int8(emb)


# ---------------------------------------------------------------------------
# benchmark decontamination
# ---------------------------------------------------------------------------


@register(
    "decontam_ngram_overlap",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    g AS (
      SELECT doc_id,
             unnest(CASE WHEN len(t) >= 4
                    THEN list_transform(range(len(t) - 3),
                         i -> md5(array_to_string(t[i+1:i+4], ' ')))
                    ELSE CAST([] AS VARCHAR[]) END) AS gh
      FROM toks),
    ev AS (SELECT DISTINCT gh FROM g WHERE doc_id < 10),
    tr AS (SELECT DISTINCT doc_id, gh FROM g WHERE doc_id >= 10)
    SELECT tr.doc_id,
           CAST(count(*) AS BIGINT) AS n_shared_grams,
           true AS contaminated
    FROM tr JOIN ev ON tr.gh = ev.gh
    GROUP BY tr.doc_id
    """,
)
def decontam_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3 §C / PaLM-style): training docs
    sharing any word n-gram with the held-out eval set (here: doc_id <
    10; n=4 for this tiny-vocab synthetic corpus — production uses 8-13).

    Scale shape: the eval gram set is benchmark-sized (small by nature),
    so it broadcasts; the corpus side is a map-only gram explode — one
    broadcast semi-ish join + one per-doc rollup, never corpus×corpus.
    """
    tune(spark)
    from backend_etl_spark.operators.partitioning import spread

    # widen the narrow local scan before the gram explode (both the
    # eval and training branches read g) — no-op at real scale
    docs = spread(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"
    )
    toks = F.split(F.trim(F.col("text")), r"\s+")
    grams = F.transform(textops.word_ngrams(F.filter(toks, lambda t: t != ""), 4), F.md5)
    g = docs.select("doc_id", F.explode(grams).alias("gh"))
    ev = g.where(F.col("doc_id") < 10).select("gh").distinct()
    tr = g.where(F.col("doc_id") >= 10).dropDuplicates(["doc_id", "gh"])
    return (
        tr.join(F.broadcast(ev), "gh")
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("n_shared_grams"))
        .withColumn("contaminated", F.lit(True))
    )


# ---------------------------------------------------------------------------
# TF-IDF top terms
# ---------------------------------------------------------------------------


@register(
    "tfidf_top_terms",
    oracle=f"""
    WITH toks AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    j AS (
      SELECT tf.doc_id, tf.term,
             round(tf.tf * round(ln((SELECT count(*) FROM documents)
                                    / CAST(dfreq.df AS DOUBLE)), 6), 6) AS tfidf
      FROM tf JOIN dfreq ON tf.term = dfreq.term)
    SELECT doc_id, term, tfidf, CAST(rn AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER
            (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn FROM j)
    WHERE rn <= 5
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-5 TF-IDF terms — the classic keyword/relevance
    operator, as explode → two aggregations → join → windowed top-k.

    The tf↔df join is merge-hinted: BOTH sides grow with the corpus
    (tf per (doc, term); df per distinct term — billions of terms at
    crawl scale, so neither side is broadcastable and no vocabulary is
    ever collected driver-side). Left to AQE at sf1, the measured plan
    broadcast the 1.19M-row tf side — fine under the 64 MB threshold
    there, a driver-killer past it; SMJ is the shape that survives any
    vocabulary.
    """
    tune(spark)
    from backend_etl_spark.functions.scalars import tokens

    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    t = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    tf = t.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    idf = F.round(F.log(F.lit(float(n_docs)) / F.col("df").cast("double")), 6)
    j = tf.hint("merge").join(dfreq, "term").select(
        "doc_id", "term", F.round(F.col("tf") * idf, 6).alias("tfidf")
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        j.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= 5)
        .select("doc_id", "term", "tfidf", "rank")
    )


# ---------------------------------------------------------------------------
# temperature resampling (mixture flattening)
# ---------------------------------------------------------------------------

_MD5_U6 = (
    "round((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT"
    " / 4294967296.0), 6)"
)


@register(
    "curation_temperature_resample",
    oracle=f"""
    WITH c AS (SELECT lang, count(*) AS n_l FROM documents GROUP BY lang),
    r AS (SELECT lang,
                 least(1.0, round(0.5 * sqrt((max(n_l) OVER ())
                                             / CAST(n_l AS DOUBLE)), 6)) AS rate
          FROM c)
    SELECT d.doc_id, d.lang, {_MD5_U6} AS u, r.rate,
           {_MD5_U6} < r.rate AS keep
    FROM documents d JOIN r ON d.lang = r.lang
    """,
)
def curation_temperature_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature (τ=0.5) mixture flattening across languages: the
    largest language keeps 50%, smaller ones keep 0.5·sqrt(max/n) —
    capped at 1 — so low-resource languages are up-weighted relative to
    their raw share (the multilingual-pretraining sampling standard).

    Deterministic: the per-doc coin is the md5-uniform of doc_id, and
    the rate formula uses only max/sqrt/divide (no cross-group sums →
    no summation-order sensitivity between engines). The per-language
    rate table is #langs-sized and broadcast.
    """
    tune(spark)
    from backend_etl_spark.operators.curation import md5_uniform

    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count("*").alias("n_l"))
    # global max as a broadcast 1-row frame, not an empty-partition
    # window: same #langs-sized math, but the catalog-wide
    # no-partition-less-Window gate stays absolute (no tiny-frame
    # exemptions to reason about)
    max_n = counts.agg(F.max("n_l").alias("max_n"))
    rates = counts.crossJoin(F.broadcast(max_n)).select(
        "lang",
        F.least(
            F.lit(1.0),
            F.round(
                F.lit(0.5)
                * F.sqrt(F.col("max_n") / F.col("n_l").cast("double")),
                6,
            ),
        ).alias("rate"),
    )
    u = F.round(md5_uniform("doc_id"), 6)
    return docs.join(F.broadcast(rates), "lang").select(
        "doc_id", "lang", u.alias("u"), "rate", (u < F.col("rate")).alias("keep")
    )


# ---------------------------------------------------------------------------
# k-means (Lloyd's) + IVF built on it
# ---------------------------------------------------------------------------

_KM_K = 8
_KM_ITERS = 3


def _kmeans_cte(
    k: int = _KM_K,
    iters: int = _KM_ITERS,
    src: str = "embeddings",
    k_expr: str | None = None,
) -> str:
    """Unrolled Lloyd's iterations as DuckDB CTEs: c0 seeds → (assign d/a,
    update c) × (iters-1) → final assignment a{iters-1}. Mirrors
    operators/clustering.py exactly: ordered folds, 6-dp rounding of
    distances (before argmin) and centroid averages (after update),
    tie-break on cluster id. ``src`` lets the fit run over a derived
    relation (e.g. the base slice of an incrementally-maintained index)
    instead of the raw embeddings table. ``k_expr`` replaces the literal
    k with a data-dependent SQL scalar (e.g. ``greatest(8, n // 100)``)
    for entries whose cluster count must scale with corpus size; the
    strided-seed semantics are identical (LIMIT k becomes a row_number
    bound, which DuckDB accepts with a correlated expression)."""
    ke = k_expr if k_expr is not None else str(k)
    sql = f"""
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM {src}),
    c0 AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, v AS cv
      FROM (SELECT vec_id, v, row_number() OVER (ORDER BY vec_id) AS seed_rn
            FROM e
            WHERE vec_id % greatest((SELECT count(*) FROM e) // ({ke}), 1) = 0)
      WHERE seed_rn <= ({ke}))"""
    for i in range(iters):
        sql += f""",
    d{i} AS (
      SELECT e.vec_id, e.v, c.cid,
             round(list_reduce(list_transform(range(len(e.v)),
                   j -> (e.v[j+1] - c.cv[j+1]) * (e.v[j+1] - c.cv[j+1])),
                   (x, y) -> x + y), 6) AS dd
      FROM e, c{i} c),
    a{i} AS (
      SELECT vec_id, v, cid AS cluster, dd
      FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dd, cid) AS rn
            FROM d{i})
      WHERE rn = 1)"""
        if i < iters - 1:
            sql += f""",
    c{i + 1} AS (
      SELECT cluster AS cid, array_agg(cv_d ORDER BY dim) AS cv
      FROM (SELECT cluster, dim, round(avg(val), 6) AS cv_d
            FROM (SELECT cluster, unnest(v) AS val,
                         generate_subscripts(v, 1) AS dim
                  FROM a{i})
            GROUP BY cluster, dim)
      GROUP BY cluster)"""
    return sql


_KM_FINAL = f"a{_KM_ITERS - 1}"


def _kmeans_assigned(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    cents = clustering.kmeans_fit(emb, k=_KM_K, iters=_KM_ITERS)
    return clustering.assign_clusters(emb, cents)


@register(
    "kmeans_assignments",
    oracle=f"""
    WITH {_kmeans_cte()}
    SELECT vec_id, CAST(cluster AS BIGINT) AS cluster, dd AS dist2
    FROM {_KM_FINAL}
    """,
)
def kmeans_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame-native Lloyd's k-means (k=8, 3 iterations): final
    nearest-centroid assignment per vector. Each iteration is one
    map-only assignment pass + one k×dim-row shuffle — corpus-size-
    independent update cost; the oracle unrolls the same iterations in
    SQL and lands on identical centroids (6-dp rounding contract)."""
    tune(spark)
    return _kmeans_assigned(spark, sf_dir).select(
        "vec_id",
        F.col("cluster").cast("bigint").alias("cluster"),
        F.col("dist2"),
    )


@register(
    "kmeans_cluster_profile",
    oracle=f"""
    WITH {_kmeans_cte()}
    SELECT CAST(cluster AS BIGINT) AS cluster,
           CAST(count(*) AS BIGINT) AS n_members,
           round(avg(dd), 4) AS avg_dist2,
           min(dd) AS min_dist2,
           max(dd) AS max_dist2
    FROM {_KM_FINAL}
    GROUP BY cluster
    """,
)
def kmeans_cluster_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-level rollup of the k-means fit: list sizes and
    intra-cluster distance spread — the IVF list-balance diagnostic
    (skewed lists → probe-cost skew at query time)."""
    tune(spark)
    assigned = _kmeans_assigned(spark, sf_dir)
    return assigned.groupBy(F.col("cluster").cast("bigint").alias("cluster")).agg(
        F.count("*").cast("bigint").alias("n_members"),
        F.round(F.avg("dist2"), 4).alias("avg_dist2"),
        F.min("dist2").alias("min_dist2"),
        F.max("dist2").alias("max_dist2"),
    )


def _cosine(a, b):
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    sa = F.aggregate(
        F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
    )
    sb = F.aggregate(
        F.transform(b, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
    )
    return F.round(dot / (F.sqrt(sa) * F.sqrt(sb)), 6)


@register(
    "knn_ivf_kmeans",
    oracle=f"""
    WITH {_kmeans_cte()},
    q AS (SELECT vec_id AS q_id, v AS qv, cluster AS qc
          FROM {_KM_FINAL} WHERE vec_id < 5),
    cand AS (
      SELECT q.q_id, a.vec_id AS neighbor_id,
             round(
               list_reduce(list_transform(range(len(q.qv)),
                           j -> q.qv[j+1] * a.v[j+1]), (x, y) -> x + y)
               / (sqrt(list_reduce(list_transform(range(len(q.qv)),
                         j -> q.qv[j+1] * q.qv[j+1]), (x, y) -> x + y))
                  * sqrt(list_reduce(list_transform(range(len(a.v)),
                         j -> a.v[j+1] * a.v[j+1]), (x, y) -> x + y))),
               6) AS cosine
      FROM q JOIN {_KM_FINAL} a
        ON a.cluster = q.qc AND a.vec_id <> q.q_id)
    SELECT q_id, neighbor_id, cosine,
           CAST(rnk AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER
            (PARTITION BY q_id ORDER BY cosine DESC, neighbor_id) AS rnk
          FROM cand)
    WHERE rnk <= 3
    """,
)
def knn_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN search on the k-means index: each query probes only its
    own centroid's inverted list (nprobe=1), top-3 by cosine. The probe
    is an equi-join on cluster id — linear in list size, never
    all-pairs; at 100 TB the lists are the partitioning keys."""
    tune(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    cents = clustering.kmeans_fit(emb, k=_KM_K, iters=_KM_ITERS)
    assigned = clustering.assign_clusters(emb, cents).select(
        "vec_id", "embedding", "cluster"
    )
    dbl = F.transform(F.col("embedding"), lambda v: v.cast("double"))
    corpus = assigned.select(
        F.col("vec_id").alias("neighbor_id"), dbl.alias("cv"), "cluster"
    )
    queries = assigned.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), dbl.alias("qv"), F.col("cluster").alias("qc")
    )
    cand = corpus.join(
        F.broadcast(queries),
        (F.col("cluster") == F.col("qc")) & (F.col("neighbor_id") != F.col("q_id")),
    ).select("q_id", "neighbor_id", _cosine(F.col("qv"), F.col("cv")).alias("cosine"))
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= 3)
        .select("q_id", "neighbor_id", "cosine", "rank")
    )


# ---------------------------------------------------------------------------
# round 3: incremental snapshot dedup, leakage-safe splits, entropy gate
# ---------------------------------------------------------------------------

from backend_etl_spark.catalog.llmops import _NORM, _SIGS_CTE  # noqa: E402
from backend_etl_spark.operators import curation, dedup  # noqa: E402


# shared with streamingq.streaming_incremental_dedup: the streaming
# foreachBatch drain must land on exactly the same relation
INCR_SNAPSHOT_ORACLE = f"""
    WITH {{sigs_cte}},
    bands AS (
      SELECT doc_id, '0' AS band_id, mh0 AS band_value FROM sigs UNION ALL
      SELECT doc_id, '1', mh1 FROM sigs UNION ALL
      SELECT doc_id, '2', mh2 FROM sigs UNION ALL
      SELECT doc_id, '3', mh3 FROM sigs),
    hits AS (
      SELECT b.doc_id AS batch_doc_id,
             count(DISTINCT c.doc_id) AS n_corpus_matches,
             min(c.doc_id)            AS best_match_id
      FROM bands b JOIN bands c
        ON b.band_id = c.band_id AND b.band_value = c.band_value
      WHERE b.doc_id % 10 >= 8 AND c.doc_id % 10 < 8
      GROUP BY b.doc_id)
    SELECT s.doc_id                                    AS batch_doc_id,
           CAST(coalesce(n_corpus_matches, 0) AS BIGINT) AS n_corpus_matches,
           best_match_id,
           hits.batch_doc_id IS NULL                   AS is_novel
    FROM sigs s LEFT JOIN hits ON hits.batch_doc_id = s.doc_id
    WHERE s.doc_id % 10 >= 8
    """


@register(
    "dedup_incremental_snapshot",
    oracle=INCR_SNAPSHOT_ORACLE.format(sigs_cte=_SIGS_CTE),
)
def dedup_incremental_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot incremental dedup: the incoming batch (doc_id%10
    >= 8 stands in for 'this week's crawl') is LSH-probed against the
    existing corpus snapshot (doc_id%10 < 8) — near-dups of the corpus
    are flagged, novel docs pass. The batch-vs-index probe join is the
    100 TB shape: corpus bands are a precomputed persisted index, only
    the (much smaller) batch side moves."""
    tune(spark)
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % 10 < 8)
    batch = docs.where(F.col("doc_id") % 10 >= 8)
    csig = dedup.minhash_signatures(corpus, "doc_id", "text")
    bsig = dedup.minhash_signatures(batch, "doc_id", "text")
    return dedup.incremental_lsh_matches(bsig, csig, "doc_id")


@register(
    "split_leakage_safe",
    oracle=f"""
    WITH n AS (SELECT doc_id, md5({_NORM}) AS cluster_key FROM documents),
    b AS (SELECT doc_id, cluster_key,
                 ('0x' || substr(md5('split#' || cluster_key), 1, 8))::BIGINT % 100
                   AS bucket
          FROM n)
    SELECT doc_id, cluster_key, bucket,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM b
    """,
)
def split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test assignment: split = hash of the
    content-dedup cluster key, so duplicate documents can never straddle
    an eval boundary. Map-only, engine-reproducible (no rand())."""
    tune(spark)
    docs = load_table(spark, sf_dir, "documents")
    return curation.leakage_safe_split(
        docs, "doc_id", dedup.content_key(F.col("text"))
    )


@register(
    "quality_char_entropy",
    oracle=f"""
    WITH nn AS (SELECT doc_id, {_NORM} AS norm FROM documents),
    c AS (SELECT doc_id,
                 list_sort(list_filter(string_split(norm, ''), x -> x <> '')) AS srt
          FROM nn),
    m AS (SELECT doc_id, srt, len(srt) AS n,
                 list_filter(range(len(srt)),
                             i -> i = 0 OR srt[i+1] <> srt[i]) AS bounds
          FROM c),
    r AS (SELECT doc_id, n, len(bounds) AS n_distinct,
                 list_transform(range(len(bounds)),
                                j -> coalesce(bounds[j+2], n) - bounds[j+1]) AS runs
          FROM m)
    SELECT doc_id,
           CAST(n AS BIGINT)          AS n_chars_norm,
           CAST(n_distinct AS BIGINT) AS n_distinct_chars,
           CASE WHEN n > 0 THEN
             round(log2(CAST(n AS DOUBLE))
                   - list_sum(list_transform(runs,
                         rr -> CAST(rr AS DOUBLE) * log2(CAST(rr AS DOUBLE))))
                     / CAST(n AS DOUBLE), 4)
             + 0.0
           END AS char_entropy_bits
    FROM r
    """,
)
def quality_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-entropy quality gate (perplexity proxy): bits/char over
    the normalized char distribution. Map-only array expressions; terms
    summed in sorted-char order so the rounded double is identical in
    both engines."""
    tune(spark)
    return textops.char_entropy(load_table(spark, sf_dir, "documents"))


@register(
    "emb_matryoshka_truncate",
    oracle="""
    WITH e AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    t AS (SELECT vec_id, v, v[1:8] AS tv FROM e)
    SELECT vec_id,
           CAST(len(v) AS BIGINT) AS dim_full,
           CAST(8 AS BIGINT)      AS dim_trunc,
           round(list_sum(list_transform(tv, x -> x * x))
                 / list_sum(list_transform(v, x -> x * x)), 6) AS retained_energy,
           round(tv[1] / sqrt(list_sum(list_transform(tv, x -> x * x))), 6)
             AS lead_component
    FROM t
    """,
)
def emb_matryoshka_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style dimensionality reduction: keep the first k=8
    dims, renormalize, and report the retained-energy fraction (the
    cosine-fidelity bound for truncated retrieval). Map-only array
    expressions — at 100 TB this is the cheap first stage of a
    coarse-to-fine ANN funnel (search truncated, re-rank full-dim).
    Float components are cast to double BEFORE any arithmetic and summed
    in array order, so the DuckDB oracle reproduces the rounded values
    exactly."""
    tune(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))

    def sq(a):
        return F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)

    t = F.slice(v, 1, 8)
    return emb.select(
        "vec_id",
        F.size(v).cast("bigint").alias("dim_full"),
        F.lit(8).cast("bigint").alias("dim_trunc"),
        F.round(sq(t) / sq(v), 6).alias("retained_energy"),
        F.round(F.element_at(t, 1) / F.sqrt(sq(t)), 6).alias("lead_component"),
    )


@register(
    "quality_bigram_logprob",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    bg AS (SELECT doc_id,
                  unnest(CASE WHEN len(t) >= 2
                              THEN list_transform(range(len(t) - 1),
                                   i -> t[i+1] || ' ' || t[i+2])
                              ELSE CAST([] AS VARCHAR[]) END) AS bigram
           FROM toks),
    bc AS (SELECT bigram, count(*) AS c FROM bg GROUP BY bigram),
    ctx AS (SELECT string_split(bigram, ' ')[1] AS w, sum(c) AS cc
            FROM bc GROUP BY 1),
    v AS (SELECT count(DISTINCT tok) AS vocab
          FROM (SELECT unnest(t) AS tok FROM toks)),
    scored AS (
      SELECT bg.doc_id,
             CAST(round(log2((bc.c + 1) / CAST(ctx.cc + vocab AS DOUBLE)), 6)
                  AS DECIMAL(18, 6)) AS lp
      FROM bg
        JOIN bc USING (bigram)
        JOIN ctx ON ctx.w = string_split(bg.bigram, ' ')[1]
        CROSS JOIN v)
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_bigrams,
           -(((2 * p + 100 * n) // (200 * n)) / 10000.0) AS avg_log2p,
           round(pow(2, -(s / n)), 4) AS perplexity
    FROM (SELECT doc_id, count(*) AS n, CAST(sum(lp) AS DOUBLE) AS s,
                 CAST(-sum(lp) * 1000000 AS BIGINT) AS p
          FROM scored GROUP BY doc_id)
    """,
)
def quality_bigram_logprob(
    spark: SparkSession, sf_dir: str, checkpoint_stats: str = "eager"
) -> DataFrame:
    """Corpus bigram-LM quality filter (the KenLM-perplexity shape used
    by CCNet/RedPajama, self-trained here): per-doc mean log2 P(w2|w1)
    under Laplace smoothing, and its perplexity.

    Scale shape: the LM is two linear aggregates over exploded bigrams
    (Zipf-bounded output, NOT corpus-sized); the per-bigram logprob is
    assembled stats-side, so corpus rows shuffle exactly twice (onto the
    bigram key for the stats join, back onto doc_id for the rollup) — no
    all-pairs step anywhere, and the vocab scalar rides a broadcast
    1-row frame. The static plan shows extra Exchanges, but they all sit
    on the small stats relations; AQE broadcasts those at runtime. At
    100 TB the stats tables persist once and every new crawl scores
    against them map-side."""
    tune(spark)
    from backend_etl_spark.operators.dedup import doc_shingles

    docs = load_table(spark, sf_dir, "documents")
    bg = doc_shingles(docs, "doc_id", "text", n=2, distinct=False).select(
        "doc_id", F.col("shingle").alias("bigram")
    )
    from backend_etl_spark.functions.scalars import tokens
    from backend_etl_spark.operators.dedup import shingles
    from backend_etl_spark.operators.partitioning import spread

    # ONE tagged explode builds bigram counts AND the vocab scalar (r13,
    # guide §2.3/§2.4): previously bc, ctx (lazy recompute of bc) and
    # the vocab count_distinct each re-ran a corpus tokenize+explode —
    # 3 training passes. The (order, gram) occurrences ride a single
    # explode into a single groupBy; the Zipf-bounded result is
    # localCheckpointed, ctx/lp read its blocks, and vocab = the number
    # of distinct unigram rows (count_distinct(tok) exactly). The gram
    # arrays derive from the same tokens(text), so null/empty docs
    # contribute nothing — as before.
    def _tag(order: int, arr):
        return F.transform(
            arr,
            lambda g: F.struct(
                F.lit(order).cast("int").alias("o"), g.alias("g")
            ),
        )

    tagged = spread(docs.select("doc_id", "text"), "doc_id").select(
        F.explode(
            F.concat(
                _tag(2, shingles(F.col("text"), 2)),
                _tag(1, tokens(F.col("text"))),
            )
        ).alias("x")
    ).select(F.col("x.o").alias("o"), F.col("x.g").alias("g"))
    # ``checkpoint_stats`` (r14): the Zipf-bounded stats relation has
    # THREE consumers (bc twice — the lp join and ctx — plus vocab), so
    # it is always checkpointed: without one, the three consumers print
    # three copies of the stats subtree, exchange reuse does NOT
    # collapse them, and the corpus pass runs three times — measured
    # 2.3× WORSE at sf10 (bench_full_sf10_degraded.json r14: the
    # funnel's solo retime 116.6 s vs the r12 record's 50.5 s).
    # - "eager" (the solo entry): the r13 A/B measured it 1.41× ahead.
    # - "lazy": used when this LM is COMPOSED inside a larger plan
    #   (corpus_pipeline_funnel). An eager checkpoint there is a
    #   materialization BARRIER executed during plan CONSTRUCTION (the
    #   corpus stats pass can no longer overlap the entropy/repetition
    #   passes — the r13 funnel regression); non-eager materializes
    #   inside the consuming job's own shared stage and the other
    #   consumers read the blocks.
    stats = tagged.groupBy("o", "g").agg(F.count(F.lit(1)).alias("c"))
    stats = stats.localCheckpoint(eager={"eager": True, "lazy": False}[checkpoint_stats])
    bc = stats.where(F.col("o") == 2).select(
        F.col("g").alias("bigram"), "c"
    )
    ctx = bc.groupBy(F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)).alias("w")).agg(
        F.sum("c").alias("cc")
    )
    vocab = (
        stats.where(F.col("o") == 1)
        .agg(F.count(F.lit(1)).alias("vocab"))
    )
    # assemble the per-bigram logprob on the STATS side (Zipf-bounded
    # distinct bigrams), so the corpus-sized bg relation shuffles only
    # twice: once onto the bigram key for the stats join, once back onto
    # doc_id for the rollup — the ctx/vocab joins never touch corpus rows
    # round to 6 dp and sum as exact DECIMAL so the per-doc mean is
    # independent of float summation order (engine-portable at any SF)
    lp = F.round(
        F.log2((F.col("c") + 1) / (F.col("cc") + F.col("vocab")).cast("double")), 6
    ).cast("decimal(18,6)")
    lp_per_bigram = (
        bc.join(ctx, F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)) == F.col("w"))
        .crossJoin(F.broadcast(vocab))
        .select("bigram", lp.alias("lp"))
    )
    # broadcast the MODEL side explicitly: left to AQE, the measured
    # scoring join at sf1 broadcast the 2.7M-row corpus bigram relation
    # (under the 64 MB threshold there, a driver-killer past it) instead
    # of the V^2-bounded lp table (961 rows at sf1) — shipping the capped
    # LM artifact map-side is the production discipline, so pin it.
    per_doc = (
        bg.join(F.broadcast(lp_per_bigram), "bigram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.sum("lp").cast("double").alias("s"),
            # the sum of 6-dp decimals is an exact integer count of
            # 1e-6 units (lp < 0 always: the smoothed prob is < 1)
            (-F.sum("lp") * 1_000_000).cast("long").alias("p"),
        )
    )
    mean = F.col("s") / F.col("n_bigrams")
    # 4-dp half-away rounding of the EXACT rational p/(100n), done in
    # integer floor division — round(s/n, 4) on the double quotient
    # split engines on 2 of 50k docs at sf1 (quotients within an ulp
    # of a .xxxx5 midpoint). floor((2p+100n)/(200n)) == round(p/(100n))
    # for positive integers on both engines.
    q = F.expr("(2 * p + 100 * n_bigrams) div (200 * n_bigrams)")
    return per_doc.select(
        "doc_id",
        "n_bigrams",
        (-(q / F.lit(10000.0))).alias("avg_log2p"),
        F.round(F.pow(F.lit(2.0), -mean), 4).alias("perplexity"),
    )


# ---------------------------------------------------------------------------
# product quantization (PQ) on the k-means machinery
# ---------------------------------------------------------------------------

_PQ_K = 4
_PQ_ITERS = 2
_PQ_DIM = 64  # fixture embedding dim (asserted at runtime)
_PQ_HALF = _PQ_DIM // 2


def _pq_cte(
    prefix: str,
    lo: int,
    hi: int,
    k: int = _PQ_K,
    iters: int = _PQ_ITERS,
    src: str = "embeddings",
) -> str:
    """Unrolled Lloyd's over ONE PQ subspace (components lo..hi,
    1-based inclusive) — the _kmeans_cte recipe with all CTE names
    prefixed so two subspaces coexist in one WITH clause. ``src`` lets
    the subspace fit run over a derived relation (e.g. the coarse-
    quantizer residuals for by_residual IVF-PQ) instead of the raw
    embeddings table."""
    p = prefix
    sql = f"""
    {p}e AS (SELECT vec_id, CAST(embedding AS DOUBLE[])[{lo}:{hi}] AS v
             FROM {src}),
    {p}c0 AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, v AS cv
      FROM (SELECT vec_id, v FROM {p}e
            WHERE vec_id % greatest((SELECT count(*) FROM {p}e) // {k}, 1) = 0
            ORDER BY vec_id LIMIT {k}))"""
    for i in range(iters):
        sql += f""",
    {p}d{i} AS (
      SELECT e.vec_id, e.v, c.cid,
             round(list_reduce(list_transform(range(len(e.v)),
                   j -> (e.v[j+1] - c.cv[j+1]) * (e.v[j+1] - c.cv[j+1])),
                   (x, y) -> x + y), 6) AS dd
      FROM {p}e e, {p}c{i} c),
    {p}a{i} AS (
      SELECT vec_id, v, cid AS cluster, dd
      FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dd, cid) AS rn
            FROM {p}d{i})
      WHERE rn = 1)"""
        if i < iters - 1:
            sql += f""",
    {p}c{i + 1} AS (
      SELECT cluster AS cid, array_agg(cv_d ORDER BY dim) AS cv
      FROM (SELECT cluster, dim, round(avg(val), 6) AS cv_d
            FROM (SELECT cluster, unnest(v) AS val,
                         generate_subscripts(v, 1) AS dim
                  FROM {p}a{i})
            GROUP BY cluster, dim)
      GROUP BY cluster)"""
    return sql


@register(
    "emb_pq_codes",
    oracle=f"""
    WITH {_pq_cte("s0_", 1, _PQ_HALF)},
    {_pq_cte("s1_", _PQ_HALF + 1, _PQ_DIM)}
    SELECT a.vec_id,
           CAST(a.cluster AS BIGINT) AS code0,
           CAST(b.cluster AS BIGINT) AS code1,
           a.dd AS err2_sub0,
           b.dd AS err2_sub1,
           round(a.dd + b.dd, 6) AS err2_total
    FROM s0_a{_PQ_ITERS - 1} a JOIN s1_a{_PQ_ITERS - 1} b USING (vec_id)
    """,
)
def emb_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization: the 64-dim embedding is split into two
    32-dim subspaces, each vector quantized to its subspace's nearest
    k-means codeword — a (code0, code1) byte pair replaces 256 bytes of
    floats (the memory layout IVF-PQ indexes search at billion scale).
    Per-subspace squared reconstruction error is reported; asymmetric
    distance tables would be built from the same codebooks.

    Scale shape: each subspace fit is the kmeans machinery (map-only
    assignment + k×dim-row update shuffle); encoding is map-only; the
    final code join is vec_id-keyed. The oracle unrolls both subspace
    fits in one WITH clause (prefixed CTEs)."""
    tune(spark)
    from backend_etl_spark.operators import ann_index

    emb = load_table(spark, sf_dir, "embeddings")
    cents = ann_index.train(emb, _PQ_DIM, _PQ_K, _PQ_ITERS)
    for kind in ("pq0", "pq1"):
        assert len(next(iter(cents[kind].values()))) == _PQ_HALF, (
            "fixture embedding dim changed; update _PQ_DIM and the oracle"
        )
    nc = ann_index.encode(cents, _PQ_DIM, with_dist=True)
    return emb.select(
        "vec_id",
        *[nc[f"code{s}"].cast("bigint").alias(f"code{s}") for s in (0, 1)],
        *[nc[f"code{s}_d"].alias(f"err2_sub{s}") for s in (0, 1)],
        F.round(nc["code0_d"] + nc["code1_d"], 6).alias("err2_total"),
    )


@register(
    "knn_ivf_multiprobe",
    oracle=f"""
    WITH {_kmeans_cte()},
    probes AS (
      SELECT vec_id AS q_id, v AS qv, cid AS pc
      FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dd, cid) AS pr
            FROM d{_KM_ITERS - 1} WHERE vec_id < 5)
      WHERE pr <= 2),
    cand AS (
      SELECT p.q_id, a.vec_id AS neighbor_id,
             round(
               list_reduce(list_transform(range(len(p.qv)),
                           j -> p.qv[j+1] * a.v[j+1]), (x, y) -> x + y)
               / (sqrt(list_reduce(list_transform(range(len(p.qv)),
                         j -> p.qv[j+1] * p.qv[j+1]), (x, y) -> x + y))
                  * sqrt(list_reduce(list_transform(range(len(a.v)),
                         j -> a.v[j+1] * a.v[j+1]), (x, y) -> x + y))),
               6) AS cosine
      FROM probes p JOIN {_KM_FINAL} a
        ON a.cluster = p.pc AND a.vec_id <> p.q_id)
    SELECT q_id, neighbor_id, cosine, CAST(rnk AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER
            (PARTITION BY q_id ORDER BY cosine DESC, neighbor_id) AS rnk
          FROM cand)
    WHERE rnk <= 3
    """,
)
def knn_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe IVF ANN (nprobe=2): each query searches its TWO
    nearest centroids' inverted lists — the standard recall/cost knob
    when nprobe=1 misses neighbors that fell across a Voronoi boundary.
    Still an equi-join on cluster id (probe pairs explode map-side);
    cost is 2 lists per query instead of k-fold or all-pairs."""
    tune(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    cents = clustering.kmeans_fit(emb, k=_KM_K, iters=_KM_ITERS)
    assigned = clustering.assign_clusters(emb, cents)
    dbl = F.transform(F.col("embedding"), lambda v: v.cast("double"))
    corpus = assigned.select(
        F.col("vec_id").alias("neighbor_id"), dbl.alias("cv"), "cluster"
    )
    queries = (
        clustering.probe_clusters(emb.where(F.col("vec_id") < 5), cents, nprobe=2)
        .select(
            F.col("vec_id").alias("q_id"),
            dbl.alias("qv"),
            F.explode_outer("probes").alias("pc"),
        )
    )
    cand = corpus.join(
        F.broadcast(queries),
        (F.col("cluster") == F.col("pc")) & (F.col("neighbor_id") != F.col("q_id")),
    ).select("q_id", "neighbor_id", _cosine(F.col("qv"), F.col("cv")).alias("cosine"))
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= 3)
        .select("q_id", "neighbor_id", "cosine", "rank")
    )


@register(
    "multimodal_audio_chunks",
    oracle="""
    WITH m AS (SELECT doc_id, (doc_id % 50) + 10 AS n FROM documents),
    c AS (SELECT doc_id, n,
                 unnest(range(0, n, 8)) AS start_sample,
                 generate_subscripts(range(0, n, 8), 1) - 1 AS chunk_idx
          FROM m)
    SELECT doc_id,
           CAST(chunk_idx AS BIGINT)    AS chunk_idx,
           CAST(start_sample AS BIGINT) AS start_sample,
           CAST(least(start_sample + 16, n) AS BIGINT) AS end_sample,
           CAST(least(start_sample + 16, n) - start_sample AS BIGINT) AS n_in_chunk,
           least(start_sample + 16, n) - start_sample = 16 AS is_full
    FROM c
    """,
)
def multimodal_audio_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio framing for feature extraction: decode each WAV container
    (REAL stdlib-wave parse via the Arrow-batched decode stage), then
    plan overlapping 16-sample windows with an 8-sample hop from the
    DECODED n_samples — the chunking an ASR/embedding pipeline feeds its
    models. Map-only fan-out (sequence + posexplode); the oracle
    recomputes from the fixture's sample-count formula, so a decode
    regression surfaces as a value mismatch."""
    tune(spark)
    from backend_etl_spark.operators.multimodal import (
        decode_audio_meta,
        encode_wav_fixture,
    )

    docs = load_table(spark, sf_dir, "documents")
    meta = decode_audio_meta(encode_wav_fixture(docs)).select("doc_id", "n_samples")
    starts = F.sequence(
        F.lit(0).cast("bigint"), F.col("n_samples") - 1, F.lit(8).cast("bigint")
    )
    end = F.least(F.col("start_sample") + 16, F.col("n_samples"))
    return (
        meta.select(
            "doc_id",
            "n_samples",
            F.posexplode(starts).alias("chunk_idx", "start_sample"),
        )
        .select(
            "doc_id",
            F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
            F.col("start_sample").cast("bigint").alias("start_sample"),
            end.cast("bigint").alias("end_sample"),
            (end - F.col("start_sample")).cast("bigint").alias("n_in_chunk"),
            ((end - F.col("start_sample")) == 16).alias("is_full"),
        )
    )


@register(
    "knn_pq_adc",
    oracle=f"""
    WITH {_pq_cte("s0_", 1, _PQ_HALF)},
    {_pq_cte("s1_", _PQ_HALF + 1, _PQ_DIM)},
    codes AS (
      SELECT a.vec_id, a.cluster AS code0, b.cluster AS code1
      FROM s0_a{_PQ_ITERS - 1} a JOIN s1_a{_PQ_ITERS - 1} b USING (vec_id)),
    adt0 AS (
      SELECT q.vec_id AS q_id, c.cid,
             round(list_reduce(list_transform(range(len(q.v)),
                   j -> (q.v[j+1] - c.cv[j+1]) * (q.v[j+1] - c.cv[j+1])),
                   (x, y) -> x + y), 6) AS d
      FROM (SELECT vec_id, v FROM s0_e WHERE vec_id < 5) q,
           s0_c{_PQ_ITERS - 1} c),
    adt1 AS (
      SELECT q.vec_id AS q_id, c.cid,
             round(list_reduce(list_transform(range(len(q.v)),
                   j -> (q.v[j+1] - c.cv[j+1]) * (q.v[j+1] - c.cv[j+1])),
                   (x, y) -> x + y), 6) AS d
      FROM (SELECT vec_id, v FROM s1_e WHERE vec_id < 5) q,
           s1_c{_PQ_ITERS - 1} c),
    scored AS (
      SELECT a0.q_id, x.vec_id AS neighbor_id,
             round(a0.d + a1.d, 6) AS approx_dist2
      FROM codes x
        JOIN adt0 a0 ON a0.cid = x.code0
        JOIN adt1 a1 ON a1.cid = x.code1 AND a1.q_id = a0.q_id
      WHERE x.vec_id <> a0.q_id)
    SELECT q_id, neighbor_id, approx_dist2, CAST(rnk AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER
            (PARTITION BY q_id ORDER BY approx_dist2, neighbor_id) AS rnk
          FROM scored)
    WHERE rnk <= 3
    """,
)
def knn_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ search with asymmetric distance computation (ADC — the FAISS
    IndexPQ layout): the corpus side is scanned as ONLY its
    (code0, code1) byte pair — full vectors never move — while each
    query carries a tiny k-entry distance table per subspace
    (dist(query_sub, codeword), computed map-side by the ADC kernel over
    the codebooks). approx_dist2 = two array lookups + an add per corpus
    code. At 100 TB the 256x memory cut is what lets the index fit hot
    storage; composing with the coarse quantizer (the cluster equi-join
    of knn_ivf_kmeans) turns this exhaustive ADC scan into IVF-PQ, and
    exact re-rank of the survivors (knn_brute_force_cosine shape)
    completes the funnel."""
    tune(spark)
    from backend_etl_spark.operators import ann_index

    emb = load_table(spark, sf_dir, "embeddings")
    codebooks = ann_index.train(emb, _PQ_DIM, _PQ_K, _PQ_ITERS)
    enc = ann_index.encode(codebooks, _PQ_DIM)
    coded = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        *[enc[f"code{s}"].alias(f"code{s}") for s in (0, 1)],
    )
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"),
        *ann_index.adc_tables(codebooks, _PQ_DIM, F.col("embedding")),
    )
    cand = (
        coded.crossJoin(F.broadcast(queries))
        .where(F.col("neighbor_id") != F.col("q_id"))
        .select("q_id", "neighbor_id", ann_index.adc_approx().alias("approx_dist2"))
    )
    return ann_index.top_k(cand, 3)


# ---------------------------------------------------------------------------
# IVF-PQ: coarse quantizer (inverted lists) + PQ/ADC scoring — the
# production FAISS index shape (IndexIVFPQ with by_residual=False)
# ---------------------------------------------------------------------------

_IVFPQ_ORACLE_COMMON = f"""
    probes AS (
      SELECT vec_id AS q_id, cid AS pc
      FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dd, cid) AS pr
            FROM d{_KM_ITERS - 1} WHERE vec_id < 5)
      WHERE pr <= 2),
    coarse AS (SELECT vec_id, cluster FROM {_KM_FINAL}),
    codes AS (
      SELECT a.vec_id, a.cluster AS code0, b.cluster AS code1
      FROM s0_a{_PQ_ITERS - 1} a JOIN s1_a{_PQ_ITERS - 1} b USING (vec_id)),
    adt0 AS (
      SELECT q.vec_id AS q_id, c.cid,
             round(list_reduce(list_transform(range(len(q.v)),
                   j -> (q.v[j+1] - c.cv[j+1]) * (q.v[j+1] - c.cv[j+1])),
                   (x, y) -> x + y), 6) AS d
      FROM (SELECT vec_id, v FROM s0_e WHERE vec_id < 5) q,
           s0_c{_PQ_ITERS - 1} c),
    adt1 AS (
      SELECT q.vec_id AS q_id, c.cid,
             round(list_reduce(list_transform(range(len(q.v)),
                   j -> (q.v[j+1] - c.cv[j+1]) * (q.v[j+1] - c.cv[j+1])),
                   (x, y) -> x + y), 6) AS d
      FROM (SELECT vec_id, v FROM s1_e WHERE vec_id < 5) q,
           s1_c{_PQ_ITERS - 1} c),
    scored AS (
      SELECT p.q_id, x.vec_id AS neighbor_id,
             round(a0.d + a1.d, 6) AS approx_dist2
      FROM probes p
        JOIN coarse cr ON cr.cluster = p.pc
        JOIN codes x ON x.vec_id = cr.vec_id AND x.vec_id <> p.q_id
        JOIN adt0 a0 ON a0.q_id = p.q_id AND a0.cid = x.code0
        JOIN adt1 a1 ON a1.q_id = p.q_id AND a1.cid = x.code1),
    ivfpq_top AS (
      SELECT q_id, neighbor_id, approx_dist2, CAST(rnk AS BIGINT) AS rank
      FROM (SELECT *, row_number() OVER
              (PARTITION BY q_id ORDER BY approx_dist2, neighbor_id) AS rnk
            FROM scored)
      WHERE rnk <= 3)"""


def _ivfpq_search(spark: SparkSession, sf_dir: str):
    """Shared IVF-PQ machinery: returns (candidates, top3, emb).

    The in-memory form of the persisted index (operators/ann_index.py):
    one train of the coarse quantizer and both PQ codebooks, one encode
    of every vector to (cluster, code0, code1), then the one search —
    multi-probe (nprobe=2, an equi-join on cluster id) scored by ADC
    lookup (two map reads + an add per candidate; full vectors never
    move). This is FAISS IndexIVFPQ with by_residual=False, built from
    public literature (Jégou et al., PAPERS.md)."""
    from backend_etl_spark.operators import ann_index

    emb = load_table(spark, sf_dir, "embeddings")
    quantizers = ann_index.train(emb, _PQ_DIM, _PQ_K, _PQ_ITERS, _KM_K, _KM_ITERS)
    cand, top3 = ann_index.search(
        ann_index.lists(emb, quantizers, _PQ_DIM),
        emb.where(F.col("vec_id") < 5),
        quantizers,
        _PQ_DIM,
    )
    return cand, top3, emb


@register(
    "knn_ivfpq_adc",
    oracle=f"""
    WITH {_kmeans_cte()},
    {_pq_cte("s0_", 1, _PQ_HALF)},
    {_pq_cte("s1_", _PQ_HALF + 1, _PQ_DIM)},
    {_IVFPQ_ORACLE_COMMON}
    SELECT q_id, neighbor_id, approx_dist2, rank FROM ivfpq_top
    """,
)
def knn_ivfpq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ search (the production FAISS shape): multi-probe IVF
    restricts each query to its 2 nearest inverted lists, and the
    survivors are scored by PQ ADC lookup — two array reads + an add per
    candidate — instead of exact float dot products. Composes the four
    attested stages (kmeans coarse quantizer, PQ codebooks, multi-probe
    candidate generation, ADC tables) into the index a billion-vector
    deployment actually serves; knn_ivfpq_recall measures what the
    composition costs in recall."""
    tune(spark)
    _, top3, _ = _ivfpq_search(spark, sf_dir)
    return top3


@register(
    "knn_ivfpq_recall",
    oracle=f"""
    WITH {_kmeans_cte()},
    {_pq_cte("s0_", 1, _PQ_HALF)},
    {_pq_cte("s1_", _PQ_HALF + 1, _PQ_DIM)},
    {_IVFPQ_ORACLE_COMMON},
    q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
    truth AS (
      SELECT q_id, neighbor_id FROM (
        SELECT q.q_id, a.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.q_id ORDER BY
                 round(list_reduce(list_transform(range(len(q.qv)),
                       j -> (q.qv[j+1] - a.v[j+1]) * (q.qv[j+1] - a.v[j+1])),
                       (x, y) -> x + y), 6), a.vec_id) AS rnk
        FROM q, e a WHERE a.vec_id <> q.q_id)
      WHERE rnk <= 3),
    hits AS (
      SELECT t.q_id, count(i.neighbor_id) AS n_hit
      FROM truth t LEFT JOIN ivfpq_top i
        ON i.q_id = t.q_id AND i.neighbor_id = t.neighbor_id
      GROUP BY t.q_id),
    ncand AS (
      SELECT q_id, count(*) AS nc FROM scored GROUP BY q_id)
    SELECT round(avg(h.n_hit / 3.0), 4) AS recall_at_3,
           round(avg(ncand.nc
                 / CAST((SELECT count(*) FROM e) - 1 AS DOUBLE)), 4)
             AS avg_scanned_frac,
           CAST(count(*) AS BIGINT) AS n_queries
    FROM hits h JOIN ncand ON ncand.q_id = h.q_id
    """,
)
def knn_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF-PQ evaluation loop: recall@3 of the composed index
    against the exact L2 top-3, alongside the fraction of the corpus
    each query actually scanned (the cost axis of the recall/cost
    tradeoff — nprobe and the codebook size move you along the curve).
    Truth is exact squared-L2 over full vectors, so the number measures
    exactly what coarse pruning + 2×2-bit quantization give up."""
    tune(spark)
    from backend_etl_spark.operators.clustering import DIST_DP, _as_double

    cand, top3, emb = _ivfpq_search(spark, sf_dir)
    dbl = _as_double(F.col("embedding"))
    corpus = emb.select(F.col("vec_id").alias("neighbor_id"), dbl.alias("cv"))
    qset = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), dbl.alias("qv")
    )
    d2 = F.round(
        F.aggregate(
            F.zip_with(F.col("qv"), F.col("cv"), lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        DIST_DP,
    )
    w = Window.partitionBy("q_id").orderBy(F.asc("d2"), F.asc("neighbor_id"))
    truth = (
        corpus.crossJoin(F.broadcast(qset))
        .where(F.col("neighbor_id") != F.col("q_id"))
        .select("q_id", "neighbor_id", d2.alias("d2"))
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("q_id", "neighbor_id")
    )
    n_corpus = emb.count()
    approx = top3.select(
        F.col("q_id").alias("a_q"), F.col("neighbor_id").alias("a_n")
    )
    hits = (
        truth.join(
            approx,
            (F.col("q_id") == F.col("a_q"))
            & (F.col("neighbor_id") == F.col("a_n")),
            "left",
        )
        .groupBy("q_id")
        .agg(F.count("a_n").alias("n_hit"))
    )
    ncand = cand.groupBy(F.col("q_id").alias("c_q")).agg(
        F.count(F.lit(1)).alias("nc")
    )
    return (
        hits.join(ncand, F.col("q_id") == F.col("c_q"))
        .agg(
            F.round(F.avg(F.col("n_hit") / 3.0), 4).alias("recall_at_3"),
            F.round(F.avg(F.col("nc") / F.lit(float(n_corpus - 1))), 4).alias(
                "avg_scanned_frac"
            ),
            F.count(F.lit(1)).cast("bigint").alias("n_queries"),
        )
    )


@register(
    "dataset_card_stats",
    oracle=f"""
    WITH d AS (SELECT doc_id, source, lang, n_chars,
                      len({_TOKS}) AS n_tokens,
                      md5({_NORM}) AS ck
               FROM documents),
    dup AS (SELECT ck FROM d GROUP BY ck HAVING count(*) > 1)
    SELECT source, lang,
           CAST(count(*) AS BIGINT)        AS n_docs,
           CAST(sum(n_tokens) AS BIGINT)   AS total_tokens,
           ((200 * sum(n_chars) + count(*)) // (2 * count(*)))
             / 100.0                         AS avg_chars,
           CAST(min(n_chars) AS BIGINT)    AS min_chars,
           CAST(max(n_chars) AS BIGINT)    AS max_chars,
           CAST(count(dup.ck) AS BIGINT)   AS n_exact_dup_docs
    FROM d LEFT JOIN dup ON d.ck = dup.ck
    GROUP BY source, lang
    """,
)
def dataset_card_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card profile: per (source, language) slice — doc and
    token counts, length envelope, and exact-duplicate incidence — the
    table a curation pipeline publishes alongside every corpus release.
    Two linear shuffles (dup-key aggregate, slice rollup); the dup set
    GROWS with the corpus, so its join back carries a merge hint (the
    r6 derived-side rule — its through-agg estimate stays frozen tiny
    and the static planner would broadcast it)."""
    tune(spark)
    from backend_etl_spark.functions.scalars import tokens
    from backend_etl_spark.operators.dedup import content_key

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang", "n_chars",
        F.size(tokens(F.col("text"))).alias("n_tokens"),
        content_key(F.col("text")).alias("ck"),
    )
    dup = (
        d.groupBy("ck").agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 1)
        .select("ck", F.lit(1).alias("is_dup"))
    )
    return (
        d.join(dup.hint("merge"), "ck", "left")
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            # integer-exact 2-dp half-away mean: n_chars is integral,
            # so avg lands on TRUE .xx5 midpoints (observed at sf1:
            # 120762/400 = 301.905) where double round() splits engines
            F.expr(
                "(200 * sum(n_chars) + count(*)) div (2 * count(*))"
            ).cast("double").alias("avg_chars_units"),
            F.min("n_chars").cast("bigint").alias("min_chars"),
            F.max("n_chars").cast("bigint").alias("max_chars"),
            F.count("is_dup").cast("bigint").alias("n_exact_dup_docs"),
        )
        .withColumn("avg_chars", F.col("avg_chars_units") / F.lit(100.0))
        .drop("avg_chars_units")
        .select(
            "source", "lang", "n_docs", "total_tokens", "avg_chars",
            "min_chars", "max_chars", "n_exact_dup_docs",
        )
    )


_COS_SQL_QA = """round(
               list_reduce(list_transform(range(len(q.qv)),
                           j -> q.qv[j+1] * a.v[j+1]), (x, y) -> x + y)
               / (sqrt(list_reduce(list_transform(range(len(q.qv)),
                         j -> q.qv[j+1] * q.qv[j+1]), (x, y) -> x + y))
                  * sqrt(list_reduce(list_transform(range(len(a.v)),
                         j -> a.v[j+1] * a.v[j+1]), (x, y) -> x + y))),
               6)"""


@register(
    "knn_ivf_recall_at_3",
    oracle=f"""
    WITH {_kmeans_cte()},
    q AS (SELECT vec_id AS q_id, v AS qv FROM {_KM_FINAL} WHERE vec_id < 5),
    probes AS (
      SELECT vec_id AS q_id, cid AS pc, pr
      FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dd, cid) AS pr
            FROM d{_KM_ITERS - 1} WHERE vec_id < 5)
      WHERE pr <= 2),
    brute AS (
      SELECT q_id, neighbor_id FROM (
        SELECT q.q_id, a.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.q_id
                 ORDER BY {_COS_SQL_QA} DESC, a.vec_id) AS rnk
        FROM q, {_KM_FINAL} a WHERE a.vec_id <> q.q_id)
      WHERE rnk <= 3),
    cand AS (
      SELECT q.q_id, p.pr, a.vec_id AS neighbor_id, {_COS_SQL_QA} AS cosine
      FROM probes p
        JOIN q ON q.q_id = p.q_id
        JOIN {_KM_FINAL} a ON a.cluster = p.pc AND a.vec_id <> p.q_id),
    approx1 AS (
      SELECT q_id, neighbor_id FROM (
        SELECT q_id, neighbor_id,
               row_number() OVER (PARTITION BY q_id
                 ORDER BY cosine DESC, neighbor_id) AS rnk
        FROM cand WHERE pr = 1)
      WHERE rnk <= 3),
    approx2 AS (
      SELECT q_id, neighbor_id FROM (
        SELECT q_id, neighbor_id,
               row_number() OVER (PARTITION BY q_id
                 ORDER BY cosine DESC, neighbor_id) AS rnk
        FROM cand)
      WHERE rnk <= 3),
    h1 AS (SELECT b.q_id, count(a.neighbor_id) AS n_hit
           FROM brute b LEFT JOIN approx1 a
             ON a.q_id = b.q_id AND a.neighbor_id = b.neighbor_id
           GROUP BY b.q_id),
    h2 AS (SELECT b.q_id, count(a.neighbor_id) AS n_hit
           FROM brute b LEFT JOIN approx2 a
             ON a.q_id = b.q_id AND a.neighbor_id = b.neighbor_id
           GROUP BY b.q_id)
    SELECT round(avg(h1.n_hit / 3.0), 4) AS recall_nprobe1,
           round(avg(h2.n_hit / 3.0), 4) AS recall_nprobe2,
           CAST(count(*) AS BIGINT)      AS n_queries
    FROM h1 JOIN h2 ON h1.q_id = h2.q_id
    """,
)
def knn_ivf_recall_at_3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN evaluation loop: recall@3 of IVF search at nprobe=1 vs
    nprobe=2 against the exact brute-force top-3 — the measurement that
    picks nprobe in production instead of asserting it. One candidate
    relation (probe rank carried through) feeds both operating points;
    every pipeline stage is replayed in the oracle."""
    tune(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    cents = clustering.kmeans_fit(emb, k=_KM_K, iters=_KM_ITERS)
    assigned = clustering.assign_clusters(emb, cents)
    dbl = F.transform(F.col("embedding"), lambda v: v.cast("double"))
    corpus = assigned.select(
        F.col("vec_id").alias("neighbor_id"), dbl.alias("cv"), "cluster"
    )
    queries = (
        clustering.probe_clusters(emb.where(F.col("vec_id") < 5), cents, nprobe=2)
        .select(
            F.col("vec_id").alias("q_id"),
            dbl.alias("qv"),
            F.posexplode_outer("probes").alias("pr0", "pc"),
        )
    )
    cand = corpus.join(
        F.broadcast(queries),
        (F.col("cluster") == F.col("pc")) & (F.col("neighbor_id") != F.col("q_id")),
    ).select(
        "q_id", "pr0", "neighbor_id", _cosine(F.col("qv"), F.col("cv")).alias("cosine")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))

    def top3(df):
        return (
            df.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= 3)
            .select("q_id", "neighbor_id")
        )

    approx1 = top3(cand.where(F.col("pr0") == 0))
    approx2 = top3(cand)
    qset = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("bq_id"), dbl.alias("qv")
    )
    brute = (
        corpus.crossJoin(F.broadcast(qset))
        .where(F.col("neighbor_id") != F.col("bq_id"))
        .select(
            F.col("bq_id").alias("q_id"),
            "neighbor_id",
            _cosine(F.col("qv"), F.col("cv")).alias("cosine"),
        )
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("q_id", "neighbor_id")
    )

    def hits(approx):
        a = approx.select(
            F.col("q_id").alias("a_q"), F.col("neighbor_id").alias("a_n")
        )
        return (
            brute.join(
                a,
                (F.col("q_id") == F.col("a_q"))
                & (F.col("neighbor_id") == F.col("a_n")),
                "left",
            )
            .groupBy("q_id")
            .agg(F.count("a_n").alias("n_hit"))
        )
    h1 = hits(approx1).select(F.col("q_id"), F.col("n_hit").alias("h1"))
    h2 = hits(approx2).select(F.col("q_id").alias("q2"), F.col("n_hit").alias("h2"))
    return (
        h1.join(h2, F.col("q_id") == F.col("q2"))
        .agg(
            F.round(F.avg(F.col("h1") / 3.0), 4).alias("recall_nprobe1"),
            F.round(F.avg(F.col("h2") / 3.0), 4).alias("recall_nprobe2"),
            F.count(F.lit(1)).cast("bigint").alias("n_queries"),
        )
    )


@register(
    "pack_sequences_2048",
    oracle=f"""
    WITH t AS (SELECT doc_id, len({_TOKS}) AS n,
                      md5(CAST(doc_id AS VARCHAR)) AS h
               FROM documents),
    c AS (SELECT doc_id, n,
                 sum(n) OVER (ORDER BY h, doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum
          FROM t)
    SELECT doc_id,
           CAST(n AS BIGINT)                        AS n_tokens,
           CAST(floor((cum - n) / 2048) AS BIGINT)  AS seq_id,
           CAST(cum - n - 2048 * floor((cum - n) / 2048) AS BIGINT)
                                                    AS offset_in_seq,
           CAST(CASE WHEN n = 0 THEN 0
                     ELSE floor((cum - 1) / 2048)
                          - floor((cum - n) / 2048) + 1 END
                AS BIGINT) AS n_seqs_spanned
    FROM c
    """,
)
def pack_sequences_2048(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing: documents are concatenated in
    hash-deterministic order and chunked into 2048-token training
    sequences; each doc gets its sequence id, offset, and how many
    sequence boundaries it straddles. Deterministic (no rand()) and
    engine-reproducible.

    Scale shape: the global running sum is a two-pass SHARDED prefix sum
    (curation.sharded_running_sum) — shard = integer value of the first
    two hex chars of the md5 ordering key, which is monotone in the sort
    order (hex digits are ASCII-ordered), so per-shard window + tiny
    256-row offset join reproduces the global cumsum bit-for-bit with no
    single-partition Window anywhere in the plan (the round-3 verdict's
    100 TB killer, now gone; tests/test_plan_quality.py gates the whole
    catalog against the pattern)."""
    tune(spark)
    from backend_etl_spark.functions.scalars import tokens
    from backend_etl_spark.operators.curation import sharded_running_sum

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(tokens(F.col("text"))).alias("n"),
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )
    packed = sharded_running_sum(
        docs,
        shard_expr=F.conv(F.substring("h", 1, 2), 16, 10).cast("int"),
        order_by=[F.col("h"), F.col("doc_id")],
        value_col="n",
        out_col="__cum",
    )
    cum = F.col("__cum")
    start = cum - F.col("n")
    return packed.select(
        "doc_id",
        F.col("n").cast("bigint").alias("n_tokens"),
        F.floor(start / 2048).cast("bigint").alias("seq_id"),
        (start - 2048 * F.floor(start / 2048)).cast("bigint").alias("offset_in_seq"),
        # a zero-token doc spans 0 sequences by definition — without the
        # guard the raw formula gives 0 only when its offset lands on a
        # 2048 boundary and 1 everywhere else (boundary-dependent values
        # for identical empty inputs)
        F.when(F.col("n") == 0, F.lit(0))
        .otherwise(F.floor((cum - 1) / 2048) - F.floor(start / 2048) + 1)
        .cast("bigint")
        .alias("n_seqs_spanned"),
    )


# ---------------------------------------------------------------------------
# BPE tokenizer training (first merges)
# ---------------------------------------------------------------------------

_BPE_MERGES = 3


def _bpe_cte(n_merges: int = _BPE_MERGES) -> str:
    """Unrolled BPE training as DuckDB CTEs, mirroring
    operators/textops.bpe_train_merges byte-for-byte: sentinel-wrapped
    symbol strings, literal replace() merges, argmax on
    (count DESC, l||chr(30)||r ASC)."""
    S, SS = "chr(31)", "chr(31)||chr(31)"
    sym = f"string_split(substr(s, 2, len(s) - 2), {SS})"
    sql = f"""
    wrd AS (SELECT word, count(*) AS freq
            FROM (SELECT unnest({_TOKS}) AS word FROM documents)
            WHERE NOT contains(word, chr(31)) AND NOT contains(word, chr(30))
            GROUP BY word),
    s0 AS (SELECT {S} || array_to_string(
                    list_filter(string_split(word, ''), c -> c <> ''), {SS})
                 || {S} AS s, freq
           FROM wrd)"""
    for i in range(n_merges):
        sql += f""",
    p{i} AS (
      SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt
      FROM (SELECT unnest(list_transform(range(1, len({sym})),
                   j -> {sym}[j] || chr(30) || {sym}[j+1])) AS pair, freq
            FROM s{i})
      GROUP BY pair),
    m{i} AS (
      SELECT string_split(pair, chr(30))[1] AS lhs,
             string_split(pair, chr(30))[2] AS rhs, cnt
      FROM (SELECT *, row_number() OVER (ORDER BY cnt DESC, pair) AS rn FROM p{i})
      WHERE rn = 1),
    s{i + 1} AS (
      SELECT replace(s, {S} || lhs || {SS} || rhs || {S},
                        {S} || lhs || rhs || {S}) AS s, freq
      FROM s{i}, m{i}),
    v{i + 1} AS (
      SELECT CAST(count(DISTINCT sym) AS BIGINT) AS vs
      FROM (SELECT unnest({sym}) AS sym FROM s{i + 1}))"""
    return sql


@register(
    "bpe_train_merges",
    oracle=f"""
    WITH {_bpe_cte()}
    """ + "\n    UNION ALL\n".join(
        f"""SELECT CAST({i + 1} AS BIGINT) AS merge_rank, lhs, rhs,
               cnt AS pair_count,
               (SELECT vs FROM v{i + 1}) AS vocab_size_after
        FROM m{i}"""
        for i in range(_BPE_MERGES)
    ),
)
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real BPE tokenizer training, first 3 merges: word-frequency table
    (the ONLY corpus-sized aggregate), then per-iteration pair counting,
    argmax (count desc / pair asc), and a boundary-safe literal-replace
    merge — the driver loop collects exactly one row per iteration, like
    the k-means phase loop's centroid pull. At 100 TB every iteration
    runs over the Zipf-bounded word table (~10^6 rows), not the corpus.
    The oracle unrolls the identical iterations in SQL."""
    tune(spark)
    docs = load_table(spark, sf_dir, "documents")
    # min_pair_count=1: the oracle unrolls ALL _BPE_MERGES iterations
    # unconditionally, so the catalog entry must not stop early; the
    # default-2 convergence guard is a production knob covered by the
    # n=50 bounded-time run in tests/test_properties.py
    merges = textops.bpe_train_merges(docs, n_merges=_BPE_MERGES, min_pair_count=1)
    return spark.createDataFrame(
        [
            (m["merge_rank"], m["lhs"], m["rhs"], m["pair_count"], m["vocab_size_after"])
            for m in merges
        ],
        "merge_rank BIGINT, lhs STRING, rhs STRING, pair_count BIGINT, "
        "vocab_size_after BIGINT",
    )


@register(
    "text_rag_chunks",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    c AS (SELECT doc_id, toks, len(toks) AS n,
                 unnest(range(0, greatest(len(toks), 1), 24)) AS start_tok,
                 generate_subscripts(range(0, greatest(len(toks), 1), 24), 1) - 1
                   AS chunk_idx
          FROM t WHERE len(toks) > 0)
    SELECT doc_id,
           CAST(chunk_idx AS BIGINT)  AS chunk_idx,
           CAST(start_tok AS BIGINT)  AS start_tok,
           CAST(least(start_tok + 32, n) AS BIGINT) AS end_tok,
           md5(array_to_string(toks[start_tok + 1:least(start_tok + 32, n)], ' '))
             AS chunk_md5
    FROM c
    """,
)
def text_rag_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval chunking: 32-token windows with a 24-token stride
    (8-token overlap) per document — the chunk layout a RAG indexer
    embeds. Map-only fan-out (sequence + posexplode) with a content
    hash per chunk so the downstream embed/dedup stages key on stable
    ids; empty docs yield no chunks on both engines."""
    tune(spark)
    from backend_etl_spark.functions.scalars import tokens

    t = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens(F.col("text")).alias("toks")
    ).where(F.size("toks") > 0)
    starts = F.sequence(
        F.lit(0).cast("bigint"),
        (F.size("toks") - 1).cast("bigint"),
        F.lit(24).cast("bigint"),
    )
    end = F.least(F.col("start_tok") + 32, F.size("toks"))
    return (
        t.select(
            "doc_id",
            "toks",
            F.posexplode(starts).alias("chunk_idx", "start_tok"),
        )
        .select(
            "doc_id",
            F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
            F.col("start_tok").cast("bigint").alias("start_tok"),
            end.cast("bigint").alias("end_tok"),
            F.md5(
                F.array_join(
                    F.slice(
                        F.col("toks"),
                        (F.col("start_tok") + 1).cast("int"),
                        (end - F.col("start_tok")).cast("int"),
                    ),
                    " ",
                )
            ).alias("chunk_md5"),
        )
    )


@register(
    "agg_top_bigrams",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    bg AS (SELECT unnest(CASE WHEN len(toks) >= 2
                              THEN list_transform(range(len(toks) - 1),
                                   i -> toks[i+1] || ' ' || toks[i+2])
                              ELSE CAST([] AS VARCHAR[]) END) AS bigram
           FROM t)
    SELECT bigram, CAST(count(*) AS BIGINT) AS n
    FROM bg GROUP BY bigram
    ORDER BY n DESC, bigram
    LIMIT 20
    """,
)
def agg_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus top-20 bigrams — the glanceable companion artifact to the
    bigram LM: one explode + one count aggregate + a 20-row TakeOrdered
    (deterministic tie-break on the bigram string, no full sort)."""
    tune(spark)
    from backend_etl_spark.operators.dedup import doc_shingles

    docs = load_table(spark, sf_dir, "documents")
    return (
        doc_shingles(docs, "doc_id", "text", n=2, distinct=False)
        .groupBy(F.col("shingle").alias("bigram"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# end-to-end corpus pipeline funnel (round-4 item 6)
# ---------------------------------------------------------------------------


def _funnel_stages(spark: SparkSession, sf_dir: str):
    """The funnel's stage relations — (docs, q, ex, nd, fin, spl) — shared
    by the oracle-exact count entry (corpus_pipeline_funnel) and the
    production variant that persists each stage and lets the counts ride
    the writes as Observations (corpus_funnel_observed)."""
    from backend_etl_spark.functions.scalars import tokens

    docs = load_table(spark, sf_dir, "documents")
    ent = quality_char_entropy(spark, sf_dir).select("doc_id", "char_entropy_bits")
    rep = textops.repetition_metrics(docs).select("doc_id", "keep")
    # checkpoint_stats="lazy" (r14): the LM's EAGER stats checkpoint is
    # a barrier executed while BUILDING this plan — composed here it
    # serialized the corpus stats pass ahead of everything else and was
    # the r13 funnel regression (driver: 6.25 → 7.76 s, scaling 0.86).
    # Non-eager, the stats materialize inside the q-checkpoint job's
    # own stage (no separate barrier) and the LM's three stats
    # consumers read the blocks — still ONE corpus pass (the fully
    # lazy variant re-ran that pass three times: measured 2.3× worse
    # at sf10, see quality_bigram_logprob).
    lm = quality_bigram_logprob(
        spark, sf_dir, checkpoint_stats="lazy"
    ).select("doc_id", "avg_log2p")
    base = docs.select(
        "doc_id",
        "text",
        dedup.content_key(F.col("text")).alias("ck"),
        F.size(tokens(F.col("text"))).cast("bigint").alias("ntok"),
    )
    # The per-doc metric relations join on doc_id rather than computing
    # entropy/repetition inline on the scan: inline was measured SLOWER
    # end-to-end (r7) — fusing the fold expressions into one mega-
    # projection forces a fresh multi-second janino compile unique to
    # this entry, while the join form reuses the exact generated code
    # the standalone quality entries already compiled.
    from pyspark.sql import Observation

    # n_raw rides the q checkpoint too (r9): base is scanned exactly
    # once inside q's plan, and counting it there removes the separate
    # documents-scan job corpus_pipeline_funnel paid. CollectMetrics on
    # base blocks no pushdown that mattered: the quality predicates
    # reference joined metric columns and never reached the scan.
    raw_obs = Observation()
    # n_after_quality rides q's own checkpoint materialization as an
    # Observation (same discipline as nd's below): the count job over
    # the checkpoint is gone. Collected exactly once — downstream
    # consumers read the checkpoint, never the observed plan.
    #
    # r13 (guide §8 "decide with small rows"): the MinHash signature
    # fold is computed INSIDE the q-checkpoint plan, and `text` is
    # dropped from every funnel checkpoint. Downstream stages only ever
    # needed text for (a) the signatures — now 4 longs-worth of md5
    # columns riding the checkpoint — and (b) the split key, which
    # equals the already-carried `ck`. The q/fin block-manager state
    # and every post-q shuffle shrink from payload-sized (full
    # documents) to ~60 bytes/row. The fold is the same
    # minhash_signatures aggregate (one explode_outer + one groupBy
    # that reuses the join's doc_id partitioning — no new Exchange);
    # shingle-less docs keep NULL signatures and are excluded from the
    # band relation exactly like the old inner-explode aggregate
    # excluded them.
    #
    # r14 note: a lazy join-back variant (q without the fold; band
    # stage re-attaching text from the documents scan) was built,
    # oracle-verified ×3 SFs, and A/B-measured — NOT better (single-
    # shot medians 11.0 s fold-in-barrier vs 17.2 s join-back on the
    # r14 box; the join adds two exchanges + an AQE stage boundary and
    # risks re-running the fold under both band-join sides, while the
    # in-barrier fold rides the quality join's existing doc_id
    # partitioning). The driver-measured r13 funnel regression traces
    # to the LM stats checkpoint barrier instead — see the lm relation
    # above.
    q_obs = Observation()
    q_rows = (
        base.observe(raw_obs, F.count(F.lit(1)).cast("bigint").alias("n_raw"))
        .join(ent, "doc_id")
        .join(rep, "doc_id")
        .join(lm, "doc_id", "left")
        .where(
            (F.col("char_entropy_bits") >= 3.9)
            & F.col("keep")
            & F.coalesce(F.col("avg_log2p") >= -4.95, F.lit(False))
        )
        .select("doc_id", "text", "ck", "ntok")
    )
    sh = q_rows.select(
        "doc_id",
        "ck",
        "ntok",
        F.explode_outer(dedup.shingles(F.col("text"))).alias("shingle"),
    )
    q = (
        sh.groupBy("doc_id", "ck", "ntok")
        .agg(
            *[
                F.min(
                    F.when(
                        F.col("shingle").isNotNull(),
                        F.md5(
                            F.concat_ws("#", F.lit(str(i)), F.col("shingle"))
                        ),
                    )
                ).alias(f"mh{i}")
                for i in range(dedup.DEFAULT_NUM_HASHES)
            ]
        )
        .observe(q_obs, F.count(F.lit(1)).cast("bigint").alias("n_after_quality"))
        .localCheckpoint(eager=True)  # later stages re-read survivors, not the LM chain
    )
    w = Window.partitionBy("ck").orderBy("doc_id")
    ex = (
        q.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
    bands = dedup.signature_bands(
        ex.where(F.col("mh0").isNotNull()), "doc_id"
    )
    drop = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_value") == F.col("b.band_value"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
        .agg(F.count(F.lit(1)).alias("shared"))
        .where(F.col("shared") >= 2)
        .select(F.col("db").alias("doc_id"))
        .distinct()
    )
    # nd stays LAZY despite two consumers (fin's checkpoint and the
    # n_after_near_dedup count): eager-checkpointing it was measured
    # 2.4 s SLOWER at sf0.1 (r7) — the materialization barrier plus the
    # block-manager write of full-text rows costs more than the one
    # recompute it saves, since the band join's q-side input is already
    # a checkpoint. r8: the COUNT rides an Observation collected during
    # fin's eager checkpoint below, so the band join runs exactly once
    # (its second consumer, corpus_pipeline_funnel's count job, is gone
    # — the r7 postmortem's remaining funnel lever). CollectMetrics is
    # a pushdown barrier, so fin's filter/anti-join cannot slide below
    # the observe and shrink the observed count.
    nd_obs = Observation()
    nd = (
        ex.join(drop, "doc_id", "anti")
        .select("doc_id", "ck", "ntok")  # signatures are spent (r13)
        .observe(
            nd_obs,
            F.count(F.lit(1)).cast("bigint").alias("n_after_near_dedup"),
        )
    )
    cont = decontam_ngram_overlap(spark, sf_dir).select("doc_id")
    # fin feeds five downstream aggregates (count, 3 split counts, token
    # sum) — checkpoint so the dedup/decontam chain computes once. Its
    # own count + token budget ride the checkpoint materialization as
    # an Observation (r9): the post-checkpoint fin.agg job is gone.
    fin_obs = Observation()
    fin = (
        nd.where(F.col("doc_id") >= 10)
        .join(cont, "doc_id", "anti")
        .observe(
            fin_obs,
            F.count(F.lit(1)).cast("bigint").alias("n_after_decontam"),
            F.coalesce(F.sum("ntok"), F.lit(0))
            .cast("bigint")
            .alias("total_tokens"),
        )
        .localCheckpoint(eager=True)
    )
    # the split key IS the already-carried content key (same md5 of the
    # same normalized text) — recomputing content_key(text) forced text
    # through fin's checkpoint for one equal value (r13, guide §8)
    spl = curation.leakage_safe_split(fin, "doc_id", F.col("ck"))
    return docs, raw_obs, q, q_obs, ex, nd, nd_obs, fin, fin_obs, spl


def corpus_funnel_observed(
    spark: SparkSession, sf_dir: str, root: str
) -> dict[str, int]:
    """The PRODUCTION funnel run: each stage's survivor set is PERSISTED
    through the idempotent natural-key sink (W5 discipline) and every
    funnel count rides its stage's write action as an Observation —
    zero extra jobs, zero lineage recompute (the oracle-exactness tax
    corpus_pipeline_funnel pays is gone; the docstring's promised
    alternative, proven by tests/test_llmops2.py comparing both count
    vectors). Re-running against the same ``root`` appends nothing and
    returns all-zero stage counts — effectively-once under redelivery.

    SINK SCHEMA NOTE (r13 change, flagged by r13 ADVICE): the persisted
    stage tables no longer carry ``text`` — quality/exact rows are
    (doc_id, ck, ntok, mh0..mh3) and neardup/final rows are
    (doc_id, ck, ntok). A consumer reading stage payloads, or an
    idempotent append into a ``root`` first written by a pre-r13 run,
    must treat pre- and post-r13 roots as different schema versions
    (point new runs at a fresh root; the natural-key dedup would
    otherwise merge rows of different widths)."""
    import os

    from pyspark.sql import Observation

    from backend_etl_spark import sink

    tune(spark)
    docs, _raw_obs, q, _q_obs, ex, nd, _nd_obs, fin, _fin_obs, spl = _funnel_stages(
        spark, sf_dir
    )
    out: dict[str, int] = {}
    out["n_raw"] = docs.count()
    out["n_after_quality"] = sink.write_idempotent(
        q, os.path.join(root, "quality"), ["doc_id"]
    )
    out["n_after_exact_dedup"] = sink.write_idempotent(
        ex, os.path.join(root, "exact"), ["doc_id"]
    )
    out["n_after_near_dedup"] = sink.write_idempotent(
        nd, os.path.join(root, "neardup"), ["doc_id"]
    )
    # token budget rides the SAME write as the decontam count: observe
    # below the sink's dedup (fin is unique on doc_id already)
    tok = Observation()
    fin_obs = fin.observe(
        tok, F.coalesce(F.sum("ntok"), F.lit(0)).cast("bigint").alias("total_tokens")
    )
    out["n_after_decontam"] = sink.write_idempotent(
        fin_obs, os.path.join(root, "final"), ["doc_id"]
    )
    out["total_tokens"] = int(tok.get["total_tokens"]) if out["n_after_decontam"] else 0
    # one partitioned write carries all three split counts
    splits = Observation()
    spl_obs = spl.observe(
        splits,
        *[
            F.sum(F.when(F.col("split") == s, 1).otherwise(0))
            .cast("bigint")
            .alias(f"n_{s}")
            for s in ("train", "val", "test")
        ],
    )
    appended = sink.write_idempotent(
        spl_obs, os.path.join(root, "split"), ["doc_id"], partition_cols=["split"]
    )
    for s in ("train", "val", "test"):
        out[f"n_{s}"] = int(splits.get[f"n_{s}"]) if appended else 0
    return out


@register(
    "corpus_pipeline_funnel",
    oracle=None,  # assembled below (composes the attested stage oracles)
)
def corpus_pipeline_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE training-data pipeline, end to end, as one relation: raw docs
    → quality gates (char entropy ≥ 3.9 AND Gopher repetition keep AND
    bigram-LM avg log2p ≥ −4.95) → exact dedup (canonical = min doc_id
    per normalized-content key) → MinHash/LSH near-dedup (drop docs
    band-matching a lower-id survivor on ≥2 of 4 bands) → benchmark
    decontamination (eval set = doc_id < 10; shared-4-gram docs AND the
    eval docs themselves leave) → leakage-safe 80/10/10 split — emitted
    as ONE funnel row of per-stage counts plus the surviving token
    budget. Every stage is an already-attested catalog operator; this
    entry proves the COMPOSITION (what a data team actually ships)
    against a DuckDB oracle that replays the identical chain.

    Scale shape: each stage is the attested stage's plan (map-only
    gates; banded equi-join, never all-pairs; broadcast benchmark set) —
    composition adds no new shuffle class. The funnel here recomputes
    lineage per stage count for oracle exactness; a production run
    persists each stage's survivor set and the counts ride those writes
    as Observations (sink.write_idempotent discipline)."""
    tune(spark)
    docs, raw_obs, q, q_obs, ex, nd, nd_obs, fin, fin_obs, spl = _funnel_stages(
        spark, sf_dir
    )

    # fused 1-row aggregates: all three split counts ride ONE pass over
    # spl (three filtered counts = three jobs over the same checkpoint).
    # n_raw / n_after_quality / n_after_near_dedup / n_after_decontam /
    # total_tokens were collected by their Observations during the two
    # eager checkpoints (the engine counted them; Observation.get
    # already returned) — re-counting docs would re-scan the parquet,
    # re-counting q would re-scan its checkpoint, re-counting nd would
    # re-run the whole band join. n_after_exact_dedup = |distinct ck in
    # q| (ex keeps the first row per ck), so it rides one partial-agg
    # job over the q checkpoint instead of re-running the row_number
    # window.
    def lit1(obs, name):
        return spark.range(1).select(
            F.lit(int(obs.get[name])).cast("bigint").alias(name)
        )

    counts = [
        lit1(raw_obs, "n_raw"),
        lit1(q_obs, "n_after_quality"),
        q.agg(
            F.count_distinct(F.col("ck"))
            .cast("bigint")
            .alias("n_after_exact_dedup")
        ),
        lit1(nd_obs, "n_after_near_dedup"),
        spark.range(1).select(
            F.lit(int(fin_obs.get["n_after_decontam"]))
            .cast("bigint")
            .alias("n_after_decontam"),
            F.lit(int(fin_obs.get["total_tokens"]))
            .cast("bigint")
            .alias("total_tokens"),
        ),
        spl.agg(
            *[
                # coalesce: SUM over an empty relation is NULL; the old
                # per-filter count form returned 0 — keep that contract
                # when an aggressively-filtered tiny SF empties spl.
                F.coalesce(
                    F.sum(F.when(F.col("split") == s, 1).otherwise(0)),
                    F.lit(0),
                )
                .cast("bigint")
                .alias(f"n_{s}")
                for s in ("train", "val", "test")
            ]
        ),
    ]
    out = counts[0]
    for c in counts[1:]:
        out = out.crossJoin(F.broadcast(c))
    return out.select(
        "n_raw", "n_after_quality", "n_after_exact_dedup",
        "n_after_near_dedup", "n_after_decontam",
        "n_train", "n_val", "n_test", "total_tokens",
    )


_FUNNEL_ORACLE = f"""
    WITH ent AS ({{ent}}),
    rep AS ({{rep}}),
    lm AS ({{lm}}),
    cont AS ({{cont}}),
    base AS (SELECT doc_id, md5({_NORM}) AS ck, len({_TOKS}) AS ntok
             FROM documents),
    q AS (
      SELECT base.doc_id, base.ck, base.ntok
      FROM base
        JOIN ent ON ent.doc_id = base.doc_id
        JOIN rep ON rep.doc_id = base.doc_id
        LEFT JOIN lm ON lm.doc_id = base.doc_id
      WHERE ent.char_entropy_bits >= 3.9 AND rep.keep
        AND coalesce(lm.avg_log2p >= -4.95, FALSE)),
    ex AS (
      SELECT doc_id, ck, ntok FROM (
        SELECT *, row_number() OVER (PARTITION BY ck ORDER BY doc_id) AS rn
        FROM q)
      WHERE rn = 1),
    sq AS (WITH {{sigs}} SELECT sigs.* FROM sigs
           WHERE doc_id IN (SELECT doc_id FROM ex)),
    bands AS (
      SELECT doc_id, '0' AS band_id, mh0 AS band_value FROM sq UNION ALL
      SELECT doc_id, '1', mh1 FROM sq UNION ALL
      SELECT doc_id, '2', mh2 FROM sq UNION ALL
      SELECT doc_id, '3', mh3 FROM sq),
    nddrop AS (
      SELECT DISTINCT db AS doc_id FROM (
        SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS shared
        FROM bands a JOIN bands b
          ON a.band_id = b.band_id AND a.band_value = b.band_value
         AND a.doc_id < b.doc_id
        GROUP BY 1, 2 HAVING count(*) >= 2)),
    nd AS (SELECT * FROM ex WHERE doc_id NOT IN (SELECT doc_id FROM nddrop)),
    fin AS (SELECT * FROM nd WHERE doc_id >= 10
            AND doc_id NOT IN (SELECT doc_id FROM cont)),
    spl AS (SELECT doc_id,
                   ('0x' || substr(md5('split#' || ck), 1, 8))::BIGINT % 100
                     AS bucket
            FROM fin)
    SELECT (SELECT count(*) FROM documents)           AS n_raw,
           (SELECT count(*) FROM q)                   AS n_after_quality,
           (SELECT count(*) FROM ex)                  AS n_after_exact_dedup,
           (SELECT count(*) FROM nd)                  AS n_after_near_dedup,
           (SELECT count(*) FROM fin)                 AS n_after_decontam,
           (SELECT count(*) FROM spl WHERE bucket < 80) AS n_train,
           (SELECT count(*) FROM spl WHERE bucket >= 80 AND bucket < 90)
                                                      AS n_val,
           (SELECT count(*) FROM spl WHERE bucket >= 90) AS n_test,
           CAST((SELECT coalesce(sum(ntok), 0) FROM fin) AS BIGINT)
                                                      AS total_tokens
"""

from backend_etl_spark.catalog.registry import REGISTRY as _REG2  # noqa: E402

_REG2["corpus_pipeline_funnel"].oracle = _FUNNEL_ORACLE.format(
    ent=_REG2["quality_char_entropy"].oracle,
    rep=_REG2["text_repetition_metrics"].oracle,
    lm=_REG2["quality_bigram_logprob"].oracle,
    cont=_REG2["decontam_ngram_overlap"].oracle,
    sigs=_SIGS_CTE,
)


# ---------------------------------------------------------------------------
# round 4: SemDeDup, IVF-PQ exact re-rank, corpus drift monitoring
# ---------------------------------------------------------------------------


#: SemDeDup's cluster count scales with corpus size so the average
#: cluster stays ~_SEM_TARGET vectors: intra-cluster candidate pairs
#: are then O(n · _SEM_TARGET), linear in the corpus, instead of the
#: O(n²/k) a FIXED k degrades to (measured: slope 1.97/decade at
#: sf0.1→sf1 before the r6 change). But a FLAT fit with k ∝ n makes the
#: assign stage n·k = n²/_SEM_TARGET — the r11 sf1→sf10 sweep measured
#: it at slope 1.42/decade (4.2 → 110.7 s) — so the fit/assign is
#: two-level (r11): k₁ ≈ √k coarse cells, then an independent fine fit
#: per cell sized to keep fine clusters ~_SEM_TARGET vectors. A row
#: compares against k₁ + k/k₁ ≈ 2√k centroids instead of k — the same
#: escalation FAISS uses for billion-vector IVF — and the pair stage
#: contract is unchanged (clusters of ~_SEM_TARGET).
_SEM_TARGET = 100
#: coarse cell count: max(8, floor(sqrt(k_total))), k_total = max(8, n//100).
#: sqrt on DOUBLE in both engines (Python math.sqrt == DuckDB sqrt).
_SEM_K1_EXPR = (
    f"greatest({_KM_K}, CAST(floor(sqrt(CAST(greatest({_KM_K}, "
    f"(SELECT count(*) FROM e) // {_SEM_TARGET}) AS DOUBLE))) AS INT))"
)


def _sem_fine_cte(iters: int = _KM_ITERS) -> str:
    """Unrolled per-cell fine Lloyd's as DuckDB CTEs, appended after a
    coarse ``{_kmeans_cte(k_expr=_SEM_K1_EXPR)}`` whose final assignment
    is ``{_KM_FINAL}``. Mirrors clustering.kmeans_fit_grouped +
    assign_clusters_multi exactly: per-cell rank-strided seeds
    (``rank_mod`` — the 0-based rank within the cell, by vec_id, strided
    by max(cn // k_f, 1), first k_f), per-(cell,fid) 6-dp-rounded
    averages, rounded distances, tie-break on fid. Final cluster id is
    the composite cell·1e6 + fid."""
    sql = f""",
    cellpts AS (SELECT vec_id, v, cluster AS cell FROM {_KM_FINAL}),
    kf AS (
      SELECT cell, count(*) AS cn,
             greatest(count(*) // {_SEM_TARGET}, 1) AS kfk,
             greatest(count(*) // greatest(count(*) // {_SEM_TARGET}, 1), 1)
               AS stride
      FROM cellpts GROUP BY cell),
    f0 AS (
      SELECT cell, CAST(rn - 1 AS INT) AS fid, v AS cv
      FROM (SELECT cell, v, kfk,
                   row_number() OVER (PARTITION BY cell ORDER BY vec_id) AS rn
            FROM (SELECT p.cell, p.vec_id, p.v, k.kfk,
                         row_number() OVER (PARTITION BY p.cell
                                            ORDER BY p.vec_id) - 1 AS rk,
                         k.stride
                  FROM cellpts p JOIN kf k USING (cell))
            WHERE rk % stride = 0)
      WHERE rn <= kfk)"""
    for i in range(iters):
        sql += f""",
    fd{i} AS (
      SELECT p.vec_id, p.v, p.cell, f.fid,
             round(list_reduce(list_transform(range(len(p.v)),
                   j -> (p.v[j+1] - f.cv[j+1]) * (p.v[j+1] - f.cv[j+1])),
                   (x, y) -> x + y), 6) AS dd
      FROM cellpts p JOIN f{i} f USING (cell)),
    fa{i} AS (
      SELECT vec_id, v, cell, fid
      FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY dd, fid) AS rn
            FROM fd{i})
      WHERE rn = 1)"""
        if i < iters - 1:
            sql += f""",
    f{i + 1} AS (
      SELECT cell, fid, array_agg(cv_d ORDER BY dim) AS cv
      FROM (SELECT cell, fid, dim, round(avg(val), 6) AS cv_d
            FROM (SELECT cell, fid, unnest(v) AS val,
                         generate_subscripts(v, 1) AS dim
                  FROM fa{i})
            GROUP BY cell, fid, dim)
      GROUP BY cell, fid)"""
    sql += f""",
    semfinal AS (
      SELECT vec_id, v,
             CAST(cell AS BIGINT) * 1000000 + fid AS cluster
      FROM fa{iters - 1})"""
    return sql


@register(
    "dedup_semantic_semdedup",
    oracle=f"""
    WITH {_kmeans_cte(k_expr=_SEM_K1_EXPR)}{_sem_fine_cte()},
    drop AS (
      SELECT DISTINCT y.vec_id AS vb
      FROM semfinal x JOIN semfinal y
        ON x.cluster = y.cluster AND x.vec_id < y.vec_id
      WHERE round(list_dot_product(x.v, y.v)
                  / (sqrt(list_dot_product(x.v, x.v))
                     * sqrt(list_dot_product(y.v, y.v))), 6) >= 0.3)
    SELECT vec_id,
           CAST(cluster AS BIGINT) AS cluster,
           vec_id NOT IN (SELECT vb FROM drop) AS kept
    FROM semfinal
    """,
)
def dedup_semantic_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, PAPERS.md): semantic dedup via
    k-means clustering of the embedding space, then cosine pairs ONLY
    within each cluster — the learned-cluster analogue of the
    label-bucketed pairs entry, and the trick that makes embedding
    dedup feasible at 100 TB: candidate pairs are O(Σ cluster²), never
    corpus². A vector is dropped when it matches a lower-id
    cluster-mate at cosine ≥ 0.3; the verdict column per vector keeps
    the relation total (one row per embedding).

    Cluster count scales with corpus size (k_total = n / _SEM_TARGET,
    the paper's own discipline — 50k clusters for LAION) so the pair
    stage stays linear; the FIT/ASSIGN is two-level (r11): a coarse
    k₁ ≈ √k_total fit shards the corpus into cells, then every cell
    trains its own fine quantizer inside one grouped-map job
    (kmeans_fit_grouped) and each row is assigned against ONLY its
    cell's fine centroids (assign_clusters_multi). A flat k ∝ n fit is
    n·k = n²/100 flops and measured slope 1.42/decade at sf1→sf10
    (4.2 → 110.7 s); two-level is n·2√k — the FAISS IVF escalation.
    The oracle re-derives both levels in SQL (coarse _kmeans_cte +
    _sem_fine_cte) and lands on identical composite cluster ids."""
    tune(spark)
    import math

    from backend_etl_spark.operators import similarity

    # flop-dense stages (k-way argmin, intra-cluster cosines) are sized
    # to CORES, not bytes: a 20k-row embeddings file is 1-2 input splits
    # and AQE coalesces the tiny shuffle, so without this the n·k assign
    # and the pair stage run on 2 threads. At 100 TB the input is
    # thousands of splits and this repartition is a no-op-sized tax.
    par = spark.sparkContext.defaultParallelism
    emb_raw = load_table(spark, sf_dir, "embeddings")
    emb = emb_raw.repartition(par)
    n_emb = emb_raw.count()
    kt = max(_KM_K, n_emb // _SEM_TARGET)
    k1 = max(_KM_K, int(math.floor(math.sqrt(float(kt)))))
    # r13: the coarse fit runs on the RAW relation, not the
    # repartitioned one. Two effects, measured via the bench-alone cold
    # path (11.3 s, of which the coarse fit was 3.75 s): (a) every
    # Lloyd job drops the repartition shuffle it re-ran per iteration
    # (the fit's own aggregate is k×dim rows — partition count is
    # irrelevant to it); (b) the fit's memo key becomes IDENTICAL to
    # the knn_ivf*/kmeans entries' fit over the same corpus (same
    # relation, k, iters), so an in-run bench/driver pass pays this
    # fit ONCE per process instead of re-fitting per entry. Seeding is
    # vec_id-strided (partition-independent) and the centroid
    # trajectory is the one the knn entries attest against the SAME
    # _kmeans_cte oracle; semdedup's oracle parity re-checked at
    # sf0.001/0.01/0.1. The repartitioned frame still feeds the
    # flop-dense assign/pair stages below.
    coarse = clustering.kmeans_fit(emb_raw, k=k1, iters=_KM_ITERS)
    # r14: with the one-job fine fit the cell assignment feeds exactly
    # TWO jobs (the grouped fit and the final query) instead of
    # ~2·iters, and an EAGER checkpoint's materialization barrier
    # (~1.5-2.4 s at sf0.1) costs more than the reuse saves. So the
    # checkpoint is non-eager: no job of its own — the first consumer
    # (the fit's job) stores the blocks as a side effect and the final
    # query reads them instead of re-running the assign kernel. (At
    # 100 TB the assignment persists as a table — the corpus_bands
    # discipline — which is a sink choice, not an extra barrier inside
    # the query.)
    cells = clustering.assign_clusters(emb, coarse).select(
        "vec_id", "embedding", F.col("cluster").alias("cell")
    ).localCheckpoint(eager=False)
    fine = clustering.kmeans_fit_grouped(
        cells,
        "cell",
        lambda cn: max(1, cn // _SEM_TARGET),
        iters=_KM_ITERS,
        # cells derives deterministically from emb + the (memoized)
        # coarse fit, but its checkpoint has no stable plan key — memo
        # under the upstream relation + derivation tag instead
        memo_df=emb,
        memo_tag=f"sem_fine_k1={k1}",
        # r14: ALL fine-fit Lloyd rounds run per-cell inside ONE
        # grouped-map job (was: a seed window + iters-1 sequential
        # phase jobs — ~0.7-1 s of driver fixed cost EACH at sf0.1,
        # the orchestration that pinned this entry's 8→32-core scaling
        # at 1.0). Per-cell parity with kmeans_fit is pinned by
        # tests/test_clustering.py and the oracle replays the identical
        # fit in SQL.
    )
    e2 = clustering.assign_clusters_multi(
        cells, fine, tag_col="cell", out_col="fid"
    ).select(
        "vec_id",
        (
            F.col("cell").cast("bigint") * F.lit(1_000_000)
            + F.col("fid").cast("bigint")
        ).alias("cluster"),
        similarity.to_double("embedding").alias("v"),
    )
    # intra-cluster pair matrix as ONE applyInPandas pass per cluster
    # (exact-fold numpy — attested equal to the oracle's per-pair
    # list_dot_product; see operators/dedup.intra_cluster_cosine_drops)
    drop = dedup.intra_cluster_cosine_drops(e2, threshold=0.3).withColumn(
        "__dropped", F.lit(True)
    )
    return (
        e2.join(drop, "vec_id", "left")
        .select(
            "vec_id",
            F.col("cluster").cast("bigint").alias("cluster"),
            F.coalesce(~F.col("__dropped"), F.lit(True)).alias("kept"),
        )
    )


@register(
    "knn_ivfpq_rerank",
    oracle=f"""
    WITH {_kmeans_cte()},
    {_pq_cte("s0_", 1, _PQ_HALF)},
    {_pq_cte("s1_", _PQ_HALF + 1, _PQ_DIM)},
    {_IVFPQ_ORACLE_COMMON},
    cand20 AS (
      SELECT q_id, neighbor_id FROM (
        SELECT *, row_number() OVER
          (PARTITION BY q_id ORDER BY approx_dist2, neighbor_id) AS rnk
        FROM scored)
      WHERE rnk <= 20),
    rr AS (
      SELECT c.q_id, c.neighbor_id,
             round(list_dot_product(q.v, n.v)
                   / (sqrt(list_dot_product(q.v, q.v))
                      * sqrt(list_dot_product(n.v, n.v))), 6) AS cosine
      FROM cand20 c
        JOIN e q ON q.vec_id = c.q_id
        JOIN e n ON n.vec_id = c.neighbor_id)
    SELECT q_id, neighbor_id, cosine, CAST(rnk AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER
            (PARTITION BY q_id ORDER BY cosine DESC, neighbor_id) AS rnk
          FROM rr)
    WHERE rnk <= 3
    """,
)
def knn_ivfpq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE production ANN funnel (FAISS search pipeline): coarse
    IVF probe → PQ/ADC scoring → top-20 shortlist → EXACT cosine re-rank
    of the shortlist → final top-3. The expensive exact math touches 20
    vectors per query instead of the corpus; everything upstream moved
    only codes. At 100 TB this is the layout+funnel a billion-vector
    retrieval service runs per query."""
    tune(spark)
    from backend_etl_spark.operators import ann_index

    cand, _, emb = _ivfpq_search(spark, sf_dir)
    c20 = ann_index.top_k(cand, 20).select("q_id", "neighbor_id")
    dbl = F.transform(F.col("embedding"), lambda v: v.cast("double"))
    qv = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q2"), dbl.alias("qv")
    )
    nv = emb.select(F.col("vec_id").alias("n2"), dbl.alias("nv"))
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        c20.join(F.broadcast(qv), F.col("q_id") == F.col("q2"))
        .join(nv, F.col("neighbor_id") == F.col("n2"))
        .select(
            "q_id",
            "neighbor_id",
            _cosine(F.col("qv"), F.col("nv")).alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= 3)
    )


@register(
    "corpus_drift_kl",
    oracle=f"""
    WITH toks AS (SELECT doc_id, unnest({_TOKS}) AS w FROM documents),
    o AS (SELECT w, count(*) AS c FROM toks WHERE doc_id % 10 < 8 GROUP BY w),
    n AS (SELECT w, count(*) AS c FROM toks WHERE doc_id % 10 >= 8 GROUP BY w),
    v AS (SELECT count(DISTINCT w) AS vocab FROM toks),
    ot AS (SELECT sum(c) AS t FROM o),
    nt AS (SELECT sum(c) AS t FROM n),
    joint AS (
      SELECT coalesce(o.w, n.w) AS w,
             coalesce(o.c, 0) AS co, coalesce(n.c, 0) AS cn
      FROM o FULL JOIN n ON o.w = n.w),
    terms AS (
      SELECT (cn + 1) / CAST(nt.t + v.vocab AS DOUBLE) AS p,
             (co + 1) / CAST(ot.t + v.vocab AS DOUBLE) AS q
      FROM joint, ot, nt, v)
    SELECT CAST((SELECT t FROM ot) AS BIGINT)     AS n_tokens_old,
           CAST((SELECT t FROM nt) AS BIGINT)     AS n_tokens_new,
           CAST((SELECT vocab FROM v) AS BIGINT)  AS vocab_size,
           round(sum(p * log2(p / q)), 4)         AS kl_new_vs_old_bits
    FROM terms
    """,
)
def corpus_drift_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus drift monitor: KL(new ‖ old) in bits between the
    Laplace-smoothed unigram distributions of the previous snapshot
    (doc_id%10 < 8) and the incoming crawl (doc_id%10 ≥ 8) — the metric
    a training-data pipeline alerts on when a crawl's language mixture
    or spam profile shifts. Scale shape: two Zipf-bounded unigram
    aggregates, a vocab-keyed full outer join, scalar totals broadcast;
    the corpus shuffles once (onto the token key) and the KL reduce is
    map-side partial."""
    tune(spark)
    from backend_etl_spark.functions.scalars import tokens

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("w"))
    # ONE corpus explode + ONE groupBy(w) with conditional counts (r13,
    # guide §2.3/§2.4): the previous shape ran the explode FIVE times
    # (o, n, and v each re-derived it, ot/nt lazily recomputed o/n) and
    # full-outer-joined the two unigram tables. Per-token old/new
    # membership is a row-local predicate, so the joint table IS one
    # conditional aggregate: co/cn per distinct token (0 where absent —
    # exactly the outer join's coalesce), vocab = the group count
    # (every token occurrence is old or new, so groups cover the
    # vocabulary), ot/nt = column sums over the bounded stats table.
    counts = (
        t.groupBy("w")
        .agg(
            F.count(F.when(F.col("doc_id") % 10 < 8, 1)).alias("co"),
            F.count(F.when(F.col("doc_id") % 10 >= 8, 1)).alias("cn"),
        )
        .localCheckpoint(eager=True)  # Zipf-bounded; 3 consumers below
    )
    totals = counts.agg(
        F.count(F.lit(1)).alias("vocab"),
        F.sum("co").alias("ot"),
        F.sum("cn").alias("nt"),
    )
    joint = counts.select("co", "cn").crossJoin(F.broadcast(totals))
    p = (F.col("cn") + 1) / (F.col("nt") + F.col("vocab")).cast("double")
    q = (F.col("co") + 1) / (F.col("ot") + F.col("vocab")).cast("double")
    return (
        joint.select(
            F.col("ot"),
            F.col("nt"),
            F.col("vocab"),
            (p * F.log2(p / q)).alias("term"),
        )
        .groupBy()
        .agg(
            F.first("ot").cast("bigint").alias("n_tokens_old"),
            F.first("nt").cast("bigint").alias("n_tokens_new"),
            F.first("vocab").cast("bigint").alias("vocab_size"),
            F.round(F.sum("term"), 4).alias("kl_new_vs_old_bits"),
        )
    )


# ---------------------------------------------------------------------------
# IVF-PQ with residual encoding (by_residual=True — the FAISS default)
# ---------------------------------------------------------------------------

_RES_SRC = f"""res AS (
      SELECT a.vec_id,
             list_transform(range(len(a.v)),
                            j -> a.v[j+1] - c.cv[j+1]) AS embedding
      FROM {_KM_FINAL} a JOIN c{_KM_ITERS - 1} c ON c.cid = a.cluster)"""


@register(
    "knn_ivfpq_residual",
    oracle=f"""
    WITH {_kmeans_cte()},
    {_RES_SRC},
    {_pq_cte("t0_", 1, _PQ_HALF, src="res")},
    {_pq_cte("t1_", _PQ_HALF + 1, _PQ_DIM, src="res")},
    probes AS (
      SELECT vec_id AS q_id, cid AS pc
      FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dd, cid) AS pr
            FROM d{_KM_ITERS - 1} WHERE vec_id < 5)
      WHERE pr <= 2),
    coarse AS (SELECT vec_id, cluster FROM {_KM_FINAL}),
    codes AS (
      SELECT a.vec_id, a.cluster AS code0, b.cluster AS code1
      FROM t0_a{_PQ_ITERS - 1} a JOIN t1_a{_PQ_ITERS - 1} b USING (vec_id)),
    qres AS (
      SELECT p.q_id, p.pc,
             list_transform(range(len(q.v)),
                            j -> q.v[j+1] - c.cv[j+1]) AS rv
      FROM probes p
        JOIN e q ON q.vec_id = p.q_id
        JOIN c{_KM_ITERS - 1} c ON c.cid = p.pc),
    adt0 AS (
      SELECT qres.q_id, qres.pc, cb.cid,
             round(list_reduce(list_transform(range({_PQ_HALF}),
                   j -> (rv[j+1] - cb.cv[j+1]) * (rv[j+1] - cb.cv[j+1])),
                   (x, y) -> x + y), 6) AS d
      FROM qres, t0_c{_PQ_ITERS - 1} cb),
    adt1 AS (
      SELECT qres.q_id, qres.pc, cb.cid,
             round(list_reduce(list_transform(range({_PQ_HALF}),
                   j -> (rv[j+{_PQ_HALF}+1] - cb.cv[j+1])
                        * (rv[j+{_PQ_HALF}+1] - cb.cv[j+1])),
                   (x, y) -> x + y), 6) AS d
      FROM qres, t1_c{_PQ_ITERS - 1} cb),
    scored AS (
      SELECT p.q_id, x.vec_id AS neighbor_id,
             round(a0.d + a1.d, 6) AS approx_dist2
      FROM probes p
        JOIN coarse cr ON cr.cluster = p.pc
        JOIN codes x ON x.vec_id = cr.vec_id AND x.vec_id <> p.q_id
        JOIN adt0 a0 ON a0.q_id = p.q_id AND a0.pc = p.pc AND a0.cid = x.code0
        JOIN adt1 a1 ON a1.q_id = p.q_id AND a1.pc = p.pc AND a1.cid = x.code1)
    SELECT q_id, neighbor_id, approx_dist2, CAST(rnk AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER
            (PARTITION BY q_id ORDER BY approx_dist2, neighbor_id) AS rnk
          FROM scored)
    WHERE rnk <= 3
    """,
)
def knn_ivfpq_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with RESIDUAL encoding (FAISS IndexIVFPQ by_residual=True,
    the library default): PQ codebooks are trained on v − centroid[list]
    instead of raw vectors, so the quantizer spends its codewords on the
    within-cell structure the coarse quantizer can't see — the encoding
    that makes 2 bytes/vector usable at billion scale. The ADC table
    becomes per-(query, probed-list): the query's residual AGAINST THAT
    LIST's centroid is distanced to each codeword (nprobe × k × m tiny
    lookups, map-side), and candidates join on (list, code) exactly as
    the raw-vector variant. The oracle replays residual computation,
    both residual-space Lloyd's fits, and the per-probe ADC tables."""
    tune(spark)
    from backend_etl_spark.operators import ann_index

    emb = load_table(spark, sf_dir, "embeddings")
    coarse = clustering.kmeans_fit(emb, k=_KM_K, iters=_KM_ITERS)
    resid_of = ann_index.residual(coarse)
    resid = clustering.assign_clusters(emb, coarse).select(
        "vec_id",
        "cluster",
        resid_of(clustering._as_double(F.col("embedding")), F.col("cluster")).alias(
            "embedding"
        ),
    )
    codebooks = ann_index.train(resid, _PQ_DIM, _PQ_K, _PQ_ITERS)
    renc = ann_index.encode(codebooks, _PQ_DIM)
    index = resid.select(
        F.col("vec_id").alias("neighbor_id"),
        "cluster",
        *[renc[f"code{s}"].alias(f"code{s}") for s in (0, 1)],
    )
    # per-(query, probe) residual → per-probe ADC tables
    queries = (
        clustering.probe_clusters(emb.where(F.col("vec_id") < 5), coarse, nprobe=2)
        .select(
            F.col("vec_id").alias("q_id"),
            clustering._as_double(F.col("embedding")).alias("qv"),
            F.explode_outer("probes").alias("pc"),
        )
        .select("q_id", "pc", resid_of(F.col("qv"), F.col("pc")).alias("rv"))
        .select("q_id", "pc", *ann_index.adc_tables(codebooks, _PQ_DIM, F.col("rv")))
    )
    cand = (
        index.join(
            F.broadcast(queries),
            (F.col("cluster") == F.col("pc"))
            & (F.col("neighbor_id") != F.col("q_id")),
        )
        .select("q_id", "neighbor_id", ann_index.adc_approx().alias("approx_dist2"))
    )
    return ann_index.top_k(cand, 3)


# ---------------------------------------------------------------------------
# BPE encode: apply the trained merges to the corpus (tokenizer inference)
# ---------------------------------------------------------------------------


def _bpe_encode_oracle(n_merges: int = _BPE_MERGES) -> str:
    from backend_etl_spark.catalog.llmops2 import _bpe_cte  # self-import safe

    S, SS = "chr(31)", "chr(31)||chr(31)"
    s_expr = f"{S} || array_to_string(list_filter(string_split(w, ''), c -> c <> ''), {SS}) || {S}"
    for i in range(n_merges):
        s_expr = (
            f"replace({s_expr}, "
            f"{S} || (SELECT lhs FROM m{i}) || {SS} || (SELECT rhs FROM m{i}) || {S}, "
            f"{S} || (SELECT lhs FROM m{i}) || (SELECT rhs FROM m{i}) || {S})"
        )
    return f"""
    WITH {_bpe_cte(n_merges)},
    dw AS (
      SELECT doc_id, unnest({_TOKS}) AS w FROM documents),
    ok AS (SELECT doc_id, w FROM dw
           WHERE NOT contains(w, chr(31)) AND NOT contains(w, chr(30))),
    enc AS (
      SELECT doc_id, len(w) AS n_chars_w,
             len(string_split(substr(s, 2, len(s) - 2), {SS})) AS n_sym
      FROM (SELECT doc_id, w, {s_expr} AS s FROM ok)),
    agg AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT)        AS n_words,
             CAST(sum(n_chars_w) AS BIGINT)  AS n_char_symbols,
             CAST(sum(n_sym) AS BIGINT)      AS n_bpe_tokens
      FROM enc GROUP BY doc_id)
    SELECT d.doc_id,
           coalesce(agg.n_words, 0)        AS n_words,
           coalesce(agg.n_char_symbols, 0) AS n_char_symbols,
           coalesce(agg.n_bpe_tokens, 0)   AS n_bpe_tokens,
           CASE WHEN coalesce(agg.n_bpe_tokens, 0) > 0
                THEN round(agg.n_char_symbols
                           / CAST(agg.n_bpe_tokens AS DOUBLE), 4)
           END AS compression
    FROM documents d LEFT JOIN agg ON agg.doc_id = d.doc_id
    """


@register("bpe_encode_tokens", oracle=_bpe_encode_oracle())
def bpe_encode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer INFERENCE — the other half of bpe_train_merges: the
    trained merge list (3 ranked merges, pulled once driver-side like a
    centroid table) is applied to every document as a chain of literal
    sentinel-safe replaces, yielding per-doc BPE token counts and the
    chars-per-token compression ratio (what you actually budget
    pretraining data by). Map-only over documents: merges are literals
    in the plan, each word encodes independently inside a higher-order
    array expression — no explode, no shuffle, no UDF. At 100 TB this
    is the per-crawl tokenize-and-count pass; its cost IS the scan."""
    tune(spark)
    from backend_etl_spark.functions.scalars import tokens
    from backend_etl_spark.operators.partitioning import spread
    from backend_etl_spark.operators.textops import BPE_PSEP, BPE_SEP

    # widen the narrow local scan: the per-word encode chain is heavy
    # per row and would otherwise run single-core (no-op at real scale;
    # the train side widens its own corpus aggregate internally)
    docs = spread(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"
    )
    # min_pair_count=1: the oracle unrolls ALL _BPE_MERGES iterations
    # unconditionally, so the catalog entry must not stop early; the
    # default-2 convergence guard is a production knob covered by the
    # n=50 bounded-time run in tests/test_properties.py
    merges = textops.bpe_train_merges(docs, n_merges=_BPE_MERGES, min_pair_count=1)
    sep2 = BPE_SEP + BPE_SEP

    def encode(word):
        # word -> "\x1fc\x1f\x1fc\x1f..." then ranked literal merges
        s = F.concat(
            F.lit(BPE_SEP),
            F.array_join(
                F.filter(F.split(word, ""), lambda c: c != F.lit("")), sep2
            ),
            F.lit(BPE_SEP),
        )
        for m in merges:
            s = F.replace(
                s,
                F.lit(BPE_SEP + m["lhs"] + sep2 + m["rhs"] + BPE_SEP),
                F.lit(BPE_SEP + m["lhs"] + m["rhs"] + BPE_SEP),
            )
        return s

    ok = F.filter(
        tokens(F.col("text")),
        lambda w: ~F.contains(w, F.lit(BPE_SEP)) & ~F.contains(w, F.lit(BPE_PSEP)),
    )
    n_sym = lambda w: F.size(  # noqa: E731 - small plan-side lambda
        F.split(F.substring(encode(w), 2, F.length(encode(w)) - 2), sep2)
    )
    sum_over = lambda arr, f: F.aggregate(  # noqa: E731
        arr, F.lit(0).cast("bigint"), lambda acc, w: acc + f(w).cast("bigint")
    )
    n_tok = sum_over(ok, n_sym)
    return docs.select(
        "doc_id",
        F.size(ok).cast("bigint").alias("n_words"),
        sum_over(ok, F.length).alias("n_char_symbols"),
        n_tok.alias("n_bpe_tokens"),
        F.when(
            n_tok > 0,
            F.round(
                sum_over(ok, F.length) / n_tok.cast("double"),
                4,
            ),
        ).alias("compression"),
    )


# ---------------------------------------------------------------------------
# trigram stupid-backoff LM (Brants et al. 2007, "Large Language Models
# in Machine Translation") — the n>2 generalization of
# quality_bigram_logprob, trained on a 90% split so the held-out 10%
# actually exercises the backoff chain
# ---------------------------------------------------------------------------

_TRIGRAM_ORACLE = f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    tr AS (SELECT doc_id, t FROM toks WHERE doc_id % 10 <> 0),
    g3 AS (SELECT doc_id,
                  unnest(CASE WHEN len(t) >= 3
                              THEN list_transform(range(len(t) - 2),
                                   i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])
                              ELSE CAST([] AS VARCHAR[]) END) AS g
           FROM toks),
    c3 AS (SELECT g, count(*) AS c FROM (
             SELECT unnest(CASE WHEN len(t) >= 3
                           THEN list_transform(range(len(t) - 2),
                                i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])
                           ELSE CAST([] AS VARCHAR[]) END) AS g FROM tr)
           GROUP BY g),
    c2 AS (SELECT g, count(*) AS c FROM (
             SELECT unnest(CASE WHEN len(t) >= 2
                           THEN list_transform(range(len(t) - 1),
                                i -> t[i+1] || ' ' || t[i+2])
                           ELSE CAST([] AS VARCHAR[]) END) AS g FROM tr)
           GROUP BY g),
    c1 AS (SELECT w, count(*) AS c
           FROM (SELECT unnest(t) AS w FROM tr) GROUP BY w),
    nv AS (SELECT (SELECT sum(len(t)) FROM tr) AS n,
                  (SELECT count(DISTINCT w)
                   FROM tr, unnest(tr.t) u(w)) AS v),
    gd AS (SELECT DISTINCT g, string_split(g, ' ')[1] AS w1,
                  string_split(g, ' ')[2] AS w2, string_split(g, ' ')[3] AS w3
           FROM g3),
    scored AS (
      SELECT gd.g,
             CAST(round(log2(CASE
               WHEN c3.c IS NOT NULL
                 THEN c3.c / CAST(c2a.c AS DOUBLE)
               WHEN c2b.c IS NOT NULL
                 THEN 0.4 * c2b.c / CAST(c1b.c AS DOUBLE)
               ELSE 0.16 * (COALESCE(c1c.c, 0) + 1) / CAST(nv.n + nv.v AS DOUBLE)
             END), 6) AS DECIMAL(18, 6)) AS lp
      FROM gd
        LEFT JOIN c3 ON c3.g = gd.g
        LEFT JOIN c2 c2a ON c2a.g = gd.w1 || ' ' || gd.w2
        LEFT JOIN c2 c2b ON c2b.g = gd.w2 || ' ' || gd.w3
        LEFT JOIN c1 c1b ON c1b.w = gd.w2
        LEFT JOIN c1 c1c ON c1c.w = gd.w3
        CROSS JOIN nv)
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_trigrams,
           -(((2 * p + 100 * n) // (200 * n)) / 10000.0) AS avg_log2s,
           round(pow(2, -(s / n)), 4) AS pseudo_perplexity
    FROM (SELECT g3.doc_id, count(*) AS n,
                 CAST(sum(scored.lp) AS DOUBLE) AS s,
                 CAST(-sum(scored.lp) * 1000000 AS BIGINT) AS p
          FROM g3 JOIN scored ON scored.g = g3.g
          GROUP BY g3.doc_id)
"""


@register("quality_trigram_backoff", oracle=_TRIGRAM_ORACLE)
def quality_trigram_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram stupid-backoff LM score (Brants et al. 2007): per doc,
    mean log2 S(w3|w1,w2) where S = c3/c2 when the trigram was seen in
    training, else 0.4·c2/c1 on the (w2,w3) bigram, else 0.4²·Laplace
    unigram — trained on the 90% of docs with doc_id % 10 != 0 and
    scored over ALL docs, so held-out docs genuinely walk the backoff
    chain (unlike scoring the training corpus, where c3 ≥ 1 always).

    Scale shape (same discipline as quality_bigram_logprob): the three
    count tables + the (N, V) scalar are Zipf-bounded aggregates; the
    backoff CASE is assembled stats-side over DISTINCT corpus trigrams,
    so corpus-sized rows shuffle exactly twice (onto the trigram key,
    back onto doc_id) and every stats join runs on bounded relations
    AQE can broadcast. At 100 TB the stats persist once; each new crawl
    scores map-side against the broadcast score table."""
    tune(spark)
    from backend_etl_spark.operators.dedup import doc_shingles, shingles

    docs = load_table(spark, sf_dir, "documents")
    train = docs.where(F.col("doc_id") % 10 != 0)
    tg = doc_shingles(docs, "doc_id", "text", n=3, distinct=False).select(
        "doc_id", F.col("shingle").alias("g")
    )
    from backend_etl_spark.functions.scalars import tokens

    # ONE tagged explode builds all three training count tables (r13,
    # guide §2.3/§2.4): the previous shape ran a separate
    # tokenize+explode+shuffle pass over the train corpus for trigrams,
    # bigrams AND unigrams, and lazy recompute re-ran the bigram pass
    # twice (g12/g23 joins), the unigram pass THREE times (c1b, c1c,
    # nv) — 6 corpus explodes in the static plan. Now the (order, gram)
    # occurrences ride a single explode into a single groupBy, the
    # bounded result is localCheckpointed (Zipf-bounded: |distinct
    # grams|, never corpus-sized), and every stats consumer reads those
    # blocks instead of re-scanning. (N, V) derives from the unigram
    # slice exactly: N = sum of unigram counts, V = row count.
    # Null-safety: all three gram arrays derive from the same
    # tokens(text) — they are null (and the doc contributes nothing)
    # only together, exactly as the three separate explodes behaved.
    def _tag(order: int, arr):
        return F.transform(
            arr,
            lambda g: F.struct(
                F.lit(order).cast("int").alias("o"), g.alias("g")
            ),
        )

    from backend_etl_spark.operators.partitioning import spread

    tagged = spread(train.select("doc_id", "text"), "doc_id").select(
        F.explode(
            F.concat(
                _tag(3, shingles(F.col("text"), 3)),
                _tag(2, shingles(F.col("text"), 2)),
                _tag(1, tokens(F.col("text"))),
            )
        ).alias("x")
    ).select(F.col("x.o").alias("o"), F.col("x.g").alias("g"))
    stats = (
        tagged.groupBy("o", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    c3 = stats.where(F.col("o") == 3).select("g", F.col("c").alias("c3"))
    c2 = stats.where(F.col("o") == 2).select("g", F.col("c").alias("c2"))
    c1 = stats.where(F.col("o") == 1).select(
        F.col("g").alias("w"), F.col("c").alias("c1")
    )
    nv = c1.agg(
        F.sum("c1").alias("n"), F.count(F.lit(1)).alias("v")
    )
    gd = tg.select("g").distinct().select(
        "g",
        F.split_part(F.col("g"), F.lit(" "), F.lit(1)).alias("w1"),
        F.split_part(F.col("g"), F.lit(" "), F.lit(2)).alias("w2"),
        F.split_part(F.col("g"), F.lit(" "), F.lit(3)).alias("w3"),
    )
    b12 = F.concat_ws(" ", F.col("w1"), F.col("w2"))
    b23 = F.concat_ws(" ", F.col("w2"), F.col("w3"))
    scored = (
        gd.join(c3, "g", "left")
        .join(c2.select(F.col("g").alias("g12"), F.col("c2").alias("c2a")),
              b12 == F.col("g12"), "left")
        .join(c2.select(F.col("g").alias("g23"), F.col("c2").alias("c2b")),
              b23 == F.col("g23"), "left")
        .join(c1.select(F.col("w").alias("wb"), F.col("c1").alias("c1b")),
              F.col("w2") == F.col("wb"), "left")
        .join(c1.select(F.col("w").alias("wc"), F.col("c1").alias("c1c")),
              F.col("w3") == F.col("wc"), "left")
        .crossJoin(F.broadcast(nv))
        .select(
            "g",
            # round to 6 dp and sum as exact DECIMAL so the per-doc mean
            # is independent of float summation order (engine-portable)
            F.round(
                F.log2(
                    F.when(
                        F.col("c3").isNotNull(),
                        F.col("c3") / F.col("c2a").cast("double"),
                    )
                    .when(
                        F.col("c2b").isNotNull(),
                        0.4 * F.col("c2b") / F.col("c1b").cast("double"),
                    )
                    .otherwise(
                        0.16
                        * (F.coalesce(F.col("c1c"), F.lit(0)) + 1)
                        / (F.col("n") + F.col("v")).cast("double")
                    )
                ),
                6,
            ).cast("decimal(18,6)").alias("lp"),
        )
    )
    # broadcast the MODEL side explicitly (see quality_bigram_logprob:
    # AQE at sf1 broadcast the 2.6M-row corpus trigram relation instead
    # of the V^3-bounded score table, 29791 rows there) — the backoff
    # score table is the capped LM artifact, shipped map-side.
    per_doc = (
        tg.join(F.broadcast(scored), "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_trigrams"),
            F.sum("lp").cast("double").alias("s"),
            (-F.sum("lp") * 1_000_000).cast("long").alias("p"),
        )
    )
    mean = F.col("s") / F.col("n_trigrams")
    # integer-exact 4-dp mean (see quality_bigram_logprob — the same
    # round(s/n, 4) midpoint split, observed 1/50k docs at sf1)
    q = F.expr("(2 * p + 100 * n_trigrams) div (200 * n_trigrams)")
    return per_doc.select(
        "doc_id",
        "n_trigrams",
        (-(q / F.lit(10000.0))).alias("avg_log2s"),
        F.round(F.pow(F.lit(2.0), -mean), 4).alias("pseudo_perplexity"),
    )


# ---------------------------------------------------------------------------
# Persisted IVF-PQ: train-once / search-many (r4 verdict item 5) — the
# FAISS production discipline as layout at rest (operators/ann_index.py)
# ---------------------------------------------------------------------------


def _persisted_ivfpq(spark: SparkSession, sf_dir: str) -> str:
    """Build (or reuse — cached per process) the persisted IVF-PQ index
    for this sf_dir's embeddings table, staged under a directory named
    for the table's file identity (a different or rewritten table gets
    its own)."""
    from backend_etl_spark.operators import ann_index
    from backend_etl_spark.sources.loader import input_digest, staging_dir

    emb = load_table(spark, sf_dir, "embeddings")
    path = staging_dir("ivfpq", input_digest(emb))
    return ann_index.build_ivfpq_index(
        emb, path, _KM_K, _KM_ITERS, _PQ_K, _PQ_ITERS, _PQ_DIM
    )


@register(
    "knn_ivfpq_build_persisted",
    oracle=f"""
    WITH {_kmeans_cte()},
    {_pq_cte("s0_", 1, _PQ_HALF)},
    {_pq_cte("s1_", _PQ_HALF + 1, _PQ_DIM)},
    codes AS (
      SELECT a.vec_id, a.cluster AS code0, b.cluster AS code1
      FROM s0_a{_PQ_ITERS - 1} a JOIN s1_a{_PQ_ITERS - 1} b USING (vec_id))
    SELECT CAST(cr.cluster AS INT) AS cluster,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(x.code0) AS BIGINT) AS sum_code0,
           CAST(sum(x.code1) AS BIGINT) AS sum_code1
    FROM {_KM_FINAL} cr JOIN codes x USING (vec_id)
    GROUP BY cr.cluster
    """,
)
def knn_ivfpq_build_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ index BUILD, persisted: 3 k-means fits (coarse + 2 PQ
    subspaces), every vector encoded to (cluster, code0, code1), written
    as hive-partitioned inverted lists + a centroid table
    (operators/ann_index.py). Returns the per-list summary so the whole
    encoded index is value-attested against the oracle's recomputation.
    The build runs ONCE per process — bench shows search ≪ build because
    knn_ivfpq_search_persisted reuses this entry's artifacts."""
    tune(spark)
    from backend_etl_spark.operators import ann_index

    path = _persisted_ivfpq(spark, sf_dir)
    return (
        ann_index.load_lists(spark, path)
        .groupBy(F.col("cluster").cast("int").alias("cluster"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.sum("code0").cast("bigint").alias("sum_code0"),
            F.sum("code1").cast("bigint").alias("sum_code1"),
        )
    )


@register("knn_ivfpq_search_persisted", oracle=None)  # shares knn_ivfpq_adc's
def knn_ivfpq_search_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ SEARCH over the persisted index — no k-means fit anywhere
    on this path: the coarse centroids + PQ codebooks are a tiny parquet
    read (driver-side, k×dim doubles), queries multi-probe their 2
    nearest lists, and the candidate scan is an equi-join against the
    cluster-PARTITIONED lists — so Spark's dynamic partition pruning
    skips unprobed list directories at the scan (plan-asserted). ADC
    scoring is two map lookups + an add per candidate. Results are
    bit-identical to knn_ivfpq_adc (doubles round-trip parquet exactly),
    so this entry shares its oracle — proving the train-once/search-many
    split loses nothing."""
    tune(spark)
    from backend_etl_spark.operators import ann_index

    path = _persisted_ivfpq(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    _, top3 = ann_index.search(
        ann_index.load_lists(spark, path),
        emb.where(F.col("vec_id") < 5),
        ann_index.load_centroids(spark, path),
        _PQ_DIM,
    )
    return top3


_REG2["knn_ivfpq_search_persisted"].oracle = _REG2["knn_ivfpq_adc"].oracle
