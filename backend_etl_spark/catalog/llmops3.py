"""Training-data-pipeline operator catalog, tier 3 (round 5): corpus
mixture allocation (UniMax), importance resampling weights (DSIR),
streaming maintenance of the persisted ANN index, cosine range search,
semantic benchmark decontamination, the keep-best dedup policy,
exact-substring span dedup (detect + cut), and the hashed linear
quality classifier.

All public-literature recipes (Chung et al. 2023 UniMax; Xie et al.
2023 DSIR; Jégou et al. 2011 IVF-PQ / range_search; Lee et al. 2022
ExactSubstr; Joulin et al. 2016 fastText), expressed DataFrame-first
with DuckDB-replayable oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from backend_etl_spark.catalog.llmops import _TOKS
from backend_etl_spark.catalog.registry import register
from backend_etl_spark.session import tune
from backend_etl_spark.sources.loader import load_table
from backend_etl_spark.streaming import drain_conf

_UNIMAX_BUDGET_FRAC = 0.5  # sample budget = half the corpus tokens
_UNIMAX_MAX_EPOCHS = 2.0  # no source repeats more than twice


def unimax_alloc(
    counts: list[tuple[str, int]],
    budget_frac: float = _UNIMAX_BUDGET_FRAC,
    max_epochs: float = _UNIMAX_MAX_EPOCHS,
) -> list[tuple[str, int, float, float]]:
    """The UniMax recurrence (ascending-size fair share with an epoch
    cap): returns (source, ntok, alloc_tokens, epochs) per source.
    Sequential in the number of sources only; property-tested for cap
    respect + budget conservation in tests/test_llmops2.py."""
    rows = sorted(counts, key=lambda r: (r[1], r[0]))
    remaining = budget_frac * sum(n for _, n in rows)
    k = len(rows)
    out = []
    for i, (source, ntok) in enumerate(rows):
        a = min(remaining / (k - i), max_epochs * ntok)
        remaining -= a
        out.append((source, int(ntok), a, a / ntok))
    return out


@register(
    "curation_unimax_mixture",
    oracle=f"""
    WITH RECURSIVE
    t AS (SELECT source, CAST(sum(len({_TOKS})) AS BIGINT) AS ntok
          FROM documents GROUP BY source),
    tot AS (SELECT CAST(sum(ntok) AS BIGINT) AS total,
                   CAST(count(*) AS BIGINT) AS k FROM t),
    ord AS (SELECT source, ntok,
                   row_number() OVER (ORDER BY ntok, source) AS i
            FROM t),
    alloc AS (
      -- e0 literals: a bare 0.5/2.0 is a DECIMAL in DuckDB and would
      -- run the whole recurrence in step-rounded DECIMAL arithmetic,
      -- diverging from the engine's double-precision loop
      SELECT CAST(0 AS BIGINT) AS i, CAST(NULL AS VARCHAR) AS source,
             CAST(NULL AS BIGINT) AS ntok, CAST(NULL AS DOUBLE) AS a,
             (SELECT {_UNIMAX_BUDGET_FRAC}e0 * total FROM tot) AS remaining
      UNION ALL
      SELECT o.i, o.source, o.ntok,
             least(al.remaining / ((SELECT k FROM tot) - al.i),
                   {_UNIMAX_MAX_EPOCHS}e0 * o.ntok),
             al.remaining
               - least(al.remaining / ((SELECT k FROM tot) - al.i),
                       {_UNIMAX_MAX_EPOCHS}e0 * o.ntok)
      FROM alloc al JOIN ord o ON o.i = al.i + 1)
    SELECT source, ntok,
           round(a, 4)        AS alloc_tokens,
           round(a / ntok, 6) AS epochs
    FROM alloc WHERE i > 0
    """,
)
def curation_unimax_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax mixture allocation (Chung et al. 2023): distribute a token
    budget (half the corpus) across sources so no source repeats more
    than MAX_EPOCHS times — process sources by ascending size, give each
    min(fair-share of the remaining budget, epoch cap), and roll the
    unused allowance of capped (small) sources into the fair share of
    the rest. The language-balanced alternative to proportional
    sampling: big sources no longer drown small ones, small ones never
    overfit past the epoch cap.

    Scale shape: the per-source token counts are ONE distributed
    aggregate over the corpus; the allocation recurrence itself is
    sequential in the number of SOURCES — a dimension-sized (k ≈ dozens
    at 100 TB) driver loop, the same discipline as the k-row centroid
    collects (clustering.py) and the control-dim sets
    (feed_pipeline.py). The oracle replays the recurrence as a
    RECURSIVE CTE; both sides do the identical double-precision op
    sequence off exact BIGINT token counts, so the rounded outputs
    hash-match."""
    tune(spark)
    from backend_etl_spark.functions.scalars import tokens

    docs = load_table(spark, sf_dir, "documents")
    per_source = (
        docs.groupBy("source")
        .agg(F.sum(F.size(tokens(F.col("text")))).cast("bigint").alias("ntok"))
        .collect()
    )
    out = unimax_alloc([(r["source"], r["ntok"]) for r in per_source])
    return spark.createDataFrame(
        out, "source string, ntok bigint, a double, epochs double"
    ).select(
        "source",
        "ntok",
        F.round("a", 4).alias("alloc_tokens"),
        F.round("epochs", 6).alias("epochs"),
    )


_DSIR_TARGET = "src0"  # the high-quality slice the sampler steers toward


@register(
    "corpus_dsir_weights",
    oracle=f"""
    WITH toks AS (SELECT doc_id, source, unnest({_TOKS}) AS w FROM documents),
    tgt AS (SELECT w, count(*) AS ct FROM toks
            WHERE source = '{_DSIR_TARGET}' GROUP BY w),
    raw AS (SELECT w, count(*) AS cr FROM toks
            WHERE source <> '{_DSIR_TARGET}' GROUP BY w),
    tots AS (SELECT
               (SELECT count(*) FROM toks WHERE source = '{_DSIR_TARGET}')
                 AS tt,
               (SELECT count(*) FROM toks WHERE source <> '{_DSIR_TARGET}')
                 AS tr,
               (SELECT count(DISTINCT w) FROM toks) AS v),
    stats AS (
      SELECT coalesce(tgt.w, raw.w) AS w,
             CAST(round(
               log2((coalesce(tgt.ct, 0) + 1) / CAST(tt + v AS DOUBLE))
               - log2((coalesce(raw.cr, 0) + 1) / CAST(tr + v AS DOUBLE)),
               6) AS DECIMAL(18, 6)) AS lr
      FROM tgt FULL OUTER JOIN raw ON raw.w = tgt.w CROSS JOIN tots)
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT)          AS n_tokens,
           CAST(sum(s.lr) AS DOUBLE)         AS dsir_log2w
    FROM toks t JOIN stats s ON s.w = t.w
    WHERE t.source <> '{_DSIR_TARGET}'
    GROUP BY t.doc_id
    """,
)
def corpus_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, Data Selection via
    Importance Resampling): score every raw document by how target-like
    it is under two smoothed unigram LMs — log2 w(x) = Σ_w count_w(x) ·
    (log2 p_target(w) − log2 p_raw(w)), Laplace smoothing over the
    shared vocabulary. Resampling ∝ w(x) steers a generic crawl toward
    the target domain; the weights here feed the A-Res sampler
    (curation_weighted_sample) unchanged.

    Scale shape: identical to quality_bigram_logprob — the two LMs are
    Zipf-bounded word aggregates; the per-word log-ratio is assembled
    stats-side; corpus tokens shuffle exactly twice (onto the word key
    for the stats join, back onto doc_id for the rollup). Ratios are
    rounded to 6 dp and summed as exact DECIMAL so the per-doc weight is
    independent of float summation order (engine-portable at any SF)."""
    tune(spark)
    from backend_etl_spark.functions.scalars import tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "source", F.explode(tokens(F.col("text"))).alias("w")
    )
    tgt_toks = toks.where(F.col("source") == _DSIR_TARGET)
    raw_toks = toks.where(F.col("source") != _DSIR_TARGET)
    tgt = tgt_toks.groupBy("w").agg(F.count(F.lit(1)).alias("ct"))
    raw = raw_toks.groupBy("w").agg(F.count(F.lit(1)).alias("cr"))
    tots = (
        toks.agg(
            F.sum(F.when(F.col("source") == _DSIR_TARGET, 1).otherwise(0)).alias("tt"),
            F.sum(F.when(F.col("source") != _DSIR_TARGET, 1).otherwise(0)).alias("tr"),
            F.count_distinct("w").alias("v"),
        )
    )
    lr = F.round(
        F.log2((F.coalesce(F.col("ct"), F.lit(0)) + 1) / (F.col("tt") + F.col("v")).cast("double"))
        - F.log2((F.coalesce(F.col("cr"), F.lit(0)) + 1) / (F.col("tr") + F.col("v")).cast("double")),
        6,
    ).cast("decimal(18,6)")
    stats = (
        tgt.join(raw, "w", "full_outer")
        .crossJoin(F.broadcast(tots))
        .select("w", lr.alias("lr"))
    )
    return (
        raw_toks.join(stats, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            # the DECIMAL sum is exact on both engines; emit it as an
            # unrounded double (decimal->double is deterministic) — a
            # 4-dp re-round would hit exact-half ...50 cases where Java
            # (BigDecimal half-up via shortest string) and DuckDB
            # (multiply+nearbyint) disagree
            F.sum("lr").cast("double").alias("dsir_log2w"),
        )
    )


# ---------------------------------------------------------------------------
# Streaming maintenance of the persisted IVF-PQ index: train once on the
# base corpus, encode arriving vectors per micro-batch with the FROZEN
# quantizers, append through the idempotent sink — index freshness
# without retraining (the FAISS add() discipline, incrementally).
# ---------------------------------------------------------------------------

from backend_etl_spark.catalog.llmops2 import (  # noqa: E402
    _KM_ITERS,
    _KM_K,
    _kmeans_cte,
    _PQ_DIM,
    _PQ_HALF,
    _PQ_ITERS,
    _PQ_K,
    _pq_cte,
)

_BASE_REL = "(SELECT * FROM embeddings WHERE vec_id % 10 < 8)"


def _assign_all_cte(prefix: str, cfinal: str, lo: int = 0, hi: int = 0) -> str:
    """Assign EVERY vector (not just the training slice) to the frozen
    centroids ``cfinal`` — the oracle's mirror of encode-with-frozen-
    quantizers. lo/hi > 0 slice a PQ subspace."""
    v = (
        f"CAST(embedding AS DOUBLE[])[{lo}:{hi}]"
        if lo
        else "CAST(embedding AS DOUBLE[])"
    )
    p = prefix
    return f"""
    {p}alle AS (SELECT vec_id, {v} AS v FROM embeddings),
    {p}dall AS (
      SELECT e.vec_id, c.cid,
             round(list_reduce(list_transform(range(len(e.v)),
                   j -> (e.v[j+1] - c.cv[j+1]) * (e.v[j+1] - c.cv[j+1])),
                   (x, y) -> x + y), 6) AS dd
      FROM {p}alle e, {cfinal} c),
    {p}aall AS (
      SELECT vec_id, cid AS cluster
      FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY dd, cid) AS rn
            FROM {p}dall)
      WHERE rn = 1)"""


@register(
    "streaming_ivfpq_index_append",
    oracle=f"""
    WITH {_kmeans_cte(src=_BASE_REL)},
    {_pq_cte("s0_", 1, _PQ_HALF, src=_BASE_REL)},
    {_pq_cte("s1_", _PQ_HALF + 1, _PQ_DIM, src=_BASE_REL)},
    {_assign_all_cte("g_", f"c{_KM_ITERS - 1}")},
    {_assign_all_cte("q0_", f"s0_c{_PQ_ITERS - 1}", 1, _PQ_HALF)},
    {_assign_all_cte("q1_", f"s1_c{_PQ_ITERS - 1}", _PQ_HALF + 1, _PQ_DIM)},
    codes AS (
      SELECT a0.vec_id, a0.cluster AS code0, a1.cluster AS code1
      FROM q0_aall a0 JOIN q1_aall a1 USING (vec_id))
    SELECT CAST(g.cluster AS INT) AS cluster,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(x.code0) AS BIGINT) AS sum_code0,
           CAST(sum(x.code1) AS BIGINT) AS sum_code1
    FROM g_aall g JOIN codes x USING (vec_id)
    GROUP BY g.cluster
    """,
)
def streaming_ivfpq_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL index maintenance for the persisted IVF-PQ layout:
    quantizers (coarse + 2 PQ codebooks) are trained ONCE on the base
    80% of the corpus and frozen; the remaining 20% arrives as a
    multi-batch availableNow file stream — with its first 40 vectors
    redelivered, the overlap re-scrape shape — and every micro-batch is
    ENCODED map-side against the frozen centroids inside foreachBatch,
    then appended to the cluster-partitioned lists through the
    idempotent natural-key sink (W5: redelivery lands zero duplicate
    rows). The final per-list summary must hash-match the ORACLE's
    one-shot encode of the full corpus under base-trained quantizers —
    proving streaming append ≡ batch rebuild, which is what lets a
    100 TB/day embedding feed keep its ANN index fresh without ever
    retraining or re-encoding history (the FAISS add() discipline).

    Scale shape: per batch, encode is map-only (frozen centroids);
    the append's anti-join probes only the vec_id key column of the
    existing lists. Nothing driver-side but the k×dim centroid pulls
    at train time."""
    tune(spark)
    from backend_etl_spark import sink
    from backend_etl_spark.operators import ann_index
    from backend_etl_spark.sources.loader import scratch_dir

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.where(F.col("vec_id") % 10 < 8)
    inc = emb.where(F.col("vec_id") % 10 >= 8)

    # ONE train for all three quantizers (coarse + 2 PQ codebooks,
    # per-tag k/iters): a size job, then every Lloyd round of the three
    # fits in one grouped-map job. The base slice's ids are not dense
    # (vec_id % 10 < 8); seeds stride on id values, as the oracle does.
    # Every batch is encoded against these frozen quantizers by the one
    # Arrow-batched 3-quantizer kernel (ann_index.encode); centroids ride
    # the UDF closure, nothing driver-side per row.
    quantizers = ann_index.train(base, _PQ_DIM, _PQ_K, _PQ_ITERS, _KM_K, _KM_ITERS)

    base_dir = scratch_dir("ivfpq-append")
    src, lists, ckpt = f"{base_dir}/src", f"{base_dir}/lists", f"{base_dir}/ckpt"
    # the initial build: base corpus encoded and persisted once —
    # assume_unique (vec_id is the source table's key, so the bulk load
    # needs no intra-batch dedup shuffle), and one writer per cluster so
    # the layout starts at one file per list (every later batch's
    # anti-join scans the lists table; small files are pure tax)
    sink.write_idempotent(
        ann_index.lists(base, quantizers, _PQ_DIM).repartition("cluster"),
        lists,
        ["vec_id"],
        partition_cols=["cluster"],
        assume_unique=True,
    )
    # incoming vectors as a multi-file stream with the first 40 redelivered;
    # 2 files + the redelivery file at 2 files/trigger = 2 real micro-batches
    # (multi-batch + at-least-once properties intact at half the per-batch
    # fixed cost — each batch pays an anti-join probe of the lists table).
    # repartition (not coalesce): exactly 2 files regardless of the
    # scan's split count, so the 2-real-micro-batch shape is guaranteed
    inc.repartition(2).write.mode("overwrite").parquet(src)
    inc.orderBy("vec_id").limit(40).write.mode("append").parquet(src)

    def _append(batch: DataFrame, batch_id: int) -> None:
        sink.write_idempotent(
            ann_index.lists(batch, quantizers, _PQ_DIM),
            lists,
            ["vec_id"],
            partition_cols=["cluster"],
        )

    with drain_conf(spark):
        (
            spark.readStream.schema("vec_id BIGINT, embedding ARRAY<FLOAT>, label INT")
            .option("maxFilesPerTrigger", 2)
            .parquet(src)
            .writeStream.foreachBatch(_append)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    return (
        spark.read.parquet(lists)
        .groupBy(F.col("cluster").cast("int").alias("cluster"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.sum("code0").cast("bigint").alias("sum_code0"),
            F.sum("code1").cast("bigint").alias("sum_code1"),
        )
    )


_RANGE_THRESHOLD = 0.2


@register(
    "knn_cosine_range_search",
    oracle=f"""
    WITH e AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5)
    SELECT query_id, e.vec_id AS neighbor_id,
           round(list_dot_product(qv, v) /
                 (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))),
                 6) AS cosine_sim
    FROM q, e
    WHERE e.vec_id != query_id
      AND round(list_dot_product(qv, v) /
                (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))),
                6) >= {_RANGE_THRESHOLD}
    """,
)
def knn_cosine_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range search (FAISS range_search shape): every corpus vector
    within cosine radius >= 0.2 of each query — the top-k-free exact-ANN
    primitive for duplicate-radius audits. Plan is one broadcast of the
    query set and one map-only filtered corpus pass: no window, no
    per-query state, no shuffle beyond the broadcast — strictly cheaper
    than top-k at any scale, and the output size is the data's, not k's.
    """
    tune(spark)
    from backend_etl_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.range_search(
        emb, emb.where(F.col("vec_id") < 5), _RANGE_THRESHOLD
    )


# ---------------------------------------------------------------------------
# Decontamination #2: semantic (embedding-space) — the complement of the
# n-gram overlap entry; and the keep-BEST dedup policy (production picks
# the longest/highest-quality member, not the smallest id).
# ---------------------------------------------------------------------------

_SEM_DECONTAM_TAU = 0.25


@register(
    "decontam_semantic",
    oracle=f"""
    WITH e AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    ev AS (SELECT vec_id AS eval_id, v AS qv FROM e WHERE vec_id < 10),
    hits AS (
      SELECT e.vec_id AS doc_id, eval_id,
             round(list_dot_product(qv, v) /
                   (sqrt(list_dot_product(qv, qv))
                    * sqrt(list_dot_product(v, v))), 6) AS cosine
      FROM ev, e WHERE e.vec_id >= 10)
    SELECT doc_id, eval_id AS closest_eval_id, cosine
    FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                       ORDER BY cosine DESC, eval_id) AS rn
          FROM hits WHERE cosine >= {_SEM_DECONTAM_TAU})
    WHERE rn = 1
    """,
)
def decontam_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC benchmark decontamination — the embedding-space
    complement of decontam_ngram_overlap (paraphrased eval leakage that
    shares no 4-grams still sits next to the eval point in embedding
    space): every corpus doc within cosine >= 0.25 of ANY eval
    embedding (eval set = ids < 10) is reported as contaminated, with
    its closest eval item as evidence. The drop list a production
    pipeline anti-joins against (the Gemini/Llama report recipe).

    Scale shape: eval set broadcasts (it is benchmark-sized by
    definition); the corpus pass is map-only filter + one per-doc
    window over the ≤|eval| surviving hits — no corpus-corpus pair ever
    forms."""
    tune(spark)
    from backend_etl_spark.operators import similarity
    from pyspark.sql.window import Window

    emb = load_table(spark, sf_dir, "embeddings")
    hits = similarity.range_search(
        emb.where(F.col("vec_id") >= 10),
        emb.where(F.col("vec_id") < 10),
        _SEM_DECONTAM_TAU,
    ).select(
        F.col("neighbor_id").alias("doc_id"),
        F.col("query_id").alias("eval_id"),
        F.col("cosine_sim").alias("cosine"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("cosine").desc(), "eval_id")
    return (
        hits.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", F.col("eval_id").alias("closest_eval_id"), "cosine")
    )


from backend_etl_spark.catalog.llmops import _BANDS_CTE  # noqa: E402


@register(
    "dedup_keep_best_in_cluster",
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
      SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node),
    comp AS (SELECT node AS doc_id, min(label) AS cluster_id
             FROM reach GROUP BY node),
    sel AS (
      SELECT c.cluster_id, d.doc_id, d.n_chars,
             row_number() OVER (PARTITION BY c.cluster_id
                                ORDER BY d.n_chars DESC, d.doc_id) AS rn,
             count(*) OVER (PARTITION BY c.cluster_id) AS n_members
      FROM comp c JOIN documents d USING (doc_id))
    SELECT cluster_id,
           doc_id                   AS kept_doc_id,
           CAST(n_chars AS BIGINT)  AS kept_n_chars,
           CAST(n_members AS BIGINT) AS n_members
    FROM sel WHERE rn = 1
    """,
)
def dedup_keep_best_in_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-BEST dedup policy: near-dup clusters from the LSH candidate
    graph (same components as dedup_cluster_components), but the
    survivor is the cluster's LONGEST document (tie → smallest id), not
    the smallest id — what production pipelines actually keep (the
    richest copy of boilerplate-wrapped content). Emits one row per
    cluster with the kept doc and member count; the drop set is every
    other member.

    Scale shape: components over LSH bucket stars (≤ bands × docs
    edges, no band self-join), seeded by a per-partition union-find and
    finished by min-label propagation (1 equi-join/round; one no-change
    round when the seed is exact); the policy itself is one per-cluster
    window — partitioned, never global."""
    tune(spark)
    from backend_etl_spark.operators import dedup
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(docs, "doc_id", "text")
    edges = dedup.lsh_bucket_edges(sigs, "doc_id")
    comp = dedup.cluster_components(edges, docs.select("doc_id"), "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    return (
        comp.join(docs.select("doc_id", "n_chars"), "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .withColumn("n_members", F.count(F.lit(1)).over(Window.partitionBy("cluster_id")))
        .where(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("kept_doc_id"),
            F.col("n_chars").cast("bigint").alias("kept_n_chars"),
            F.col("n_members").cast("bigint").alias("n_members"),
        )
    )


# ---------------------------------------------------------------------------
# Exact-substring span dedup (Lee et al. 2022) and the fastText-style
# hashed linear quality classifier (Joulin et al. 2016) — the two
# remaining public training-data-pipeline stages: span-level cutting
# (vs doc-level dropping) and cheap model-based filtering.
# ---------------------------------------------------------------------------

_SPAN_K = 8

#: shared CTE chain: positional k-grams → duplicated grams → per-doc
#: gaps-and-islands merge. Used by both the span DETECTION oracle and
#: the span CUT oracle below.
_SPAN_CTES = f"""
    toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    pos AS (SELECT doc_id, t,
                   unnest(range(len(t) - {_SPAN_K} + 1)) AS pos
            FROM toks WHERE len(t) >= {_SPAN_K}),
    grams AS (SELECT doc_id, pos,
                     array_to_string(t[pos + 1 : pos + {_SPAN_K}], ' ') AS gram
              FROM pos),
    dup AS (SELECT gram FROM grams GROUP BY gram HAVING count(*) >= 2),
    hits AS (SELECT doc_id, CAST(g.pos AS BIGINT) AS s,
                    CAST(g.pos + {_SPAN_K} - 1 AS BIGINT) AS e
             FROM grams g JOIN dup USING (gram)),
    flagged AS (
      SELECT doc_id, s, e,
             CASE WHEN max(e) OVER (PARTITION BY doc_id ORDER BY s
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  IS NULL
                  OR s > max(e) OVER (PARTITION BY doc_id ORDER BY s
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             THEN 1 ELSE 0 END AS ni
      FROM hits),
    isl AS (SELECT *, sum(ni) OVER (PARTITION BY doc_id ORDER BY s
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS island
            FROM flagged)"""


@register(
    "dedup_substring_spans",
    oracle=f"""
    WITH {_SPAN_CTES}
    SELECT doc_id,
           CAST(min(s) AS BIGINT) AS span_start,
           CAST(max(e) AS BIGINT) AS span_end
    FROM isl GROUP BY doc_id, island
    """,
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplicate spans (Lee et al. 2022, ExactSubstr):
    the maximal token intervals of each document covered by an
    8-token gram that occurs >= 2 times anywhere in the corpus —
    the spans Lee et al. CUT (instead of dropping whole documents),
    detected with positional k-grams instead of a suffix array: every
    duplicated substring of length >= k is covered by its duplicated
    k-grams, so recall over >= k matches is exact, and the suffix
    array's global sort is replaced by ONE groupBy on the gram key +
    an equi-join back — linear, bounded-width shuffles
    (operators/dedup.py:duplicate_substring_spans). Span merging is a
    per-doc gaps-and-islands window — partitioned, never global.

    The complement of dedup_passage_windows (paragraph hashes at fixed
    stride): this finds duplication at ANY offset, the property the
    suffix-array method is prized for."""
    tune(spark)
    from backend_etl_spark.operators import dedup

    docs = load_table(spark, sf_dir, "documents")
    return dedup.duplicate_substring_spans(docs, "doc_id", "text", k=_SPAN_K)


from backend_etl_spark.operators.textops import QCLF_BUCKETS  # noqa: E402


@register(
    "quality_linear_classifier",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    scored AS (
      SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
             list_reduce(list_transform(t, w ->
               ((('0x' || substr(md5('qclf#' || w), 1, 8))::BIGINT
                 % {QCLF_BUCKETS}) * 37 + 11) % 21 - 10),
               (a, b) -> a + b) AS wsum
      FROM toks WHERE len(t) > 0)
    SELECT doc_id, n_tokens,
           -- floor-quantization instead of round(): round() rounds the
           -- decimal SHORTEST-STRING half-up in Spark but the binary
           -- double in DuckDB, and wsum/(10n) can land EXACTLY on a
           -- 7th-digit-5 midpoint (n=64, wsum=41 -> 0.0640625), where
           -- the two modes split. floor/(+0.5) uses only correctly-
           -- rounded IEEE ops, so identical inputs give identical bits
           floor(wsum * 100000.0 / n_tokens + 0.5) / 1e6 AS quality_logit,
           round(1.0 / (1.0 + exp(-(floor(wsum * 100000.0 / n_tokens + 0.5)
                                    / 1e6))), 4)
             AS quality_score,
           wsum >= 0 AS keep
    FROM scored
    """,
)
def quality_linear_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering, the cheap linear tier (CCNet /
    Llama recipe; Joulin et al. 2016 fastText): tokens hash into 64
    weight buckets (hashing trick — md5-derived so the oracle replays
    the buckets exactly), the doc logit is the mean token weight, and
    keep = logit >= 0, decided on the exact integer weight sum so the
    boolean can never float-diverge. The weight table is a fixed
    deterministic stand-in (integer tenths) — swapping in trained
    fastText weights changes one literal expression, none of the
    plumbing.

    Scale shape: ZERO shuffles — the whole classifier is one
    whole-stage-codegen map pass (array fold via ``aggregate``, no
    explode, no UDF); at 100 TB it costs a corpus scan, which is why
    production pipelines run the linear gate before anything heavier
    (operators/textops.py:hashed_linear_quality)."""
    tune(spark)
    from backend_etl_spark.operators.textops import hashed_linear_quality

    docs = load_table(spark, sf_dir, "documents")
    return hashed_linear_quality(docs, "doc_id", "text")


@register(
    "dedup_substring_cut",
    oracle=f"""
    WITH {_SPAN_CTES},
    spans AS (SELECT doc_id, min(s) AS ss, max(e) AS se
              FROM isl GROUP BY doc_id, island),
    posx AS (SELECT doc_id, t, unnest(range(len(t))) AS i FROM toks),
    cutpos AS (SELECT DISTINCT p.doc_id, p.i
               FROM posx p JOIN spans s
                 ON s.doc_id = p.doc_id AND p.i BETWEEN s.ss AND s.se),
    keptp AS (SELECT p.doc_id, p.i, p.t[p.i + 1] AS w
              FROM posx p ANTI JOIN cutpos c
                ON c.doc_id = p.doc_id AND c.i = p.i),
    clean AS (SELECT doc_id, count(*) AS n_kept,
                     string_agg(w, ' ' ORDER BY i) AS ct
              FROM keptp GROUP BY doc_id)
    SELECT t.doc_id,
           CAST(len(t.t) AS BIGINT)                        AS n_tokens,
           CAST(len(t.t) - coalesce(c.n_kept, 0) AS BIGINT) AS tokens_removed,
           coalesce(c.ct, '')                               AS clean_text
    FROM toks t LEFT JOIN clean c USING (doc_id)
    """,
)
def dedup_substring_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY step of exact-substring dedup (Lee et al. 2022): CUT
    the duplicated spans out of every document instead of dropping the
    document — dedup_substring_spans finds the maximal duplicated
    intervals, this entry removes exactly those token positions and
    re-joins the survivors, reporting per-doc before/after token counts
    and the cleaned text. Span cutting is what Lee et al. actually ship:
    it keeps the unique remainder of boilerplate-wrapped documents that
    doc-level dropping would lose.

    Scale shape: detection cost is dedup_substring_spans; the apply adds
    ONE groupBy of spans onto the doc key, a left join back, and a
    map-only positional array filter (exists over the doc's own merged
    span list — spans per doc are few because overlaps were merged).
    The oracle replays the cut as a positional anti-join
    (operators/dedup.py:cut_substring_spans)."""
    tune(spark)
    from backend_etl_spark.operators import dedup

    docs = load_table(spark, sf_dir, "documents")
    return dedup.cut_substring_spans(docs, "doc_id", "text", k=_SPAN_K)


@register(
    "cdc_snapshot_diff",
    oracle="""
    WITH old AS (SELECT doc_id, md5(text) AS h
                 FROM documents WHERE doc_id % 10 < 8),
    new AS (SELECT doc_id,
                   md5(CASE WHEN doc_id % 7 = 0 THEN text || ' [rev2]'
                            ELSE text END) AS h
            FROM documents WHERE doc_id % 10 >= 2)
    SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
           CASE WHEN o.doc_id IS NULL THEN 'added'
                WHEN n.doc_id IS NULL THEN 'removed'
                WHEN o.h <> n.h THEN 'changed'
                ELSE 'unchanged' END AS change_type
    FROM old o FULL OUTER JOIN new n ON n.doc_id = o.doc_id
    """,
)
def cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot CDC classification between two crawls of the same
    corpus: FULL OUTER join on the document key, rows classified
    added / removed / changed / unchanged by comparing content hashes —
    the change-data-capture primitive behind incremental re-processing
    (only 'added' + 'changed' docs re-enter the dedup/quality/index
    stages; 'removed' emits tombstones). Snapshots are carved
    deterministically from the static table (old = id%10<8,
    new = id%10>=2 with every 7th doc's text revised) so the diff has
    all four classes.

    Scale shape: one equi-join on the doc key — hashes are computed
    map-side in the same scan, so the shuffle carries (id, 16-byte md5)
    pairs, never text; at 100 TB both snapshots would be bucketed on
    doc_id by the ingest writer (write_bucketed, sources/loader.py)
    making the diff zero-Exchange like bucketed_sessionize_events."""
    tune(spark)
    docs = load_table(spark, sf_dir, "documents")
    old = docs.where(F.col("doc_id") % 10 < 8).select(
        "doc_id", F.md5(F.col("text")).alias("h")
    )
    new = docs.where(F.col("doc_id") % 10 >= 2).select(
        "doc_id",
        F.md5(
            F.when(
                F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" [rev2]"))
            ).otherwise(F.col("text"))
        ).alias("h"),
    )
    o, n = old.alias("o"), new.alias("n")
    return o.join(n, F.col("o.doc_id") == F.col("n.doc_id"), "full_outer").select(
        F.coalesce(F.col("o.doc_id"), F.col("n.doc_id")).alias("doc_id"),
        F.when(F.col("o.doc_id").isNull(), "added")
        .when(F.col("n.doc_id").isNull(), "removed")
        .when(F.col("o.h") != F.col("n.h"), "changed")
        .otherwise("unchanged")
        .alias("change_type"),
    )


# ---------------------------------------------------------------------------
# BM25 ranking (Robertson-Sparck Jones; Lucene's non-negative IDF variant)
# ---------------------------------------------------------------------------

_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_QUERY = ("hash", "join", "spark")

_BM25_ORACLE = f"""
    WITH q AS (SELECT unnest({list(_BM25_QUERY)}) AS term),
    toks AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
    dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
    stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                     (SELECT avg(dl) FROM dl) AS avgdl
              FROM documents),
    tf AS (SELECT t.doc_id, t.term, count(*) AS tf
           FROM toks t JOIN q USING (term) GROUP BY t.doc_id, t.term),
    dfreq AS (SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
              FROM toks JOIN q USING (term) GROUP BY term),
    idf AS (SELECT term,
                   round(ln(1.0 + (stats.n_docs - df + 0.5) / (df + 0.5)), 6)
                     AS idf
            FROM dfreq CROSS JOIN stats),
    scored AS (
      SELECT tf.doc_id,
             sum(round(idf.idf * (tf.tf * ({_BM25_K1} + 1.0))
                       / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B}
                          + {_BM25_B} * dl.dl / stats.avgdl)), 6)) AS score,
             count(*) AS n_query_terms
      FROM tf
      JOIN idf USING (term)
      JOIN dl USING (doc_id)
      CROSS JOIN stats
      GROUP BY tf.doc_id)
    SELECT doc_id, round(score, 6) AS bm25,
           CAST(n_query_terms AS BIGINT) AS n_query_terms
    FROM scored
    ORDER BY round(score, 6) DESC, doc_id
    LIMIT 15
"""


@register("text_bm25_ranking", oracle=_BM25_ORACLE)
def text_bm25_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 document ranking (Robertson et al.; Lucene's non-negative
    ln(1 + (N-df+0.5)/(df+0.5)) IDF, k1=1.2, b=0.75) for a fixed 3-term
    query over the documents corpus — top-15 with doc_id tiebreak
    (TakeOrdered; ordering is carried by the attested scores). The
    retrieval scorer behind sparse-retrieval RAG and quality-biased
    corpus selection, completing the relevance family next to
    tfidf_top_terms (pure TF-IDF) and knn_* (dense).

    Scale shape (r13, guide §2.3/§2.4): the corpus is tokenized+exploded
    exactly ONCE — the doc-length rides the explode as a projected
    ``size()`` column, so the former corpus-sized dl groupBy AND its
    corpus-sized merge join into the postings are gone (the r6
    auto-broadcast hazard with them); df derives from the tf relation
    (tf is unique on (doc_id, term), so rows-per-term IS the distinct
    doc count) instead of a second corpus pass. The query-term TF table
    is filtered to |Q| terms BEFORE any join (a broadcast semi join on
    the query literals), so the per-term IDF and the final score join
    touch only matching postings — never the full vocabulary. avgdl is
    one map-only ``size(tokens())`` pass (zero-token docs filtered, as
    the oracle's explode-groupBy form implies). Final top-15 is a
    TakeOrdered, not a global sort. The corpus statistics (N, avgdl)
    ride a broadcast 1-row frame.
    """
    tune(spark)
    from backend_etl_spark.functions.scalars import tokens

    docs = load_table(spark, sf_dir, "documents")
    q = spark.createDataFrame([(t,) for t in _BM25_QUERY], ["term"])
    arr = docs.select("doc_id", tokens(F.col("text")).alias("__toks"))
    toks = arr.select(
        "doc_id",
        F.size("__toks").alias("dl"),
        F.explode("__toks").alias("term"),
    )
    dl_rel = docs.select(F.size(tokens(F.col("text"))).alias("dl")).where(
        F.col("dl") > 0
    )
    stats = docs.agg(F.count("*").cast("double").alias("n_docs")).crossJoin(
        dl_rel.agg(F.avg("dl").alias("avgdl"))
    )
    qtoks = toks.join(F.broadcast(q), "term")
    # tf is consumed twice (df → idf, and the score join) and stays
    # LAZY: an eager localCheckpoint was measured SLOWER at sf0.1
    # (1.13 → 1.61 s solo — the materialization barrier costs more than
    # the one extra explode+join+agg recompute it saves; same class as
    # the funnel's r7 nd-checkpoint finding)
    tf = qtoks.groupBy("doc_id", "term").agg(
        F.count("*").alias("tf"), F.min("dl").alias("dl")
    )
    dfreq = tf.groupBy("term").agg(
        F.count("*").cast("double").alias("df")
    )
    idf = dfreq.crossJoin(F.broadcast(stats.select("n_docs"))).select(
        "term",
        F.round(
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ),
            6,
        ).alias("idf"),
    )
    k1, b = _BM25_K1, _BM25_B
    per_term = F.round(
        F.col("idf")
        * (F.col("tf") * (k1 + 1.0))
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))),
        6,
    )
    scored = (
        tf.join(F.broadcast(idf), "term")
        .crossJoin(F.broadcast(stats.select("avgdl")))
        .groupBy("doc_id")
        .agg(
            F.round(F.sum(per_term), 6).alias("bm25"),
            F.count("*").cast("bigint").alias("n_query_terms"),
        )
    )
    return (
        scored.select("doc_id", "bm25", "n_query_terms")
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(15)
    )


# ---------------------------------------------------------------------------
# hybrid retrieval: BM25 + dense cosine fused by Reciprocal Rank Fusion
# ---------------------------------------------------------------------------

_RRF_K = 60
_RRF_BRANCH_K = 20
_RRF_OUT_K = 5
#: three queries: per-query sparse terms, dense vector = embedding[qid]
_RRF_QUERIES = [(0, "hash"), (0, "join"), (1, "scan"), (1, "filter"),
                (2, "spark"), (2, "stream")]

_RRF_ORACLE = f"""
    WITH qt AS (SELECT * FROM (VALUES
        {", ".join(f"({q}, '{t}')" for q, t in _RRF_QUERIES)}) v(qid, term)),
    toks AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
    dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
    stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                     (SELECT avg(dl) FROM dl) AS avgdl
              FROM documents),
    tf AS (SELECT qt.qid, t.doc_id, t.term, count(*) AS tf
           FROM toks t JOIN qt USING (term) GROUP BY qt.qid, t.doc_id, t.term),
    dfreq AS (SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
              FROM toks WHERE term IN (SELECT DISTINCT term FROM qt)
              GROUP BY term),
    idf AS (SELECT term,
                   round(ln(1.0 + (stats.n_docs - df + 0.5) / (df + 0.5)), 6)
                     AS idf
            FROM dfreq CROSS JOIN stats),
    sparse AS (
      SELECT tf.qid, tf.doc_id,
             sum(round(idf.idf * (tf.tf * ({_BM25_K1} + 1.0))
                       / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B}
                          + {_BM25_B} * dl.dl / stats.avgdl)), 6)) AS bm25
      FROM tf JOIN idf USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
      GROUP BY tf.qid, tf.doc_id),
    sr AS (SELECT qid, doc_id, rn AS sparse_rank
           FROM (SELECT *, row_number() OVER (PARTITION BY qid
                          ORDER BY round(bm25, 6) DESC, doc_id) AS rn
                 FROM sparse)
           WHERE rn <= {_RRF_BRANCH_K}),
    e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
    qv AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 3),
    dense AS (
      SELECT qid, e.vec_id AS doc_id,
             round(list_dot_product(qv, v)
                   / (sqrt(list_dot_product(qv, qv))
                      * sqrt(list_dot_product(v, v))), 6) AS cosine
      FROM qv, e WHERE e.vec_id != qid),
    dr AS (SELECT qid, doc_id, rn AS dense_rank
           FROM (SELECT *, row_number() OVER (PARTITION BY qid
                          ORDER BY cosine DESC, doc_id) AS rn
                 FROM dense)
           WHERE rn <= {_RRF_BRANCH_K}),
    fused AS (
      SELECT coalesce(sr.qid, dr.qid) AS qid,
             coalesce(sr.doc_id, dr.doc_id) AS doc_id,
             round(coalesce(1.0 / ({_RRF_K} + sr.sparse_rank), 0)
                   + coalesce(1.0 / ({_RRF_K} + dr.dense_rank), 0), 6) AS rrf,
             CAST(coalesce(sr.sparse_rank, 0) AS BIGINT) AS sparse_rank,
             CAST(coalesce(dr.dense_rank, 0) AS BIGINT) AS dense_rank
      FROM sr FULL OUTER JOIN dr
        ON sr.qid = dr.qid AND sr.doc_id = dr.doc_id)
    SELECT CAST(qid AS BIGINT) AS qid, doc_id, rrf, sparse_rank, dense_rank
    FROM (SELECT *, row_number() OVER (PARTITION BY qid
                   ORDER BY rrf DESC, doc_id) AS rn
          FROM fused)
    WHERE rn <= {_RRF_OUT_K}
"""


@register("rag_hybrid_rrf_fusion", oracle=_RRF_ORACLE)
def rag_hybrid_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID retrieval (the production RAG default): a sparse BM25
    branch and a dense cosine branch, each producing a per-query top-20,
    fused by Reciprocal Rank Fusion — score = Σ 1/(60 + rank), the
    rank-only combiner that needs no score normalization between
    incomparable scales (Cormack, Clarke & Buettcher 2009). Three
    queries run at once: per-query term sets on the sparse side, the
    query's own embedding on the dense side (doc_id ≡ vec_id in the
    fixture corpus); a doc missing from one branch contributes 0 from
    it. Emits the fused top-5 per query with both branch ranks (0 =
    absent from that branch's top-20).

    Scale shape: every window is keyed by qid; the sparse branch joins
    postings against the broadcast query-term table before any
    aggregation (as text_bm25_ranking); the dense branch is the
    broadcast-queries map-only cosine pass (as knn_brute_force_cosine);
    the fusion itself is a (qid, doc_id) equi-join of two ≤|Q|·20-row
    relations — broadcast-sized by construction.

    r13 (guide §2.3/§2.4): ONE tokenize+explode pass over the corpus
    instead of three — doc length rides the explode as a projected
    ``size()`` column (the corpus-sized dl groupBy and its merge join
    into the postings are gone), and df derives from the matched tf
    relation ((term, doc_id)-distinct of a |Q|-term postings slice)
    instead of re-exploding the corpus."""
    tune(spark)
    from pyspark.sql.window import Window

    from backend_etl_spark.functions.scalars import tokens

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    qt = spark.createDataFrame(_RRF_QUERIES, ["qid", "term"])

    arr = docs.select("doc_id", tokens(F.col("text")).alias("__toks"))
    toks = arr.select(
        "doc_id",
        F.size("__toks").alias("dl"),
        F.explode("__toks").alias("term"),
    )
    dl_rel = docs.select(F.size(tokens(F.col("text"))).alias("dl")).where(
        F.col("dl") > 0
    )
    stats = docs.agg(F.count("*").cast("double").alias("n_docs")).crossJoin(
        dl_rel.agg(F.avg("dl").alias("avgdl"))
    )
    matched = toks.join(F.broadcast(qt), "term")
    # tf stays LAZY despite two consumers — eager-materializing it was
    # measured slower at sf0.1 (1.96 → 2.28 s solo), as in
    # text_bm25_ranking
    tf = matched.groupBy("qid", "doc_id", "term").agg(
        F.count("*").alias("tf"), F.min("dl").alias("dl")
    )
    # df per term = distinct docs containing it; tf is unique on
    # (qid, doc_id, term), so (term, doc_id)-distinct of tf is exact
    # even when two queries share a term
    dfreq = (
        tf.select("term", "doc_id")
        .distinct()
        .groupBy("term")
        .agg(F.count("*").cast("double").alias("df"))
    )
    idf = dfreq.crossJoin(F.broadcast(stats.select("n_docs"))).select(
        "term",
        F.round(
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ),
            6,
        ).alias("idf"),
    )
    k1, b = _BM25_K1, _BM25_B
    per_term = F.round(
        F.col("idf")
        * (F.col("tf") * (k1 + 1.0))
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))),
        6,
    )
    sparse = (
        tf.join(F.broadcast(idf), "term")
        .crossJoin(F.broadcast(stats.select("avgdl")))
        .groupBy("qid", "doc_id")
        .agg(F.round(F.sum(per_term), 6).alias("bm25"))
    )
    ws = Window.partitionBy("qid").orderBy(F.desc("bm25"), F.asc("doc_id"))
    sr = (
        sparse.withColumn("sparse_rank", F.row_number().over(ws))
        .where(F.col("sparse_rank") <= _RRF_BRANCH_K)
        .select("qid", "doc_id", "sparse_rank")
    )

    dbl = F.transform(F.col("embedding"), lambda v: v.cast("double"))
    corpus = emb.select(F.col("vec_id").alias("doc_id"), dbl.alias("v"))
    qv = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), dbl.alias("qv")
    )
    from backend_etl_spark.catalog.llmops2 import _cosine

    dense = (
        corpus.crossJoin(F.broadcast(qv))
        .where(F.col("doc_id") != F.col("qid"))
        .select("qid", "doc_id", _cosine(F.col("qv"), F.col("v")).alias("cosine"))
    )
    wd = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("doc_id"))
    dr = (
        dense.withColumn("dense_rank", F.row_number().over(wd))
        .where(F.col("dense_rank") <= _RRF_BRANCH_K)
        .select("qid", "doc_id", "dense_rank")
    )

    fused = (
        sr.join(dr, ["qid", "doc_id"], "full_outer")
        .select(
            "qid",
            "doc_id",
            F.round(
                F.coalesce(1.0 / (_RRF_K + F.col("sparse_rank")), F.lit(0.0))
                + F.coalesce(1.0 / (_RRF_K + F.col("dense_rank")), F.lit(0.0)),
                6,
            ).alias("rrf"),
            F.coalesce(F.col("sparse_rank"), F.lit(0))
            .cast("bigint")
            .alias("sparse_rank"),
            F.coalesce(F.col("dense_rank"), F.lit(0))
            .cast("bigint")
            .alias("dense_rank"),
        )
    )
    wf = Window.partitionBy("qid").orderBy(F.desc("rrf"), F.asc("doc_id"))
    return (
        fused.withColumn("rn", F.row_number().over(wf))
        .where(F.col("rn") <= _RRF_OUT_K)
        .select(
            F.col("qid").cast("bigint").alias("qid"),
            "doc_id",
            "rrf",
            "sparse_rank",
            "dense_rank",
        )
    )


# ---------------------------------------------------------------------------
# quality-band curation (percentile selection per source)
# ---------------------------------------------------------------------------

_BAND_LO, _BAND_HI = 0.25, 0.75

_QBAND_ORACLE = f"""
    WITH nn AS (SELECT doc_id, source, {{norm}} AS norm FROM documents),
    c AS (SELECT doc_id, source,
                 list_sort(list_filter(string_split(norm, ''), x -> x <> '')) AS srt
          FROM nn),
    m AS (SELECT doc_id, source, srt, len(srt) AS n,
                 list_filter(range(len(srt)),
                             i -> i = 0 OR srt[i+1] <> srt[i]) AS bounds
          FROM c),
    r AS (SELECT doc_id, source, n,
                 list_transform(range(len(bounds)),
                                j -> coalesce(bounds[j+2], n) - bounds[j+1]) AS runs
          FROM m),
    ent AS (SELECT doc_id, source,
                   round(log2(CAST(n AS DOUBLE))
                         - list_sum(list_transform(runs,
                               rr -> CAST(rr AS DOUBLE) * log2(CAST(rr AS DOUBLE))))
                           / CAST(n AS DOUBLE), 4) + 0.0 AS ent
            FROM r WHERE n > 0),
    pr AS (SELECT doc_id, source, ent,
                  round(percent_rank() OVER (PARTITION BY source
                                             ORDER BY ent), 6) AS pr
           FROM ent)
    SELECT doc_id, source, ent, pr,
           pr >= {_BAND_LO} AND pr <= {_BAND_HI} AS keep
    FROM pr
"""


@register("curation_quality_band", oracle=None)  # patched below (_NORM)
def curation_quality_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile-BAND quality selection (the DataComp-LM observation:
    the best pretraining data is the MIDDLE of the quality distribution
    — the top is boilerplate-clean but low-diversity, the bottom is
    gibberish): per SOURCE, keep documents whose char-entropy
    percent_rank falls in [0.25, 0.75]. Per-source ranking matters —
    a global band would let one clean source crowd out another's middle.

    Engine parity: entropy is the attested quality_char_entropy
    expression (rounded 4); percent_rank uses RANK semantics so docs
    with equal rounded entropy share a percentile in both engines —
    no tiebreak ordering is needed for determinism. Empty docs (n=0,
    NULL entropy) are excluded before ranking: Spark and DuckDB default
    NULL ordering differ, so they must never reach the window.

    Scale shape: entropy is map-only; the only shuffle is the keyed
    per-source window (the same partitioning the downstream per-source
    mixture steps reuse). Output is the full per-doc relation with the
    keep decision, so the band is auditable, not just applied."""
    tune(spark)
    from pyspark.sql.window import Window

    from backend_etl_spark.operators import textops

    docs = load_table(spark, sf_dir, "documents")
    ent = (
        textops.char_entropy(docs)
        .where(F.col("n_chars_norm") > 0)
        .select("doc_id", F.col("char_entropy_bits").alias("ent"))
        .join(docs.select("doc_id", "source"), "doc_id")
    )
    w = Window.partitionBy("source").orderBy("ent")
    pr = F.round(F.percent_rank().over(w), 6)
    return ent.select(
        "doc_id",
        "source",
        "ent",
        pr.alias("pr"),
        ((pr >= _BAND_LO) & (pr <= _BAND_HI)).alias("keep"),
    )


from backend_etl_spark.catalog.llmops import _NORM as _NORM_SQL  # noqa: E402
from backend_etl_spark.catalog.registry import REGISTRY as _REG2  # noqa: E402

_REG2["curation_quality_band"].oracle = _QBAND_ORACLE.format(norm=_NORM_SQL)


# ---------------------------------------------------------------------------
# Best-Fit-Decreasing sequence packing (Johnson 1973; Dósa 2007 bound)
# ---------------------------------------------------------------------------

_BFD_CAP = 2048
_BFD_SHARDS = 16

_BFD_ORACLE = f"""
    WITH t AS (SELECT doc_id,
                      least(coalesce(len({_TOKS}), 0), {_BFD_CAP}) AS n,
                      ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
                        % {_BFD_SHARDS} AS shard
               FROM documents)
    SELECT shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n) AS BIGINT)   AS total_tokens,
           CAST(greatest(ceil(sum(n) / {_BFD_CAP}.0),
                         sum(CASE WHEN 2 * n > {_BFD_CAP} THEN 1 ELSE 0 END))
                AS BIGINT)          AS lb_bins,
           TRUE                     AS within_ffd_bound,
           TRUE                     AS capacity_respected
    FROM t GROUP BY shard
"""


@register("pack_bestfit_bins", oracle=_BFD_ORACLE)
def pack_bestfit_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-Fit-Decreasing packing of documents into 2048-token bins,
    sharded 16 ways by portable doc-id hash — the high-fill-rate
    alternative to the concatenate-and-chunk packer (pack_sequences_2048):
    no document straddles a bin boundary, at the cost of some slack per
    bin. BFD's bin count carries FFD's worst-case guarantee
    9·bins ≤ 11·OPT + 6 (Dósa 2007, tight), attested per shard in exact
    integer arithmetic against the lower bound
    LB = max(⌈Σtokens/capacity⌉, #{docs with 2·tokens > capacity}) ≤ OPT
    (see operators/curation.bestfit_pack_shards for why the big-item
    term is needed); docs longer than the capacity are truncated to it
    (they'd be split upstream).

    The packer's mutable bin-residual loop is the catalog's one
    genuinely imperative curation kernel — run as an Arrow-batched
    applyInPandas per shard (operators/curation.bestfit_pack_shards):
    the shard is the unit of parallelism and the only thing shuffled is
    (shard, n) pairs. bins_used itself is engine-specific state (the
    oracle cannot replay a heap), so the entry emits the BOUND flags
    the oracle can agree on and keeps the count out of the hash — the
    sketch-attestation pattern (agg_approx_error_bounded) applied to an
    approximation ALGORITHM instead of a data structure."""
    tune(spark)
    from backend_etl_spark.functions.scalars import tokens
    from backend_etl_spark.operators.curation import bestfit_pack_shards

    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id"),
        # NULL text → 0 tokens on BOTH engines (Spark size() on a NULL
        # array is NULL/-1 depending on legacy conf; DuckDB len() is
        # NULL, which least() would ignore and sum() would drop):
        # greatest(coalesce(...), 0) pins every engine to 0
        F.least(
            F.greatest(
                F.coalesce(F.size(tokens(F.col("text"))), F.lit(0)), F.lit(0)
            ),
            F.lit(_BFD_CAP),
        ).alias("n"),
        (
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
            .cast("bigint")
            % _BFD_SHARDS
        ).alias("shard"),
    )
    packed = bestfit_pack_shards(docs, "shard", "n", _BFD_CAP)
    return packed.select(
        "shard",
        "n_docs",
        "total_tokens",
        "lb_bins",
        "within_ffd_bound",
        "capacity_respected",
    )
