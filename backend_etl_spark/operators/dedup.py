"""Deduplication operators for large-scale text corpora.

Exact dedup, MinHash+LSH near-dup, SimHash, and n-gram Jaccard — the
training-data-pipeline operators layered on top of the reference's
natural-key dedup idea (``ON CONFLICT DO NOTHING``,
utils/db_helpers.py:92-301), generalized from key-equality to
content-similarity.

Scale design:
- Everything is expressed as explode → hash → groupBy/join: linear
  shuffles on bounded-width keys; no crossJoin anywhere.
- Hashes are md5-derived so they are deterministic, engine-portable
  (DuckDB computes the identical values for the oracle), and uniformly
  distributed — no skew on the shuffle keys beyond natural content skew.
- LSH banding turns the O(n²) candidate-pair problem into a self-join on
  (band_id, band_value) buckets; at 100 TB the bucket join is the only
  quadratic term and is bounded by bucket size (tune bands/rows per
  band for the recall/cost point you need). Clustering needs no pairs:
  each bucket's star (min id → members) has the same components at
  ≤ bands × docs edges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType
from pyspark.sql.window import Window

from backend_etl_spark.functions.scalars import normalize_text, tokens
from backend_etl_spark.operators.partitioning import spread

DEFAULT_NUM_HASHES = 4
DEFAULT_SHINGLE = 3
#: band-colocated LSH pair kernel cutoff: the carried-values shape costs
#: O(bands²) shuffled values per doc and O(bands²) predicate terms, so
#: above this the kernel reverts to the groupBy(pair)-count shape
#: (see lsh_candidate_pairs).
MAX_COLOCATED_BANDS = 16


def content_key(col) -> F.Column:
    """md5 of normalized text — the exact-dedup key."""
    return F.md5(normalize_text(col))


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact near-identical dedup: one representative (min id) per
    normalized-content hash, with the duplicate count.

    Equivalent to the reference's insert-if-absent on a natural key, but
    content-addressed. Single hash-aggregate — one shuffle on the md5
    key, map-side partial aggregation applies.
    """
    return (
        df.select(F.col(id_col), content_key(F.col(text_col)).alias("content_md5"))
        .groupBy("content_md5")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def shingles(text_col, n: int = DEFAULT_SHINGLE) -> F.Column:
    """n-token shingles of a text column -> ARRAY<STRING> (empty if < n tokens).

    Pure Column expression, delegating to textops.word_ngrams — the
    zip_with form whose array children evaluate once per row. (The
    previous sequence+transform+slice form re-ran the regex
    tokenization once per shingle position, because a higher-order
    lambda re-evaluates any outer expression it references per
    element — the hidden hot spot of the whole dedup/LM tier.)
    """
    from backend_etl_spark.operators.textops import word_ngrams

    return word_ngrams(tokens(text_col), n)


def doc_shingles(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = DEFAULT_SHINGLE,
    distinct: bool = True,
) -> DataFrame:
    """(id, shingle) pairs — the exploded shingle relation.

    ``distinct=True`` (one shuffle) is required where shingles are
    *counted* (Jaccard). Duplicate-insensitive consumers (MinHash min)
    pass ``distinct=False`` and skip that shuffle entirely.
    """
    base = spread(df.select(F.col(id_col), F.col(text_col)), id_col)
    out = base.select(
        F.col(id_col), F.explode(shingles(F.col(text_col), n)).alias("shingle")
    )
    # base is hash-partitioned on id, which satisfies the clustering of
    # both the (id, shingle) distinct and every downstream groupBy(id) —
    # the explode fan-out runs wide and nothing reshuffles after it.
    return out.distinct() if distinct else out


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = DEFAULT_NUM_HASHES,
    n: int = DEFAULT_SHINGLE,
    conflict_safe: bool = False,
) -> DataFrame:
    """Per-doc MinHash signature: for hash i, min over shingles of
    md5('<i>#' || shingle). One explode + one groupBy — linear, one shuffle.

    md5-as-hash-family keeps the signature portable across engines (the
    DuckDB oracle reproduces it exactly) and deterministic across runs.

    Non-distinct shingles: min() is duplicate-insensitive, so the
    dedup shuffle is skipped — explode feeds the partial aggregation
    directly (map-side combine collapses duplicates for free).

    ``conflict_safe``: the plain min() fold assumes any redelivery of an
    id is byte-identical — if one input carries the same id with TWO
    different payloads, their shingle sets merge into a chimera
    signature matching neither version (r10 ADVICE). With
    ``conflict_safe=True`` each shingle hash is folded as
    min(struct(content_key, hash)): struct ordering compares the
    content key first, so the aggregate deterministically lands on the
    lowest-md5(text) version's own minhash — winner-takes-all per id,
    in the SAME single groupBy, no extra shuffle. Costs a wider agg
    state (one 32-char key alongside each hash), so the default batch
    path (unique ids by construction) keeps the narrow fold.
    """
    if conflict_safe:
        base = spread(
            df.select(F.col(id_col), F.col(text_col)).withColumn(
                "_ck", F.md5(F.coalesce(F.col(text_col), F.lit("")))
            ),
            id_col,
        )
        sh = base.select(
            F.col(id_col),
            F.col("_ck"),
            F.explode(shingles(F.col(text_col), n)).alias("shingle"),
        )
        aggs = [
            F.min(
                F.struct(
                    F.col("_ck").alias("c"),
                    F.md5(
                        F.concat_ws("#", F.lit(str(i)), F.col("shingle"))
                    ).alias("h"),
                )
            )
            .getField("h")
            .alias(f"mh{i}")
            for i in range(num_hashes)
        ]
        return sh.groupBy(id_col).agg(*aggs)
    sh = doc_shingles(df, id_col, text_col, n, distinct=False)
    aggs = [
        F.min(F.md5(F.concat_ws("#", F.lit(str(i)), F.col("shingle")))).alias(f"mh{i}")
        for i in range(num_hashes)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def signature_bands(
    signatures: DataFrame,
    id_col: str,
    num_hashes: int = DEFAULT_NUM_HASHES,
    rows_per_band: int = 1,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Melt MinHash signatures into the (id, band_id, band_value) bucket
    relation — the LSH index layout both the self-join (batch dedup) and
    the batch-vs-snapshot probe join on. ``rows_per_band`` r concatenates
    r signature values per band (b = num_hashes/r bands): the classic
    (b, r) S-curve — larger r sharpens precision, more bands raise
    recall. ``carry`` names extra columns to ride the melt (e.g. the
    doc's shingle set for a band-colocated intersect — r11)."""
    assert num_hashes % rows_per_band == 0, "num_hashes must divide into bands"
    n_bands = num_hashes // rows_per_band
    return signatures.select(
        F.col(id_col),
        *[F.col(c) for c in carry],
        F.stack(
            F.lit(n_bands),
            *[
                x
                for b in range(n_bands)
                for x in (F.lit(str(b)), _band_value(b, rows_per_band))
            ],
        ).alias("band_id", "band_value"),
    )


def _band_value(b: int, rows_per_band: int) -> F.Column:
    """Band b's bucket value: its rows_per_band signature hashes joined
    by '|'. NULL when any of them is NULL (``concat``, not
    ``concat_ws``, which would turn a NULL hash into '' and bucket every
    NULL-hashed doc together): a NULL band buckets with nothing, as
    ``band_value = band_value`` is never true for NULL in the oracles."""
    parts = []
    for k in range(rows_per_band):
        if k:
            parts.append(F.lit("|"))
        parts.append(F.col(f"mh{b * rows_per_band + k}"))
    return F.concat(*parts)


def _band_shared(j: int) -> F.Column:
    """Band j is a shared bucket of the pair: both values non-NULL and
    equal (never NULL itself)."""
    return F.coalesce(F.col(f"a.bv{j}") == F.col(f"b.bv{j}"), F.lit(False))


def _first_shared_band(n_bands: int) -> F.Column:
    """True iff the band this collision row matched on (``band_id``) is
    the LOWEST-numbered band the two docs share — decided row-locally
    from the carried per-doc band values. Keeping only these rows makes
    the band self-join emit each candidate pair exactly once, with no
    pair-keyed dedup shuffle and (for jaccard) no redundant per-band
    intersects."""
    pred = None
    for i in range(n_bands):
        cond = F.col("a.band_id") == F.lit(str(i))
        for j in range(i):
            cond = cond & ~_band_shared(j)
        pred = cond if pred is None else (pred | cond)
    return pred


def _shared_band_count(n_bands: int) -> F.Column:
    """Number of bands the two docs share — a row-local sum of
    band-value equalities over the carried values; replaces the old
    count(*)-per-pair aggregate."""
    total = None
    for j in range(n_bands):
        t = _band_shared(j).cast("bigint")
        total = t if total is None else (total + t)
    return total


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str,
    num_hashes: int = DEFAULT_NUM_HASHES,
    rows_per_band: int = 1,
) -> DataFrame:
    """Candidate near-dup pairs: docs sharing ≥1 MinHash band.

    Melt signatures to (band_id, band_value), self-join on the band
    bucket. The join key (band_id, band_value) is high-cardinality and
    uniform (md5), so the shuffle is balanced; bucket sizes bound the
    pair fan-out. BASELINE.md records the measured (b, r) cost/recall
    curve; parity default (r=1) is the permissive end.

    Two physical shapes, picked by band count (r11 advice): the
    band-colocated shape carries all b band values on every melted row
    (O(b²) values per doc shuffled) and its first-shared-band predicate
    expands to O(b²) comparison terms — at b ≤ MAX_COLOCATED_BANDS
    that is cheap and deletes the pair-keyed dedup shuffle entirely; at
    a production b = 128 it would shuffle ~16k carried values per doc
    and emit ~8k conjuncts (past whole-stage-codegen limits into
    interpreted eval), so above the threshold the kernel falls back to
    the groupBy(pair)-count shape, whose extra shuffle is O(shared
    pairs) — the right trade once b² dominates.
    """
    n_bands = num_hashes // rows_per_band
    if n_bands > MAX_COLOCATED_BANDS:
        bands = signature_bands(signatures, id_col, num_hashes, rows_per_band)
        a, b = bands.alias("a"), bands.alias("b")
        return (
            a.hint("merge")
            .join(
                b.hint("merge"),
                (F.col("a.band_id") == F.col("b.band_id"))
                & (F.col("a.band_value") == F.col("b.band_value"))
                & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
            )
            .groupBy(
                F.col(f"a.{id_col}").alias("doc_a"),
                F.col(f"b.{id_col}").alias("doc_b"),
            )
            .agg(F.count(F.lit(1)).alias("shared_bands"))
        )
    # every melted row carries ALL of its doc's band values, so a
    # collision row can decide IN-STAGE (r11) whether the band it
    # matched on is the pair's FIRST shared band — each pair then
    # survives exactly once, and shared_bands is a row-local sum of
    # band-value equalities. This deletes the pair-keyed
    # groupBy(doc_a, doc_b) shuffle entirely: at sf10 that shuffle is
    # ~4x|pairs| rows (~1.4B), the dominant cost of the old shape.
    sig2 = signatures.select(
        "*", *[_band_value(b, rows_per_band).alias(f"bv{b}") for b in range(n_bands)]
    )
    bands = signature_bands(
        sig2, id_col, num_hashes, rows_per_band,
        carry=tuple(f"bv{b}" for b in range(n_bands)),
    )
    a = bands.alias("a")
    b = bands.alias("b")
    joined = (
        # merge hint: BOTH sides are the corpus-sized banded-signature
        # relation (n_docs × bands rows) — the planner's estimate of the
        # derived side stays under the broadcast threshold long after
        # the relation stops fitting an executor. A self-join of two
        # growing sides must shuffle.
        a.hint("merge").join(
            b.hint("merge"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_value") == F.col("b.band_value"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
    )
    return joined.where(_first_shared_band(n_bands)).select(
        F.col(f"a.{id_col}").alias("doc_a"),
        F.col(f"b.{id_col}").alias("doc_b"),
        _shared_band_count(n_bands).alias("shared_bands"),
    )


def lsh_bucket_edges(
    signatures: DataFrame,
    id_col: str,
    num_hashes: int = DEFAULT_NUM_HASHES,
    rows_per_band: int = 1,
) -> DataFrame:
    """Near-dup graph edges as LSH bucket STARS: each (band_id,
    band_value) bucket links its smallest id to every other member, as
    (doc_a=bucket min, doc_b=id) rows.

    A bucket's clique in the ``lsh_candidate_pairs`` graph and its star
    here span the same docs, so both graphs have exactly the same
    connected components — what ``cluster_components`` needs — while
    the star has at most bands × docs edges instead of Σ bucket² pairs
    (BASELINE.md: ~769M directed pair edges at sf10). One shuffle on the
    bucket key and a window min; no self-join, and no ``shared_bands``
    (use ``lsh_candidate_pairs`` for the pairs themselves). NULL bands
    are dropped: a window would put them all in one bucket.
    """
    bands = signature_bands(signatures, id_col, num_hashes, rows_per_band).where(
        F.col("band_value").isNotNull()
    )
    bucket_min = F.min(id_col).over(Window.partitionBy("band_id", "band_value"))
    return bands.select(
        bucket_min.alias("doc_a"), F.col(id_col).alias("doc_b")
    ).where(F.col("doc_a") < F.col("doc_b"))


def incremental_lsh_matches(
    batch_sigs: DataFrame,
    corpus_sigs: DataFrame | None,
    id_col: str,
    num_hashes: int = DEFAULT_NUM_HASHES,
    rows_per_band: int = 1,
    corpus_bands: DataFrame | None = None,
) -> DataFrame:
    """Incremental (cross-snapshot) near-dup check: for every document in
    the incoming BATCH, find near-dup candidates in the existing CORPUS
    snapshot — the production dedup workflow at 100 TB, where each new
    crawl is deduped against the already-curated corpus WITHOUT
    recomputing anything corpus-side (the corpus band index
    (id, band_id, band_value) is precomputed once and persisted,
    bucketed on band_value).

    Probe join, not self-join: batch bands ⋈ corpus bands on the band
    bucket — cost O(|batch| × bucket size), independent of corpus size.
    Both sides carry merge hints (the r6 derived-side rule): batch AND
    corpus band relations grow with their inputs while their through-agg
    size estimates stay frozen tiny, so the static planner would
    auto-broadcast one of them — at 100 TB a crawl batch is itself
    TB-scale. With the corpus index bucketed on band_value the SMJ
    shuffles only the batch side; the corpus is only scanned.

    Returns one row per batch doc (including novel ones):
    (batch_doc_id, n_corpus_matches, best_match_id, is_novel).

    ``corpus_bands``: optionally pass the corpus side already melted to
    (corpus_doc_id, band_id, band_value) — the streaming drain
    checkpoints the MELTED index once so repeated probes (one per
    micro-batch) skip the per-probe stack projection; at 100 TB this is
    exactly the persisted band table. When given, ``corpus_sigs`` is
    unused (may be None).
    """
    bb = signature_bands(batch_sigs, id_col, num_hashes, rows_per_band).select(
        F.col(id_col).alias("batch_doc_id"), "band_id", "band_value"
    )
    cb = (
        corpus_bands
        if corpus_bands is not None
        else signature_bands(corpus_sigs, id_col, num_hashes, rows_per_band).select(
            F.col(id_col).alias("corpus_doc_id"), "band_id", "band_value"
        )
    )
    hits = (
        bb.hint("merge").join(cb.hint("merge"), ["band_id", "band_value"])
        .groupBy("batch_doc_id")
        .agg(
            F.count_distinct("corpus_doc_id").alias("n_corpus_matches"),
            F.min("corpus_doc_id").alias("best_match_id"),
        )
    )
    return (
        batch_sigs.select(F.col(id_col).alias("batch_doc_id"))
        .join(hits.hint("merge"), "batch_doc_id", "left")
        .select(
            "batch_doc_id",
            F.coalesce(F.col("n_corpus_matches"), F.lit(0)).cast("bigint").alias(
                "n_corpus_matches"
            ),
            F.col("best_match_id"),
            F.col("n_corpus_matches").isNull().alias("is_novel"),
        )
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    candidates: DataFrame | None = None,
    n: int = DEFAULT_SHINGLE,
    num_hashes: int = DEFAULT_NUM_HASHES,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for candidate pairs.

    Each doc's distinct-shingle SET rides the candidate join as one
    array row; |A∩B| is ``array_intersect`` per pair (JVM-side, O(|A|+
    |B|) hash-set probe inside whole-stage codegen) and |A∪B| =
    |A|+|B|−|A∩B| from the array sizes. Only candidate pairs
    (LSH-bucketed) ever materialize — never all pairs.

    The earlier three-way join (pair → a-shingles → b-shingles on equal
    shingle, then a count groupBy) materialized Σ_pairs |A∩B| exploded
    rows — ~190M at sf1 for 3.8M candidates — and re-shuffled them; the
    set-array form moves exactly one row per pair (sf1: 121 s → the
    array path, measured in BASELINE.md §t). Shingle values stay raw
    strings, so intersection counts are bit-identical to the oracle's
    equal-shingle join — no hash step, no collision caveat.

    BAND-COLOCATED since r11 (default path): the r8 shape joined the
    candidate-pair relation against the per-doc set relation twice, so
    the second join re-shuffled |pairs| rows each CARRYING a shingle
    array — at sf10 (~350M pairs × ~2.5 KB set) that is a ~1 TB wide
    shuffle, disk-fatal on any realistic spill budget. Instead the
    shingle set now rides the band melt (``signature_bands(carry=...)``)
    and the intersect computes INSIDE the band self-join stage, where
    both docs' sets are already colocated by the band bucket; the
    first-shared-band gate (``_first_shared_band``) keeps exactly one
    collision row per pair, so the intersect runs once per pair and
    nothing pair-keyed ever shuffles — narrow result rows stream
    straight to the consumer. Array bytes shuffled: |docs| × bands ×
    set width (corpus-linear) instead of |pairs| × set width
    (quadratic-output-bound). The signature aggregate and the set
    aggregate also fuse into ONE groupBy (min() folds + collect_set in
    the same shuffle).

    Output contract: only pairs with ``n_common >= 1`` are emitted —
    the same rows an equal-shingle join produces. LSH candidates share
    the argmin shingle w.h.p., but a minhash collision or an externally
    supplied ``candidates`` frame can contain zero-overlap pairs; those
    are filtered (one codegen'd predicate) rather than emitted as
    jaccard=0.0 rows the oracle would never produce.

    ``candidates`` (externally supplied pairs) keeps the r8 join shape
    — an arbitrary pair frame has no band to colocate on; callers at
    scale should prefer the default path.
    """
    if candidates is not None:
        sh = doc_shingles(df, id_col, text_col, n)
        sets_ = sh.groupBy(id_col).agg(F.collect_list("shingle").alias("sh_set"))
        set_a = sets_.select(
            F.col(id_col).alias("doc_a"), F.col("sh_set").alias("set_a")
        )
        set_b = sets_.select(
            F.col(id_col).alias("doc_b"), F.col("sh_set").alias("set_b")
        )
        paired = (
            # merge hint: the candidate-pair side GROWS with near-dup
            # group sizes while the planner's through-join estimate of
            # it stays tiny — left to itself Spark auto-broadcasts it
            # and a 1 GB driver dies at sf1 (3.8M pairs). The set side
            # is a keyed aggregate over the corpus (also growing):
            # every join here must shuffle, none may broadcast.
            candidates.select("doc_a", "doc_b")
            .hint("merge")
            .join(set_a.hint("merge"), "doc_a")
            .join(set_b.hint("merge"), "doc_b")
            .select(
                "doc_a",
                "doc_b",
                F.size(F.array_intersect("set_a", "set_b")).alias("n_common"),
                F.size("set_a").alias("n_a"),
                F.size("set_b").alias("n_b"),
            )
        )
    else:
        # one fused aggregate: minhash signature AND distinct-shingle
        # set from the same non-distinct shingle relation, one shuffle
        sh = doc_shingles(df, id_col, text_col, n, distinct=False)
        per_doc = sh.groupBy(id_col).agg(
            *[
                F.min(
                    F.md5(F.concat_ws("#", F.lit(str(i)), F.col("shingle")))
                ).alias(f"mh{i}")
                for i in range(num_hashes)
            ],
            F.collect_set("shingle").alias("sh_set"),
        )
        n_bands = num_hashes  # rows_per_band=1 here, as in the old path
        sig2 = per_doc.select(
            "*", *[_band_value(b, 1).alias(f"bv{b}") for b in range(n_bands)]
        )
        bands = signature_bands(
            sig2, id_col, num_hashes,
            carry=tuple(f"bv{b}" for b in range(n_bands)) + ("sh_set",),
        )
        a, b = bands.alias("a"), bands.alias("b")
        paired = (
            # both sides are the corpus-sized band relation (keyed
            # aggregate → frozen tiny planner estimate): must merge-join
            a.hint("merge")
            .join(
                b.hint("merge"),
                (F.col("a.band_id") == F.col("b.band_id"))
                & (F.col("a.band_value") == F.col("b.band_value"))
                & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
            )
            # first-shared-band gate: each pair survives exactly once,
            # so the intersect below runs ONCE per pair (not per shared
            # band) and no pair-keyed dedup shuffle exists at all
            .where(_first_shared_band(n_bands))
            .select(
                F.col(f"a.{id_col}").alias("doc_a"),
                F.col(f"b.{id_col}").alias("doc_b"),
                F.size(F.array_intersect("a.sh_set", "b.sh_set")).alias(
                    "n_common"
                ),
                F.size("a.sh_set").alias("n_a"),
                F.size("b.sh_set").alias("n_b"),
            )
        )
    return paired.filter(F.col("n_common") >= 1).select(
        "doc_a",
        "doc_b",
        F.round(
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 4
        ).alias("jaccard"),
    )


def simhash(
    df: DataFrame, id_col: str, text_col: str, bits: int = 16, out_col: str | None = None
) -> DataFrame:
    """``bits``-wide SimHash per doc from distinct tokens (bits ≤ 63 so
    the fingerprint fits a signed BIGINT; production recall wants 64 —
    see BASELINE.md's width cost curve — parity defaults stay at 16).

    bit_j(token) = parity of the first hex char of md5(token || '#' || j);
    simhash bit j = majority vote over tokens. Computed as ONE
    aggregation with ``bits`` sum columns over distinct tokens — no
    bit-position explode, no second wide shuffle; the only full-width
    shuffle is the token distinct, and the vote aggregation moves
    |distinct tokens| rows once regardless of width (wider = more agg
    columns, same shuffle rows).
    """
    assert 1 <= bits <= 63, "fingerprint must fit a signed 64-bit integer"
    out_col = out_col or f"simhash{bits}"
    base = spread(df.select(F.col(id_col), F.col(text_col)), id_col)
    tok = (
        base.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok"))
        .distinct()
    )

    def _contrib(j: int) -> F.Column:
        h = F.md5(F.concat_ws("#", F.col("tok"), F.lit(str(j))))
        return (F.ascii(F.substring(h, 1, 1)) % 2) * 2 - 1

    votes = tok.groupBy(id_col).agg(
        *[F.sum(_contrib(j)).alias(f"v{j}") for j in range(bits)]
    )
    sim = None
    for j in range(bits):
        bit = F.when(F.col(f"v{j}") >= 0, F.lit(1 << j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sim = bit if sim is None else sim + bit
    return votes.select(F.col(id_col), sim.cast("long").alias(out_col))


def simhash16(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """The parity-default 16-bit SimHash (oracle entry width)."""
    return simhash(df, id_col, text_col, bits=16)


def _union_find(batches):
    """``mapInArrow`` kernel: union-find over one partition's (src, dst)
    edge batches, emitting (node, min id of its component within this
    partition) for every node the partition holds. Union by min root
    keeps each root the minimum of its set; path halving keeps finds
    short.

    State: one dict entry per distinct id in this task's partition. It
    is a per-partition map, not a grouped map: the shuffle that made
    the partition bounds it, so no task ever holds a whole (possibly
    corpus-sized) component as one group.
    """
    import pyarrow as pa

    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    id_type = None
    for batch in batches:
        id_type = batch.schema.field(0).type
        for a, b in zip(batch.column(0).to_pylist(), batch.column(1).to_pylist()):
            ra, rb = find(parent.setdefault(a, a)), find(parent.setdefault(b, b))
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    if parent:
        nodes = list(parent)
        yield pa.RecordBatch.from_arrays(
            [pa.array(nodes, id_type), pa.array([find(n) for n in nodes], id_type)],
            names=["node", "label"],
        )


def cluster_components(
    pairs: DataFrame,
    all_ids: DataFrame,
    id_col: str,
    max_iter: int = 20,
    checkpoint_dir: str | None = None,
    max_degree: int | None = None,
) -> DataFrame:
    """Connected components over a near-dup graph: every doc gets the MIN
    doc id reachable through the graph as its cluster id — turning LSH
    buckets into dedup CLUSTERS with a canonical representative (keep
    min id, drop the rest). ``pairs`` is any (doc_a, doc_b) edge list;
    the catalog passes ``lsh_bucket_edges``' bucket stars, which have
    the components of the candidate-pair graph at ≤ bands × docs edges.

    Two phases, both on the symmetrised, DISK_ONLY-checkpointed edges:

    1. Seed: a union-find inside each edge partition (``mapInArrow``,
       ``_union_find``) labels every edge node with the min id of its
       partition-local component; ``groupBy(node).min`` merges the
       partitions. Each seed label is an id of the node's component and
       ≤ the node, and the component min keeps its own id — a valid
       starting labelling. When all edges sit in one partition the seed
       is already the answer.
    2. Min-label propagation with hub links until no label changes:
       each round joins labels across the edges plus label ↔ node links
       (pointer-doubling-style, O(log diameter) rounds) and keeps the
       smaller label; the driver reads only a 1-row Observation per
       round, so the data never leaves the cluster. A seed that is
       already exact exits after one no-change round. When ``max_iter``
       rounds end with labels still changing, it raises RuntimeError
       (naming the rounds and the last changed count) rather than
       return unconverged labels.

    ``checkpoint_dir``: when given, per-round lineage truncation uses
    RELIABLE checkpointing (files under this fault-tolerant dir — on a
    real cluster, HDFS/object storage) so executor loss mid-iteration
    recovers from the checkpoint instead of recomputing a broken
    lineage. Without it (local mode / tests) localCheckpoint is used —
    at DISK_ONLY storage (r12): checkpoint blocks are UNEVICTABLE, so
    memory-resident levels pin the whole edge relation in the unified
    region and starve execution (measured at sf10: the 384M-edge graph
    OOMed every round's sort with UNABLE_TO_ACQUIRE_MEMORY under a
    24 GB heap; DISK_ONLY completes). At sf0.1 sizes the disk round
    trip is noise; at every size it matches what reliable checkpointing
    does anyway (files, not heap).

    ``max_degree``: mega-component guard. A pathological hub (e.g.
    boilerplate text whose shingles LSH-match everything) gives one node
    millions of edges; its label key then carries the whole component
    through every round's join+groupBy — the one skew AQE can't split
    away because it recurs each iteration. When set, edges incident to
    nodes with degree > max_degree are dropped BEFORE iterating: the hub
    keeps its own label, its spokes still cluster among themselves
    through their genuine pairwise edges, and per-round fan-out is
    bounded by max_degree. Degree-capping before CC is the standard
    large-graph mitigation; at 100 TB pick max_degree ~ the largest
    plausible true duplicate-cluster size (e.g. 10^4). Over bucket
    stars a bucket's min id has degree = bucket size.
    """
    spark = pairs.sparkSession
    if checkpoint_dir:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)

    def _ckpt(df: DataFrame) -> DataFrame:
        if checkpoint_dir:
            return df.checkpoint(eager=True)
        from pyspark import StorageLevel

        return df.localCheckpoint(
            eager=True, storageLevel=StorageLevel.DISK_ONLY
        )

    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .distinct()
    )
    if max_degree is not None:
        # edges is symmetric, so out-degree on src == full degree. The
        # hot set (degree > cutoff) is tiny by construction — AQE plans
        # these anti-joins as broadcasts.
        hot = (
            edges.groupBy("src")
            .agg(F.count(F.lit(1)).alias("__deg"))
            .where(F.col("__deg") > max_degree)
            .select(F.col("src").alias("__hot"))
        )
        edges = edges.join(
            hot, edges.src == hot.__hot, "anti"
        ).join(hot, edges.dst == hot.__hot, "anti")
    edges = _ckpt(edges)
    # only nodes that occur in a candidate pair can change label; the
    # (vast) isolated majority keeps label = self and skips the loop —
    # the iteration touches O(|near-dup docs|), not O(|corpus|)
    every = all_ids.select(F.col(id_col).alias("node"), F.col(id_col).alias("label"))
    edge_nodes = edges.select(F.col("src").alias("node")).distinct()
    id_type = edges.schema["src"].dataType
    seed = edges.mapInArrow(
        _union_find,
        StructType([StructField("node", id_type), StructField("label", id_type)]),
    )
    labels = _ckpt(seed.groupBy("node").agg(F.min("label").alias("label")))
    isolated = every.join(edge_nodes, "node", "anti")
    changed = None
    for _ in range(max_iter):
        # labels flowing across edges, PLUS hub links (label ↔ node from
        # the current labeling): once any member learns the component
        # min, the hub spreads it to all members next round — pointer-
        # doubling-style O(log diameter) convergence instead of
        # O(diameter) (a 25-hop chain of near-dups converges in ~5
        # rounds, not 25)
        hub = labels.select(F.col("label").alias("src"), F.col("node").alias("dst"))
        aug = edges.unionByName(hub).unionByName(
            hub.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        incoming = (
            aug.join(labels, aug.src == labels.node)
            .select(F.col("dst").alias("node"), "label")
        )
        # per-round checkpoint truncates the iterated lineage — without
        # it the plan grows exponentially and planning, not execution,
        # becomes the bottleneck. Reliable vs local is the caller's
        # checkpoint_dir choice. The convergence signal rides the SAME
        # materialization via Observation — one job per round, no
        # separate count. The OLD label is carried THROUGH the fold
        # (tagged row + conditional min — each node has exactly one old
        # row) instead of re-joined afterwards: the checkpoint erases
        # partitioning info, so that compare-join reshuffled both sides
        # every round; folding it away cuts one shuffle + one join per
        # round with identical labels and convergence semantics (r10).
        from pyspark.sql import Observation

        folded = (
            labels.select("node", "label", F.lit(1).alias("__old"))
            .unionByName(incoming.select("node", "label", F.lit(0).alias("__old")))
            .groupBy("node")
            .agg(
                F.min("label").alias("label"),
                F.min(F.when(F.col("__old") == 1, F.col("label"))).alias("__prev"),
            )
        )
        obs = Observation()
        with_flag = (
            folded.select(
                "node",
                "label",
                (F.col("label") != F.col("__prev")).cast("int").alias("__chg"),
            )
            .observe(obs, F.sum("__chg").alias("changed"))
            .select("node", "label")
        )
        prev_labels = labels
        labels = _ckpt(with_flag)
        # round N's checkpoint is materialized (eager) — round N-1's
        # blocks are now unreachable by anything downstream (isolated/
        # edges have their own checkpoints); free them so the loop holds
        # ONE label generation in the block manager, not one per round
        # (guide §5: bounded per-task/block state; r13 leak finding)
        from backend_etl_spark.session import release_checkpoint

        release_checkpoint(prev_labels)
        changed = obs.get["changed"]
        if not changed:
            break
    else:
        raise RuntimeError(
            f"cluster_components: labels still changing after max_iter="
            f"{max_iter} rounds ({changed} changed in the last round)"
        )
    return labels.unionByName(isolated).select(
        F.col("node").alias(id_col), F.col("label").alias("cluster_id")
    )


def duplicate_substring_spans(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 8
) -> DataFrame:
    """Exact-substring duplicate SPANS (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): the token intervals of
    each document that are covered by a ``k``-token gram occurring at
    least twice anywhere in the corpus (other docs OR elsewhere in the
    same doc). Lee et al. build a suffix array and CUT these spans
    instead of dropping whole documents; this is the same detection
    expressed as distributed relational ops — positional k-grams are the
    bounded-width stand-in for suffixes (every duplicated substring of
    length >= k is covered by its duplicated k-grams, so span recall is
    exact for >= k matches).

    Returns one row per maximal duplicated interval:
    ``(id_col, span_start, span_end)`` — 0-based token positions,
    inclusive; overlapping/adjacent gram hits are merged into maximal
    spans via a per-doc gaps-and-islands window.

    Scale shape: positional grams are one map-only pass (zip_with
    builder, posexplode); the duplicate test is ONE groupBy on the gram
    key (partial counts combine map-side) followed by an equi-join back
    on the same key — linear shuffles on a bounded-width md5'able key,
    never doc×doc. The island merge windows are partitioned by doc —
    no global window. At 100 TB the gram groupBy is the same shuffle
    class as dedup_minhash_signatures' shingle pass.
    """
    from pyspark.sql.window import Window
    from backend_etl_spark.operators.textops import word_ngrams

    toks = tokens(F.col(text_col))
    # spread: the gram build is the expensive stage (O(len·k) string
    # work per doc) and a small parquet corpus arrives as 1-2 row-group
    # splits — without widening, the whole build serializes on one core
    # (measured: 17.5 s -> ~6 s at sf1). No-op at real scale, where the
    # scan already carries more splits than cores.
    grams = spread(df, id_col).select(
        F.col(id_col), F.posexplode(word_ngrams(toks, k)).alias("pos", "gram")
    )
    dup = (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .where(F.col("n_occ") >= 2)
        .select("gram")
    )
    # merge hint: the duplicated-gram set GROWS with the corpus while
    # its through-agg size estimate stays frozen tiny (the r6 derived-
    # side class); the SMJ reuses the gram partitioning the aggregate
    # just produced, so the hint costs nothing
    hits = grams.join(dup.hint("merge"), "gram").select(
        id_col, F.col("pos").cast("bigint").alias("s"),
        (F.col("pos") + (k - 1)).cast("bigint").alias("e"),
    )
    w = Window.partitionBy(id_col).orderBy("s")
    prev_end = F.max("e").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = hits.select(
        id_col, "s", "e",
        F.when(prev_end.isNull() | (F.col("s") > prev_end), 1)
        .otherwise(0)
        .alias("ni"),
    )
    islands = flagged.withColumn(
        "island", F.sum("ni").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        islands.groupBy(id_col, "island")
        .agg(
            F.min("s").alias("span_start"),
            F.max("e").alias("span_end"),
        )
        .select(id_col, "span_start", "span_end")
    )


def cut_substring_spans(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 8
) -> DataFrame:
    """APPLY step of exact-substring dedup (Lee et al. 2022): remove the
    duplicated spans found by :func:`duplicate_substring_spans` from each
    document, keeping the surrounding text — span-level cutting instead
    of document-level dropping (Lee et al. report this preserves ~97% of
    unique content that doc-dropping would discard).

    Returns ``(id_col, n_tokens, tokens_removed, clean_text)`` for EVERY
    document — clean_text is the space-joined surviving tokens ('' when
    the whole doc was duplicated or empty).

    Scale shape: detection is duplicate_substring_spans (linear gram
    shuffles); the cut itself is one groupBy of spans onto the doc key
    + a left join back + a map-only positional filter (``filter`` with
    the position lambda, ``exists`` over the doc's own span list —
    O(n_tokens × n_spans) per row, spans per doc are few by
    construction since overlaps are pre-merged). No explode of tokens,
    no second corpus shuffle beyond the span join."""
    spans = duplicate_substring_spans(df, id_col, text_col, k)
    agg = spans.groupBy(id_col).agg(
        F.array_sort(
            F.collect_list(F.struct("span_start", "span_end"))
        ).alias("spans")
    )
    empty = F.array().cast("array<struct<span_start:bigint,span_end:bigint>>")
    # merge hint: the per-doc span relation grows with the corpus while
    # its through-agg estimate stays frozen tiny (r6 derived-side class)
    staged = df.join(agg.hint("merge"), id_col, "left").select(
        F.col(id_col),
        tokens(F.col(text_col)).alias("t"),
        F.coalesce(F.col("spans"), empty).alias("sp"),
    )
    kept = F.filter(
        F.col("t"),
        lambda tok, i: ~F.exists(
            F.col("sp"),
            lambda s: (i >= s["span_start"]) & (i <= s["span_end"]),
        ),
    )
    return staged.select(
        id_col,
        F.size("t").cast("bigint").alias("n_tokens"),
        (F.size("t") - F.size(kept)).cast("bigint").alias("tokens_removed"),
        F.concat_ws(" ", kept).alias("clean_text"),
    )


def intra_cluster_cosine_drops(
    e2: DataFrame,
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "v",
    cluster_col: str = "cluster",
) -> DataFrame:
    """SemDeDup's inner loop as ONE applyInPandas pass: for every
    cluster, the full intra-cluster cosine matrix, returning the ids
    that lose to a lower-id cluster-mate at round(cos, 6) >= threshold.

    Numerics are BIT-IDENTICAL to the Catalyst/oracle fold: the dot
    matrix and the squared norms accumulate SEQUENTIALLY over dims
    (vectorized across the pair grid, looped over j), so each cell sees
    exactly the ``(((x1·y1) + x2·y2) + ...)`` IEEE sequence that
    zip_with/aggregate and DuckDB's list_dot_product produce; cosine =
    dot/(sqrt(nx)·sqrt(ny)) with the same op order; rounding is
    floor/ceil(c·1e6 ± 0.5)/1e6 — half-away-from-zero, the semantic the
    green cross-engine parity already relies on.

    Scale shape: the corpus shuffles ONCE on the cluster id; per-group
    memory is O(cluster²) doubles, bounded because the caller scales k
    so clusters average ~_SEM_TARGET vectors (a pathological giant
    cluster should be split upstream — at 100 TB the standard move is a
    two-level coarse quantizer, not a bigger pair matrix).
    """
    import numpy as np
    import pandas as pd

    def _drops(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids)  # ascending ids: j>i  <=>  id_j > id_i
        ids = ids[order]
        X = np.stack(pdf[vec_col].to_numpy()[order]).astype(np.float64)
        n, dim = X.shape
        if n < 2:
            return pd.DataFrame({id_col: ids[:0]})
        D = np.zeros((n, n))
        nrm2 = np.zeros(n)
        for j in range(dim):
            D += X[:, j, None] * X[None, :, j]
            nrm2 += X[:, j] * X[:, j]
        nrm = np.sqrt(nrm2)
        cos = D / (nrm[:, None] * nrm[None, :])
        scaled = cos * 1e6
        cos = (
            np.where(scaled >= 0, np.floor(scaled + 0.5), np.ceil(scaled - 0.5))
            / 1e6
        )
        hit = np.triu(cos >= threshold, k=1)  # strictly above diagonal: id_i < id_j
        dropped = ids[hit.any(axis=0)]
        return pd.DataFrame({id_col: dropped})

    return e2.select(id_col, cluster_col, vec_col).groupBy(cluster_col).applyInPandas(
        _drops, schema=f"{id_col} long"
    )


#: tile edge for the intra-bucket cosine pair matrix — the accumulator
#: tile (~3 arrays of block² doubles, ~6 MB at 512) must stay
#: cache-resident across the per-dim fold; peak scratch is
#: bucket-size-independent
_COS_BLOCK = 512


def intra_bucket_cosine_pairs(
    e: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "v",
    bucket_col: str = "label",
) -> DataFrame:
    """All qualifying cosine pairs within each bucket — the fixed-bucket
    sibling of intra_cluster_cosine_drops, emitting (vec_a, vec_b,
    cosine_sim) for rounded cosine >= threshold with vec_a < vec_b.

    Same exact-fold numpy numerics (sequential accumulation over dims,
    half-away-from-zero 6-dp rounding) as the SemDeDup kernel, so the
    emitted values are bit-identical to the zip_with/aggregate fold and
    the oracle's list_dot_product.

    TILED (r11): the pair matrix is computed in ``_COS_BLOCK``-square
    tiles over BOTH axes, upper triangle only. Two effects, measured at
    the 20k-row sf10 bucket: (a) peak per-worker scratch is O(block²)
    doubles (~2 MB) — bucket-size-independent, vs ~13 GB for the full
    matrix; (b) the accumulator tile stays cache-resident across the
    64-dim fold, so DRAM traffic drops from dim × bucket² × 16 B
    (~420 GB/bucket — the row-block×full-bucket variant was memory-bound
    and its per-OUTPUT-row cost ROSE 1.65× across the sf1→sf10 decade)
    to ~bucket² × 16 B. Tiling changes which cells are computed when —
    never the per-cell dim order — so every emitted value is identical
    to the unblocked kernel's, and lower-triangle tiles are skipped
    outright (half the flops). The quadratic term that remains is the
    entry's output contract (all qualifying within-bucket pairs); when
    buckets grow with the corpus, the scalable operator is the
    adaptive-k SemDeDup path, not a bigger pair matrix.
    """
    import numpy as np
    import pandas as pd

    def _pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        X = np.stack(pdf[vec_col].to_numpy()[order]).astype(np.float64)
        n, dim = X.shape
        if n < 2:
            return pd.DataFrame({"vec_a": ids[:0], "vec_b": ids[:0],
                                 "cosine_sim": np.zeros(0)})
        nrm2 = np.zeros(n)
        for j in range(dim):
            nrm2 += X[:, j] * X[:, j]
        nrm = np.sqrt(nrm2)
        out_a, out_b, out_c = [], [], []
        for s in range(0, n, _COS_BLOCK):
            e_ = min(s + _COS_BLOCK, n)
            for cs in range(s, n, _COS_BLOCK):
                ce = min(cs + _COS_BLOCK, n)
                D = np.zeros((e_ - s, ce - cs))
                for j in range(dim):
                    D += X[s:e_, j, None] * X[None, cs:ce, j]
                cos = D / (nrm[s:e_, None] * nrm[None, cs:ce])
                scaled = cos * 1e6
                cos = (
                    np.where(
                        scaled >= 0,
                        np.floor(scaled + 0.5),
                        np.ceil(scaled - 0.5),
                    )
                    / 1e6
                )
                keep = cos >= threshold
                # strict upper triangle in GLOBAL indices: col > row
                cols = np.arange(cs, ce)[None, :]
                rows = np.arange(s, e_)[:, None]
                ai, bi = np.nonzero(keep & (cols > rows))
                out_a.append(ids[ai + s])
                out_b.append(ids[bi + cs])
                out_c.append(cos[ai, bi])
        return pd.DataFrame(
            {
                "vec_a": np.concatenate(out_a),
                "vec_b": np.concatenate(out_b),
                "cosine_sim": np.concatenate(out_c),
            }
        )

    return (
        e.select(id_col, bucket_col, vec_col)
        .groupBy(bucket_col)
        .applyInPandas(_pairs, schema="vec_a long, vec_b long, cosine_sim double")
    )
