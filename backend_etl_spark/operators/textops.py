"""Text analysis operators: stats, quality scoring, language-ID heuristic,
fingerprinting — the reference's planned-but-empty preprocessing stage
(preprocessors/clean.py, inference/sentiment.py: 0 bytes, intent only)
realized as Catalyst column expressions over the ``documents`` table.

Everything here is UDF-free: regexp/split/aggregate expressions that
whole-stage-codegen, scan-prunable, and reproducible in the DuckDB
oracle. At 100 TB these are map-only stages — no shuffle at all until a
groupBy is applied downstream.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from backend_etl_spark.functions.scalars import normalize_text, tokens

#: tiny per-language stopword families for the n-gram/stopword heuristic
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "a"],
    "es": ["el", "la", "de", "que", "y"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "des"],
}

EN_STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "on", "for", "with"]


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def stopword_hits(toks: Column, words: list[str]) -> Column:
    """# tokens that are in `words` — aggregate over the token array."""
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))


def text_stats(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    toks = tokens(F.col(text_col))
    return df.select(
        F.col(id_col),
        F.length(text_col).alias("n_chars"),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.round(
            F.aggregate(
                F.transform(toks, lambda t: F.length(t).cast("double")),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            / F.size(toks),
            4,
        ).alias("avg_token_len"),
    )


def quality_score(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Heuristic quality scoring: stopword ratio, distinct-token ratio,
    length band — combined into a coarse class. Mirrors common pretraining
    quality filters (length/stopword/repetition heuristics)."""
    toks = tokens(F.col(text_col))
    n_tok = F.size(toks)
    stop_ratio = F.round(stopword_hits(toks, EN_STOPWORDS) / n_tok, 4)
    distinct_ratio = F.round(F.size(F.array_distinct(toks)) / n_tok, 4)
    return df.select(
        F.col(id_col),
        n_tok.alias("n_tokens"),
        stop_ratio.alias("stopword_ratio"),
        distinct_ratio.alias("distinct_ratio"),
        F.when((n_tok >= 20) & (stop_ratio >= 0.05) & (distinct_ratio >= 0.5), "high")
        .when((n_tok >= 10) & (distinct_ratio >= 0.3), "medium")
        .otherwise("low")
        .alias("quality_class"),
    )


def lang_id(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Stopword-family language guess: argmax of marker hits, ties → 'en'.

    Deterministic argmax via greatest + ordered CASE. (The synthetic
    corpus is English-vocabulary regardless of its `lang` tag; the
    operator's contract is the heuristic itself.)
    """
    toks = tokens(normalize_text(F.col(text_col)))
    hits = {lang: stopword_hits(toks, words) for lang, words in LANG_MARKERS.items()}
    best = F.greatest(*hits.values())
    guess = (
        F.when(hits["en"] == best, "en")
        .when(hits["es"] == best, "es")
        .when(hits["de"] == best, "de")
        .otherwise("fr")
    )
    out = df.select(
        F.col(id_col),
        *[hits[lang].alias(f"hits_{lang}") for lang in LANG_MARKERS],
        guess.alias("lang_guess"),
    )
    return out


def fingerprint(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Content fingerprints: md5 of normalized text + md5 of the sorted
    distinct-token set (order-insensitive 'bag' fingerprint)."""
    norm = normalize_text(F.col(text_col))
    bag = F.concat_ws(" ", F.array_sort(F.array_distinct(tokens(norm))))
    return df.select(
        F.col(id_col),
        F.md5(norm).alias("content_md5"),
        F.md5(bag).alias("token_bag_md5"),
    )


#: GPT-2-style pre-tokenizer approximation: contractions, letter runs,
#: digit runs, punctuation runs (leading-space-absorbing, like BPE
#: pre-tokenization). Leftmost-first alternation — same semantics in
#: Java regex (Spark) and RE2 (DuckDB oracle).
BPE_ISH_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^ A-Za-z0-9]+"


def bpe_ish_token_count(col: Column | str) -> Column:
    """Approximate BPE token count via the pre-tokenizer regex — the
    cheap 'how many tokens will the model see' estimator for pretraining
    budgets; whole-stage-codegen'd, no tokenizer library needed."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(BPE_ISH_PATTERN), F.lit(0)))


ROLL_BASE = 31
ROLL_MOD = 1_000_000_007


def rolling_hash(col: Column | str) -> Column:
    """Karp-Rabin polynomial rolling hash over the character stream:
    h = fold(h*31 + codepoint) mod 1e9+7. A true rolling fingerprint
    (unlike md5, extendable incrementally chunk-by-chunk), expressed as
    a Catalyst aggregate fold — no UDF."""
    c = F.col(col) if isinstance(col, str) else col
    codes = F.transform(F.split(c, ""), lambda ch: F.ascii(ch).cast("bigint"))
    return F.aggregate(
        codes,
        F.lit(0).cast("bigint"),
        lambda acc, x: (acc * ROLL_BASE + x) % ROLL_MOD,
    )


def word_ngrams(toks: Column, n: int) -> Column:
    """Word n-grams as space-joined strings; [] when the doc is shorter
    than n tokens. Pure array expression — map-only at any scale.

    Built by zip_with over shifted slices: a higher-order-function
    lambda that references an OUTER expression re-evaluates it for
    every element, so the previous ``transform(sequence(...), i ->
    slice(toks, i+1, n))`` form recomputed the whole regex
    tokenization once per n-gram position — O(positions × doc length)
    per row and the catalog's hidden hot spot (23.6 s → ~2 s at sf0.1
    for text_repetition_metrics). zip_with's array children evaluate
    once per row; only the lambda variables appear in its body."""
    sz = F.size(toks)
    out = F.slice(toks, 1, sz - (n - 1))
    for j in range(1, n):
        out = F.zip_with(
            out,
            F.slice(toks, 1 + j, sz - (n - 1)),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    return F.when(sz >= n, out).otherwise(F.array().cast("array<string>"))


def repetition_metrics(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021, §A1.1): fraction
    of tokens taken by the single most frequent token, and the duplicate
    word-2-gram / 3-gram fractions. Docs above threshold are flagged
    ``keep = false``.

    All metrics are higher-order array expressions over the token array —
    no explode, whole-stage-codegen'd: at 100 TB this is a pure map
    stage. The per-doc top-token count is ONE fold over the sorted
    token array (longest equal-run; the quality_char_entropy rewrite
    recipe) — the earlier O(tokens × distinct) transform+filter was
    the catalog's most expensive map stage (23.6 s at sf0.1, now
    ~1 s); an explode → groupBy → join-back would cost two shuffles.

    The input is widened first (``spread``, r8): the folds are the
    expensive stage, and a small parquet corpus arrives as 1-2
    row-group splits — unwidened, the whole stage serializes on one
    core. No-op (zero added shuffle) at real scale, where the scan
    already carries more splits than cores.
    """
    from backend_etl_spark.operators.partitioning import spread

    exprs = _repetition_exprs(F.col(text_col))
    df = spread(df.select(F.col(id_col), F.col(text_col)), id_col)
    return df.select(
        F.col(id_col),
        exprs["n"].cast("bigint").alias("n_tokens"),
        exprs["top_frac"].alias("top_token_frac"),
        exprs["dup2"].alias("dup_2gram_frac"),
        exprs["dup3"].alias("dup_3gram_frac"),
        exprs["keep"].alias("keep"),
    )


def _repetition_exprs(text: Column) -> dict[str, Column]:
    """The Gopher repetition metrics as bare column expressions over a
    text column — shared by repetition_metrics (the relation form) and
    repetition_keep (the inline-filter form), so a pipeline that only
    needs the keep flag skips the doc_id join-back entirely."""
    toks = tokens(text)
    n = F.size(toks)
    st = F.array_sort(toks)

    def _run_step(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    top_cnt = F.when(
        n > 0,
        F.aggregate(
            st,
            F.struct(
                F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
            ),
            _run_step,
            lambda acc: acc["best"],
        ),
    )
    g2 = word_ngrams(toks, 2)
    g3 = word_ngrams(toks, 3)

    def dup_frac(grams: Column) -> Column:
        return F.when(
            F.size(grams) > 0,
            F.round(
                F.lit(1.0)
                - F.size(F.array_distinct(grams)) / F.size(grams).cast("double"),
                4,
            ),
        ).otherwise(F.lit(0.0))

    top_frac = F.round(top_cnt / n.cast("double"), 4)
    dup2 = dup_frac(g2)
    dup3 = dup_frac(g3)
    return {
        "n": n,
        "top_frac": top_frac,
        "dup2": dup2,
        "dup3": dup3,
        "keep": ~((top_frac > 0.30) | (dup2 > 0.60)),
    }


def repetition_keep(text: Column) -> Column:
    """The repetition_metrics ``keep`` flag as a bare map-only
    expression (identical arithmetic, no join-back)."""
    return _repetition_exprs(text)["keep"]


def passage_hashes(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    size: int = 8,
) -> DataFrame:
    """Non-overlapping ``size``-token passages, md5-hashed — the unit for
    sub-document (paragraph-level) dedup on corpora whose documents have
    no layout structure. One output row per (doc, passage_idx); docs
    shorter than ``size`` tokens produce none.

    The input is widened first (``spread`` — see repetition_metrics):
    the strided slice/zip_with chain is compute-heavy per row, and a
    single-split local scan would run it on one core. No-op at real
    scale."""
    from backend_etl_spark.operators.partitioning import spread

    df = spread(df.select(F.col(id_col), F.col(text_col)), id_col)
    toks = tokens(F.col(text_col))
    # stride-filter BEFORE concatenation: each shifted slice is cut down
    # to every size-th position first, so the zip_with concat chain only
    # ever builds the floor(n/size) surviving passages — O(n) concat work
    # and n/size-length intermediates regardless of passage size (the
    # overlapping-grams-then-keep form did ~size× the concat work).
    # zip_with/filter array children evaluate once per row, so the regex
    # tokenization is never re-run per position (see word_ngrams).
    sz = F.size(toks)
    width = sz - (size - 1)  # overlapping position count; >=1 iff sz>=size
    parts = [
        F.filter(F.slice(toks, 1 + j, width), lambda x, i: i % size == 0)
        for j in range(size)
    ]
    strided = parts[0]
    for part in parts[1:]:
        strided = F.zip_with(strided, part, lambda a, b: F.concat_ws(" ", a, b))
    passages = F.when(sz >= size, F.transform(strided, F.md5)).otherwise(
        F.array().cast("array<string>")
    )
    return df.select(
        F.col(id_col), F.posexplode(passages).alias("passage_idx", "ph")
    )


#: tiny sentiment lexicon — the reference's planned inference/sentiment.py
#: stage (0 bytes, intent only) realized as a deterministic lexicon score;
#: swapping in a model = replacing this expression with a pandas_udf batch.
POSITIVE_WORDS = ["good", "great", "fast", "love", "best", "easy", "nice"]
NEGATIVE_WORDS = ["bad", "slow", "worst", "hate", "bug", "broken", "hard"]


def sentiment_score(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Lexicon sentiment: (pos_hits − neg_hits) / tokens in [−1, 1] with
    a 3-way class. UDF-free; the production path swaps the lexicon
    expression for an Arrow-batched model UDF with the same schema."""
    toks = tokens(normalize_text(F.col(text_col)))
    pos = stopword_hits(toks, POSITIVE_WORDS)
    neg = stopword_hits(toks, NEGATIVE_WORDS)
    score = F.round((pos - neg) / F.size(toks), 6)
    return df.select(
        F.col(id_col),
        pos.cast("bigint").alias("pos_hits"),
        neg.cast("bigint").alias("neg_hits"),
        score.alias("sentiment"),
        F.when(score > 0, "positive")
        .when(score < 0, "negative")
        .otherwise("neutral")
        .alias("sentiment_class"),
    )


def char_entropy(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Shannon entropy (bits/char) over the normalized character
    distribution — the cheap perplexity proxy used as a pretraining
    quality gate (gibberish and boilerplate sit at the entropy extremes).

    Map-only: the whole computation is array expressions over the
    normalized text (no explode, no shuffle). Char frequencies are run
    lengths of the SORTED char array, accumulated in ONE fold pass --
    O(len*log len) per row, not the O(len * distinct-chars) of a
    per-distinct-char counting pass (measured ~10x slower at sf0.1; and
    nesting the boundary array into its own transform lambda re-inlines
    the whole subtree per reference -- lambda bodies defeat codegen CSE
    and planning explodes). Uses H = log2(n) - (sum r*log2 r)/n so the
    fold needs no outer references; runs are summed in sorted-char order
    and the DuckDB oracle replays the identical operation sequence, so
    the rounded double matches bit-for-bit.

    The input is widened first (``spread``, r8 — see
    repetition_metrics): the sort+fold is the expensive stage and must
    not serialize on a 1-2-split small-file scan; zero added shuffle
    at real scale.
    """
    from backend_etl_spark.operators.partitioning import spread

    df = spread(df.select(F.col(id_col), F.col(text_col)), id_col)
    chars = _entropy_chars(F.col(text_col))
    n = F.size(chars)
    dist = F.array_distinct(F.array_sort(chars))
    return df.select(
        F.col(id_col),
        n.cast("bigint").alias("n_chars_norm"),
        F.size(dist).cast("bigint").alias("n_distinct_chars"),
        char_entropy_bits(F.col(text_col)).alias("char_entropy_bits"),
    )


def _entropy_chars(text: Column) -> Column:
    return F.filter(
        F.split(normalize_text(text), ""), lambda c: c != F.lit("")
    )


def char_entropy_bits(text: Column) -> Column:
    """The entropy column alone, as a bare map-only expression — for
    pipelines that filter on it inline (identical arithmetic to
    char_entropy, no join-back on doc_id)."""
    chars = _entropy_chars(text)
    n = F.size(chars)
    srt = F.array_sort(chars)

    def _rl(run):  # r * log2(r) -- one run's contribution
        r = run.cast("double")
        return r * F.log2(r)

    def _step(acc, c):
        same = acc.prev.isNull() | (c == acc.prev)
        return F.when(
            same,
            F.struct(c.alias("prev"), (acc.run + 1).alias("run"), acc.s.alias("s")),
        ).otherwise(
            F.struct(
                c.alias("prev"),
                F.lit(1).cast("bigint").alias("run"),
                (acc.s + _rl(acc.run)).alias("s"),
            )
        )

    run_sum = F.aggregate(
        srt,
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).cast("bigint").alias("run"),
            F.lit(0.0).alias("s"),
        ),
        _step,
        lambda acc: acc.s + F.when(acc.run > 0, _rl(acc.run)).otherwise(F.lit(0.0)),
    )
    ent = F.log2(n.cast("double")) - run_sum / n
    # + 0.0 normalizes IEEE -0.0 (single-char docs) to +0.0 so the
    # value-hash matches engines that produce +0.0
    return F.when(n > 0, F.round(ent, 4) + F.lit(0.0))


BPE_SEP = "\x1f"  # wraps every symbol: "\x1f a \x1f\x1f b \x1f" (no spaces)
BPE_PSEP = "\x1e"  # joins a candidate pair into one sortable key


def bpe_train_merges(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 3,
    min_pair_count: int = 2,
):
    """Train the first ``n_merges`` BPE merges over the corpus word
    distribution; returns a list of dicts (merge_rank, lhs, rhs,
    pair_count, vocab_size_after).

    ``n_merges`` is the production knob (real trainers run thousands;
    per-iteration work is bounded by the Zipf-sized word table, never
    the corpus). Training stops early when the best remaining pair
    occurs fewer than ``min_pair_count`` times (default 2: a merge seen
    once compresses nothing — the standard convergence guard), or when
    no pair remains.

    This is the canonical tokenizer-training loop, Spark-first:
    - ONE corpus-sized aggregate builds the word-frequency table
      (Zipf-bounded — at 100 TB it's ~10^6 rows, not corpus-sized);
      every iteration after that runs on that table only.
    - Each word is a symbol string with every symbol wrapped in \\x1f
      sentinels, so applying a merge is ONE literal (non-regex)
      `replace` — left-to-right, non-overlapping, and boundary-safe
      ('xa','b' can never match the ('a','b') pattern), the exact
      semantics reproduced by DuckDB's replace() in the oracle.
    - ONE Spark job per iteration (r10 — the r9 drift postmortem: the
      loop ran THREE jobs per merge — best-pair collect, eager
      checkpoint, vocab count-distinct — and the fixed per-job overhead
      compounded across rounds). The pair argmax and the previous
      merge's ``vocab_size_after`` now ride a single tagged-union
      aggregate ('p' rows = freq-weighted adjacent pairs, 'v' rows =
      symbols; two-level groupBy -> 2-row collect), the per-iteration
      eager checkpoint is gone (the merge is one literal replace over
      the Zipf table — recomputing the chain from the checkpointed base
      is map-side-cheap, and a checkpoint every 8 merges bounds lineage
      for production n_merges), and only the final merge pays a
      trailing vocab-only job.
    - The 2-row collect per iteration keeps the same driver-side
      control-loop discipline as the k-means phase loop's centroid pull.

    Words containing the sentinel bytes are dropped (impossible in
    normalized text; guarded identically in the oracle).
    """
    sep2 = BPE_SEP + BPE_SEP
    from backend_etl_spark.operators.partitioning import spread

    words = (
        # widen the corpus scan feeding the one corpus-sized aggregate
        # (every later iteration runs on the Zipf word table) — no-op
        # at real scale
        spread(df.select(F.col(text_col)))
        .select(F.explode(tokens(F.col(text_col))).alias("word"))
        .where(~F.contains(F.col("word"), F.lit(BPE_SEP)))
        .where(~F.contains(F.col("word"), F.lit(BPE_PSEP)))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            F.concat(
                F.lit(BPE_SEP),
                F.array_join(
                    F.filter(F.split(F.col("word"), ""), lambda c: c != F.lit("")),
                    sep2,
                ),
                F.lit(BPE_SEP),
            ).alias("s"),
            "freq",
        )
        .localCheckpoint(eager=True)  # iterations re-read this, not the corpus
    )

    def symbols(col):
        return F.split(F.substring(col, 2, F.length(col) - 2), sep2)

    def pair_and_vocab(frame) -> tuple[tuple[int, str] | None, int]:
        """One job: (best (count, pair) or None if no word has >=2
        symbols, distinct-symbol count). Pairs and symbols share one
        tagged union -> groupBy(tag, val) -> per-tag argmin/count."""
        sym = symbols(F.col("s"))
        pair = F.explode(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.size(sym) - 1, F.lit(0))),
                lambda j: F.concat(
                    F.element_at(sym, j), F.lit(BPE_PSEP), F.element_at(sym, j + 1)
                ),
            )
        )
        tagged = (
            frame.where(F.size(sym) >= 2)
            .select(F.lit("p").alias("tag"), pair.alias("val"), "freq")
            .unionByName(
                frame.select(
                    F.lit("v").alias("tag"),
                    F.explode(sym).alias("val"),
                    F.lit(1).cast("bigint").alias("freq"),
                )
            )
        )
        rows = (
            tagged.groupBy("tag", "val")
            .agg(F.sum("freq").alias("cnt"))
            .groupBy("tag")
            .agg(
                # argmax on (cnt desc, pair asc) == struct-min on
                # (-cnt, pair); struct comparison is field-lexicographic
                F.min(
                    F.struct(
                        (-F.col("cnt")).alias("nc"), F.col("val").alias("pair")
                    )
                ).alias("best"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        by_tag = {r["tag"]: r for r in rows}
        vocab = int(by_tag["v"]["n"]) if "v" in by_tag else 0
        if "p" not in by_tag:
            return None, vocab
        b = by_tag["p"]["best"]
        return (int(-b["nc"]), b["pair"]), vocab

    merges: list[dict] = []
    cur = _last_ckpt = words
    for rank in range(1, n_merges + 1):
        best, vocab = pair_and_vocab(cur)
        if merges:
            # cur is the table AFTER the previous merge: this job's
            # vocab IS that merge's vocab_size_after
            merges[-1]["vocab_size_after"] = vocab
        if best is None:
            return merges
        cnt, best_pair = best
        if cnt < min_pair_count:
            return merges  # converged: a once-seen merge compresses nothing
        lhs, rhs = best_pair.split(BPE_PSEP)
        cur = cur.select(
            F.replace(
                F.col("s"),
                F.lit(BPE_SEP + lhs + sep2 + rhs + BPE_SEP),
                F.lit(BPE_SEP + lhs + rhs + BPE_SEP),
            ).alias("s"),
            "freq",
        )
        if rank % 8 == 0:  # bound lineage for production merge counts
            prev_ckpt = _last_ckpt
            cur = _last_ckpt = cur.localCheckpoint(eager=True)
            # the new checkpoint is materialized — the previous
            # generation (back to and including the initial `words`
            # table) is unreachable; free its blocks so training holds
            # ONE vocabulary generation, not n_merges/8 of them
            # (guide §5; r13 leak finding)
            from backend_etl_spark.session import release_checkpoint

            release_checkpoint(prev_ckpt)
        merges.append(
            {
                "merge_rank": rank,
                "lhs": lhs,
                "rhs": rhs,
                "pair_count": int(cnt),
                "vocab_size_after": None,  # filled by the next iteration
            }
        )
    if merges and merges[-1]["vocab_size_after"] is None:
        # the last merge applied with no following iteration: one
        # trailing vocab-only job
        merges[-1]["vocab_size_after"] = int(
            cur.select(F.explode(symbols(F.col("s"))).alias("sym"))
            .agg(F.count_distinct("sym"))
            .collect()[0][0]
        )
    return merges


#: hashed-feature linear quality model: bucket count and the fixed
#: per-bucket weight table (integer TENTHS so per-doc sums are exact
#: integers — engine-portable regardless of float summation order). In
#: production the weights come from a trained fastText / logistic model
#: (Joulin et al. 2016; the CCNet/Llama quality-classifier stage); the
#: deterministic stand-in keeps the full serving plumbing — hashing
#: trick, mean pooling, sigmoid — real and testable without a model
#: artifact in the container.
QCLF_BUCKETS = 64


def _qclf_weight_tenths(bucket: Column) -> Column:
    """Weight of a hashed bucket in integer tenths: ((b·37+11) mod 21) − 10
    ∈ [−10, 10] — a fixed, uniformly spread stand-in weight table."""
    return (bucket * 37 + 11) % 21 - 10


def hashed_linear_quality(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """fastText-style linear quality classifier over the hashing trick
    (Joulin et al. 2016; Weinberger et al. 2009): every token hashes to
    one of QCLF_BUCKETS weight slots (md5-derived — the DuckDB oracle
    reproduces the buckets exactly), the document logit is the MEAN of
    its token weights (fastText's mean pooling), and keep = logit >= 0
    (≡ sigmoid >= 0.5, decided on the exact integer sum so the boolean
    can never diverge between engines).

    Entirely map-only: the token array is folded with ``aggregate`` —
    no explode, no shuffle, no UDF; at 100 TB this is a single
    whole-stage-codegen pass over the corpus, the cheapest possible
    shape for model-based filtering (the CCNet discipline: cheap linear
    gate first, expensive models only on survivors)."""
    toks = tokens(F.col(text_col))
    bucket = lambda t: (  # noqa: E731 — md5-portable bucket (sketch.py idiom)
        F.conv(F.substring(F.md5(F.concat(F.lit("qclf#"), t)), 1, 8), 16, 10)
        .cast("bigint")
        % QCLF_BUCKETS
    )
    wsum = F.aggregate(
        toks,
        F.lit(0).cast("bigint"),
        lambda acc, t: acc + _qclf_weight_tenths(bucket(t)),
    )
    n = F.size(toks).cast("bigint")
    # quantize the logit by floor(x*1e6 + 0.5)/1e6, NOT F.round(x, 6):
    # Spark's round() half-ups the decimal shortest-string while DuckDB
    # rounds the binary double, and wsum/(10n) lands EXACTLY on decimal
    # midpoints (n=64, wsum=41 -> 0.0640625) where the modes disagree.
    # floor/+0.5 is correctly-rounded IEEE arithmetic end to end, so
    # both engines produce identical bits from identical integers.
    logit_q = (
        F.floor(F.col("wsum") * 100000.0 / F.col("n_tokens") + 0.5) / 1e6
    )
    return (
        df.select(F.col(id_col), n.alias("n_tokens"), wsum.alias("wsum"))
        .where(F.col("n_tokens") > 0)
        .select(
            id_col,
            "n_tokens",
            logit_q.alias("quality_logit"),
            F.round(1.0 / (1.0 + F.exp(-logit_q)), 4).alias(
                "quality_score"
            ),
            (F.col("wsum") >= 0).alias("keep"),
        )
    )
