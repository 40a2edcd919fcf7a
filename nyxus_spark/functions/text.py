"""Text analysis functions for training-data pipelines: language-ID heuristic,
quality scoring, token counting, and document fingerprinting.

All pure column expressions (whole-stage codegen); every expression has an
exact DuckDB twin used by the correctness oracle (regex patterns restricted to
the syntax both engines share).
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from nyxus_spark.compare import fround4

# tiny per-language stopword lists for the n-gram/stopword-hit heuristic
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "for", "with", "on", "that"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "ein", "nicht", "zu"],
    "fr": ["le", "la", "les", "et", "de", "est", "pour", "que", "une", "dans"],
    "es": ["el", "la", "los", "de", "que", "es", "para", "con", "una", "por"],
    "zh": ["的", "是", "了", "在", "和", "有", "我", "不", "这", "他"],
}

WORD_RE = "[A-Za-z0-9]+"
PUNCT_RE = "[.,!?;:]"


def _words(text_col: str):
    return F.filter(F.split(F.col(text_col), " "), lambda w: w != F.lit(""))


def langid_expr(text_col: str = "text"):
    """Predicted language = argmax stopword-hit count, ties broken by
    lexicographically smallest language code (deterministic)."""
    scores = [
        (lang, F.size(F.array_intersect(_words(text_col), F.array(*[F.lit(w) for w in ws]))))
        for lang, ws in sorted(STOPWORDS.items())
    ]
    best = None
    best_score = None
    # fold: keep (lang, score); strictly-greater replaces → first (smallest) lang wins ties
    expr = None
    for lang, sc in scores:
        if expr is None:
            expr = F.struct(sc.alias("s"), F.lit(lang).alias("l"))
        else:
            expr = F.when(sc > expr["s"], F.struct(sc.alias("s"), F.lit(lang).alias("l"))).otherwise(expr)
    return expr["l"]


def token_count_exprs(text_col: str = "text") -> dict[str, object]:
    """Whitespace token count + BPE-ish regex token count (word pieces +
    punctuation as separate tokens)."""
    return {
        "ws_tokens": F.size(_words(text_col)),
        "re_tokens": F.regexp_count(F.col(text_col), F.lit(WORD_RE))
        + F.regexp_count(F.col(text_col), F.lit(PUNCT_RE)),
    }


def quality_exprs(text_col: str = "text") -> dict[str, object]:
    """Quality heuristics: length, mean word length, punctuation ratio,
    stopword ratio, and a composite score in [0, 1]."""
    words = _words(text_col)
    n_words = F.size(words)
    n_chars = F.length(F.col(text_col))
    mean_wlen = (n_chars - n_words + 1) / n_words  # spaces removed
    n_punct = F.regexp_count(F.col(text_col), F.lit(PUNCT_RE))
    en_stop = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    n_stop = F.size(F.array_intersect(words, en_stop))
    punct_ratio = n_punct / n_chars
    stop_ratio = n_stop / n_words
    score = (
        F.least(n_words / F.lit(50.0), F.lit(1.0)) * 0.4
        + F.least(stop_ratio * 5.0, F.lit(1.0)) * 0.4
        + (1.0 - F.least(punct_ratio * 10.0, F.lit(1.0))) * 0.2
    )
    return {
        "n_words": n_words,
        "n_chars_derived": n_chars,
        "mean_word_len": fround4(mean_wlen),
        "punct_ratio": fround4(punct_ratio),
        "stopword_ratio": fround4(stop_ratio),
        "quality_score": fround4(score),
    }


def fingerprint_expr(tokens_col: str = "tokens", prime: int = 1000003):
    """Order-sensitive rolling document fingerprint over the token array:
    Σ (i+1)·t_i mod prime — the token-array-equality digest."""
    # guard: sequence(1, 0) DESCENDS in Spark → empty arrays must short-circuit
    return F.expr(
        f"CASE WHEN size({tokens_col}) = 0 THEN 0L ELSE "
        f"aggregate(zip_with({tokens_col}, sequence(1, size({tokens_col})),"
        f" (t, i) -> cast(t as bigint) * i), 0L, (a, x) -> a + x) % {prime} END"
    )


def vocab_topk(df, tokens_col: str = "tokens", k: int = 100):
    """Corpus vocabulary building: global token frequencies, top-k by
    (count DESC, token ASC). One explode + hash-aggregate shuffle on the
    token id — partial (map-side) counting makes the shuffle carry at most
    |vocab| rows per partition regardless of corpus size; the final top-k is
    TakeOrderedAndProject. The training-data analog of BPE vocabulary
    counting over the tokenized corpus."""
    from pyspark.sql import DataFrame  # noqa: F401

    return (
        df.select(F.explode(tokens_col).alias("token"))
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("token").asc())
        .limit(k)
    )


def remap_tokens(df, keep, unk: int, tokens_col: str = "tokens",
                 out_col: str | None = None):
    """Vocabulary-control pass: every token outside `keep` becomes `unk` —
    the rare-token → UNK remap a training pipeline runs after vocabulary
    counting. `keep` is a small id collection (e.g. the top-k vocab) shipped
    as a map literal, so the remap is a pure element-wise transform: no
    shuffle, no Python, and the same expression replays on any engine. For
    vocabulary-scale keep-sets (100k+), ship the map via a broadcast join
    on the exploded stream instead; this literal form is the right shape
    for the top-k / special-token case."""
    keep = sorted({int(t) for t in keep})
    if not keep:
        raise ValueError("keep set must be non-empty")
    m = F.create_map(*[x for t in keep for x in (F.lit(t), F.lit(1))])
    return df.withColumn(
        out_col or tokens_col,
        F.transform(
            F.col(tokens_col),
            lambda x: F.when(m[x].isNotNull(), x).otherwise(F.lit(int(unk))),
        ),
    )


def deterministic_sample(df, rate: float, id_expr, mix: int = 2654435761,
                         p31: int = 2147483647):
    """Reproducible corpus subsampling: keep rows where
    (id·MIX mod P31) < P31·rate — the same integer arithmetic on every
    engine and every run (unlike df.sample, whose output depends on
    partitioning), so a sampled training subset is re-derivable from the
    full corpus forever. `id_expr` must be an integer column expression.

    The hash is pmod((id mod P31)·(MIX mod P31), P31): reducing BOTH factors
    below 2³¹ first keeps the product under 2⁶² (no bigint wraparound for any
    id), and pmod keeps the remainder in [0, P31) even for negative ids — a
    raw `%` preserves the dividend's sign, which would make every
    negative-hash row pass the `< cut` filter and silently inflate the
    sample rate."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0, 1], got {rate}")
    cut = int(p31 * rate)
    h = F.pmod((id_expr.cast("bigint") % p31) * F.lit(mix % p31), F.lit(p31))
    return df.filter(h < cut)


def stratified_keep(rates: dict, stratum_col, id_expr, mix: int = 2654435761,
                    p31: int = 2147483647, default_rate: float = 0.0):
    """Boolean keep-expression for per-stratum reproducible sampling —
    training-mixture control: each stratum (source/domain/language) gets its
    own deterministic rate on the SAME (id·MIX mod P31) hash as
    `deterministic_sample`, so samples are re-derivable forever AND nested —
    raising one stratum's rate strictly grows its sample (the hash order is
    shared), letting mixture reweighting reuse previously-materialized rows.
    Pure column expressions: no shuffle, and the predicate pushes into the
    scan when stratum/id are data columns. Unlisted strata use
    ``default_rate``."""
    for s, r in rates.items():
        if not 0.0 <= r <= 1.0:
            raise ValueError(f"rate for {s!r} must be in [0, 1], got {r}")
    if not 0.0 <= default_rate <= 1.0:
        raise ValueError(f"default_rate must be in [0, 1], got {default_rate}")
    cut = F.lit(int(p31 * default_rate))
    for s in sorted(rates):
        cut = F.when(F.col(stratum_col) == s, F.lit(int(p31 * rates[s]))).otherwise(cut)
    h = F.pmod((id_expr.cast("bigint") % p31) * F.lit(mix % p31), F.lit(p31))
    return h < cut


def stratified_sample(df, rates: dict, stratum_col, id_expr,
                      mix: int = 2654435761, p31: int = 2147483647,
                      default_rate: float = 0.0):
    """Filter `df` to the per-stratum deterministic sample (see
    `stratified_keep`, exposed separately so callers can FLAG rows instead
    of filtering — e.g. to gate the keep decision itself)."""
    keep = stratified_keep(rates, stratum_col, id_expr, mix, p31, default_rate)
    return df.filter(keep)


def temperature_rates(df, stratum_col: str = "source", alpha: float = 0.5,
                      scale: float = 1.0) -> dict:
    """Temperature-based source-mixture rates (the multilingual/multi-source
    upsampling rule p_s ∝ n_s^α used by large-corpus training recipes):
    rate_s = scale · n_s^α / max_s n_s^α, so the largest stratum keeps
    `scale` and smaller strata are downsampled LESS than proportionally —
    α < 1 flattens the mixture toward uniform.

    α is restricted to {1.0, 0.75, 0.5, 0.25}: those powers are exact IEEE
    chains (identity, sqrt(n·sqrt n), sqrt, sqrt∘sqrt — each op correctly
    rounded), so the resulting per-stratum cut integers are bit-identical
    on every engine; arbitrary libm pow(n, α) is not replayable
    cross-engine. Per-stratum counts are a broadcast-dim-sized aggregate
    (same shape as prescan): one hash-agg shuffle over strata, a
    driver-side dict of ≤ |strata| floats. Feed the result to
    `stratified_keep`/`stratified_sample`."""
    import math

    if alpha not in (1.0, 0.75, 0.5, 0.25):
        raise ValueError(f"alpha must be one of 1.0/0.75/0.5/0.25 (exact "
                         f"IEEE chains), got {alpha}")
    if not 0.0 < scale <= 1.0:
        raise ValueError(f"scale must be in (0, 1], got {scale}")
    counts = {r[0]: r[1] for r in
              df.groupBy(stratum_col).count().collect()}
    if not counts:
        return {}

    def powa(n: float) -> float:
        if alpha == 1.0:
            return float(n)
        if alpha == 0.75:
            return math.sqrt(float(n) * math.sqrt(float(n)))
        if alpha == 0.5:
            return math.sqrt(float(n))
        return math.sqrt(math.sqrt(float(n)))

    mx = powa(max(counts.values()))
    # op order pinned for the SQL replay: ratio first (one rounding), then
    # the scale multiply (one more)
    return {s: scale * (powa(n) / mx) for s, n in counts.items()}


def source_drift(df, src_a: str, src_b: str, tokens_col: str = "tokens",
                 stratum_col: str = "source"):
    """Per-token distribution drift between two corpus strata — the monitor
    an LLM data pipeline runs when a new crawl/source lands: which tokens'
    frequencies moved most between source A and source B?

    Score = |c_a·N_b − c_b·N_a| (the cross-multiplied rate difference, an
    exact BIGINT: zero iff the token's relative frequency is identical in
    both strata), plus the normalized drift_rate = score/(N_a·N_b) as ONE
    division of exact integers. Two-phase: one explode + hash-agg per
    (token, stratum), then a broadcast of the 1-row totals — no second
    corpus shuffle. BIGINT is exact while c·N < 2⁶³ (corpus pairs up to
    ~3·10⁹ tokens); beyond that, swap the numerator to DECIMAL(38,0).

    Returns (token, cnt_a, cnt_b, drift_num, drift_rate) — one row per
    token observed in either stratum."""
    flat = (
        df.filter(F.col(stratum_col).isin([src_a, src_b]))
        .select(F.explode(tokens_col).alias("token"),
                (F.col(stratum_col) == src_a).alias("__is_a"))
    )
    counts = flat.groupBy("token").agg(
        F.sum(F.when(F.col("__is_a"), 1).otherwise(0)).cast("long").alias("cnt_a"),
        F.sum(F.when(F.col("__is_a"), 0).otherwise(1)).cast("long").alias("cnt_b"),
    )
    totals = counts.agg(
        F.sum("cnt_a").alias("__na"), F.sum("cnt_b").alias("__nb")
    )
    joined = counts.crossJoin(F.broadcast(totals))
    num = F.abs(F.col("cnt_a") * F.col("__nb") - F.col("cnt_b") * F.col("__na"))
    return joined.select(
        "token", "cnt_a", "cnt_b",
        num.alias("drift_num"),
        fround4(num.cast("double")
                / (F.col("__na") * F.col("__nb")).cast("double")).alias("drift_rate"),
    )


def bpe_merge_count(pair_a: int, pair_b: int, tokens_col: str = "tokens",
                    n_tok_col: str = "n_tok"):
    """Column expr: greedy left-to-right non-overlapping count of the
    adjacent pair (a, b) — the BPE tokenizer-training inner loop's
    application count (merging the winning pair shrinks a document by
    exactly this many tokens). The generic fold handles a == b, where raw
    occurrences overlap (aaa holds two adjacent (a,a) pairs but only ONE
    greedy merge) and the consumed-next-token skip matters. JVM whole-stage
    `aggregate` over the index sequence — no Python, no shuffle.

    The count has closed forms (a ≠ b: plain adjacent-occurrence count,
    overlap is impossible; a == b: Σ⌊run_len/2⌋ over maximal runs), which
    is what lets a SQL oracle check the exact integer without replaying
    the fold."""
    a, b = int(pair_a), int(pair_b)
    return F.expr(
        f"CASE WHEN {n_tok_col} >= 2 THEN aggregate(sequence(1, {n_tok_col} - 1),"
        f" named_struct('m', 0L, 'skip', false),"
        f" (acc, i) -> CASE"
        f"   WHEN acc.skip THEN named_struct('m', acc.m, 'skip', false)"
        f"   WHEN element_at({tokens_col}, i) = {a}"
        f"    AND element_at({tokens_col}, i + 1) = {b}"
        f"   THEN named_struct('m', acc.m + 1L, 'skip', true)"
        f"   ELSE named_struct('m', acc.m, 'skip', false) END,"
        f" acc -> acc.m) ELSE 0L END"
    )


def epoch_shuffle_key(id_expr, epoch: int, mix: int = 2654435761,
                      p31: int = 2147483647):
    """Deterministic training-order shuffle: ORDER BY this key yields a
    reproducible pseudo-random permutation of the corpus that changes with
    `epoch` — the epoch-shuffle every training run needs, without
    df.sample/shuffle nondeterminism. key = pmod(pmod(id + epoch·OFFSET,
    P31) · (MIX mod P31), P31): the epoch offsets the id stream BEFORE the
    multiplicative mix, so epochs decorrelate, while any (id, epoch) pair
    re-derives its key on any engine forever (same contract as
    `deterministic_sample`, whose hash this extends). Both factors are
    reduced below 2³¹ first, so the product never wraps int64.

    At scale this is a sortWithinPartitions/repartitionByRange key — the
    permutation is data-independent, so range bounds can be computed from
    the key space, not a sample of the data."""
    if epoch < 0:
        raise ValueError(f"epoch must be nonnegative, got {epoch}")
    off = (epoch * 2654435769) % p31
    a = F.pmod(id_expr.cast("bigint") + F.lit(off), F.lit(p31))
    return F.pmod(a * F.lit(mix % p31), F.lit(p31))


def stride_interleave_key(rank_col, weights: dict[str, int],
                          source_col: str = "source",
                          default_weight: int = 1):
    """Deterministic stride-scheduling mixture key — the data-mixing ORDER
    (not just per-source rates): the i-th document (1-based rank within its
    source) of a source with integer weight w runs at virtual time i/w, so
    ordering the union of every source's stream by this key interleaves
    sources in EXACT weight proportion — every L consecutive virtual-time
    units admit exactly w_s documents of source s (until s runs dry), with
    zero randomness. Same guarantee as lottery/stride scheduling
    (Waldspurger '95) applied to corpus mixing.

    The comparison stays exact BIGINT: key = rank · (L / w_s) with
    L = lcm(weights), so i/w ordering never touches a float. `rank_col`
    must be the deterministic 1-based within-source rank (e.g. a
    row_number over an `epoch_shuffle_key` order, which makes the
    interleave a weight-exact reshuffle per epoch).

    At 100 TB the global order is repartitionByRange(key) +
    sortWithinPartitions (`sinks.write_training_order`) — the key space is
    data-independent given per-source counts, so range bounds need no
    sampling pass and no single-partition sort exists anywhere."""
    ws = dict(weights)
    ws["__default__"] = default_weight
    for s, w in ws.items():
        if not isinstance(w, int) or w <= 0:
            raise ValueError(f"weights must be positive ints, got {s}={w!r}")
    lcm = 1
    for w in ws.values():
        lcm = lcm * w // math.gcd(lcm, w)
    stride = F.lit(lcm // default_weight)
    for s, w in sorted(weights.items()):
        stride = F.when(F.col(source_col) == s, F.lit(lcm // w)).otherwise(stride)
    return (rank_col.cast("bigint") * stride).cast("bigint")


def ngram_keys(n: int, tokens_col: str = "tokens", n_tok_col: str = "n_tok"):
    """Array of the document's token n-grams, each serialized to a ','-joined
    string key. String keys keep the downstream groupBy/join in whole-stage
    hash aggregation (array<int> keys would fall back to sort/object agg);
    the serialization is injective, so counts on keys == counts on grams.
    Guard: Spark's sequence(a, b) DESCENDS when b < a, so rows shorter than
    n must short-circuit to an empty array."""
    if n <= 0:
        raise ValueError(f"need n > 0, got {n}")
    return F.expr(
        f"CASE WHEN {n_tok_col} >= {n} THEN "
        f"transform(sequence(0, {n_tok_col} - {n}), "
        f"i -> array_join(transform(slice({tokens_col}, i + 1, {n}), "
        f"x -> cast(x as string)), ',')) "
        "ELSE array() END"
    )


def repetition_stats(df, n: int = 3, tokens_col: str = "tokens",
                     n_tok_col: str = "n_tok", id_col: str = "doc_id"):
    """Intra-document repetition over token n-grams — the Gopher-style
    duplicate-n-gram quality rule for training corpora: per document, total
    and distinct n-gram counts, the duplicate surplus, the top n-gram
    multiplicity, and the duplicate ratio (exact integers + ONE final
    division). Two-phase aggregation: the (doc, gram) cells combine map-side,
    so the shuffle carries at most |distinct grams| rows per partition —
    the plan a 100 TB corpus needs. Documents shorter than n emit no row
    (callers left-join and zero-fill)."""
    grams = df.select(
        F.col(id_col), F.explode(ngram_keys(n, tokens_col, n_tok_col)).alias("gram")
    )
    cells = grams.groupBy(id_col, "gram").agg(F.count("*").alias("c"))
    total = F.sum("c").cast("long")
    distinct = F.count("*").cast("long")
    return (
        cells.groupBy(id_col)
        .agg(
            total.alias("rep_total_ngrams"),
            distinct.alias("rep_distinct_ngrams"),
            (total - distinct).alias("rep_dup_ngrams"),
            F.max("c").cast("long").alias("rep_top_ngram_count"),
        )
        .withColumn(
            "rep_dup_ratio",
            fround4(F.col("rep_dup_ngrams") / F.col("rep_total_ngrams")),
        )
    )


def contamination(df, bench_df, n: int = 8, tokens_col: str = "tokens",
                  n_tok_col: str = "n_tok", id_col: str = "doc_id"):
    """Benchmark decontamination scan: per document, how many of its token
    n-gram occurrences appear in the benchmark set's n-grams (the standard
    test-set-overlap check before training). The benchmark gram set is
    DISTINCT'd and broadcast — benchmark suites are tiny next to the corpus —
    so the probe is a broadcast hash join on the gram key with no corpus
    shuffle; the only exchange is the final per-doc count. Emits every input
    document (zero-filled when clean) with the occurrence count, the distinct
    overlapping gram count, and a 0/1 contaminated flag — all exact
    integers."""
    bench = bench_df.select(
        F.explode(ngram_keys(n, tokens_col, n_tok_col)).alias("gram")
    ).distinct()
    grams = df.select(
        F.col(id_col), F.explode(ngram_keys(n, tokens_col, n_tok_col)).alias("gram")
    )
    hits = (
        grams.join(F.broadcast(bench), "gram")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("contam_hits"),
            F.count_distinct("gram").cast("long").alias("contam_distinct"),
        )
    )
    return (
        df.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("contam_hits", F.lit(0).cast("long")).alias("contam_hits"),
            F.coalesce("contam_distinct", F.lit(0).cast("long")).alias("contam_distinct"),
            (F.coalesce("contam_hits", F.lit(0).cast("long")) > 0)
            .cast("long")
            .alias("is_contaminated"),
        )
    )


def bloom_bitset(keys_df, key_col: str = "gram", bits: int = 1 << 16):
    """Build a Bloom-filter bitset TABLE from a key column: two xxhash64
    probes per key, OR-folded into 64-bit words — at most bits/64 rows
    (KBs even for millions of keys), so the result broadcasts no matter
    how large the key set is. Pure DataFrame ops: explode the two bit
    positions, one `bit_or` hash aggregation. Returns (bloom_word:
    bigint, bloom_mask: bigint)."""
    if bits < 64 or bits & (bits - 1):
        raise ValueError(f"bits must be a power of two >= 64, got {bits}")
    pos = F.explode(
        F.array(
            F.pmod(F.xxhash64(F.col(key_col), F.lit(1)), F.lit(bits)),
            F.pmod(F.xxhash64(F.col(key_col), F.lit(2)), F.lit(bits)),
        )
    ).alias("bit")
    return (
        keys_df.select(pos)
        .select(
            F.expr("CAST(bit DIV 64 AS BIGINT)").alias("bloom_word"),
            F.expr("shiftleft(1L, CAST(bit % 64 AS INT))").alias("bloom_mask"),
        )
        .groupBy("bloom_word")
        .agg(F.bit_or("bloom_mask").alias("bloom_mask"))
    )


def contamination_bloom(df, bench_df, n: int = 8, bits: int = 1 << 16,
                        tokens_col: str = "tokens", n_tok_col: str = "n_tok",
                        id_col: str = "doc_id"):
    """Benchmark decontamination with a Bloom-bitset prefilter — the shape
    this scan takes when the benchmark gram set is too large to broadcast
    as an exact hash table (a full eval-suite union at production scale):

    1. fold the benchmark grams into a ≤ bits/64-row bitset table
       (`bloom_bitset`) — KBs regardless of benchmark size, always
       broadcastable;
    2. map-side prefilter: each corpus gram keeps only if BOTH its probe
       bits are set (two broadcast joins + mask tests, no corpus shuffle);
    3. exact verify: the surviving candidates (a small superset of the true
       hits — Bloom false positives only ADD candidates) join the real
       benchmark gram set with a plain shuffled join that now touches a
       tiny fraction of the corpus.

    Output is IDENTICAL to `contamination` (false positives die in step 3),
    so the same oracle gates both paths; per-row equality is also pinned by
    a dedicated test. Spark-internal hashing only (xxhash64) — the filter
    never crosses engines, correctness never depends on it."""
    bench = bench_df.select(
        F.explode(ngram_keys(n, tokens_col, n_tok_col)).alias("gram")
    ).distinct()
    bloom = bloom_bitset(bench, "gram", bits)
    grams = df.select(
        F.col(id_col), F.explode(ngram_keys(n, tokens_col, n_tok_col)).alias("gram")
    )
    zero = F.lit(0).cast("long")
    cand = grams
    for seed in (1, 2):
        w = F.pmod(F.xxhash64(F.col("gram"), F.lit(seed)), F.lit(bits))
        b = bloom.withColumnRenamed("bloom_word", f"w{seed}").withColumnRenamed(
            "bloom_mask", f"m{seed}"
        )
        cand = (
            cand.withColumn("__bit", w)
            .withColumn(f"w{seed}", F.expr("CAST(__bit DIV 64 AS BIGINT)"))
            .withColumn(f"p{seed}", F.expr("shiftleft(1L, CAST(__bit % 64 AS INT))"))
            .drop("__bit")
            .join(F.broadcast(b), f"w{seed}", "left")
            .filter(F.coalesce(F.col(f"m{seed}"), zero).bitwiseAND(F.col(f"p{seed}")) != 0)
        )
    hits = (
        cand.select(id_col, "gram")
        .join(bench, "gram")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("contam_hits"),
            F.count_distinct("gram").cast("long").alias("contam_distinct"),
        )
    )
    return (
        df.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("contam_hits", zero).alias("contam_hits"),
            F.coalesce("contam_distinct", zero).alias("contam_distinct"),
            (F.coalesce("contam_hits", zero) > 0).cast("long")
            .alias("is_contaminated"),
        )
    )


def split_on_token(df, delim: int, tokens_col: str = "tokens",
                   n_tok_col: str = "n_tok", keep_empty: bool = False):
    """Split each token sequence on a delimiter token — the sentence/
    paragraph segmentation pass of an LLM data pipeline (documents arrive as
    one flat stream; a sentinel token marks boundaries). Returns one row per
    segment: (input columns minus `tokens`) + seg_id (dense 0-based, in
    stream order), seg_tokens, seg_len.

    Pure column expressions: boundary positions via a higher-order `filter`
    over the index sequence, segments via one `zip_with` slice, one
    posexplode — no shuffle, no Python, scale-safe at any corpus size.
    With keep_empty=False (default) segments emptied by consecutive
    delimiters (or leading/trailing ones) are dropped and seg_id stays
    dense over the survivors. Delimiter tokens themselves never appear in
    any segment. The `sequence()` guard matters: Spark's sequence(a, b)
    DESCENDS when b < a, so zero-token rows must short-circuit.

    Reference analog: nyxus ROI decomposition of one slide into independent
    segments that then flow through the same kernels
    (/root/reference/src/nyx/workflow_2d_segmented.cpp) — here the "slide"
    is the flat token stream and the delimiter is the boundary label.
    """
    if not isinstance(delim, int):
        raise ValueError(f"delim must be an int token id, got {delim!r}")
    # 0-based positions of the delimiter (Spark SQL `arr[i]` is 0-based)
    pos = (
        f"CASE WHEN {n_tok_col} > 0 THEN "
        f"filter(sequence(0, {n_tok_col} - 1), i -> {tokens_col}[i] = {delim}) "
        "ELSE array() END"
    )
    # starts/ends of the n_delim+1 raw spans; slice() is 1-based
    segs = (
        f"zip_with(concat(array(0), transform({pos}, p -> p + 1)),"
        f"         concat({pos}, array({n_tok_col})),"
        f"         (s, e) -> slice({tokens_col}, s + 1, e - s))"
    )
    if not keep_empty:
        segs = f"filter({segs}, x -> size(x) > 0)"
    exploded = df.select(
        "*", F.posexplode(F.expr(f"CASE WHEN {n_tok_col} > 0 THEN {segs} "
                                 "ELSE array() END")).alias("seg_id", "seg_tokens")
    )
    return exploded.select(
        *[c for c in df.columns if c != tokens_col],
        F.col("seg_id").cast("long").alias("seg_id"),
        "seg_tokens",
        F.size("seg_tokens").cast("long").alias("seg_len"),
    )


def chunk_tokens(df, size: int, overlap: int = 0, tokens_col: str = "tokens",
                 n_tok_col: str = "n_tok"):
    """Split long token sequences into fixed-size windows with overlap — the
    standard LLM training-data chunking pass (context-window packing). Pure
    column expressions: one posexplode of the stride sequence, no shuffle,
    no Python; the final chunk may be shorter than `size`. Rows with zero
    tokens produce no chunks (and the `sequence()` guard matters: Spark's
    sequence(a, b) DESCENDS when b < a).

    A window is emitted only when it EXTENDS coverage: the last start is
    capped at n_tok − overlap − 1, because a start inside the previous
    window's overlap region would produce a chunk entirely contained in the
    previous chunk (e.g. size=4, overlap=1, n_tok=10: a start at 9 yields
    [token 9] which the start-6 window already covers) — duplicated training
    data. With overlap=0 the cap is the old n_tok − 1 (no behavior change)."""
    if size <= 0 or not 0 <= overlap < size:
        raise ValueError(f"need size > 0 and 0 <= overlap < size, got {size}, {overlap}")
    stride = size - overlap
    starts = F.expr(
        f"CASE WHEN {n_tok_col} > 0 THEN "
        f"sequence(0, greatest({n_tok_col} - {overlap} - 1, 0), {stride}) "
        "ELSE array() END"
    )
    exploded = df.select(
        "*", F.posexplode(starts).alias("chunk_id", "__start")
    )
    chunk = F.expr(f"slice({tokens_col}, __start + 1, {size})")
    return exploded.select(
        *[c for c in df.columns if c != tokens_col],
        F.col("chunk_id").cast("long").alias("chunk_id"),
        chunk.alias("chunk_tokens"),
        F.size(chunk).cast("long").alias("chunk_len"),
    )


def bigram_counts(df, tokens_col: str = "tokens", n_tok_col: str = "n_tok"):
    """Adjacent-bigram counts over the corpus: one row per (token,
    next_token) with its occurrence count. The collocation-mining input
    (BPE pair statistics, PMI association). Pure column expressions (one
    zip_with of the two shifted slices, one posexplode) followed by ONE
    hash aggregation — no Python, no window.

    The `sequence`/`slice` guard: rows with n_tok < 2 contribute nothing
    (and Spark's slice with length 0 is safely empty)."""
    pairs = F.expr(
        f"CASE WHEN {n_tok_col} >= 2 THEN "
        f"zip_with(slice({tokens_col}, 1, {n_tok_col} - 1),"
        f"         slice({tokens_col}, 2, {n_tok_col} - 1),"
        f"         (a, b) -> struct(a, b)) "
        "ELSE array() END"
    )
    return (
        df.select(F.explode(pairs).alias("bg"))
        .select(F.col("bg.a").alias("token"), F.col("bg.b").alias("next_token"))
        .groupBy("token", "next_token")
        .agg(F.count("*").cast("long").alias("big_cnt"))
    )


def pmi_best_next(df, keep, tokens_col: str = "tokens", n_tok_col: str = "n_tok"):
    """Best right-collocate per anchor token, scored by a PMI-monotone
    exact chain — the collocation/multi-word-expression miner of a
    vocabulary-building pipeline. For each anchor token a in `keep`, pick
    the successor b maximizing the adjacent-bigram count (ties broken by
    b ASC — a total order), and report the association strength

        assoc = (c_ab / c_a) · N / c_b      (= p(b|a) / p(b), e^PMI)

    computed as the EXACT left-to-right IEEE chain
    ``cast(c_ab as double) / c_a * N / c_b`` (every operand an exact
    BIGINT; every op correctly rounded, so the double is bit-identical
    across engines) and gated through `fround4`.

    Returns (token, next_token, big_cnt, pmi4). Scale shape: two hash
    aggregations (bigram + unigram counts, both map-side partial), one
    partitioned top-1 window over the keep-set's bigram rows only, and a
    broadcast-scalar join for N — no corpus-sized window, no cartesian."""
    from pyspark.sql import Window

    keep = [int(x) for x in keep]
    if not keep:
        raise ValueError("keep must be a non-empty token-id list")
    big = bigram_counts(df, tokens_col, n_tok_col).filter(
        F.col("token").isin(keep)
    )
    uni = (
        df.select(F.explode(tokens_col).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").cast("long").alias("ucnt"))
    )
    tot = df.agg(F.sum(F.col(n_tok_col).cast("long")).alias("n_total"))
    w = Window.partitionBy("token").orderBy(
        F.col("big_cnt").desc(), F.col("next_token").asc()
    )
    best = big.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") == 1
    )
    out = (
        best.join(uni.withColumnRenamed("tok", "token")
                     .withColumnRenamed("ucnt", "cnt_a"), "token")
        .join(uni.withColumnRenamed("tok", "next_token")
                 .withColumnRenamed("ucnt", "cnt_b"), "next_token")
        .crossJoin(F.broadcast(tot))
    )
    pmi = (
        F.col("big_cnt").cast("double") / F.col("cnt_a")
        * F.col("n_total") / F.col("cnt_b")
    )
    return out.select(
        "token", "next_token", "big_cnt", fround4(pmi).alias("pmi4")
    )


#: hashed-bigram bucket constants (dsir_weights): bucket(a,b) =
#: pmod(a·K1 + b·K2, P31) mod HB_BUCKETS
HB_P31 = 2147483647
HB_K1 = 506952114     # 2654435761 mod P31
HB_K2 = 40503         # 16-bit Knuth constant
HB_BUCKETS = 1024


def neg_sampling_shares(top, cnt_col: str = "cnt", token_col: str = "token"):
    """word2vec negative-sampling distribution over a vocabulary table:
    p(t) ∝ cnt^0.75. The 3/4 power is the EXACT IEEE chain
    ``sqrt(sqrt(cnt³))`` — cnt³ is an exact BIGINT (and exact in double
    while cnt ≤ ~208k, i.e. cnt³ < 2^53; raise the cap by pre-scaling
    counts if a corpus exceeds it), and both sqrts are correctly rounded —
    so every weight is ONE deterministic double. The normalizer folds the
    weights SEQUENTIALLY in token order (aggregate over the sorted struct
    array), which the DuckDB oracle replays addition-for-addition with
    ``list_reduce(list(w ORDER BY token), (a,b) -> a+b)``; Spark's fold
    seeds with 0.0, whose first addition is exact, so the two folds are
    bit-identical. Vocabulary tables are top-k (they feed a sampler), so
    the one-row total broadcasts.

    Returns (token_col, neg_share4) with neg_share4 = fround4(w / total)."""
    w3 = f"cast({cnt_col} as bigint) * {cnt_col} * {cnt_col}"
    w = F.expr(f"sqrt(sqrt(cast({w3} as double)))")
    tot = top.agg(
        F.expr(
            f"aggregate(array_sort(collect_list(struct({token_col} as t,"
            f" sqrt(sqrt(cast({w3} as double))) as w))),"
            " cast(0.0 as double), (a, x) -> a + x.w)"
        ).alias("neg_total")
    )
    return top.crossJoin(F.broadcast(tot)).select(
        F.col(token_col),
        fround4(w / F.col("neg_total")).alias("neg_share4"),
    )


#: scrub patterns restricted to the regex subset Spark (Java) and DuckDB
#: (RE2) interpret identically: literal classes + bounded quantifiers only
SCRUB_URL = "https?://[^ ]+"
SCRUB_EMAIL = "[A-Za-z0-9_.]+@[A-Za-z0-9.]+"
SCRUB_LONGNUM = "[0-9]{6,}"


def scrub_exprs(text_col: str = "text") -> dict:
    """PII-style scrubbing pass — the redaction step a training pipeline
    runs before anything else sees the text: URLs, e-mail addresses, and
    long digit runs (phone/account numbers) are counted and masked.
    Counts come off the ORIGINAL text; `scrub_len` is the length after
    replacing in the fixed order url → email → longnum (the same three
    `regexp_replace` calls replay in DuckDB with the 'g' flag — patterns
    stay inside the regex subset both engines share). Pure column
    expressions: a map-only stage at any corpus size."""
    t = F.col(text_col)
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, SCRUB_URL, "<URL>"),
            SCRUB_EMAIL, "<EMAIL>"),
        SCRUB_LONGNUM, "<NUM>")
    return {
        "n_url": F.regexp_count(t, F.lit(SCRUB_URL)).cast("long"),
        "n_email": F.regexp_count(t, F.lit(SCRUB_EMAIL)).cast("long"),
        "n_longnum": F.regexp_count(t, F.lit(SCRUB_LONGNUM)).cast("long"),
        "scrub_len": F.length(scrubbed).cast("long"),
    }


def gopher_pass_expr(n_words="n_words", mean_word_len="mean_word_len",
                     rep_dup_ratio="rep_dup_ratio",
                     stopword_ratio="stopword_ratio"):
    """Gopher-style document quality RULE — the pass/fail filter decision
    composed from already-computed stats (Rae et al. 2021 §A1.1 shape):
    enough words, sane mean word length, bounded duplicate-n-gram mass,
    and at least one stopword hit. Pure boolean algebra over gated
    columns, emitted as an exact 0/1 integer."""
    return (
        (F.col(n_words) >= 5)
        & (F.col(mean_word_len) >= 2.0) & (F.col(mean_word_len) <= 12.0)
        & (F.col(rep_dup_ratio) <= 0.3)
        & (F.col(stopword_ratio) > 0.0)
    ).cast("long")


def source_tv(df, ref: str, source_col: str = "source",
              tokens_col: str = "tokens"):
    """Per-source TOTAL-VARIATION distance from a reference stratum's token
    distribution — the corpus-composition monitor that aggregates
    `source_drift`'s per-token numerators into one number per source:
    TV(s, ref) = ½ Σ_tok |c_s/N_s − c_ref/N_ref|. Computed exactly: the
    BIGINT numerator Σ_tok |c_s·N_ref − c_ref·N_s| over the source's
    vocabulary, plus (N_ref − Σ matched c_ref)·N_s for reference-only
    tokens, then ONE division by 2·N_s·N_ref — engine-replayable.

    Returns one row per source: (source, tv_num, tv4). TV(ref, ref) = 0.

    Scale shape: two-phase (source, token) aggregation, a token-keyed left
    join against the reference's aggregated vocabulary, the two scalars
    broadcast; no window, no raw-token shuffle beyond the first count."""
    flat = df.select(
        F.col(source_col).alias("source"), F.explode(tokens_col).alias("tok")
    )
    cnt = flat.groupBy("source", "tok").agg(F.count("*").cast("long").alias("c"))
    tot = cnt.groupBy("source").agg(F.sum("c").cast("long").alias("n_s"))
    refc = cnt.filter(F.col("source") == ref).select(
        "tok", F.col("c").alias("c_ref")
    )
    refn = tot.filter(F.col("source") == ref).select(
        F.col("n_s").alias("n_ref")
    )
    zero = F.lit(0).cast("long")
    j = (
        cnt.join(refc, "tok", "left")
        .crossJoin(F.broadcast(refn))
        .join(tot, "source")
    )
    agg = j.groupBy("source", "n_s", "n_ref").agg(
        F.sum(
            F.abs(F.col("c") * F.col("n_ref")
                  - F.coalesce("c_ref", zero) * F.col("n_s"))
        ).cast("long").alias("s1"),
        F.sum(F.coalesce("c_ref", zero)).cast("long").alias("cm"),
    )
    num = (F.col("s1") + (F.col("n_ref") - F.col("cm")) * F.col("n_s"))
    return agg.select(
        "source",
        num.cast("long").alias("tv_num"),
        fround4(
            num.cast("double")
            / (2 * F.col("n_s") * F.col("n_ref")).cast("double")
        ).alias("tv4"),
    )


def budget_allocation(df, weight_col: str, source_col: str = "source",
                      cap_epochs: int = 4, budget_num: int = 1,
                      budget_den: int = 2):
    """Training-data BUDGET PLANNER — the mixture-table arithmetic behind a
    LLaMA-style data recipe: given a token budget T = total·num/den split
    equally across sources, each source s with mass n_s receives
    alloc_s = min(cap_epochs·n_s, T/k) (no source repeats more than
    `cap_epochs` epochs), and its epoch count is alloc_s/n_s. All quantities
    are exact BIGINT integer arithmetic (floor divisions) except the ONE
    final epochs division under fround4 — engine-replayable.

    Returns one row per source: (source, budget_mass, budget_share,
    budget_alloc, budget_epochs4).

    Scale shape: one partial+final aggregation per source, the corpus
    totals broadcast as a 1-row cross join — the plan is metadata-sized."""
    per = df.groupBy(source_col).agg(
        F.sum(weight_col).cast("long").alias("budget_mass")
    )
    tot = per.agg(
        F.sum("budget_mass").cast("long").alias("__n_total"),
        F.count("*").cast("long").alias("__k"),
    )
    j = per.crossJoin(F.broadcast(tot))
    share = F.expr(
        f"((__n_total * {int(budget_num)}) div {int(budget_den)}) div __k"
    )
    j = j.withColumn("budget_share", share.cast("long"))
    alloc = F.least(
        F.lit(int(cap_epochs)) * F.col("budget_mass"), F.col("budget_share")
    )
    return j.select(
        source_col, "budget_mass", "budget_share",
        alloc.cast("long").alias("budget_alloc"),
        fround4(
            alloc.cast("double") / F.col("budget_mass").cast("double")
        ).alias("budget_epochs4"),
    )


def zorder_key(a_sql: str, b_sql: str, bits: int = 16):
    """Z-ORDER (Morton) clustering key over two integer dimensions — the
    layout primitive behind Delta/Iceberg `OPTIMIZE ZORDER BY (a, b)`:
    interleaving the low `bits` bits of each dimension yields a 1-D sort
    key whose ranges are 2-D rectangles, so files sorted/range-partitioned
    by it prune on EITHER column's predicate. Pure integer bit arithmetic
    (unrolled shifts ≤ 2·bits+1 ≤ 62 — inside the cross-engine 63-bit
    shift constraint, see CLAUDE.md), bit-identical in any engine. Bits
    above `bits` are dropped (fixed-precision z-map — quantize or clamp
    wider dimensions first). `a_sql`/`b_sql` are SQL texts of BIGINT
    expressions; a gets the even bit positions, b the odd."""
    if not 1 <= bits <= 31:
        raise ValueError(f"bits must be in [1, 31], got {bits}")
    terms = [
        f"(shiftleft(shiftright({a_sql}, {i}) & 1, {2 * i})"
        f" + shiftleft(shiftright({b_sql}, {i}) & 1, {2 * i + 1}))"
        for i in range(bits)
    ]
    return F.expr("(" + " + ".join(terms) + ")")


def lz78_phrases(tokens_col: str = "tokens"):
    """LZ78 incremental-parse PHRASE COUNT — the compression-ratio quality
    filter (CCNet/RefinedWeb-style: highly compressible ⇒ boilerplate or
    degenerate repetition; near-incompressible ⇒ noise). The Lempel–Ziv
    parse splits the stream into the shortest prefixes not yet in the
    dictionary; the phrase count (a trailing partial phrase counts once) IS
    the LZ78 codeword count, so phrases/n_tok is the compression-ratio
    proxy with zero float arithmetic.

    ONE Catalyst aggregate() fold with struct state {dict array<string>,
    cur string, ph bigint} — pure JVM, zero Python, O(n·|dict|) per row
    (documents, not corpora). The DuckDB oracle replays the parse with a
    RECURSIVE CTE (one recursion step per phrase — see oracles; the
    list_reduce fold is unusable for branching state, CLAUDE.md), so the
    count is fully value-gated cross-engine. Exact integers only."""
    cand = (
        "CASE WHEN acc.cur = '' THEN cast(t as string) "
        "ELSE concat(acc.cur, ',', cast(t as string)) END"
    )
    return F.expr(
        f"aggregate({tokens_col}, "
        "named_struct('dict', cast(array() as array<string>), "
        "'cur', '', 'ph', cast(0 as bigint)), "
        f"(acc, t) -> CASE WHEN array_contains(acc.dict, {cand}) "
        f"THEN named_struct('dict', acc.dict, 'cur', {cand}, 'ph', acc.ph) "
        f"ELSE named_struct('dict', concat(acc.dict, array({cand})), "
        "'cur', '', 'ph', acc.ph + 1) END, "
        "acc -> acc.ph + CASE WHEN acc.cur <> '' THEN cast(1 as bigint) "
        "ELSE cast(0 as bigint) END)"
    )


def hilbert_key(a_sql: str, b_sql: str, bits: int = 16):
    """HILBERT-curve clustering key over two integer dimensions — the
    stronger-locality complement to `zorder_key` (Delta's OPTIMIZE supports
    both; Hilbert is the default in newer layouts because consecutive key
    values are always GRID-ADJACENT, where the Morton curve takes long
    diagonal jumps at block seams). Aligned blocks of 4^m consecutive keys
    are exact 2^m × 2^m squares — even tighter than z-order's rectangles —
    so a key range prunes BOTH columns' predicates.

    Standard xy2d transform (rotate/flip quadrant recursion) as ONE
    Catalyst `aggregate()` fold over the bit positions — struct state
    {x, y, d}, all-BIGINT fields (fold field types must stay stable), pure
    integer compare/shift/xor ops any engine reproduces bit-for-bit
    (shifts ≤ 2·bits−2 ≤ 60, inside the 63-bit cross-engine constraint).
    `a_sql`/`b_sql` are SQL texts of BIGINT expressions in [0, 2^bits)."""
    if not 1 <= bits <= 31:
        raise ValueError(f"bits must be in [1, 31], got {bits}")
    s = "shiftleft(cast(1 as bigint), i)"
    rx = f"(acc.x & {s}) > 0"
    ry0 = f"(acc.y & {s}) = 0"
    return F.expr(
        f"aggregate(sequence({bits - 1}, 0, -1), "
        f"named_struct('x', cast(({a_sql}) as bigint), "
        f"'y', cast(({b_sql}) as bigint), 'd', cast(0 as bigint)), "
        f"(acc, i) -> named_struct("
        # ry=0 → conditional anti-diagonal flip, then swap(x, y); ry=1 → keep
        f"'x', CASE WHEN {ry0} THEN CASE WHEN {rx} THEN {s} - 1 - acc.y "
        f"ELSE acc.y END ELSE acc.x END, "
        f"'y', CASE WHEN {ry0} THEN CASE WHEN {rx} THEN {s} - 1 - acc.x "
        f"ELSE acc.x END ELSE acc.y END, "
        # d += s² · ((3·rx) xor ry)
        f"'d', acc.d + shiftleft(cast(1 as bigint), i + i) * "
        f"(cast(CASE WHEN {rx} THEN 3 ELSE 0 END as bigint) ^ "
        f"cast(CASE WHEN {ry0} THEN 0 ELSE 1 END as bigint))), "
        f"acc -> acc.d)"
    )


def largest_remainder_alloc(df, k: int, source_col: str = "source"):
    """Largest-remainder (Hamilton) APPORTIONMENT — allocate exactly `k`
    sample slots across sources proportional to their row counts: each
    source gets floor(k·n_s/N) slots, and the L = k − Σfloor leftover
    slots go to the L largest remainders (k·n_s mod N), ties to the
    lowest source name. The standard exactly-K mixture allocator (the
    "sample exactly 100k docs with proportional per-source shares" op);
    Σ alloc_s = k ALWAYS, by construction.

    Every quantity is exact BIGINT arithmetic (floor division + modulo +
    an integer rank) — engine-replayable bit-for-bit.

    Returns one row per source: (source, lr_n, lr_floor, lr_rem,
    lr_bonus, lr_alloc).

    Scale shape: one partial+final count aggregation; the windows below it
    run over the |sources|-row aggregate (metadata-sized), never the
    corpus."""
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    from pyspark.sql import Window

    counts = df.groupBy(source_col).agg(F.count("*").cast("long").alias("lr_n"))
    w = Window.partitionBy()
    c = (
        counts.withColumn("__tot", F.sum("lr_n").over(w).cast("long"))
        .withColumn("lr_floor", F.expr(f"CAST(({int(k)} * lr_n) DIV __tot AS BIGINT)"))
        .withColumn("lr_rem", F.expr(f"CAST(({int(k)} * lr_n) % __tot AS BIGINT)"))
    )
    c = c.withColumn(
        "__left", (F.lit(int(k)) - F.sum("lr_floor").over(w)).cast("long")
    ).withColumn(
        "__rrank",
        F.row_number().over(
            Window.orderBy(F.desc("lr_rem"), F.asc(source_col))
        ).cast("long"),
    )
    return c.select(
        source_col, "lr_n", "lr_floor", "lr_rem",
        (F.col("__rrank") <= F.col("__left")).cast("long").alias("lr_bonus"),
        (
            F.col("lr_floor")
            + (F.col("__rrank") <= F.col("__left")).cast("long")
        ).cast("long").alias("lr_alloc"),
    )


def winnow_exprs(tokens_col: str = "tokens", n_tok_col: str = "n_tok",
                 k: int = 4, w: int = 4,
                 base: int = 1000003, p31: int = 2147483647) -> dict:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken 2003 —
    the MOSS local fingerprinting algorithm, the guarantee-carrying
    alternative to MinHash sampling: any shared substring of length
    >= k + w - 1 is ALWAYS detected).

    k-gram hashes h_i = fold((a·base + t) mod p31) over tokens[i..i+k-1];
    each window of `w` consecutive hashes selects its minimal hash, ties
    broken by the RIGHTMOST position (standard winnowing); consecutive
    windows picking the same (position, hash) collapse to one fingerprint.

    Returns pure-column expressions (zero shuffle, exact integers):
      wn_fps  — array<bigint> of distinct selected fingerprints encoded
                pos·2^31 + hash (position disambiguates repeats),
      wn_set  — array<bigint> of distinct selected HASH values (the set MOSS
                compares between documents).
    """
    if k < 2 or w < 1:
        raise ValueError("winnowing needs k >= 2 and w >= 1")
    hs = (
        f"CASE WHEN {n_tok_col} >= {k} THEN "
        f"transform(sequence(0, cast({n_tok_col} as int) - {k}), i -> "
        f"aggregate(slice({tokens_col}, i + 1, {k}), 0L,"
        f" (a, t) -> (a * {base} + t) % {p31}))"
        f" ELSE array() END"
    )
    # rightmost index of the window minimum: left-to-right fold keeping the
    # LAST matching offset (init -1; every j that equals the min overwrites)
    jstar = (
        f"aggregate(sequence(0, {w - 1}), -1, (acc, j) -> "
        f"IF(element_at(hs, s + j + 1) = array_min(slice(hs, s + 1, {w})),"
        f" j, acc))"
    )
    enc = (
        f"cast(s + {jstar} as bigint) * 2147483648"
        f" + array_min(slice(hs, s + 1, {w}))"
    )
    sel = (
        f"CASE WHEN {n_tok_col} >= {k + w - 1} THEN "
        f"array_distinct(transform(sequence(0, size(hs) - {w}), s -> {enc}))"
        f" ELSE array() END"
    )
    # bind hs once via a lateral-style nested expression: wrap in a
    # higher-order transform over a 1-element array so `hs` is named
    wrapped = lambda body: (  # noqa: E731
        f"element_at(transform(array({hs}), hs -> {body}), 1)"
    )
    fps = F.expr(wrapped(sel)).cast("array<bigint>")
    return {
        "wn_fps": fps,
        "wn_set": F.array_distinct(
            F.expr(f"transform({wrapped(sel)}, e -> e % 2147483648)")
        ).cast("array<bigint>"),
    }


def quota_sample(df, k: int, stratum_col: str = "source",
                 id_expr=None, mix: int = 2654435761,
                 p31: int = 2147483647):
    """Exactly-k-per-stratum deterministic sampling (the eval/holdout-set
    builder): rank rows within each stratum by the reproducible
    pmod((id mod P31)·MIX, P31) hash (ties broken by id) and keep the first
    k. Unlike rate-based `stratified_keep` the output SIZE is exact, and
    like it the selection is re-derivable forever and nested in k.

    Adds `quota_rank` (1-based within stratum) and `quota_keep` (0/1).
    One per-stratum sort (partitioned window) — the scale-safe shape for
    bounded-k holdout selection; for unbounded sampling at 10^12 rows use
    `stratified_keep` (zero shuffle) instead.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    from pyspark.sql import Window

    if id_expr is None:
        id_expr = F.col("doc_id")
    h = F.pmod((id_expr.cast("bigint") % p31) * F.lit(mix % p31), F.lit(p31))
    w = Window.partitionBy(stratum_col).orderBy(h.asc(), id_expr.asc())
    out = df.withColumn("quota_rank", F.row_number().over(w).cast("long"))
    return out.withColumn(
        "quota_keep", (F.col("quota_rank") <= k).cast("long"))


def priority_sample(df, k: int, weight_col: str, stratum_col: str = "source",
                    id_expr=None, mix: int = 1566083941,
                    p31: int = 2147483647):
    """Deterministic weighted sampling WITHOUT replacement — priority
    sampling (Duffield, Lund & Thorup, JACM 2007): each row draws
    u = (h+1)/P31 from its reproducible id hash and gets priority
    q = w/u; the k highest-priority rows per stratum form the sample, and
    the (k+1)-th priority τ is the threshold that makes
    ŵ = max(w, τ) an unbiased per-row estimator of w over the sample
    (subset-sum estimation: Σ_sample ŵ estimates Σ w). This is the
    weight-aware counterpart of `quota_sample` — heavy documents are
    near-certain to be kept while light ones are sampled, with ONE
    partitioned sort and no RNG: the sample is re-derivable forever.

    Exactness contract (CLAUDE.md): q = (w·P31)/(h+1) — the numerator is an
    exact bigint whose double conversion is exact for w < 2^53/P31 ≈ 4.19e6
    (true for any char/token-count weight; larger weights stay
    cross-engine-identical — same IEEE conversion — but w·P31 must stay
    below 2^63, i.e. w < ~4.3e9, or the bigint product wraps), the
    denominator an exact positive integer, so the priority is ONE
    correctly-rounded IEEE division that every engine reproduces
    bit-for-bit; ranking ties break on id. Emitted values are `fround4`ed
    doubles plus exact-integer rank/keep.

    Adds: pri4 (rounded priority), pri_rank (1-based, priority desc),
    pri_keep (0/1), pri_ht4 (rounded max(w, τ) for kept rows, w itself
    when the stratum has ≤ k rows — the HT estimator weight; 0.0 for
    dropped rows).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    from pyspark.sql import Window

    from nyxus_spark.compare import fround4

    if id_expr is None:
        id_expr = F.col("doc_id")
    h = F.pmod((id_expr.cast("bigint") % p31) * F.lit(mix % p31), F.lit(p31))
    wcol = F.col(weight_col).cast("bigint")
    pri = (wcol * F.lit(p31)).cast("double") / (h + 1).cast("double")
    df = df.withColumn("__pri", pri)
    wnd = Window.partitionBy(stratum_col).orderBy(
        F.col("__pri").desc(), id_expr.asc())
    wall = Window.partitionBy(stratum_col)
    out = (
        df.withColumn("pri_rank", F.row_number().over(wnd).cast("long"))
        .withColumn(
            "__tau",
            F.max(F.when(F.col("pri_rank") == k + 1, F.col("__pri"))).over(wall),
        )
    )
    keep = F.col("pri_rank") <= k
    ht = F.when(
        keep,
        F.greatest(wcol.cast("double"), F.coalesce("__tau", F.lit(0.0))),
    ).otherwise(F.lit(0.0))
    return out.select(
        *[c for c in df.columns if c != "__pri"],
        fround4(F.col("__pri")).alias("pri4"),
        "pri_rank",
        keep.cast("long").alias("pri_keep"),
        fround4(ht).alias("pri_ht4"),
    )


def sql_priority_sample(weight_expr: str, k: int,
                        stratum_col: str = "source",
                        id_expr: str = "doc_id",
                        table: str = "documents",
                        mix: int = 1566083941,
                        p31: int = 2147483647) -> str:
    """DuckDB subquery body replaying `priority_sample` op-for-op: a full
    SELECT (embed as a CTE body) emitting (doc_id, pri4, pri_rank,
    pri_keep, pri_ht4). Two layers because DuckDB forbids nesting the
    τ-window over the rank-window."""
    h = (f"(((({id_expr} % {p31}) * {mix % p31}) % {p31} + {p31}) % {p31})")
    pri = (f"(CAST(CAST({weight_expr} AS BIGINT) * {p31} AS DOUBLE)"
           f" / CAST({h} + 1 AS DOUBLE))")
    tau = (f"COALESCE(MAX(CASE WHEN rnk = {k + 1} THEN pri END)"
           f" OVER (PARTITION BY strat), 0.0)")
    ht = (f"CASE WHEN rnk <= {k} THEN GREATEST(CAST(w AS DOUBLE), {tau})"
          f" ELSE 0.0 END")
    return f"""
  SELECT doc_id,
         FLOOR(pri * 10000.0 + 0.5) / 10000.0 AS pri4,
         CAST(rnk AS BIGINT) AS pri_rank,
         CAST(rnk <= {k} AS BIGINT) AS pri_keep,
         FLOOR(({ht}) * 10000.0 + 0.5) / 10000.0 AS pri_ht4
  FROM (
    SELECT {id_expr} AS doc_id, {stratum_col} AS strat,
           CAST({weight_expr} AS BIGINT) AS w, {pri} AS pri,
           row_number() OVER (PARTITION BY {stratum_col}
                              ORDER BY {pri} DESC, {id_expr} ASC) AS rnk
    FROM {table}
  )"""


def source_assoc_top(df, source_col: str = "source",
                     tokens_col: str = "tokens", min_count: int = 2):
    """Per-source most-ASSOCIATED token — the log-free PMI/chi-square
    monitor for domain-vocabulary drift: lift(t, s) = c(t,s)·N /
    (c(t)·c(s)) (observed over expected co-occurrence mass), argmax per
    source with ties to the lowest token id. All four counts are exact
    BIGINTs; the ranking key is ONE IEEE division of two exact integer
    products, so the argmax is engine-reproducible. Tokens with
    c(t,s) < min_count are excluded (a rare token seen once in one source
    has unbounded lift).

    Two-phase (source, token) aggregation + broadcast of the 1-row total —
    one shuffle on token, scale-safe."""
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    from pyspark.sql import Window

    expl = df.select(source_col, F.explode(tokens_col).alias("tok"))
    cts = expl.groupBy(source_col, "tok").agg(
        F.count("*").cast("long").alias("assoc_cts"))
    ct = cts.groupBy("tok").agg(
        F.sum("assoc_cts").cast("long").alias("assoc_ct"))
    cs = cts.groupBy(source_col).agg(
        F.sum("assoc_cts").cast("long").alias("assoc_cs"))
    ntot = cts.agg(F.sum("assoc_cts").cast("long").alias("n_all"))
    j = (cts.join(ct, "tok").join(cs, source_col)
            .crossJoin(F.broadcast(ntot))
            .filter(F.col("assoc_cts") >= min_count))
    ratio = ((F.col("assoc_cts") * F.col("n_all")).cast("double")
             / (F.col("assoc_ct") * F.col("assoc_cs")).cast("double"))
    w = Window.partitionBy(source_col).orderBy(
        ratio.desc(), F.col("tok").asc())
    return (j.withColumn("__rn", F.row_number().over(w))
             .filter(F.col("__rn") == 1)
             .select(source_col,
                     F.col("tok").cast("long").alias("top_assoc_token"),
                     "assoc_cts", "assoc_ct", "assoc_cs",
                     fround4(ratio).alias("lift4")))


def cross_source_leakage(df, n: int = 8, source_col: str = "source",
                         tokens_col: str = "tokens"):
    """Cross-source n-gram LEAKAGE monitor (train/eval-split hygiene): for
    each source, how many of its distinct n-grams also appear in at least
    one OTHER source. grams_total / grams_leaked are exact BIGINTs;
    leak_frac4 is ONE fround4 division.

    Shape: distinct (source, gram) pairs → per-gram distinct-source count →
    per-source rollup. Two shuffles, both keyed on the gram (two-phase
    partial aggregation applies) — never a pairwise source join, so the
    cost is O(distinct grams), not O(|S|²·grams)."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    g = df.select(
        source_col,
        F.explode(F.expr(
            f"CASE WHEN size({tokens_col}) >= {n} THEN "
            f"transform(sequence(0, size({tokens_col}) - {n}),"
            f" i -> slice({tokens_col}, i + 1, {n}))"
            f" ELSE array() END")).alias("g"),
    ).distinct()
    nsrc = g.groupBy("g").agg(
        F.countDistinct(source_col).cast("long").alias("__nsrc"))
    per = g.join(nsrc, "g").groupBy(source_col).agg(
        F.count("*").cast("long").alias("grams_total"),
        F.sum((F.col("__nsrc") >= 2).cast("long")).cast("long")
         .alias("grams_leaked"))
    return per.select(
        source_col, "grams_total", "grams_leaked",
        F.when(F.col("grams_total") > 0,
               fround4(F.col("grams_leaked") / F.col("grams_total")))
         .otherwise(F.lit(0.0)).alias("leak_frac4"))


def corpus_digest(df, group_col: str = "source", tokens_col: str = "tokens",
                  n_tok_col: str = "n_tok", p31: int = 2147483647):
    """Order-independent per-group corpus DIGEST — the data-versioning /
    lineage monitor: each doc contributes one exact content hash
    h = (position-weighted token fold mod 1000003) * 131 + n_tok, and the
    group digest is both the XOR and the SUM of member hashes (either
    detects any changed/added/dropped doc; both are commutative, so the
    aggregation is partial+final map-side-combinable — no order
    sensitivity at any parallelism). Emits digest_xor, digest_sum,
    digest_docs per group.

    Bounds: h < 1000003·131 + n_tok ≈ 1.32·10⁸, so the BIGINT digest_sum
    is exact up to ~7·10¹⁰ docs per group; past that rely on digest_xor
    (never overflows) or digest per bucket(doc_id) shard and keep the
    shard sums."""
    h = F.expr(
        f"(CASE WHEN size({tokens_col}) = 0 THEN 0L ELSE "
        f"aggregate(zip_with({tokens_col}, sequence(1, size({tokens_col})),"
        f" (t, k) -> cast(t as bigint) * k), 0L, (a, x) -> a + x)"
        f" % 1000003 END) * 131 + cast({n_tok_col} as bigint)"
    )
    return (
        df.select(group_col, h.alias("__h"))
        .groupBy(group_col)
        .agg(
            F.expr("bit_xor(__h)").cast("long").alias("digest_xor"),
            F.sum("__h").cast("long").alias("digest_sum"),
            F.count("*").cast("long").alias("digest_docs"),
        )
    )


def kn_continuation(df, tokens_col: str = "tokens", n_tok_col: str = "n_tok"):
    """Kneser-Ney CONTINUATION counts over corpus bigrams — the smoothing
    statistics a KN language model is built on: per token w,
    kn_left = N1+(·w) = |{v : count(v, w) > 0}| (how many distinct LEFT
    contexts w continues — KN's unigram numerator, famously better than
    raw frequency for backoff) and kn_right = N1+(w·). Both exact
    integers; the KN continuation probability is kn_left / N1+(··), ONE
    division away, and N1+(··) is just SUM(kn_left).

    Plan shape: exploded bigram pairs reduce to the DISTINCT-pair dim
    table in one hash aggregation (map-side combine — the shuffle carries
    distinct pairs per partition, not positions), then two tiny re-aggs
    of that dim table. Documents shorter than 2 tokens emit nothing."""
    pairs = df.select(
        F.explode(
            F.expr(
                f"CASE WHEN {n_tok_col} >= 2 THEN zip_with("
                f"slice({tokens_col}, 1, {n_tok_col} - 1),"
                f" slice({tokens_col}, 2, {n_tok_col} - 1),"
                f" (a, b) -> struct(a AS v, b AS w)) "
                "ELSE array() END"
            )
        ).alias("bg")
    ).select("bg.v", "bg.w").distinct()
    left = pairs.groupBy(F.col("w").alias("token")).agg(
        F.count("*").cast("long").alias("kn_left")
    )
    right = pairs.groupBy(F.col("v").alias("token")).agg(
        F.count("*").cast("long").alias("kn_right")
    )
    zero = F.lit(0).cast("long")
    return left.join(right, "token", "full_outer").select(
        "token",
        F.coalesce("kn_left", zero).alias("kn_left"),
        F.coalesce("kn_right", zero).alias("kn_right"),
    )


def holdout_split(id_expr, val_rate: float = 0.01, test_rate: float = 0.01,
                  mix: int = 1566083941, p31: int = 2147483647):
    """Deterministic 3-way train/val/test split — disjoint BY CONSTRUCTION
    (one hash, three half-open ranges): 2 (test) when h < ⌊P31·test⌋,
    1 (val) when h < ⌊P31·(test+val)⌋, else 0 (train). Same
    (id mod P31)·(MIX mod P31) mod P31 family as `deterministic_sample`
    but with an INDEPENDENT mixer (Knuth's LCG multiplier 1566083941 by
    default — LARGE, so the product wraps P31 from id = 2 up; a small
    mixer like MINSTD 48271 leaves every id below ~44k/test_rate in the
    test split because id·mix never wraps), so holdout
    membership is uncorrelated with the sampling/shuffle hashes and every
    id re-derives its split on any engine forever — the property that
    makes eval sets stable across corpus refreshes (a doc never migrates
    between train and test when unrelated docs are added/removed)."""
    if val_rate < 0 or test_rate < 0 or val_rate + test_rate > 1:
        raise ValueError(
            f"rates must be nonnegative with sum <= 1, got val={val_rate} "
            f"test={test_rate}")
    h = F.pmod((id_expr.cast("bigint") % p31) * F.lit(mix % p31), F.lit(p31))
    tcut = int(p31 * test_rate)
    vcut = int(p31 * (test_rate + val_rate))
    return (
        F.when(h < tcut, F.lit(2)).when(h < vcut, F.lit(1)).otherwise(F.lit(0))
    ).cast("long")


def cv_fold(id_expr, k: int, mix: int = 1181783497, p31: int = 2147483647):
    """Deterministic k-fold cross-validation assignment: fold(id) =
    ((id mod P31)·MIX mod P31) mod k — the complement of `holdout_split`
    when EVERY doc must serve as eval exactly once (k disjoint folds
    covering the corpus; train_f = corpus ∖ fold_f). Same re-derivability
    property: any engine, any corpus refresh, a doc's fold never moves.
    The default mixer (2654435761 mod P31) is LARGE (id·mix wraps P31 from
    id ≈ 4), so the low-id bias of small multipliers (see `holdout_split`)
    cannot occur (and mod-k assignment has no range-cut to starve anyway);
    the default mixer is independent of the sampling (2654435761), holdout
    (1566083941), quota (1103515245), and shuffle hashes so the fold
    partition is uncorrelated with every other decision drawn on the same
    ids. k must be ≥ 2 (k=1 is no split)."""
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    h = F.pmod((id_expr.cast("bigint") % p31) * F.lit(mix % p31), F.lit(p31))
    return (h % k).cast("long")


def digest_update(old_digest, removed, added, group_col: str = "source",
                  tokens_col: str = "tokens", n_tok_col: str = "n_tok",
                  p31: int = 2147483647):
    """Incrementally MAINTAIN `corpus_digest` under a snapshot refresh —
    the property the digest's commutativity was designed to buy at 100 TB:
    a refresh touching 0.1% of documents updates the lineage digest from
    the DIFF alone (XOR is self-inverse, SUM subtracts, COUNT adds) with
    no corpus rescan. `removed`/`added` are the removed and added document
    rows (a MODIFIED document contributes its old version to `removed`
    and its new version to `added`). Returns the corpus_digest schema;
    groups present only in `added` (a brand-new source) start from the
    identity (0, 0, 0).

    The gate strategy proves the algebra, not just the code: the oracle
    recomputes the refreshed corpus's digest FROM SCRATCH and the two
    must agree exactly."""
    zero = F.lit(0).cast("long")
    rd = corpus_digest(removed, group_col, tokens_col, n_tok_col, p31).select(
        group_col, F.col("digest_xor").alias("__rx"),
        F.col("digest_sum").alias("__rs"), F.col("digest_docs").alias("__rn"),
    )
    ad = corpus_digest(added, group_col, tokens_col, n_tok_col, p31).select(
        group_col, F.col("digest_xor").alias("__ax"),
        F.col("digest_sum").alias("__as"), F.col("digest_docs").alias("__an"),
    )
    base = old_digest.join(rd, group_col, "full_outer").join(
        ad, group_col, "full_outer"
    )
    cx = lambda c: F.coalesce(F.col(c), zero)
    return base.select(
        group_col,
        cx("digest_xor").bitwiseXOR(cx("__rx")).bitwiseXOR(cx("__ax"))
        .cast("long").alias("digest_xor"),
        (cx("digest_sum") - cx("__rs") + cx("__as"))
        .cast("long").alias("digest_sum"),
        (cx("digest_docs") - cx("__rn") + cx("__an"))
        .cast("long").alias("digest_docs"),
    )


def bpe_apply_merge(tokens_col, pair_a: int, pair_b: int, new_id: int):
    """Column expr: GREEDY left-to-right application of one BPE merge —
    every non-overlapping adjacent (a, b) becomes `new_id` (the merge the
    count in `bpe_merge_count` prices). Same fold discipline as the
    counter: a JVM whole-stage `aggregate` over the index sequence carrying
    (out array, skip flag) — no Python, no shuffle. The per-step array
    concat makes one pass O(n²) in array copies; fine for tokenizer
    TRAINING (short docs / sampled corpus), not meant as a corpus-rewrite
    pass — `remap_tokens` handles bulk vocabulary rewrites."""
    a, b, n = int(pair_a), int(pair_b), int(new_id)
    t = tokens_col
    return F.expr(
        f"CASE WHEN size({t}) = 0 THEN cast(array() as array<bigint>) ELSE "
        f"aggregate(sequence(1, size({t})),"
        f" named_struct('out', cast(array() as array<bigint>), 'skip', false),"
        f" (acc, i) -> CASE"
        f"   WHEN acc.skip THEN named_struct('out', acc.out, 'skip', false)"
        f"   WHEN i < size({t}) AND element_at({t}, i) = {a}"
        f"    AND element_at({t}, i + 1) = {b}"
        f"   THEN named_struct('out', concat(acc.out, array({n}L)), 'skip', true)"
        f"   ELSE named_struct('out',"
        f"        concat(acc.out, array(cast(element_at({t}, i) as bigint))),"
        f"        'skip', false) END,"
        f" acc -> acc.out) END"
    )


def bpe_train(df, n_merges: int, new_id_start: int,
              tokens_col: str = "tokens"):
    """Corpus-level BPE tokenizer TRAINING (Sennrich et al. 2016) — the
    full iterative loop, not just one step: each round counts every
    adjacent token pair corpus-wide (one explode + hash aggregation —
    map-side combinable, the only shuffle per round), picks the argmax
    (ties: count desc, then lowest a, then lowest b — fully deterministic),
    and rewrites the corpus with `bpe_apply_merge` before the next round.
    Mirrors `connected_components`' iterative discipline: one bounded
    driver-side collect of a SINGLE winner row per round, never the corpus.

    Returns (merges, df): `merges` is a list of dicts
    {rank, a, b, new_id, count} (count = naive adjacent-occurrence count
    that ranked the winner, the classic BPE statistic), `df` the rewritten
    corpus with `tokens_col` as array<bigint>.

    Iterative + greedy ⇒ not SQL-replayable in one query; pinned against a
    pure-Python reference in tests/test_wave20_ops.py instead (the brief's
    weaker-gate class for iterative algorithms)."""
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    out = df.withColumn(
        tokens_col, F.col(tokens_col).cast("array<bigint>"))
    merges = []
    for r in range(n_merges):
        pairs = out.select(
            F.explode(F.expr(
                f"CASE WHEN size({tokens_col}) < 2 THEN array() ELSE "
                f"zip_with(slice({tokens_col}, 1, size({tokens_col}) - 1),"
                f" slice({tokens_col}, 2, size({tokens_col}) - 1),"
                f" (x, y) -> named_struct('a', x, 'b', y)) END"
            )).alias("p")
        ).groupBy("p.a", "p.b").agg(F.count("*").alias("cnt"))
        win = pairs.orderBy(
            F.col("cnt").desc(), F.col("a").asc(), F.col("b").asc()
        ).limit(1).collect()
        if not win:
            break
        w = win[0]
        new_id = new_id_start + r
        merges.append({"rank": r, "a": int(w.a), "b": int(w.b),
                       "new_id": new_id, "count": int(w.cnt)})
        out = out.withColumn(
            tokens_col, bpe_apply_merge(tokens_col, w.a, w.b, new_id))
        # truncate lineage the same way connected_components does: each
        # round's plan otherwise nests the previous round's fold
        out = out.localCheckpoint(eager=False)
    return merges, out


def dsir_weights(df, target_flag, tokens_col: str = "tokens",
                 n_tok_col: str = "n_tok", id_col: str = "doc_id",
                 buckets: int = HB_BUCKETS):
    """DSIR importance weights (Xie et al., NeurIPS 2023 — Data Selection
    via Importance Resampling), log-free so the gate is exact: the raw and
    target corpora are modeled as hashed-bigram bag-of-features
    distributions, and each document's importance weight is

        w(doc) = Π_positions  p_target(bucket_i) / p_raw(bucket_i)

    with add-1 smoothing. Every per-bucket ratio is ONE IEEE division of
    two exact BIGINTs,

        r(b) = ((c_t(b)+1)·(N_r+B)) / ((c_r(b)+1)·(N_t+B)),

    (c = bucket count, N = total positions, B = bucket count 1024), exact
    while (max c+1)·(N+B) < 2^53 — ~10^8 corpus positions with a 10^7-hot
    bucket; beyond that pre-scale counts or go log-domain (and lose the
    cross-engine gate). The per-doc product folds the ratios SEQUENTIALLY
    in position order (seed 1.0; 1.0·r1 == r1 exactly), which DuckDB
    replays multiply-for-multiply with list_reduce(list(r ORDER BY i)).
    A doc with heavy target-side features scores > 1; DSIR keeps a
    weight-proportional resample — here the deterministic analog
    dsir_keep = [w > 1] rides along (both engines compare bit-identical
    doubles). Very long non-target docs can underflow to 0.0 — IEEE
    underflow is deterministic and identical cross-engine.

    Plan shape at 100 TB: one explode + two map-side-combinable hash aggs
    build the 1024-row ratio table; the table collapses to a DENSE
    1024-double array broadcast to every task; scoring is then a PURE MAP
    stage (in-row fold, zero shuffle, zero Python).

    `target_flag` is a boolean Column marking target-domain rows.
    Returns (ratios_row, scored): `ratios_row` the one-row DataFrame
    carrying the dense ratio array (inspectable), `scored` = df with
    dsir_pairs / dsir_w (raw double) / dsir_w4 / dsir_keep appended.
    """
    t, n = tokens_col, n_tok_col
    b = int(buckets)
    bucket_list = (
        f"CASE WHEN {n} >= 2 THEN zip_with(slice({t}, 1, {n} - 1),"
        f" slice({t}, 2, {n} - 1),"
        f" (a, c) -> pmod(cast(a as bigint) * {HB_K1}"
        f" + cast(c as bigint) * {HB_K2}, {HB_P31}) % {b})"
        f" ELSE cast(array() as array<bigint>) END"
    )
    ex = df.select(
        F.col(id_col), target_flag.alias("_is_t"),
        F.explode(F.expr(bucket_list)).alias("b"),
    )
    cnt = ex.groupBy("b").agg(
        F.count("*").alias("cr"),
        F.sum(F.col("_is_t").cast("bigint")).alias("ct"),
    )
    # one-row totals + dense ratio array: absent buckets (no raw
    # occurrence anywhere) are never looked up — their slot still gets the
    # smoothed (0, 0) ratio for cleanliness
    ratios_row = cnt.agg(
        F.sum("cr").alias("nr"), F.sum("ct").alias("nt"),
        F.map_from_arrays(
            F.collect_list(F.col("b").cast("int")),
            F.collect_list(F.struct("cr", "ct")),
        ).alias("m"),
    ).select(
        F.expr(
            f"transform(sequence(0, {b} - 1), i ->"
            " CAST((coalesce(element_at(m, cast(i as int)).ct, 0L) + 1L)"
            f" * (nr + {b}) AS DOUBLE)"
            " / CAST((coalesce(element_at(m, cast(i as int)).cr, 0L) + 1L)"
            f" * (nt + {b}) AS DOUBLE))"
        ).alias("dsir_arr"),
    )
    w = F.expr(
        f"aggregate({bucket_list}, CAST(1.0 AS DOUBLE),"
        " (acc, x) -> acc * element_at(dsir_arr, cast(x as int) + 1))"
    )
    scored = df.crossJoin(F.broadcast(ratios_row)).select(
        *df.columns,
        F.expr(f"CAST(greatest({n} - 1, 0) AS BIGINT)").alias("dsir_pairs"),
        w.alias("dsir_w"),
        fround4(w).alias("dsir_w4"),
        (w > F.lit(1.0)).cast("long").alias("dsir_keep"),
    )
    return ratios_row, scored


def posting_stats(df, tokens_col: str = "tokens",
                  id_expr_sql: str = "cast(substr(doc_id, 5) as bigint)"):
    """Inverted-index POSTING-LIST statistics — the IR-indexing primitive
    (token → sorted doc-id list) with the classic gap/varint cost model:
    per token,

      post_df       — document frequency (distinct docs),
      post_first    — smallest doc id,
      post_max_gap  — largest doc-id gap (worst-case delta),
      post_bits     — Σ strlen(bin(gap)) over the delta-encoded list
                      (g₁ = first+1, gᵢ = oidᵢ − oidᵢ₋₁ ≥ 1): the exact
                      bit cost of a minimal binary gap encoding, the
                      index-size estimate an indexer plans storage with.

    Every quantity is an exact integer (strlen(bin(n)) = ⌊log₂ n⌋ + 1
    computed WITHOUT floats, identical in any engine).

    Scale shape: one distinct (token, doc) aggregation, one window
    partitioned by token (gap computation), one final hash agg — the
    standard inverted-index build pipeline."""
    from pyspark.sql import Window

    p = df.select(
        F.expr(id_expr_sql).alias("__oid"),
        F.explode(tokens_col).alias("token"),
    ).distinct()
    w = Window.partitionBy("token").orderBy(F.col("__oid").asc())
    g = p.withColumn("__gap", F.col("__oid") - F.lag("__oid").over(w))
    return g.groupBy("token").agg(
        F.count("*").cast("long").alias("post_df"),
        F.min("__oid").cast("long").alias("post_first"),
        F.coalesce(F.max("__gap"), F.lit(0)).cast("long").alias("post_max_gap"),
        F.sum(
            F.expr(
                "CASE WHEN __gap IS NULL THEN length(bin(__oid + 1))"
                " ELSE length(bin(__gap)) END"
            )
        ).cast("long").alias("post_bits"),
    )


def bm25_scores(df, terms, tokens_col: str = "tokens",
                n_tok_col: str = "n_tok", id_col: str = "doc_id"):
    """Okapi BM25 lexical relevance (Robertson et al., TREC-3) with the
    LOG-FREE rational idf — the retrieval/quality-scoring primitive over a
    broadcast-tiny query term set, engine-exact end to end (cross-engine
    log is the one non-replayable op, so the idf keeps the
    Robertson–Spärck-Jones RATIO unlogged; it is monotone in df, which is
    what the downstream keep/rank decision consumes):

        idf_t = (2N − 2df_t + 1) / (2df_t + 1)
        tfn_t = tf·(k1+1) / (tf + k1·(1−b) + k1·b·dl/avgdl)       k1=6/5, b=3/4
              = 44·tf·S / (20·tf·S + 6·S + 18·dl·N)               [avgdl = S/N]
        score = Σ_t idf_t · tfn_t   over matched terms in token-id order

    Every per-term contribution is ONE IEEE division of two exact BIGINTs
    (numerator (2N−2df+1)·44·tf·S — exact while that product fits int64,
    i.e. N·tf·S ≲ 2e17; at larger corpus mass route the product through
    DECIMAL(38)), and the score is a sequential fold over the per-doc
    matched terms sorted by token id — the oracle replays it
    addition-for-addition via list_reduce(list(v ORDER BY t)).

    Scale shape: corpus scalars (N, S) are one agg broadcast; tf comes from
    one explode + IN-filter (the query is a literal list) + hash agg; df is
    one |Q|-row agg broadcast back; the final fold runs over ≤ |Q| rows per
    doc. Zero corpus-sized shuffles beyond the (doc, term) tf agg.

    Returns (id_col, bm25_terms, bm25_tf, bm25_score4) — one row per doc
    with at least one matched term."""
    terms = sorted(set(int(x) for x in terms))
    if not terms:
        raise ValueError("terms must be non-empty")
    tot = df.agg(
        F.count("*").cast("long").alias("__N"),
        F.sum(n_tok_col).cast("long").alias("__S"),
    )
    ex = df.select(
        id_col,
        F.col(n_tok_col).cast("long").alias("__dl"),
        F.explode(tokens_col).alias("__t"),
    ).filter(F.col("__t").isin(terms))
    tf = ex.groupBy(id_col, "__t", "__dl").agg(
        F.count("*").cast("long").alias("__tf")
    )
    dfreq = tf.groupBy("__t").agg(F.count("*").cast("long").alias("__df"))
    j = tf.join(F.broadcast(dfreq), "__t").join(F.broadcast(tot))
    num = (2 * F.col("__N") - 2 * F.col("__df") + 1) * 44 * F.col("__tf") * F.col("__S")
    den = (2 * F.col("__df") + 1) * (
        20 * F.col("__tf") * F.col("__S")
        + 6 * F.col("__S")
        + 18 * F.col("__dl") * F.col("__N")
    )
    j = j.select(
        id_col, "__t", "__tf",
        (num.cast("double") / den.cast("double")).alias("__v"),
    )
    return (
        j.groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("bm25_terms"),
            F.sum("__tf").cast("long").alias("bm25_tf"),
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("__t").alias("t"), F.col("__v").alias("v"))
                )
            ).alias("__terms"),
        )
        .select(
            id_col, "bm25_terms", "bm25_tf",
            fround4(
                F.aggregate("__terms", F.lit(0.0), lambda a, x: a + x["v"])
            ).alias("bm25_score4"),
        )
    )


def rendezvous_shard(id_expr_sql: str, n_shards: int,
                     mix: int = 1103515245, salt: int = 506952114,
                     p31: int = 2147483647):
    """Column expr: rendezvous / highest-random-weight sharding (Thaler &
    Ravishankar 1998) — the consistent-sharding rule stateful services
    route by: shard(key) = argmax_s h(key, s), so adding a shard moves
    ONLY the keys whose new weight wins (≈ 1/(n+1) of them) and removing
    one moves only ITS keys — no global reshuffle, unlike mod-n. The
    per-shard weight is the re-derivable integer hash
    pmod(pmod((key mod P31)·MIX, P31) + (s+1)·SALT, P31); ties are
    impossible for distinct shards (the weights differ by a nonzero
    constant mod P31... except when the offset wraps to equality — the
    argmax struct breaks any tie toward the LOWER shard id via max of
    (h, s) ordered pairs with s negated... kept simple: (h, s) max picks
    the HIGHER shard id on a tie; ties require (s−s')·SALT ≡ 0 mod P31,
    impossible for |s−s'| < P31/SALT ≈ 4.2).

    NOTE (measured, Spark 4.1): `a % b * c` parses as `a % (b * c)` in
    Spark SQL — the reduction and multiply below keep explicit parens, and
    the (s+1)·SALT offsets are PRE-COMPUTED literals because a 32-bit
    int-literal product overflows under ANSI before widening."""
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    structs = []
    for s in range(n_shards):
        h = F.expr(
            f"pmod(pmod(({id_expr_sql} % {p31}) * {mix}, {p31})"
            f" + {(s + 1) * salt}, {p31})"
        )
        structs.append(F.struct(h.alias("h"), F.lit(s).cast("long").alias("s")))
    return F.greatest(*structs)["s"]


def nucleus_flags(df, p_num: int = 9, p_den: int = 10,
                  tokens_col: str = "tokens"):
    """Nucleus (top-p) vocabulary truncation (Holtzman et al., ICLR 2020,
    applied corpus-side): over the empirical token distribution sorted by
    (count DESC, token ASC), a token is IN the nucleus while the
    cumulative mass BEFORE it is still under p — the smallest prefix
    covering ≥ p of all token mass, the truncation rule that keeps heads
    and drops the long tail. The test is the exact cross-multiplied
    integer inequality (cum − cnt)·p_den < p_num·tot — no division, no
    float.

    Returns (tok, cnt, nuc_cum, nuc_tot, in_nucleus) — one row per
    distinct token; the global window runs over the bounded vocab table,
    never the corpus."""
    from pyspark.sql import Window

    if not (0 < p_num <= p_den):
        raise ValueError(f"need 0 < p_num <= p_den, got {p_num}/{p_den}")
    vc = df.select(F.explode(tokens_col).alias("tok")).groupBy("tok").agg(
        F.count("*").cast("long").alias("cnt"))
    wv = Window.orderBy(F.col("cnt").desc(), F.col("tok").asc())
    wall = Window.partitionBy()
    return vc.select(
        "tok", "cnt",
        F.sum("cnt").over(wv.rowsBetween(Window.unboundedPreceding,
                                         Window.currentRow))
        .cast("long").alias("nuc_cum"),
        F.sum("cnt").over(wall).cast("long").alias("nuc_tot"),
    ).withColumn(
        "in_nucleus",
        ((F.col("nuc_cum") - F.col("cnt")) * p_den
         < p_num * F.col("nuc_tot")).cast("long"),
    )
