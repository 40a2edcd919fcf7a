"""Deduplication operators for training-data pipelines.

Beyond the reference's operator set (per the build brief): exact dedup,
MinHash+LSH near-dup, SimHash, and n-gram Jaccard verification — all pure
DataFrame/column expressions (JVM-side, no Python), built over token shingles
so the arithmetic is replicable in the DuckDB oracle.

Scale notes (100 TB):
* exact dedup is one hash-aggregate shuffle on the dedup key;
* MinHash signatures are narrow column expressions; the LSH banding self-join
  shuffles only (band_idx, band_key) pairs — candidates, not the corpus;
* verification joins candidates back by id (broadcast when the candidate set
  is small, AQE decides otherwise);
* SimHash near-dup uses bit_count(xor) ≤ r on 32-bit fingerprints.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nyxus_spark.compare import fround4

P31 = 2147483647  # Mersenne prime 2^31-1
MIX = 2654435761  # Knuth multiplicative constant


def token_shingles(tokens_col: str = "tokens", k: int = 3):
    """Column expr: distinct k-gram shingle hashes of an int token array.

    shingle(i) = (t_i·31² + t_{i+1}·31 + t_{i+2}) mod P31 for k=3 — plain
    integer arithmetic so Spark and DuckDB agree bit-for-bit.
    """
    weights = [31 ** (k - 1 - j) for j in range(k)]
    terms = " + ".join(
        f"cast(element_at({tokens_col}, i + {j + 1}) as bigint) * {w}" for j, w in enumerate(weights)
    )
    # guard: sequence(0, n) with n < 0 DESCENDS in Spark → crash on short arrays
    return F.expr(
        f"CASE WHEN size({tokens_col}) < {k} THEN array() "
        f"ELSE array_distinct(transform(sequence(0, size({tokens_col}) - {k}),"
        f" i -> ({terms}) % {P31})) END"
    )


def minhash_signature(shingles_col: str, num_hashes: int = 16):
    """Column expr: MinHash signature array (one min per hash function).

    h_i(x) = (a_i·x + b_i) mod P31 with deterministic a_i, b_i.
    """
    sigs = []
    for i in range(num_hashes):
        a = (1103515245 * (i + 1) + 12345) % P31 | 1
        b = (MIX * (i + 7)) % P31
        sigs.append(
            F.expr(
                f"array_min(transform({shingles_col}, x -> (x * {a} + {b}) % {P31}))"
            )
        )
    return F.array(*sigs)


def lsh_bands(sig_col: str, num_bands: int = 4, rows_per_band: int = 4):
    """Explode a signature into (band_idx, band_key) rows for bucket joins."""
    keys = []
    for band in range(num_bands):
        parts = [
            f"cast(element_at({sig_col}, {band * rows_per_band + r + 1}) as bigint) * {31 ** r}"
            for r in range(rows_per_band)
        ]
        keys.append(f"named_struct('band_idx', {band}, 'band_key', ({' + '.join(parts)}) % {P31})")
    return F.expr(f"array({', '.join(keys)})")


def simhash32(shingles_col: str):
    """Column expr: 32-bit SimHash of a shingle-hash array.

    Each shingle is remixed (x·MIX mod 2³²); bit j of the fingerprint is 1 iff
    Σ_shingles (2·bit_j(mix) − 1) > 0.
    """
    bits = []
    for j in range(32):
        bits.append(
            f"(case when aggregate({shingles_col}, 0L, "
            f"(acc, x) -> acc + (((x * {MIX}) % 4294967296) >> {j}) % 2 * 2 - 1) > 0 "
            f"then cast({2 ** j} as bigint) else 0L end)"
        )
    return F.expr(" + ".join(bits))


def exact_dedup(df: DataFrame, key_cols: list[str], id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id row per exact key. min-AGGREGATE + left-semi join
    rather than a row_number window: the aggregation combines map-side (the
    shuffle carries one winner candidate per key per partition, not every
    duplicate), and the semi-join is AQE-skew-splittable where a window
    over a hyper-duplicated key is not. Assumes `id_col` values are unique
    (a duplicated (key, id) row would keep both copies). A null key is a
    key like any other, as in the groupBy: its rows keep their lowest id."""
    wins = df.groupBy(*key_cols).agg(F.min(id_col).alias("__win_id"))
    wins, on = _null_safe_keys(wins, key_cols)
    return df.join(wins, [*on, F.col(id_col) == F.col("__win_id")],
                   "left_semi")


def _null_safe_keys(other: DataFrame, key_cols: list[str]):
    """`other` with its key columns renamed apart, and the null-safe
    equality conditions that join a frame's `key_cols` to them."""
    names = {c: f"__other_{c}" for c in key_cols}
    other = other.withColumnsRenamed(names)
    return other, [F.col(c).eqNullSafe(F.col(n)) for c, n in names.items()]


def dedup_incremental(
    new_df: DataFrame,
    seen_keys: DataFrame,
    key_cols: list[str],
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental (online) exact dedup — the production shape: a NEW crawl
    batch dedups against the accumulated corpus without reprocessing it.
    `seen_keys` is the persisted key index of everything already ingested
    (at scale an Iceberg table bucketed on the key, so this left-anti join
    prunes buckets); rows whose key already exists are dropped, then the
    survivors dedup among THEMSELVES (first occurrence by lowest id, the
    same skew-safe min-aggregate path as `exact_dedup`).

    Returns the new batch's surviving rows. Equivalent to re-running
    `exact_dedup` over old ∪ new and keeping the new-batch survivors,
    WITHOUT touching the old rows — the invariant the oracle checks.

    Scale shape: one left-anti hash join against the key index (broadcast
    when the day's index partition fits, SMJ + AQE otherwise) plus the
    intra-batch min-agg — the old corpus is never scanned beyond its key
    index. A null key matches a seen null key, as in `exact_dedup`."""
    seen, on = _null_safe_keys(seen_keys.select(*key_cols).distinct(), key_cols)
    fresh = new_df.join(seen, on, "left_anti")
    return exact_dedup(fresh, key_cols, id_col)


def segment_dedup(
    df: DataFrame,
    delim: int,
    tokens_col: str = "tokens",
    n_tok_col: str = "n_tok",
    id_col: str = "doc_id",
    keep_tokens: bool = False,
) -> DataFrame:
    """Segment-level (line/paragraph-level) exact dedup — the CCNet/Gopher
    pipeline pass that removes paragraphs duplicated ACROSS documents
    (boilerplate, headers, licence blocks) while keeping each document's
    surviving segments in order. Documents split on the delimiter token
    (`functions.split_on_token`), and each distinct segment keeps only its
    FIRST occurrence corpus-wide (lowest (id, seg_id) under the total
    order).

    Returns the segment table (id_col, seg_id, [seg_tokens if keep_tokens],
    seg_len, seg_sum, seg_kept: 0/1) — callers rebuild cleaned documents
    with `reassemble_segments` (keep_tokens=True), or aggregate the flags
    for removal stats.

    Scale shape: the split is pure column expressions (no shuffle); the
    first-occurrence choice is the skew-safe min-struct aggregation + join
    (`_first_occurrence_flag` — map-side partial combine, AQE-splittable
    join, no window). The ','-joined string key keeps the aggregation in
    hash exchange rather than array-key sort."""
    from nyxus_spark.functions import split_on_token

    segs = split_on_token(df, delim, tokens_col, n_tok_col)
    key = F.concat_ws(",", F.transform("seg_tokens", lambda x: x.cast("string")))
    cols = [id_col, "seg_id", "seg_len", "seg_sum", "seg_kept"]
    if keep_tokens:
        cols.insert(2, "seg_tokens")
    return (
        _first_occurrence_flag(
            segs.withColumn("__key", key), "__key", [id_col, "seg_id"], "seg_kept"
        )
        .withColumn(
            "seg_sum",
            F.aggregate("seg_tokens", F.lit(0).cast("long"), lambda a, x: a + x),
        )
        .select(*cols)
    )


def boilerplate_segments(
    segs: DataFrame,
    min_docs: int = 2,
    id_col: str = "doc_id",
    tokens_col: str = "seg_tokens",
) -> DataFrame:
    """Boilerplate detection — the CCNet/RefinedWeb pass that differs from
    line-dedup: a segment whose content appears in >= `min_docs` DISTINCT
    documents (navigation bars, licence blocks, cookie banners) is flagged
    in EVERY document, including its first occurrence — first-wins dedup
    keeps one copy of boilerplate; this removes them all. Within-document
    repetition alone does not trigger the flag (doc-frequency, not raw
    count).

    Input is a segment table from `functions.split_on_token` (or
    `segment_dedup(..., keep_tokens=True)`). Returns it with `bp_flag`
    (1 = boilerplate) added.

    Scale shape: one (content-key → approx-distinct-doc) hash aggregation —
    count_distinct gets Catalyst's two-phase expand with partial combine —
    then an equi-join back that AQE can split on a hyper-duplicated key.
    No window over the key (same rationale as `_first_occurrence_flag`)."""
    key = F.concat_ws(",", F.transform(tokens_col, lambda x: x.cast("string")))
    keyed = segs.withColumn("__bk", key)
    freq = keyed.groupBy("__bk").agg(
        F.countDistinct(id_col).alias("__df")
    )
    return (
        keyed.join(freq, "__bk")
        .withColumn("bp_flag", (F.col("__df") >= min_docs).cast("int"))
        .drop("__bk", "__df")
    )


def _first_occurrence_flag(df: DataFrame, key_col: str, order_cols: list[str],
                           flag_name: str) -> DataFrame:
    """Mark the first occurrence (min over `order_cols`) of every `key_col`
    group with flag 1, everything else 0 — WITHOUT a window function.

    Scale rationale: ``row_number() OVER (PARTITION BY key)`` shuffles every
    row of a key to one task and AQE cannot split a skewed window — a
    hyper-duplicated boilerplate segment (licence block across millions of
    docs) becomes a straggler. The min-struct AGGREGATION path gets
    map-side partial combine (the shuffle carries one candidate per key per
    partition, not every duplicate row), and the join back is a plain
    equi-join that OptimizeSkewedJoin CAN split at runtime. Results are
    identical when `order_cols` are unique per row (tested window-vs-agg).
    """
    wins = df.groupBy(key_col).agg(
        F.min(F.struct(*[F.col(c) for c in order_cols])).alias("__w")
    )
    return (
        df.join(wins, key_col)
        .withColumn(
            flag_name,
            (F.struct(*[F.col(c) for c in order_cols]) == F.col("__w"))
            .cast("int"),
        )
        .drop("__w")
    )


def reassemble_segments(segs: DataFrame, id_col: str = "doc_id",
                        tokens_col: str = "tokens",
                        n_tok_col: str = "n_tok") -> DataFrame:
    """Rebuild cleaned documents from their surviving segments — the output
    stage of the line-dedup pass: kept segments concatenate back in seg_id
    order into a token table (id, tokens_col, n_tok_col) ready for the rest
    of the pipeline (chunking, packing, feature kernels). One hash aggregation on
    the document id; segment order is restored by an in-group array_sort
    (no window, no second shuffle). Documents whose every segment was a
    duplicate drop out (zero kept tokens ⇒ no training value).

    Input must come from `segment_dedup(..., keep_tokens=True)`."""
    return (
        segs.filter(F.col("seg_kept") == 1)
        .groupBy(id_col)
        .agg(
            F.expr(
                "flatten(transform(array_sort(collect_list("
                "struct(seg_id as s, seg_tokens as t))), x -> x.t))"
            ).alias(tokens_col),
        )
        .select(
            id_col, tokens_col,
            F.size(tokens_col).cast("int").alias(n_tok_col),
        )
    )


#: fixed window multipliers for the CDC rolling hash (position i takes
#: t[i]·K0 + t[i−1]·K1 + t[i−2]·K2 + t[i−3]·K3) — int32 tokens keep every
#: product under 2^51, so the BIGINT sum is exact in Spark AND DuckDB.
CDC_K = (1000003, 40503, 69061, 9973)
CDC_WINDOW = len(CDC_K)


def cdc_chunks(
    df: DataFrame,
    div: int = 16,
    tokens_col: str = "tokens",
    n_tok_col: str = "n_tok",
    id_col: str = "doc_id",
    keep_tokens: bool = False,
) -> DataFrame:
    """Content-defined chunking (CDC) + chunk-level exact dedup — the
    shift-robust dedup pass (FastCDC/rsync family): chunk boundaries come
    from the CONTENT (a rolling hash over the last 4 tokens hitting
    0 mod `div`), not from fixed offsets, so inserting one token near the
    head of a near-duplicate document re-aligns after the next boundary and
    the downstream chunks still dedup exactly — fixed-size chunking loses
    every chunk after the edit point.

    Boundary rule: position i (0-based, full window i ≥ 3, never the last
    position) ends a chunk when
    ``(t[i]·K0 + t[i−1]·K1 + t[i−2]·K2 + t[i−3]·K3) mod P31 mod div == 0``
    — expected chunk length ≈ `div` tokens. Deterministic, re-derivable,
    and replayed term-for-term by the DuckDB oracle.

    Returns one row per chunk: (id, cdc_id, [cdc_tokens], cdc_len, cdc_sum,
    cdc_kept) where cdc_kept=1 marks the FIRST occurrence of that chunk
    content corpus-wide (lowest (id, cdc_id) under the total order), the
    same first-occurrence-wins contract as `segment_dedup`.

    Scale shape: boundary detection + slicing are pure column expressions
    (no shuffle, no Python); the only exchange is the hash shuffle on the
    chunk content key for the first-occurrence window — cost scales with
    corpus tokens, the same profile as segment-level dedup.

    Reference analog: nyxus decomposes a slide into content-driven ROIs
    (connected components) rather than fixed tiles; CDC is the 1-D stream
    analog of content-driven segmentation.
    """
    if div <= 1:
        raise ValueError(f"div must be > 1, got {div}")
    k0, k1, k2, k3 = CDC_K
    t, n = tokens_col, n_tok_col
    h = (
        f"(cast({t}[i] as bigint) * {k0} + cast({t}[i-1] as bigint) * {k1}"
        f" + cast({t}[i-2] as bigint) * {k2} + cast({t}[i-3] as bigint) * {k3})"
    )
    # boundary positions: i in [3, n−2] (full window, never the final
    # position) — sequence() DESCENDS when the bound inverts, hence the
    # n ≥ 5 guard
    bpos = (
        f"CASE WHEN {n} >= 5 THEN "
        f"filter(sequence(3, {n} - 2), i -> pmod({h}, {P31}) % {div} = 0) "
        "ELSE array() END"
    )
    chunks = (
        f"zip_with(concat(array(0), transform({bpos}, p -> p + 1)),"
        f"         concat({bpos}, array({n} - 1)),"
        f"         (s, e) -> slice({t}, s + 1, e - s + 1))"
    )
    exploded = df.select(
        "*",
        F.posexplode(
            F.expr(f"CASE WHEN {n} > 0 THEN {chunks} ELSE array() END")
        ).alias("cdc_id", "cdc_tokens"),
    )
    key = F.concat_ws(",", F.transform("cdc_tokens", lambda x: x.cast("string")))
    cols = [id_col, "cdc_id", "cdc_len", "cdc_sum", "cdc_kept"]
    if keep_tokens:
        cols.insert(2, "cdc_tokens")
    return (
        _first_occurrence_flag(
            exploded.withColumn("__key", key), "__key", [id_col, "cdc_id"],
            "cdc_kept",
        )
        .withColumn("cdc_id", F.col("cdc_id").cast("long"))
        .withColumn("cdc_len", F.size("cdc_tokens").cast("long"))
        .withColumn(
            "cdc_sum",
            F.aggregate("cdc_tokens", F.lit(0).cast("long"), lambda a, x: a + x),
        )
        .select(*cols)
    )


def edit_distance_verify(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    vocab_limit: int = 255,
    encoding: str = "char",
) -> DataFrame:
    """TOKEN-level Levenshtein verification of candidate near-dup pairs —
    the precision stage after LSH blocking when Jaccard over shingle SETS
    is too loose (it ignores order and multiplicity; edit distance counts
    the actual insert/delete/substitute operations between the two token
    STREAMS).

    Each token maps injectively to one unicode code point (``char(t+1)``;
    +1 keeps NUL out of the strings), the arrays concatenate, and the
    JVM's whole-stage `levenshtein` kernel yields the token-level distance
    — no Python, no UDF. Injectivity is all that matters for the distance,
    and it holds for vocabularies up to `vocab_limit` (Spark's char()
    wraps at 256); pairs touching larger token ids emit NULL distance,
    because a silent wrap would alias distinct tokens and under-count.

    Returns (id_a, id_b, len_a, len_b, lev_dist, lev_sim4) where lev_sim4
    = fround4(1 − d / (units·max(len_a, len_b))) — two exact integers, ONE
    division. Scale shape: two broadcast-or-hash joins to attach the token
    strings to the candidate pairs (candidates only — never the corpus
    cross-product); the O(len²) distance kernel runs only on pairs the
    blocking stage already shortlisted.

    ``encoding`` picks the symbol map:

    * ``"char"`` (default) — one code point per token: TRUE token-level
      Levenshtein (units=1). Spark-side exact; NOT cross-engine-gateable,
      because byte-based engines (DuckDB ≤ 1.x levenshtein) charge 2 for
      code points ≥ 128 (measured: chr(200) deletion costs 2 there).
    * ``"wide"`` — two ASCII chars per token (t → chr(65 + t div 16),
      chr(97 + t mod 16)): the Levenshtein distance under a fixed-width
      injective encoding, a true metric on token streams with
      d_tok ≤ d ≤ 2·d_tok (units=2 in lev_sim4). Every symbol is one
      byte, so char-DP and byte-DP agree and the SAME value reproduces on
      any engine — this is the driver-gated mode."""
    if vocab_limit > 255:
        raise ValueError(
            f"vocab_limit must be <= 255 (Spark char() wraps at 256), got {vocab_limit}"
        )
    if encoding not in ("char", "wide"):
        raise ValueError(f"encoding must be 'char' or 'wide', got {encoding!r}")
    if encoding == "wide":
        s = F.expr(
            f"array_join(transform({tokens_col},"
            " t -> concat(char(65 + t div 16), char(97 + t % 16))), '')"
        )
        units = 2
    else:
        s = F.expr(
            f"array_join(transform({tokens_col}, t -> char(t + 1)), '')"
        )
        units = 1
    guard = F.expr(
        f"CASE WHEN size({tokens_col}) = 0 THEN 0 "
        f"ELSE array_max({tokens_col}) END"
    )
    docs = df.select(
        F.col(id_col),
        s.alias("__s"),
        F.size(tokens_col).cast("long").alias("__len"),
        guard.alias("__maxtok"),
    )
    joined = (
        pairs.select("id_a", "id_b")
        .join(docs.select(F.col(id_col).alias("id_a"), F.col("__s").alias("s_a"),
                          F.col("__len").alias("len_a"),
                          F.col("__maxtok").alias("mt_a")), "id_a")
        .join(docs.select(F.col(id_col).alias("id_b"), F.col("__s").alias("s_b"),
                          F.col("__len").alias("len_b"),
                          F.col("__maxtok").alias("mt_b")), "id_b")
    )
    bad = F.greatest("mt_a", "mt_b") > F.lit(vocab_limit - 1)
    d = F.when(bad, F.lit(None)).otherwise(F.levenshtein("s_a", "s_b")).cast("long")
    mx = F.greatest("len_a", "len_b") * F.lit(units)
    sim = F.when(mx > 0, fround4(
        F.lit(1.0) - d.cast("double") / mx.cast("double")
    )).otherwise(F.lit(1.0))
    return joined.select(
        "id_a", "id_b", "len_a", "len_b",
        d.alias("lev_dist"),
        sim.alias("lev_sim4"),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    k: int = 3,
    num_hashes: int = 16,
    num_bands: int = 4,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Candidate near-dup pairs via MinHash LSH, verified with exact Jaccard
    over distinct shingles. Returns (id_a, id_b, jaccard) with id_a < id_b.

    Composition of the blocking stage (minhash_candidate_pairs — only
    (band, key, id) triples shuffle) with the pair-wise verifier
    (ngram_jaccard — shingle sets re-joined by id for candidates only).
    The earlier single-pass form carried each row's full shingle array
    through every band replica (num_bands× the shingle shuffle volume); the
    two-stage form shuffles shingles once, for candidate ids only."""
    cand = minhash_candidate_pairs(df, id_col, tokens_col, k, num_hashes, num_bands)
    # threshold applies to the UNROUNDED ratio (matches the DuckDB oracle's
    # WHERE clause); only the emitted column is 4-decimal rounded.
    return ngram_jaccard(df, cand, id_col, tokens_col, k, threshold=jaccard_threshold)


def lsh_band_rows(
    df: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    k: int = 3,
    num_hashes: int = 16,
    num_bands: int = 4,
) -> DataFrame:
    """One row per (id, band_idx, band_key) — the LSH blocking exchange as
    a reusable stage (batch candidate join and the streaming band-bucket
    state both consume it). Pure column expressions before the explode."""
    rows_per_band = num_hashes // num_bands
    sh = df.select(
        F.col(id_col), token_shingles(tokens_col, k).alias("shingles")
    ).filter(F.size("shingles") > 0)
    return (
        sh.withColumn("sig", minhash_signature("shingles", num_hashes))
        .select(id_col, F.explode(lsh_bands("sig", num_bands, rows_per_band)).alias("b"))
        .select(id_col, F.col("b.band_idx").alias("band_idx"),
                F.col("b.band_key").alias("band_key"))
    )


def minhash_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    k: int = 3,
    num_hashes: int = 16,
    num_bands: int = 4,
) -> DataFrame:
    """Unverified LSH bucket-mate candidates (id_a, id_b) — the blocking
    stage alone, for feeding a downstream verifier such as ngram_jaccard."""
    banded = lsh_band_rows(df, id_col, tokens_col, k, num_hashes, num_bands)
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(b, ["band_idx", "band_key"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )


def minhash_estimate(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    k: int = 3,
    num_hashes: int = 16,
) -> DataFrame:
    """Sketch-quality monitor: the Jaccard estimate the MinHash signature
    ITSELF implies for each candidate pair — the fraction of agreeing hash
    slots (an unbiased estimator of true Jaccard; Broder 1997). Comparing
    `est4` against the exact `jaccard` from ngram_jaccard measures how well
    the 16-slot sketch resolves near the LSH threshold — the number you
    check before trusting the sketch at corpus scale where exact
    verification of every pair is unaffordable.

    Returns (id_a, id_b, sig_match, est4). Exact integers + one division:
    gateable cross-engine.

    Scale shape: signatures are recomputed for candidate ids only (two
    equi-joins on the pair table — candidates are a vanishing fraction of
    the corpus); the agreement count is a JVM zip_with fold, no shuffle
    beyond the joins."""
    from nyxus_spark.compare import fround4

    sig = (
        df.select(F.col(id_col), token_shingles(tokens_col, k).alias("shingles"))
        .filter(F.size("shingles") > 0)
        .withColumn("sig", minhash_signature("shingles", num_hashes))
        .select(id_col, "sig")
    )
    return (
        pairs.select("id_a", "id_b")
        .join(sig.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a")),
              "id_a")
        .join(sig.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b")),
              "id_b")
        .select(
            "id_a", "id_b",
            F.expr(
                "aggregate(zip_with(sig_a, sig_b,"
                " (x, y) -> CASE WHEN x = y THEN 1L ELSE 0L END),"
                " 0L, (a, x) -> a + x)"
            ).alias("sig_match"),
            # b-BIT MinHash (Li & König, WWW 2010): store only the low b=2
            # bits of each slot — 1/16 the sketch memory at corpus scale.
            # Random low-bit collisions inflate agreement by C = 1/2^b, so
            # the unbiased estimator is (A − C)/(1 − C) = (m − k/4)/(k·3/4)
            # — exact integers + ONE division (negative when agreement is
            # below the collision floor; that IS the estimator's value).
            F.expr(
                "aggregate(zip_with(sig_a, sig_b,"
                " (x, y) -> CASE WHEN (x & 3) = (y & 3) THEN 1L ELSE 0L END),"
                " 0L, (a, x) -> a + x)"
            ).alias("bbit_match"),
        )
        .withColumn("est4", fround4(F.col("sig_match") / F.lit(num_hashes)))
        .withColumn(
            "bbit_est4",
            fround4(
                (F.col("bbit_match") - F.lit(num_hashes / 4.0))
                / F.lit(num_hashes * 3 / 4.0)
            ),
        )
    )


def lsh_recall_audit(
    df: DataFrame,
    pairs: DataFrame,
    sample_pred,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    k: int = 3,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Blocking-recall audit — the production monitor for a sketch you
    cannot exhaustively verify: brute-force the TRUE near-dup pairs on a
    deterministic sample of the corpus (`sample_pred` must be re-derivable,
    e.g. an id-hash predicate), then measure what fraction the LSH blocking
    output actually surfaced. The same measure-what-you-cannot-afford shape
    as `similarity.recall_at_k` for ANN.

    Returns ONE row: (sample_true_pairs, lsh_found_pairs, lsh_recall4) —
    broadcast it onto the pair table or log it.

    Scale shape: the cartesian product is confined to the sampled subset
    (choose the rate so |sample|² stays trivial); the containment check is
    a left-semi equi-join against the pair table."""
    from nyxus_spark.compare import fround4

    samp = df.filter(sample_pred)
    truth = ngram_jaccard(
        samp, None, id_col, tokens_col, k,
        all_pairs=True, threshold=jaccard_threshold,
    )
    found = truth.join(
        pairs.select("id_a", "id_b"), ["id_a", "id_b"], "left_semi"
    )
    t = truth.agg(F.count("*").cast("long").alias("sample_true_pairs"))
    fnd = found.agg(F.count("*").cast("long").alias("lsh_found_pairs"))
    return (
        t.crossJoin(fnd)
        .withColumn(
            "lsh_recall4",
            F.when(
                F.col("sample_true_pairs") > 0,
                fround4(F.col("lsh_found_pairs") / F.col("sample_true_pairs")),
            ).otherwise(F.lit(1.0)),
        )
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    k: int = 3,
    max_hamming: int = 3,
    num_bands: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming.

    Scale path with GUARANTEED recall: band-OR blocking over num_bands
    equal-width bit slices of the 32-bit fingerprint. Pigeonhole: a pair with
    ≤ max_hamming < num_bands differing bits leaves at least one band
    untouched, so every qualifying pair shares ≥ 1 (band_idx, band_key)
    bucket. Candidates are deduped across bands and verified by
    bit_count(xor) — only (band, key) bucket mates ever shuffle, never the
    corpus cross-product.
    """
    if max_hamming >= num_bands:
        raise ValueError(
            f"simhash_pairs pigeonhole recall guarantee needs "
            f"max_hamming < num_bands (got {max_hamming} >= {num_bands})"
        )
    width = 32 // num_bands
    sh = df.select(F.col(id_col), token_shingles(tokens_col, k).alias("shingles")).filter(
        F.size("shingles") > 0
    )
    fp = sh.select(id_col, simhash32("shingles").alias("fp"))
    bands = F.explode(
        F.array(*[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.expr(f"(fp >> {width * b}) % {1 << width}").alias("band_key"),
            )
            for b in range(num_bands)
        ])
    )
    banded = fp.select(id_col, "fp", bands.alias("b")).select(
        id_col, "fp", F.col("b.band_idx").alias("band_idx"),
        F.col("b.band_key").alias("band_key"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(b, ["band_idx", "band_key"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.fp").alias("fp_a"),
            F.col("b.fp").alias("fp_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("hamming", F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def ngram_jaccard(
    df: DataFrame, pairs: DataFrame | None = None, id_col: str = "doc_id",
    tokens_col: str = "tokens", k: int = 3, all_pairs: bool = False,
    threshold: float | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard for given candidate pairs.

    `pairs` is a DataFrame of (id_a, id_b) — typically the output of a
    blocking stage (MinHash LSH, SimHash bands). Each side is equi-joined to
    the corpus by id, so only the candidate rows are scored: at 100 TB the
    shuffle carries |pairs| shingle sets, never the corpus cross-product.

    `threshold`, when given, filters on the RAW (unrounded) ratio — the
    emitted `jaccard` column is always 4-decimal rounded, but thresholding
    the rounded value would admit pairs in [t-5e-5, t) the oracle rejects.

    The legacy exhaustive mode is gated behind an explicit `all_pairs=True`
    (small inputs only; refuses to run silently without it).
    """
    sh = df.select(F.col(id_col), token_shingles(tokens_col, k).alias("sh"))
    raw = (
        F.size(F.array_intersect("a.sh", "b.sh"))
        / F.size(F.array_union("a.sh", "b.sh"))
    )
    jac = fround4(raw).alias("jaccard")

    def _maybe_filter(scored: DataFrame) -> DataFrame:
        return scored if threshold is None else scored.filter(F.col("__raw") >= threshold)

    if pairs is None:
        if not all_pairs:
            raise ValueError(
                "ngram_jaccard without a candidate-pair DataFrame is a "
                "cartesian product; pass pairs=<df(id_a, id_b)> or opt in "
                "with all_pairs=True for small inputs"
            )
        la, rb = sh.alias("a"), sh.alias("b")
        scored = (
            la.crossJoin(rb)
            .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            .select(F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b"), jac, raw.alias("__raw"))
        )
        return _maybe_filter(scored).drop("__raw")
    scored = (
        pairs.select("id_a", "id_b")
        .join(sh.alias("a"), F.col("id_a") == F.col(f"a.{id_col}"))
        .join(sh.alias("b"), F.col("id_b") == F.col(f"b.{id_col}"))
        .select("id_a", "id_b", jac, raw.alias("__raw"))
    )
    return _maybe_filter(scored).drop("__raw")


def srp_signature(vec_col: str = "embedding", n_planes: int = 16, quant: int = 1000):
    """Sign-random-projection (hyperplane LSH) signature of an embedding.

    The vector is quantized to integers (floor(x·quant + 0.5)) and dotted
    with deterministic integer pseudo-random planes, so the sign bits — and
    therefore the LSH buckets — are exact integer arithmetic, reproducible
    bit-for-bit by the DuckDB oracle and stable across partitionings.
    At scale this is a narrow projection; only (bucket, id) pairs shuffle.
    """
    q = f"transform({vec_col}, x -> cast(floor(cast(x as double) * {quant}.0D + 0.5D) as bigint))"
    bits = []
    for p in range(n_planes):
        # deterministic plane weight w(p,d) ∈ [-1000, 1000]; standard size
        # guard — Spark sequence(a, b) DESCENDS when b < a, so an empty
        # embedding would otherwise produce a [0,-1] index range
        w = (
            f"CASE WHEN size({vec_col}) > 0 THEN "
            f"transform(sequence(0, size({vec_col}) - 1), "
            f"d -> cast((d + 1) * {MIX} * {p + 13} % 2001 - 1000 as bigint)) "
            f"ELSE array() END"
        )
        dot = (
            f"aggregate(zip_with({q}, {w}, (a, b) -> a * b), "
            f"cast(0 as bigint), (acc, v) -> acc + v)"
        )
        bits.append(f"(case when {dot} > 0 then cast({1 << p} as bigint) else cast(0 as bigint) end)")
    return F.expr(" + ".join(bits))


def cosine_dup_pairs(
    df: DataFrame,
    threshold: float = 0.99,
    n_planes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via hyperplane-LSH blocking.

    Candidate pairs share the full sign-projection signature (high-threshold
    regime: near-identical vectors agree on every hyperplane side with high
    probability); candidates are verified by exact cosine ≥ threshold.
    Returns (id_a, id_b, cos) with the 4-decimal rounded cosine.
    """
    from nyxus_spark.operators.similarity import cosine_col

    sig = df.select(
        F.col(id_col), F.col(vec_col),
        srp_signature(vec_col, n_planes).alias("__sig"),
    )
    a, b = sig.alias("a"), sig.alias("b")
    pairs = (
        a.join(b, F.col("a.__sig") == F.col("b.__sig"))
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            fround4(cosine_col(f"a.{vec_col}", f"b.{vec_col}")).alias("cos"),
        )
    )
    return pairs.filter(F.col("cos") >= threshold)


def multiprobe_cosine_pairs(
    df: DataFrame,
    threshold: float = 0.99,
    n_planes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """MULTI-PROBE hyperplane LSH (Lv et al., VLDB 2007): beside each
    vector's own SRP bucket, the query side also probes the n_planes
    buckets at Hamming distance 1 (one hyperplane flipped) — the standard
    recall booster that catches near-duplicates sitting just across ONE
    hyperplane, which single-bucket blocking (`cosine_dup_pairs`) misses by
    construction. The index side stays single-bucket: storage is unchanged,
    only query fan-out grows ×(n_planes+1).

    Each unordered pair matches through at most ONE probe (probe keys are
    distinct), so no dedup shuffle is needed; the id_a < id_b orientation
    keeps exactly the (a-probes → b-bucket) instance. Returns the verified
    extra pairs at signature Hamming distance EXACTLY 1 with exact cosine
    ≥ threshold — disjoint from the hamming-0 pairs by construction."""
    from nyxus_spark.operators.similarity import cosine_col

    sig = df.select(
        F.col(id_col), F.col(vec_col),
        srp_signature(vec_col, n_planes).alias("__sig"),
    )
    probes = sig.select(
        F.col(id_col), F.col(vec_col),
        F.explode(
            F.expr(
                f"transform(sequence(0, {n_planes - 1}), "
                "d -> __sig ^ shiftleft(cast(1 as bigint), d))"
            )
        ).alias("__probe"),
    )
    a, b = probes.alias("a"), sig.alias("b")
    pairs = (
        a.join(b, F.col("a.__probe") == F.col("b.__sig"))
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            fround4(cosine_col(f"a.{vec_col}", f"b.{vec_col}")).alias("cos"),
        )
    )
    return pairs.filter(F.col("cos") >= threshold)


def semdedup(
    df: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.98,
    id_col: str = "vec_id",
    vec_col: str = "qvec",
    cent_id: str = "cent_id",
    cent_vec: str = "cent_qvec",
) -> DataFrame:
    """SemDeDup semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): k-means-cluster the embedding corpus, then search
    for near-duplicates ONLY within each cluster — the published trick that
    turns an O(N²) semantic-dedup pass into Σ|cluster|², with k chosen so
    clusters stay bounded as the corpus grows. Drop policy matches the
    paper's keep-one-per-group: a row is dropped when a LOWER-id member of
    its cluster is within ε (cosine ≥ threshold, compared UNROUNDED).

    Engine-exact arithmetic over INTEGER-quantized vectors (`qvec` from
    `quantize_embedding`): cluster assignment is the exact int64 L2 argmin
    (`assign_nearest`), and each pair cosine is the fixed IEEE chain
    dot / (sqrt(n_a)·sqrt(n_b)) on exact integer dot products and norms —
    bit-identical in any engine. Zero vectors never pair (n2 > 0 guard).

    Returns one row per input id: (id, sd_cluster, sd_drop,
    sd_max_cos4) where sd_max_cos4 is the 4-decimal max cosine to a
    lower-id cluster-mate (−2.0 when none qualifies).

    Scale shape: one broadcast argmin + ONE shuffle on the cluster id for
    the self-join; candidate volume is Σ|cluster|² by construction, the
    algorithm's own contract (k grows with the corpus)."""
    from nyxus_spark.operators.similarity import assign_nearest

    n2 = F.expr(
        f"aggregate(transform({vec_col},"
        " x -> cast(x as bigint) * cast(x as bigint)),"
        " 0L, (a, v) -> a + v)"
    )
    m = assign_nearest(df, centroids, id_col, vec_col, cent_id, cent_vec).select(
        F.col(id_col), F.col(vec_col), F.col("assigned_cent"), n2.alias("__n2")
    )
    a, b = m.alias("a"), m.alias("b")
    dot = F.expr(
        f"aggregate(zip_with(a.{vec_col}, b.{vec_col},"
        " (x, y) -> cast(x as bigint) * cast(y as bigint)),"
        " 0L, (acc, v) -> acc + v)"
    )
    pairs = (
        a.join(
            b,
            (F.col("a.assigned_cent") == F.col("b.assigned_cent"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .filter((F.col("a.__n2") > 0) & (F.col("b.__n2") > 0))
        .select(
            F.col(f"b.{id_col}").alias("__hi"),
            (
                dot.cast("double")
                / (F.sqrt(F.col("a.__n2")) * F.sqrt(F.col("b.__n2")))
            ).alias("__cos"),
        )
    )
    dropped = (
        pairs.filter(F.col("__cos") >= threshold)
        .groupBy(F.col("__hi").alias(id_col))
        .agg(F.max("__cos").alias("__maxcos"))
    )
    return m.join(dropped, id_col, "left").select(
        F.col(id_col),
        F.col("assigned_cent").alias("sd_cluster"),
        F.col("__maxcos").isNotNull().cast("long").alias("sd_drop"),
        F.coalesce(fround4(F.col("__maxcos")), F.lit(-2.0)).alias("sd_max_cos4"),
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components over an undirected near-dup pair graph —
    iterative minimum-label propagation. Returns (doc_id, rep) where `rep`
    is the smallest id in the component (the canonical cluster
    representative a corpus-clean keeps).

    Raises ValueError if the labels have not converged after `max_iter`
    rounds: min-label propagation advances one hop per round, so a component
    whose diameter exceeds max_iter would otherwise silently return WRONG
    representatives (split clusters). Near-dup components are shallow, so
    the default bound is generous; pass a larger max_iter for genuinely
    deep graphs rather than accepting unconverged labels.

    Scale notes (100 TB): each round is ONE join + min-aggregate shuffle on
    the edge list; rounds needed = component diameter, and near-dup clusters
    are shallow (dup groups, not social graphs), so this converges in a
    handful of rounds. `localCheckpoint` truncates lineage every round so
    the plan doesn't grow with iterations; convergence is detected with a
    LIMIT-1 existence probe, not a full count.
    """
    e = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = (
        e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias("id")).distinct()
        .withColumn("label", F.col("id"))
        .persist()
    )
    converged = False
    for _ in range(max_iter):
        nbr_min = (
            edges.join(labels, edges["src"] == labels["id"])
            .groupBy(F.col("dst").alias("nid"))
            .agg(F.min("label").alias("nlabel"))
        )
        new_labels = (
            labels.join(nbr_min, labels["id"] == nbr_min["nid"], "left")
            .select(
                F.col("id"),
                F.least(
                    F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint()
        )
        changed = (
            labels.alias("o")
            .join(new_labels.alias("n"), "id")
            .filter(F.col("o.label") != F.col("n.label"))
            .limit(1)
            .count()
        )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            converged = True
            break
    edges.unpersist()
    if not converged:
        raise ValueError(
            f"connected_components did not converge within max_iter={max_iter} "
            "rounds (a component's diameter exceeds the bound); returning the "
            "partial labels would silently split clusters — raise max_iter"
        )
    return labels.select(F.col("id").alias("doc_id"), F.col("label").alias("rep"))


def ngram_containment(df: DataFrame, pairs: DataFrame, id_col: str = "doc_id",
                      tokens_col: str = "tokens", k: int = 3) -> DataFrame:
    """Asymmetric n-gram containment for candidate pairs — the
    decontamination measure: containment(a in b) = |sh(a) ∩ sh(b)| / |sh(a)|.

    Jaccard under-reports when one document nearly contains the other but
    their sizes differ (a benchmark question embedded in a long crawl page);
    containment is the standard fix (Broder 1997, "On the resemblance and
    containment of documents"). Same scale shape as ngram_jaccard: each side
    equi-joins the corpus by id, so only candidate rows carry shingle sets
    through the shuffle — never a cross product.

    Emits exact integers (n_sh_a, n_sh_b, n_inter) — the set sizes
    themselves are gated — plus cont_a4/cont_b4, each ONE division under
    fround4 (empty shingle sets, i.e. docs shorter than k tokens, coalesce
    to 0.0 rather than NULL).
    """
    from nyxus_spark.compare import fround4

    sh = df.select(F.col(id_col), token_shingles(tokens_col, k).alias("sh"))
    inter = F.size(F.array_intersect("a.sh", "b.sh")).cast("long")
    na = F.size("a.sh").cast("long")
    nb = F.size("b.sh").cast("long")
    return (
        pairs.select("id_a", "id_b")
        .join(sh.alias("a"), F.col("id_a") == F.col(f"a.{id_col}"))
        .join(sh.alias("b"), F.col("id_b") == F.col(f"b.{id_col}"))
        .select(
            "id_a", "id_b",
            na.alias("n_sh_a"), nb.alias("n_sh_b"), inter.alias("n_inter"),
            F.when(na > 0, fround4(inter / na)).otherwise(F.lit(0.0)).alias("cont_a4"),
            F.when(nb > 0, fround4(inter / nb)).otherwise(F.lit(0.0)).alias("cont_b4"),
        )
    )


def winnow_verify(df: DataFrame, pairs: DataFrame, id_col: str = "doc_id",
                  tokens_col: str = "tokens", k: int = 4, w: int = 4) -> DataFrame:
    """Winnowing-fingerprint verification for candidate pairs — the MOSS
    similarity stage (Schleimer, Wilkerson & Aiken, SIGMOD 2003): compare
    the documents' winnowed fingerprint hash SETS. Unlike MinHash (a random
    sample), winnowing carries a guarantee: any shared run of
    >= k + w - 1 tokens yields at least one shared fingerprint, so
    wn_common > 0 is a certificate of local overlap, not a probability.

    Same scale shape as ngram_containment: fingerprints are pure column
    expressions, each side equi-joins the corpus by id — only candidate
    rows carry fingerprint sets through the shuffle, never a cross product.

    Emits exact integers (wn_fp_a/wn_fp_b = distinct (pos, hash)
    fingerprint counts; wn_a/wn_b = distinct hash-set sizes; wn_common =
    |hash-set intersection|) plus wn_sim4 = wn_common / min(wn_a, wn_b),
    ONE division under fround4 (docs shorter than k + w - 1 tokens have
    empty fingerprint sets and coalesce to 0.0).
    """
    from nyxus_spark.compare import fround4
    from nyxus_spark.functions.text import winnow_exprs

    wn = winnow_exprs(tokens_col, f"size({tokens_col})", k=k, w=w)
    d = df.select(
        F.col(id_col),
        wn["wn_fps"].alias("fps"),
        wn["wn_set"].alias("hset"),
    )
    common = F.size(F.array_intersect("a.hset", "b.hset")).cast("long")
    na = F.size("a.hset").cast("long")
    nb = F.size("b.hset").cast("long")
    denom = F.least(na, nb)
    return (
        pairs.select("id_a", "id_b")
        .join(d.alias("a"), F.col("id_a") == F.col(f"a.{id_col}"))
        .join(d.alias("b"), F.col("id_b") == F.col(f"b.{id_col}"))
        .select(
            "id_a", "id_b",
            F.size("a.fps").cast("long").alias("wn_fp_a"),
            F.size("b.fps").cast("long").alias("wn_fp_b"),
            na.alias("wn_a"), nb.alias("wn_b"), common.alias("wn_common"),
            F.when(denom > 0, fround4(common / denom))
            .otherwise(F.lit(0.0)).alias("wn_sim4"),
        )
    )


def prefix_containment(df: DataFrame, k: int = 8, id_col: str = "doc_id",
                       tokens_col: str = "tokens",
                       len_col: str = "n_tok") -> DataFrame:
    """Exact prefix-containment dedup pairs: (contained, container) where
    the contained document's FULL token sequence equals the container's
    first n tokens — the truncation/re-crawl duplicate class that Jaccard
    near-dup misses at low overlap ratios (a 50-token prefix of a
    5000-token page is ~1% Jaccard but still redundant training signal).

    Blocking: equi-join on the string-serialized first-k-token prefix, so
    only documents sharing an exact k-prefix ever meet — ONE shuffle on the
    prefix key, never a cross product. A hot boilerplate prefix is a plain
    equi-join hot key (AQE skew-split applies; raise k to sharpen the
    block). Both sides need >= k tokens: shorter documents cannot carry the
    block key and are exact-dedup territory (or re-run with a smaller k).

    Pair orientation is total and consistent with exact_dedup: the
    contained side is strictly shorter, or — for byte-identical documents —
    the higher id (so the exact-dup survivor is never marked contained).
    Verification compares the container's length-n prefix slice
    element-for-element; no hashing is trusted.

    Returns containment PAIRS: `id_a` (contained), `id_b` (container),
    `n_tok_a` (the contained document's length — the redundant token mass
    the pair represents). Aggregate per side with
    `prefix_containment_agg` or a plain groupBy."""
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    key = F.concat_ws(
        ",", F.transform(F.slice(tokens_col, 1, k), lambda x: x.cast("string"))
    )
    base = (
        df.filter(F.col(len_col) >= k)
        .select(
            F.col(id_col).alias("_pc_id"),
            F.col(tokens_col).alias("_pc_tokens"),
            F.col(len_col).cast("bigint").alias("_pc_n"),
            key.alias("_pc_key"),
        )
    )
    a = base.alias("a")
    b = base.alias("b")
    pairs = (
        a.join(b, F.col("a._pc_key") == F.col("b._pc_key"))
        .filter(
            (F.col("a._pc_n") < F.col("b._pc_n"))
            | ((F.col("a._pc_n") == F.col("b._pc_n"))
               & (F.col("a._pc_id") > F.col("b._pc_id")))
        )
        .filter(
            F.expr("slice(b._pc_tokens, 1, cast(a._pc_n as int)) = a._pc_tokens")
        )
        .select(F.col("a._pc_id").alias("id_a"),
                F.col("b._pc_id").alias("id_b"),
                F.col("a._pc_n").alias("n_tok_a"))
    )
    return pairs


def prefix_containment_agg(pairs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Per-contained-document rollup of `prefix_containment` pairs:
    `{id_col}` (the contained id), `pfx_container` (the MINIMUM container
    id — deterministic), `pfx_n_containers` (exact count). Drop rows whose
    id appears here to remove the truncation-duplicate class."""
    return pairs.groupBy(F.col("id_a").alias(id_col)).agg(
        F.min("id_b").alias("pfx_container"),
        F.count("*").cast("long").alias("pfx_n_containers"),
    )


def duplicate_spans(df: DataFrame, L: int = 8, id_col: str = "doc_id",
                    tokens_col: str = "tokens", n_tok_col: str = "n_tok",
                    min_docs: int = 2) -> DataFrame:
    """ExactSubstr-style cross-document duplicate-SPAN detection (the Lee
    et al. ACL'22 'Deduplicating Training Data Makes Language Models
    Better' pass): every length-L token window that occurs in >= min_docs
    DISTINCT documents marks its positions, and overlapping/adjacent
    marked windows merge into MAXIMAL duplicated spans per document — the
    unit ExactSubstr dedup actually removes. Intra-document repetition is
    deliberately out of scope (that is `functions.repetition_stats`).

    Plan shape (the suffix-array build this replaces is a global sort —
    this is the distributable alternative):
      1. ONE (gram) hash aggregation over all ~n_tok windows per doc —
         map-side combine ships distinct grams per partition;
      2. qualifying grams equi-join back to window positions;
      3. per-document span merge = one partitioned window
         (gaps-and-islands: sorted starts p, intervals [p, p+L) merge
         while the next start <= prev + L).
    Window keys are string-serialized (injective → exact, and keeps
    stage 1 in whole-stage hash agg); a 100 TB run swaps in a 128-bit
    rolling hash + a verify join — same plan, collision-checked.

    Returns per document (only docs with >= 1 duplicated window):
    ds_hits (duplicated windows), ds_spans (maximal spans), ds_cover
    (tokens inside duplicated spans), ds_first (first duplicated
    position, 0-based)."""
    from pyspark.sql import Window

    from nyxus_spark.functions.text import ngram_keys

    if min_docs < 2:
        raise ValueError(f"min_docs must be >= 2, got {min_docs}")
    win = df.select(
        F.col(id_col),
        F.posexplode(ngram_keys(L, tokens_col, n_tok_col)).alias("pos", "gram"),
    )
    dup = (
        win.groupBy("gram")
        .agg(F.countDistinct(id_col).alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("gram")
    )
    hits = win.join(dup, "gram").select(id_col, "pos")
    w = Window.partitionBy(id_col).orderBy("pos")
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    isl = (
        hits.withColumn("_lag", F.lag("pos").over(w))
        .withColumn(
            "_new",
            F.when(
                F.col("_lag").isNull() | (F.col("pos") > F.col("_lag") + L), 1
            ).otherwise(0),
        )
        .withColumn("_isl", F.sum("_new").over(cum))
    )
    spans = isl.groupBy(id_col, "_isl").agg(
        (F.max("pos") - F.min("pos") + L).cast("long").alias("_span_len"),
        F.min("pos").cast("long").alias("_span_start"),
    )
    per_doc = spans.groupBy(id_col).agg(
        F.count("*").cast("long").alias("ds_spans"),
        F.sum("_span_len").cast("long").alias("ds_cover"),
        F.min("_span_start").cast("long").alias("ds_first"),
    )
    hit_cnt = hits.groupBy(id_col).agg(F.count("*").cast("long").alias("ds_hits"))
    return hit_cnt.join(per_doc, id_col)


def suffix_containment(df: DataFrame, k: int = 8, id_col: str = "doc_id",
                       tokens_col: str = "tokens",
                       len_col: str = "n_tok") -> DataFrame:
    """Exact SUFFIX-containment pairs — the header-prepended re-crawl
    duplicate class (the contained document equals the container's LAST
    n tokens, e.g. the same article re-fetched behind a new banner):
    exactly `prefix_containment` over the REVERSED token arrays, so the
    blocking (first-k of the reversal = last-k of the original), pair
    orientation, and element-for-element verification semantics are
    shared. Same (id_a = contained, id_b = container, n_tok_a) output."""
    rev = df.withColumn(tokens_col, F.reverse(F.col(tokens_col)))
    return prefix_containment(rev, k, id_col, tokens_col, len_col)


def prefix_filter_pairs(df: DataFrame, t_num: int = 3, t_den: int = 5,
                        id_col: str = "doc_id",
                        tokens_col: str = "tokens",
                        shingle_k: int = 3) -> DataFrame:
    """EXACT set-similarity join via prefix filtering — AllPairs/PPJoin
    (Bayardo et al. WWW'07; Xiao et al. WWW'08): every pair of documents
    whose k-SHINGLE-SET Jaccard is >= t = t_num/t_den (the same shingle
    space MinHash sketches — raw token SETS are too dense to discriminate:
    any two long docs over a shared vocabulary look alike), with zero false
    negatives — the deterministic counterpart of MinHash-LSH blocking
    (which trades recall for cost; `lsh_recall_audit` measures that trade,
    this operator removes it where exactness is required).

    The prefix-filtering principle: order every document's token set by a
    GLOBAL canonical order (document frequency ascending, token ascending —
    rarest first) and keep only the first |x| - ceil(t*|x|) + 1 tokens as
    the "prefix". If J(x, y) >= t then |x n y| >= ceil(t*|x|) for both
    records (via the length bound t*|x| <= |y| <= |x|/t), so by pigeonhole
    the two prefixes must share a token — candidates come from an
    EQUI-JOIN on prefix tokens only, never a cartesian. Rarest-first makes
    those join buckets the smallest possible ones.

    Scale shape: one token-frequency aggregation (shuffle on token), one
    per-doc sort (groupBy + sort_array — the canonical order is computed
    distributed, no broadcast dictionary), one equi-join that carries only
    prefix tokens, then per-pair verification by array_intersect on the
    two full sets. Every count is an exact integer; the threshold test is
    the cross-multiplication inter*t_den >= t_num*union (never a float
    ratio — CLAUDE.md unrounded-threshold discipline).

    Returns (id_a, id_b, set_a, set_b, ppj_inter, ppj_union) with
    orientation |set_a| < |set_b| (ties: id_a < id_b).
    """
    if not (0 < t_num <= t_den):
        raise ValueError(f"need 0 < t_num <= t_den, got {t_num}/{t_den}")
    sets = df.select(
        F.col(id_col).alias("id"),
        token_shingles(tokens_col, shingle_k).alias("ts"),
    )
    ex = sets.select("id", F.explode("ts").alias("tok"))
    freq = ex.groupBy("tok").agg(F.count("*").cast("long").alias("cnt"))
    ordered = (
        ex.join(freq, "tok")
        .groupBy("id")
        .agg(F.sort_array(F.collect_list(F.struct("cnt", "tok"))).alias("st"))
        .select(
            "id",
            F.col("st.tok").alias("ots"),
            F.size("st").cast("long").alias("s"),
        )
    )
    # prefix length |x| - ceil(t*|x|) + 1, exact integer arithmetic
    plen = f"CAST(s - ({t_num} * s + {t_den - 1}) DIV {t_den} + 1 AS INT)"
    pref = ordered.select(
        "id", "s", F.explode(F.expr(f"slice(ots, 1, {plen})")).alias("tok")
    )
    a = pref.select(F.col("id").alias("id_a"), F.col("s").alias("sa"), "tok")
    b = pref.select(F.col("id").alias("id_b"), F.col("s").alias("sb"), "tok")
    cand = (
        a.join(b, "tok")
        .filter(
            (F.col("sa") < F.col("sb"))
            | ((F.col("sa") == F.col("sb")) & (F.col("id_a") < F.col("id_b")))
        )
        # length filter: |b| <= |a|/t, else Jaccard < t regardless of overlap
        .filter(F.col("sa") * t_den >= t_num * F.col("sb"))
        .select("id_a", "id_b")
        .distinct()
    )
    oa = ordered.select(F.col("id").alias("id_a"), F.col("ots").alias("set_a"),
                        F.col("s").alias("sa"))
    ob = ordered.select(F.col("id").alias("id_b"), F.col("ots").alias("set_b"),
                        F.col("s").alias("sb"))
    inter = F.size(F.array_intersect("set_a", "set_b")).cast("long")
    return (
        cand.join(oa, "id_a").join(ob, "id_b")
        .withColumn("ppj_inter", inter)
        .withColumn("ppj_union",
                    (F.col("sa") + F.col("sb") - F.col("ppj_inter")).cast("long"))
        .filter(F.col("ppj_inter") * t_den >= t_num * F.col("ppj_union"))
        .select("id_a", "id_b", "set_a", "set_b", "ppj_inter", "ppj_union")
    )


def minhash_corpus_sketch(df: DataFrame, group_col: str = "source",
                          id_col: str = "doc_id",
                          tokens_col: str = "tokens",
                          num_hashes: int = 16, shards: int = 4,
                          shingle_k: int = 3) -> DataFrame:
    """Per-GROUP MinHash signature (corpus-level sketch, not per-doc),
    computed the way a cluster would: per-(group, shard) partial
    signatures first (shard = id mod `shards` — one sketch per input
    split), then shard partials MERGED by per-slot MIN. MinHash's merge is
    lossless for exactly the same reason HLL's is — min is associative and
    commutative — and the per-group signature supports corpus-vs-corpus
    resemblance estimates (Broder 1997) without touching documents twice.

    The gate discipline: the oracle recomputes each slot FROM SCRATCH
    (min over every shingle of every doc in the group), so equality proves
    the sharded-merge algebra. Every value is exact integer arithmetic
    ((x·a_i + b_i) mod P31 with the same slot constants as
    `minhash_signature`).

    Returns one row per group: (group_col, mh_s0..mh_s3, mh_sig_sum) —
    the first four slots plus the sum over all `num_hashes` slots (a
    change in ANY slot moves the sum; the four raw slots pin the values).
    """
    if shards < 2:
        raise ValueError(f"shards must be >= 2, got {shards}")
    sh = df.select(
        F.col(group_col).alias("g"),
        # shard assignment only routes rows to partial sketches — the merged
        # result is shard-invariant (that IS the property under test), so
        # any deterministic spread works, including over string ids
        F.pmod(F.xxhash64(id_col), F.lit(shards)).alias("shard"),
        F.explode(token_shingles(tokens_col, shingle_k)).alias("x"),
    )
    slot_exprs = []
    for i in range(num_hashes):
        a = (1103515245 * (i + 1) + 12345) % P31 | 1
        b = (MIX * (i + 7)) % P31
        slot_exprs.append(
            F.min((F.col("x") * a + b) % P31).alias(f"__m{i}")
        )
    partial = sh.groupBy("g", "shard").agg(*slot_exprs)
    merged = partial.groupBy("g").agg(
        *[F.min(f"__m{i}").alias(f"__m{i}") for i in range(num_hashes)]
    )
    total = sum((F.col(f"__m{i}") for i in range(num_hashes)),
                F.lit(0).cast("bigint"))
    return merged.select(
        F.col("g").alias(group_col),
        *[F.col(f"__m{i}").cast("long").alias(f"mh_s{i}") for i in range(4)],
        total.cast("long").alias("mh_sig_sum"),
    )


def sql_minhash_corpus_cte(group_col: str = "source",
                           num_hashes: int = 16,
                           shingled: str = "shingled",
                           doc_table: str | None = None) -> str:
    """DuckDB CTE `mhsk(g, mh_s0..mh_s3, mh_sig_sum)` replaying
    `minhash_corpus_sketch` FROM SCRATCH (no shards) over a `shingled`
    CTE with (doc_id, sh list<bigint>). When the shingled CTE does not
    carry the group column, pass `doc_table` to join it back by doc_id."""
    params = ", ".join(
        f"({i}, {(1103515245 * (i + 1) + 12345) % P31 | 1}, "
        f"{(MIX * (i + 7)) % P31})"
        for i in range(num_hashes)
    )
    if doc_table:
        flat = (f"SELECT t.{group_col} AS g, unnest(s.sh) AS x\n"
                f"  FROM {shingled} s JOIN {doc_table} t USING (doc_id)")
    else:
        flat = f"SELECT {group_col} AS g, unnest(sh) AS x FROM {shingled}"
    return f"""
mhflat AS (
  {flat}
),
mhmin AS (
  SELECT g, p.slot, MIN((x * p.a + p.b) % {P31}) AS v
  FROM mhflat, (VALUES {params}) AS p(slot, a, b)
  GROUP BY g, p.slot
),
mhsk AS (
  SELECT g,
         CAST(MAX(CASE WHEN slot = 0 THEN v END) AS BIGINT) AS mh_s0,
         CAST(MAX(CASE WHEN slot = 1 THEN v END) AS BIGINT) AS mh_s1,
         CAST(MAX(CASE WHEN slot = 2 THEN v END) AS BIGINT) AS mh_s2,
         CAST(MAX(CASE WHEN slot = 3 THEN v END) AS BIGINT) AS mh_s3,
         CAST(SUM(v) AS BIGINT) AS mh_sig_sum
  FROM mhmin GROUP BY g
)"""


def graph_node_stats(pairs: DataFrame, id_a: str = "id_a",
                     id_b: str = "id_b") -> DataFrame:
    """Exact per-node graph statistics over an undirected simple graph
    given CANONICAL edges (id_a < id_b — the orientation every pair
    operator here emits): degree, triangle count, and the local
    clustering coefficient C(v) = 2·tri / (deg·(deg−1)) — the standard
    near-dup-graph health monitors (a spam farm shows as a dense clique:
    high degree AND high clustering; a template chain shows as high
    degree, near-zero clustering).

    Triangle enumeration is the classic distributed wedge-close join
    (each triangle a<b<c found exactly once): edges(a,b) ⋈ edges(b,c)
    builds the wedge, a third equi-join on (a,c) closes it — three hash
    joins on node keys, no cartesian, the plan every BSP/graph system
    lowers this to. Counts are exact integers; the coefficient is ONE
    IEEE division of exact integers (fround4ed).

    Returns (doc_id, deg_cnt, tri_cnt, clust4).
    """
    e = pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b")).distinct()
    # the edge list feeds FOUR plan branches (degree + three triangle-join
    # legs); without truncation Catalyst inlines the whole upstream
    # candidate pipeline once per branch — checkpoint it so the (small,
    # candidate-sized) edge table computes once
    e = e.localCheckpoint(eager=False)
    deg = (
        e.select(F.col("a").alias("doc_id"))
        .unionByName(e.select(F.col("b").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("deg_cnt"))
    )
    wedge = e.join(
        e.select(F.col("a").alias("b"), F.col("b").alias("c")), "b"
    )
    tri = wedge.join(
        e.select(F.col("a").alias("a"), F.col("b").alias("c")), ["a", "c"]
    )
    tric = (
        tri.select(F.col("a").alias("doc_id"))
        .unionByName(tri.select(F.col("b").alias("doc_id")))
        .unionByName(tri.select(F.col("c").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("tri_cnt"))
    )
    zero = F.lit(0).cast("long")
    out = deg.join(tric, "doc_id", "left").withColumn(
        "tri_cnt", F.coalesce("tri_cnt", zero)
    )
    return out.withColumn(
        "clust4",
        F.when(
            F.col("deg_cnt") >= 2,
            fround4((2 * F.col("tri_cnt")).cast("double")
                    / (F.col("deg_cnt") * (F.col("deg_cnt") - 1)).cast("double")),
        ).otherwise(F.lit(0.0)),
    )


def sorted_neighborhood(
    df: DataFrame,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sorted-neighborhood dedup diagnostic (Hernández & Stolfo, SIGMOD
    1995 — the classic record-linkage blocking method): sort the corpus
    lexicographically by token array (ties → id), then compare each doc
    with its PREDECESSOR in sort order. Exact duplicates and
    prefix-truncations land adjacent and show a full-length LCP; the
    method's documented miss — shifted/edited heads sort far apart — is
    exactly why it complements hash-key blocking (MinHash/SimHash block on
    content, SNM on order).

    Per doc: `snm_prev` (predecessor id, '' for the sort minimum),
    `snm_lcp` (longest common token prefix with the predecessor, an exact
    integer; −1 for the sort minimum), `snm_pfx` (1 when one of the two is
    a full prefix of the other — the duplicate/truncation signal SNM
    exists to raise).

    LCP is the position of the first elementwise mismatch:
    array_position(zip_with(a, b, =), false) − 1, falling back to
    min(len) when the shorter array is exhausted first (zip_with pads the
    tail with nulls, which are not `false`). Exact integers — no float
    fold to replay.

    Scale shape: ONE global sort (a range exchange) + a lag window. At
    cluster scale run it per range partition after repartitionByRange on
    the token prefix (`prescan.exact_range_bounds` gives deterministic
    bounds) and stitch the ≤ partitions−1 boundary pairs."""
    from pyspark.sql import Window

    w = Window.orderBy(F.col(tokens_col).asc(), F.col(id_col).asc())
    o = df.select(
        id_col,
        F.col(tokens_col).alias("__t"),
        F.lag(tokens_col).over(w).alias("__pt"),
        F.lag(id_col).over(w).alias("__pid"),
    )
    mis = F.expr("array_position(zip_with(__t, __pt, (x, y) -> x = y), false)")
    lcp = F.when(F.col("__pt").isNull(), F.lit(-1)).otherwise(
        F.when(mis == 0, F.least(F.size("__t"), F.size("__pt"))).otherwise(mis - 1)
    ).cast("long")
    return o.select(
        id_col,
        F.coalesce(F.col("__pid"), F.lit("")).alias("snm_prev"),
        lcp.alias("snm_lcp"),
        (
            F.col("__pt").isNotNull()
            & (lcp == F.least(F.size("__t"), F.size("__pt")))
        ).cast("long").alias("snm_pfx"),
    )


def pagerank(
    pairs: DataFrame,
    iters: int = 4,
    d: float = 0.85,
    base: float = 0.15,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """PageRank (Page et al. 1999) over the undirected near-dup pair graph
    — the authority score that separates a hyper-duplicated template HUB
    (one page every mirror copies) from incidental pairwise near-dups:
    hubs accumulate rank from their whole neighborhood, chain members do
    not. FIXED iteration count (k hops of influence — the monitoring
    contract, like the unrolled-step MMR), so the whole computation is a
    finite engine-replayable expression:

      r₀(v) = 1/N;   r_{t+1}(v) = base/N + d · Σ_{u∼v} r_t(u)/deg(u)

    `d` and `base` are two INDEPENDENT literals (float 1−0.85 is
    0.15000000000000002, not the 0.15 a SQL literal parses to). Every
    per-node message sum is a SOURCE-ID-ORDERED sequential fold — the
    oracle replays it with list_reduce(list(term ORDER BY src)) — and each
    iteration is the fixed chain base/N + d·fold. The symmetric pair graph
    has deg ≥ 1 everywhere: no dangling mass, every node updates every
    round.

    Scale shape: per iteration ONE equi-join (messages) + ONE grouped fold
    (bounded by max degree), lineage truncated per round; total work
    iters·|E| — the standard distributed PageRank schedule.

    Returns (doc_id, pr4)."""
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(
            pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
        )
        .distinct()
    )
    deg = edges.groupBy("src").agg(F.count("*").cast("long").alias("deg"))
    nn = deg.agg(F.count("*").cast("long").alias("__n"))
    r = deg.crossJoin(F.broadcast(nn)).select(
        F.col("src").alias("v"),
        (F.lit(1.0) / F.col("__n").cast("double")).alias("r"),
        "__n",
    )
    for _ in range(iters):
        msg = (
            edges.join(r.select(F.col("v").alias("src"), "r"), "src")
            .join(deg, "src")
            .select(
                F.col("dst").alias("v"),
                F.struct(
                    F.col("src"),
                    (F.col("r") / F.col("deg").cast("double")).alias("val"),
                ).alias("m"),
            )
        )
        r = (
            msg.groupBy("v")
            .agg(F.array_sort(F.collect_list("m")).alias("__ms"))
            .crossJoin(F.broadcast(nn))
            .select(
                "v",
                (
                    F.lit(base) / F.col("__n").cast("double")
                    + F.lit(d)
                    * F.aggregate("__ms", F.lit(0.0), lambda a, x: a + x["val"])
                ).alias("r"),
                "__n",
            )
            .localCheckpoint()
        )
    return r.select(F.col("v").alias("doc_id"), fround4("r").alias("pr4"))


def kcore_peel(pairs: DataFrame, ks=(2, 3), rounds: int = 4,
               id_a: str = "id_a", id_b: str = "id_b") -> DataFrame:
    """Bounded-round K-CORE peel over the undirected pair graph (the
    density stratification of a near-dup graph: a k-core survivor sits in
    a subgraph where EVERY member keeps >= k near-dup partners — dup-farm
    cliques survive high k, template chains peel away at k=2).

    One round for level k deletes every node whose degree in the CURRENT
    surviving subgraph is < k; `rounds` rounds run for each k in ks. The
    output is the deterministic R-round peel — equal to the true k-core
    whenever the graph's peel depth <= rounds — so an engine replaying
    the identical bounded recursion (the DuckDB unrolled-CTE oracle,
    oracles.sql_kcore) matches bit-for-bit whether or not the fixpoint
    was reached. Per round: one semi-restricted degree count = one
    shuffle on the node key; rounds is a constant, so the whole peel is
    O(rounds) bounded shuffles over the (already blocked, near-linear)
    candidate-pair table — scale-safe at 100 TB.

    Returns (doc_id, core{k} flag per k, core{ks[0]}_deg — the node's
    degree inside its ks[0]-peel subgraph, 0 once peeled).
    """
    edges = pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
    # each round joins the surviving set twice, so an untruncated plan
    # doubles per round (2^rounds copies of the candidate pipeline, which
    # stalls AQE re-planning); checkpoint the edge list and every round
    und = edges.union(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint(eager=False)
    nodes = und.select("a").distinct()
    out = nodes.withColumnRenamed("a", "doc_id")
    first_deg = None
    for k in ks:
        surv = nodes
        deg = None
        for _ in range(rounds):
            deg = (
                und.join(surv.withColumnRenamed("a", "sa"),
                         F.col("a") == F.col("sa"))
                .join(surv.select(F.col("a").alias("sb")),
                      F.col("b") == F.col("sb"))
                .groupBy("a")
                .agg(F.count(F.lit(1)).cast("long").alias("d"))
            )
            surv = (deg.filter(F.col("d") >= k).select("a")
                    .localCheckpoint(eager=False))
        flag = surv.select(
            F.col("a").alias("doc_id"), F.lit(1).cast("int").alias(f"core{k}")
        )
        out = out.join(flag, "doc_id", "left").withColumn(
            f"core{k}", F.coalesce(f"core{k}", F.lit(0).cast("int"))
        )
        if first_deg is None:
            # degree inside the final ks[0] surviving subgraph
            fd = (
                und.join(surv.withColumnRenamed("a", "sa"),
                         F.col("a") == F.col("sa"))
                .join(surv.select(F.col("a").alias("sb")),
                      F.col("b") == F.col("sb"))
                .groupBy("a")
                .agg(F.count(F.lit(1)).cast("long").alias(f"core{k}_deg"))
                .withColumnRenamed("a", "doc_id")
            )
            first_deg = (k, fd)
    k0, fd = first_deg
    return out.join(fd, "doc_id", "left").withColumn(
        f"core{k0}_deg",
        F.coalesce(f"core{k0}_deg", F.lit(0).cast("long")),
    )
