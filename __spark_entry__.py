"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)      — flagship point-in-time feature pipeline at sf0.001.
queries()         — one entry per implemented operator (SURVEY.md §2).
oracle_sql()      — DuckDB-equivalent SQL for each query.

Conventions shared by queries and oracles so value-hashes line up:
* timestamps are emitted as epoch-microsecond bigints (ts_us / matched_ts_us);
* derived doubles are rounded to 4 decimals on BOTH sides;
* token tables are derived deterministically from the driver parquet with
  integer arithmetic evaluated identically by Spark and DuckDB
  (nyxus_spark/sources/tables.py — SQL twins live next to the Spark exprs).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from nyxus_spark.compare import fround4 as _r4

# Benford first-digit expectations log10(1 + 1/d), d = 1..9 — Python
# floats whose shortest repr both engines parse to the identical double
# (Spark embeds the value, DuckDB parses the literal).
import math as _math

_BENFORD = [_math.log10(1 + 1 / d) for d in range(1, 10)]

# Multiplier-bootstrap mixers (wave 97): 8 deterministic replicate hashes.
_BS_M = [((b + 1) * 1566083941) % 2147483647 for b in range(8)]


def _prep(spark: SparkSession) -> None:
    spark.conf.set("spark.sql.session.timeZone", "UTC")


# ---------------------------------------------------------------------------
# entry — flagship: as-of join + first-order feature vectors
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Probes as-of joined to versioned token sequences, then the first-order
    feature kernel over the matched token arrays (SURVEY.md §7 v0.1 slice)."""
    _prep(spark)
    from pyspark.sql import functions as F

    from nyxus_spark.features import extract_features
    from nyxus_spark.operators import asof_join
    from nyxus_spark.sources import probes, tokens_versions

    sf_dir = "/root/testdata/sf0.001"
    v = tokens_versions(spark, sf_dir).select("doc_id", "ts", "tokens", "n_tok", "source")
    p = probes(spark, sf_dir)
    matched = asof_join(p, v).filter(F.col("tokens").isNotNull())
    feats = extract_features(matched, ["*ALL_INTENSITY*"], keep_tokens=False)
    return feats


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def _q_tokens_basic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native-expression first-order aggregates + order-sensitive token digest
    (token-array equality proxy, BASELINE.md 'token-array parity') + raw
    autocorrelation at lags 1/2/4 (the series recast of nyxus's GLCM
    autocorrelation): R_k = Σ xᵢ·xᵢ₊ₖ is an exact BIGINT dot product of the
    stream with its shift, and r_k = R_k/R_0 is one division of exact
    integers — all JVM whole-stage exprs, zero Python."""
    _prep(spark)
    from pyspark.sql import functions as F

    from nyxus_spark.sources import tokens_static

    def acf_num(k: int):
        return F.expr(
            f"CASE WHEN n_tok > {k} THEN "
            f"aggregate(zip_with(slice(tokens, 1, n_tok - {k}),"
            f"                   slice(tokens, {k} + 1, n_tok - {k}),"
            f"                   (a, b) -> cast(a as bigint) * b),"
            f"          0L, (s, x) -> s + x) ELSE 0L END"
        )

    energy = F.expr("aggregate(tokens, 0L, (a, x) -> a + cast(x as bigint) * x)")
    t = tokens_static(spark, sf_dir)
    out = t.select(
        "doc_id",
        "n_tok",
        F.array_min("tokens").alias("tok_min"),
        F.array_max("tokens").alias("tok_max"),
        F.expr("aggregate(tokens, 0L, (a, x) -> a + x)").alias("tok_sum"),
        F.expr(
            "CASE WHEN n_tok = 0 THEN 0L ELSE "
            "aggregate(zip_with(tokens, sequence(1, n_tok), (t, i) -> cast(t as bigint) * i),"
            " 0L, (a, x) -> a + x) % 1000003 END"
        ).alias("tok_digest"),
        "source",
        energy.alias("tok_energy"),
        acf_num(1).alias("acf1_num"),
        acf_num(2).alias("acf2_num"),
        acf_num(4).alias("acf4_num"),
        F.expr(
            "CASE WHEN n_tok > 1 THEN aggregate(slice(tokens, 1, n_tok - 1),"
            " 0L, (a, x) -> a + x) ELSE 0L END"
        ).alias("__sh"),
        F.expr(
            "CASE WHEN n_tok > 1 THEN aggregate(slice(tokens, 2, n_tok - 1),"
            " 0L, (a, x) -> a + x) ELSE 0L END"
        ).alias("__st"),
        # extrema POSITIONS (extrema.cpp analog): first occurrence of the
        # max/min token, 1-based — array_position's first-match contract
        # matches list_position's on both engines
        F.expr(
            "CASE WHEN n_tok > 0 THEN"
            " array_position(tokens, array_max(tokens)) ELSE 0L END"
        ).alias("argmax_pos"),
        F.expr(
            "CASE WHEN n_tok > 0 THEN"
            " array_position(tokens, array_min(tokens)) ELSE 0L END"
        ).alias("argmin_pos"),
        # RLE compression proxy: maximal-run count = 1 + #(adjacent unequal)
        F.expr(
            "CASE WHEN n_tok = 0 THEN 0L "
            "WHEN n_tok = 1 THEN 1L "
            "ELSE 1L + aggregate(zip_with(slice(tokens, 1, n_tok - 1),"
            " slice(tokens, 2, n_tok - 1),"
            " (a, b) -> CASE WHEN a <> b THEN 1L ELSE 0L END),"
            " 0L, (s, x) -> s + x) END"
        ).alias("rle_runs"),
    )
    out = out.withColumn(
        "acf1_r",
        _r4(F.when(F.col("tok_energy") > 0,
                   F.col("acf1_num") / F.col("tok_energy")).otherwise(F.lit(0.0))),
    )
    # mean-removed (true) lag-1 autocorrelation as ONE exact rational:
    # scaling Σ(tᵢ−μ)(tᵢ₊₁−μ) and Σ(tᵢ−μ)² by n² clears μ = m0/n —
    #   num = n²·R₁ − n·m0·(S_head + S_tail) + (n−1)·m0²
    #   den = n²·E − n·m0²
    # with S_head/S_tail the overlap slice sums; constant docs (den = 0) → 0
    nn = F.col("n_tok").cast("long")
    c_num = ((nn * nn) * F.col("acf1_num")
             - (nn * F.col("tok_sum")) * (F.col("__sh") + F.col("__st"))
             + ((nn - 1) * F.col("tok_sum")) * F.col("tok_sum"))
    c_den = (nn * nn) * F.col("tok_energy") - (nn * F.col("tok_sum")) * F.col("tok_sum")
    out = out.withColumn(
        "acf1_centered",
        _r4(F.when(c_den > 0, c_num / c_den).otherwise(F.lit(0.0))),
    ).drop("__sh", "__st")
    # BPE merge step: find the corpus's top adjacent pair (count DESC, then
    # (a, b) ASC — deterministic) and count each doc's greedy non-overlapping
    # merges of it. One explode + hash-agg for the pair table; the winning
    # pair is ONE collected row (broadcast-tiny, like the IVF probe ids).
    from nyxus_spark.functions import bpe_merge_count

    pair = (
        t.select(F.expr(
            "explode(CASE WHEN n_tok >= 2 THEN zip_with(slice(tokens, 1, n_tok - 1),"
            " slice(tokens, 2, n_tok - 1), (a, b) -> struct(a, b)) ELSE array() END)"
        ).alias("p"))
        .groupBy("p").count()
        .orderBy(F.col("count").desc(), F.col("p.a").asc(), F.col("p.b").asc())
        .limit(1)
        .collect()[0]["p"]
    )
    out = (
        out.join(t.select("doc_id", "tokens", F.col("n_tok").alias("__nt")), "doc_id")
        .withColumn("bpe_a", F.lit(int(pair["a"])))
        .withColumn("bpe_b", F.lit(int(pair["b"])))
        .withColumn("bpe_merges", bpe_merge_count(pair["a"], pair["b"],
                                                  n_tok_col="__nt"))
        .withColumn("bpe_new_len", (F.col("__nt") - F.col("bpe_merges")).cast("long"))
        .drop("tokens", "__nt")
    )
    # delimiter segmentation (sentence/paragraph-split analog): split every
    # doc on its most frequent token (104 in this corpus) via the REAL
    # row-per-segment operator, then re-aggregate for the per-doc gate. The
    # checksum Σ (seg_id+1)·(seg_sum+seg_len) is an exact BIGINT sensitive
    # to content, order, and segment assignment — a single token landing in
    # the wrong segment flips it.
    from nyxus_spark.functions import split_on_token

    segs = split_on_token(t.select("doc_id", "tokens", "n_tok"), 104)
    seg_agg = (
        segs.withColumn(
            "__ss", F.aggregate("seg_tokens", F.lit(0).cast("long"), lambda a, x: a + x)
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_segs"),
            F.max("seg_len").cast("long").alias("max_seg_len"),
            F.sum((F.col("seg_id") + 1) * (F.col("__ss") + F.col("seg_len")))
            .cast("long").alias("seg_checksum"),
            # per-segment mean spread (paragraph-level quality dispersion):
            # each segment mean is ONE exact-int division; max/min of those
            # IEEE quotients are engine-identical comparisons
            _r4(F.max(F.col("__ss") / F.col("seg_len"))).alias("max_seg_mean4"),
            _r4(F.min(F.col("__ss") / F.col("seg_len"))).alias("min_seg_mean4"),
        )
    )
    # lexical diversity (corpus-quality metrics): distinct token types,
    # hapax count (types occurring once IN the doc), and the type-token
    # ratio — two-phase (doc, token) aggregation, exact ints + ONE division
    lex = (
        t.select("doc_id", F.explode("tokens").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("distinct_tokens"),
            F.sum((F.col("c") == 1).cast("long")).cast("long")
            .alias("hapax_tokens"),
            F.sum(F.col("c") * (F.col("c") - F.lit(1))).cast("long")
            .alias("simpson_num"),
        )
    )
    zero = F.lit(0).cast("long")
    out = out.join(seg_agg, "doc_id", "left").join(lex, "doc_id", "left").select(
        *[c for c in out.columns],
        F.coalesce("n_segs", zero).alias("n_segs"),
        F.coalesce("max_seg_len", zero).alias("max_seg_len"),
        F.coalesce("seg_checksum", zero).alias("seg_checksum"),
        F.col("max_seg_mean4"),
        F.col("min_seg_mean4"),
        F.coalesce("distinct_tokens", zero).alias("distinct_tokens"),
        F.coalesce("hapax_tokens", zero).alias("hapax_tokens"),
        F.coalesce("simpson_num", zero).alias("simpson_num"),
    )
    res = (
        out
        .withColumn(
            "ttr4",
            F.when(F.col("n_tok") > 0,
                   _r4(F.col("distinct_tokens") / F.col("n_tok")))
            .otherwise(F.lit(0.0)),
        )
        # Simpson concentration index Σc(c−1)/(n(n−1)): the repeated-draw
        # collision probability — a lexical-repetition quality signal. The
        # numerator is an exact BIGINT; ONE final division of exact ints.
        .withColumn(
            "simpson4",
            F.when(
                F.col("n_tok") > 1,
                _r4(F.col("simpson_num")
                    / (F.col("n_tok").cast("long") * (F.col("n_tok") - 1))),
            ).otherwise(F.lit(0.0)),
        )
        # effective vocabulary size (inverse participation ratio):
        # n² / Σc² = n² / (simpson_num + n) — exact ints, ONE division
        .withColumn(
            "eff_vocab4",
            F.when(
                F.col("n_tok") > 0,
                _r4((F.col("n_tok").cast("long") * F.col("n_tok"))
                    / (F.col("simpson_num") + F.col("n_tok"))),
            ).otherwise(F.lit(0.0)),
        )
        # RLE ratio: runs per token — near 1 for incompressible streams,
        # small for heavy repetition
        .withColumn(
            "rle_ratio4",
            F.when(F.col("n_tok") > 0,
                   _r4(F.col("rle_runs") / F.col("n_tok")))
            .otherwise(F.lit(0.0)),
        )
    )
    # wave 113 — GREEDY SET-COVER eval-set selection (max-coverage, the
    # (1−1/e) greedy): pick 8 docs covering the most NEW distinct BIGRAM
    # shingles (set ops run in shingle space — raw token sets are
    # near-degenerate on a small vocab, the PPJoin lesson). k narrow scans
    # + k one-row driver probes (greedy_kcenter's shape); the oracle
    # replays every pick one RECURSIVE-CTE step at a time. Each doc row
    # carries its pick order (0 = never picked) and marginal gain.
    from nyxus_spark.operators import greedy_set_cover

    dts = t.filter(F.col("n_tok") > 1).select(
        F.expr("cast(substr(doc_id, 5) as bigint)").alias("__oid"),
        F.expr(
            "array_distinct(transform(sequence(1, n_tok - 1),"
            " i -> element_at(tokens, i) * 256 + element_at(tokens, i + 1)))"
        ).alias("__ts"),
    )
    scov = greedy_set_cover(dts, k=8, id_col="__oid", set_col="__ts").select(
        F.concat(F.lit("doc_"), F.col("__oid").cast("string")).alias("doc_id"),
        "sc_step", "sc_gain",
    )
    return (
        res.join(scov, "doc_id", "left")
        .withColumn("sc_step", F.coalesce("sc_step", zero))
        .withColumn("sc_gain", F.coalesce("sc_gain", zero))
    )


def _q_prescan_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source prescan aggregates (broadcast dim analog of SlideProps,
    /root/reference/src/nyx/slideprops.h:6-76, workflow_2d_segmented.cpp:175-205),
    widened with GROUP-LEVEL exact analytics: the lower median of n_tok by
    RANK (element at floor((n+1)/2) under a total order — an exact integer,
    no interpolation ambiguity) and the exact Pearson correlation between
    doc length and token mass (integer numerators N·Σxy − Σx·Σy in DECIMAL
    vs HUGEINT; denominator = product of two correctly-rounded sqrts of
    exact integers, one final division)."""
    _prep(spark)
    from pyspark.sql import functions as F
    from pyspark.sql import Window

    from nyxus_spark.sources import tokens_static

    t = tokens_static(spark, sf_dir).withColumn(
        "y", F.expr("aggregate(tokens, 0L, (a, x) -> a + x)")
    )
    base = t.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("total_tokens"),
        F.min(F.array_min("tokens")).alias("src_min"),
        F.max(F.array_max("tokens")).alias("src_max"),
        F.sum("y").alias("sy"),
        F.sum(F.expr("cast(n_tok as bigint) * n_tok")).alias("sxx"),
        F.sum(F.expr("y * y")).alias("syy"),
        F.sum(F.expr("cast(n_tok as bigint) * y")).alias("sxy"),
    )
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    num = d("n_docs") * d("sxy") - d("total_tokens") * d("sy")
    denx = d("n_docs") * d("sxx") - d("total_tokens") * d("total_tokens")
    deny = d("n_docs") * d("syy") - d("sy") * d("sy")
    base = base.withColumn(
        "corr_len_mass",
        _r4(num.cast("double")
            / (F.sqrt(denx.cast("double")) * F.sqrt(deny.cast("double")))),
    )
    w = Window.partitionBy("source").orderBy(F.col("n_tok").asc(), F.col("doc_id").asc())
    med = (
        t.select("source", "n_tok", "doc_id",
                 F.row_number().over(w).alias("rn"),
                 F.count("*").over(Window.partitionBy("source")).alias("cnt"))
        .filter(F.col("rn") == F.expr("(cnt + 1) div 2"))
        .select("source", F.col("n_tok").cast("long").alias("median_n_tok"))
    )
    # ROBUST per-source stats, both exact integers by construction:
    # MAD = lower median (same rank rule) of |n_tok − median|, and the
    # quartile-trimmed mass (drop lowest/highest ⌊n/4⌋ by the doc_id-
    # tie-broken rank — the outlier-insensitive length monitor pair)
    dev = t.join(med, "source").select(
        "source", "doc_id",
        F.abs(F.col("n_tok").cast("long") - F.col("median_n_tok")).alias("dev"),
    )
    wd = Window.partitionBy("source").orderBy(
        F.col("dev").asc(), F.col("doc_id").asc())
    mad = (
        dev.select("source", "dev",
                   F.row_number().over(wd).alias("rn"),
                   F.count("*").over(Window.partitionBy("source")).alias("cnt"))
        .filter(F.col("rn") == F.expr("(cnt + 1) div 2"))
        .select("source", F.col("dev").cast("long").alias("mad_n_tok"))
    )
    trim = (
        t.select("source", "n_tok",
                 F.row_number().over(w).alias("rn"),
                 F.count("*").over(Window.partitionBy("source")).alias("cnt"))
        .filter((F.col("rn") > F.expr("cnt div 4"))
                & (F.col("rn") <= F.expr("cnt - cnt div 4")))
        .groupBy("source")
        .agg(F.sum("n_tok").cast("long").alias("trim_sum"),
             F.count("*").cast("long").alias("trim_cnt"))
    )
    # F4 label-merge ("wholeslide mode", nyxus single-ROI): collapse every
    # source's documents into ONE merged pseudo-document (tokens concatenated
    # in doc order) and run the KERNEL over it — the merged entity flows
    # through the same mapInArrow path as any document. Gated on the
    # order-independent exact integers (count / token sum / energy).
    from nyxus_spark.features import extract_features

    merged = (
        t.select(
            "source",
            F.struct(
                F.expr("cast(substr(doc_id, 5) as bigint)").alias("oid"),
                F.col("tokens").alias("tokens"),
            ).alias("s"),
        )
        .groupBy("source")
        .agg(F.flatten(F.expr(
            "transform(sort_array(collect_list(s)), x -> x.tokens)")).alias("tokens"))
        .select(F.col("source").alias("doc_id"), "tokens",
                F.size("tokens").alias("n_tok"))
    )
    ws = extract_features(
        merged, ["COUNT", "INTEGRATED_INTENSITY", "ENERGY"], keep_tokens=False
    ).select(
        F.col("doc_id").alias("source"),
        F.col("COUNT").cast("long").alias("ws_count"),
        F.col("INTEGRATED_INTENSITY").cast("long").alias("ws_sum"),
        F.col("ENERGY").cast("long").alias("ws_energy"),
    )
    # per-source MODE token (argmax count, ties → lowest token id): the
    # per-domain vocabulary monitor — two-phase (source, token) agg, then a
    # max-struct pick (count DESC encoded as negative for the struct max)
    mode = (
        t.select("source", F.explode("tokens").alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count("*").cast("long").alias("c"))
        .groupBy("source")
        .agg(F.max(F.struct(F.col("c"), (-F.col("tok")).alias("nt"))).alias("m"))
        .select(
            "source",
            (-F.col("m.nt")).cast("long").alias("src_mode_token"),
            F.col("m.c").alias("src_mode_cnt"),
        )
    )
    # total-variation distance of each source's token distribution from
    # src0 (the new-crawl-vs-reference composition monitor): exact BIGINT
    # numerator + ONE division
    from nyxus_spark.functions import source_tv

    tv = source_tv(t, ref="src0")
    # TOKENIZER FERTILITY per source (chars per token — the tokenizer-eval
    # metric that decides whether a vocab suits a domain): exact char and
    # token masses, ONE division
    from nyxus_spark.sources import load_table

    chars = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.sum("n_chars").cast("long").alias("src_chars"))
    )
    fert = (
        t.groupBy("source")
        .agg(F.sum("n_tok").cast("long").alias("__tk"))
        .join(chars, "source")
        .select(
            "source", "src_chars",
            _r4(F.col("src_chars").cast("double")
                / F.col("__tk").cast("double")).alias("chars_per_tok4"),
        )
    )
    # per-source top-ASSOCIATION token (log-free PMI/chi-square drift
    # monitor: lift = c_ts·N/(c_t·c_s), exact-integer products + one IEEE
    # division as the ranking key) and cross-source 8-gram LEAKAGE
    # (train/eval hygiene: distinct grams shared with any other source)
    from nyxus_spark.functions import cross_source_leakage, source_assoc_top

    assoc = source_assoc_top(t, min_count=2)
    leak = cross_source_leakage(t, n=8)
    # order-independent corpus DIGEST (data-versioning/lineage monitor):
    # XOR + SUM of exact per-doc content hashes — both commutative, so the
    # aggregation is map-side-combinable at any parallelism
    from nyxus_spark.functions import corpus_digest

    dig = corpus_digest(t)
    # dataset-version CHURN audit (snapshot_diff): a deterministic "next
    # refresh" of the corpus — drop oid%5 docs, content-modify the
    # retained oid%7 docs, add a renamed copy of oid%11 docs — one
    # full-outer diff by content key, rolled up per source.
    from nyxus_spark.operators.prescan import snapshot_diff

    keyed = t.select(
        "doc_id", "source",
        F.expr("cast(substr(doc_id, 5) as bigint)").alias("__oid"),
        F.concat_ws(
            ",", F.transform("tokens", lambda x: x.cast("string"))
        ).alias("key"),
    )
    new_base = keyed.filter(F.col("__oid") % 5 != 0).withColumn(
        "key",
        F.when(F.col("__oid") % 7 == 0,
               F.concat(F.col("key"), F.lit(",7"))).otherwise(F.col("key")),
    )
    added = keyed.filter(F.col("__oid") % 11 == 0).withColumn(
        "doc_id", F.concat(F.lit("add_"), F.col("doc_id"))
    )
    diff = snapshot_diff(
        keyed, new_base.unionByName(added), carry_cols=("source",)
    )
    # INCREMENTAL digest maintenance: update the per-source lineage digest
    # from the refresh DIFF alone (digest_update — XOR self-inverse, SUM
    # subtracts) and gate it against the oracle recomputing the refreshed
    # corpus's digest FROM SCRATCH — equality proves the algebra, the
    # property that makes digests maintainable without a corpus rescan.
    from nyxus_spark.functions import digest_update

    oidc = F.expr("cast(substr(doc_id, 5) as bigint)")
    mod_old = t.filter((oidc % 5 != 0) & (oidc % 7 == 0))
    removed_all = t.filter(oidc % 5 == 0).unionByName(mod_old)
    mod_new = (
        mod_old.withColumn("tokens", F.concat("tokens", F.array(F.lit(7))))
        .withColumn("n_tok", F.col("n_tok") + 1)
    )
    added_all = mod_new.unionByName(t.filter(oidc % 11 == 0))
    dig2 = digest_update(dig, removed_all, added_all).select(
        "source",
        F.col("digest_xor").alias("dig2_xor"),
        F.col("digest_sum").alias("dig2_sum"),
        F.col("digest_docs").alias("dig2_docs"),
    )
    churn = diff.groupBy("source").agg(
        *[
            F.sum((F.col("diff_status") == s).cast("long"))
            .alias(f"diff_{s}")
            for s in ("added", "removed", "modified", "unchanged")
        ]
    )
    # MERGE/upsert applied END-TO-END: the SAME refresh expressed as MERGE
    # instructions (updates = retained %7 docs with the modified key,
    # tombstones = %5 docs, inserts = add_%11 copies) and applied with
    # sinks.merge_upsert — the merged table's per-source content digest
    # must equal the oracle's FROM-SCRATCH digest of the refreshed corpus:
    # the write-side MERGE and the read-side diff/digest paths converge.
    from nyxus_spark.sinks import merge_upsert

    base_k = keyed.select("doc_id", "source", "key")
    upd = (
        keyed.filter((F.col("__oid") % 5 != 0) & (F.col("__oid") % 7 == 0))
        .select("doc_id", "source",
                F.concat("key", F.lit(",7")).alias("key"),
                F.lit(False).alias("__del"))
        .unionByName(
            keyed.filter(F.col("__oid") % 5 == 0)
            .select("doc_id", "source", "key", F.lit(True).alias("__del"))
        )
        .unionByName(
            keyed.filter(F.col("__oid") % 11 == 0)
            .select(F.concat(F.lit("add_"), F.col("doc_id")).alias("doc_id"),
                    "source", "key", F.lit(False).alias("__del"))
        )
    )
    merged = merge_upsert(base_k, upd, ["doc_id"], delete_col="__del")
    merged_t = merged.select(
        "source",
        F.expr(
            "CASE WHEN key = '' THEN array() "
            "ELSE transform(split(key, ','), x -> cast(x as int)) END"
        ).alias("tokens"),
    ).withColumn("n_tok", F.size("tokens"))
    mrg = corpus_digest(merged_t).select(
        "source",
        F.col("digest_xor").alias("mrg_xor"),
        F.col("digest_sum").alias("mrg_sum"),
        F.col("digest_docs").alias("mrg_docs"),
    )
    # per-source MinHash CORPUS sketch, built from 4 per-shard partial
    # signatures merged by per-slot MIN (the cluster composition); the
    # oracle recomputes every slot from scratch — mergeability gate,
    # same discipline as the HLL-register and digest gates
    from nyxus_spark.operators.dedup import minhash_corpus_sketch

    mhsk = minhash_corpus_sketch(t, "source", "doc_id", "tokens")
    # exact two-sample KS drift of each source's LENGTH distribution vs the
    # rest of the corpus (shape-shift monitor; integer numerator max, ONE
    # final division)
    from nyxus_spark.operators.prescan import ks_drift

    ks = ks_drift(load_table(spark, sf_dir, "documents"), "source", "n_chars")
    # DOMAIN-SIMILARITY monitor: each source's nearest OTHER source by
    # token-count-vector cosine — dot products are exact BIGINT sums over
    # the shared vocab (one (source, token) agg + one token equi-join of
    # the |S|-row-per-token count table, never the corpus), the cosine one
    # fixed sqrt·sqrt chain; argmax ties to the lexicographically lowest
    # neighbor. The mixture-design input: which domains are near-duplicates
    # of each other at the distribution level.
    stc = (
        t.select("source", F.explode("tokens").alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count("*").cast("long").alias("c"))
    )
    nrm = stc.groupBy("source").agg(
        F.sum(F.col("c") * F.col("c")).cast("long").alias("n2")
    )
    a, b = stc.alias("a"), stc.alias("b")
    dots = (
        a.join(b, (F.col("a.tok") == F.col("b.tok"))
               & (F.col("a.source") != F.col("b.source")))
        .groupBy(F.col("a.source").alias("source"),
                 F.col("b.source").alias("__nbr"))
        .agg(F.sum(F.col("a.c") * F.col("b.c")).cast("long").alias("__dot"))
    )
    na = nrm.select(F.col("source"), F.col("n2").alias("__na"))
    nb = nrm.select(F.col("source").alias("__nbr"), F.col("n2").alias("__nb"))
    simc = (
        F.col("__dot").cast("double")
        / (F.sqrt(F.col("__na")) * F.sqrt(F.col("__nb")))
    )
    wsim = Window.partitionBy("source").orderBy(
        F.desc("__sim"), F.asc("__nbr"))
    sim = (
        dots.join(na, "source").join(nb, "__nbr")
        .withColumn("__sim", simc)
        .withColumn("__rn", F.row_number().over(wsim))
        .filter(F.col("__rn") == 1)
        .select("source", F.col("__nbr").alias("sim_nbr"),
                _r4(F.col("__sim")).alias("sim_cos4"))
    )
    # wave 94 — exact 1-D WASSERSTEIN-1 (earth mover's) distance of each
    # source's token distribution vs src0, beside TV (half-sum) and KS
    # (max): on integer support W1 = Σ_t |F_s(t) − F_0(t)|, computed as
    # the cross-multiplied EXACT integer Σ|Cum_s·N_0 − Cum_0·N_s| over the
    # dense ≤251-value token grid (a broadcast dim), ONE final division by
    # N_s·N_0. TV says how much mass differs; W1 says how FAR it must move.
    wgrid = spark.range(0, 251).select(F.col("id").cast("int").alias("tok"))
    wsrcs = stc.select("source").distinct()
    wwin = Window.partitionBy("source").orderBy("tok").rowsBetween(
        Window.unboundedPreceding, 0)
    wcum = (
        wsrcs.crossJoin(F.broadcast(wgrid))
        .join(stc, ["source", "tok"], "left")
        .withColumn("__c", F.coalesce("c", F.lit(0).cast("long")))
        .withColumn("__cum", F.sum("__c").over(wwin).cast("long"))
    )
    wtot = stc.groupBy("source").agg(
        F.sum("c").cast("long").alias("__nt"))
    wc0 = wcum.filter(F.col("source") == "src0").select(
        "tok", F.col("__cum").alias("__cum0"))
    wn0 = wtot.filter(F.col("source") == "src0").select(
        F.col("__nt").alias("__n0"))
    emd = (
        wcum.join(wc0, "tok").join(wtot, "source")
        .crossJoin(F.broadcast(wn0))
        .groupBy("source")
        .agg(
            F.sum(F.abs(F.col("__cum") * F.col("__n0")
                        - F.col("__cum0") * F.col("__nt")))
            .cast("long").alias("emd_num"),
            (F.max("__nt") * F.max("__n0")).cast("long").alias("emd_den"),
        )
        .select(
            "source", "emd_num", "emd_den",
            _r4(F.col("emd_num").cast("double")
                / F.col("emd_den").cast("double")).alias("emd4"),
        )
    )
    # exact per-source DECILE vector of n_tok (lower-rank selection at
    # index floor((n−1)·k/10)+1 under the doc_id-tie-broken total order —
    # the distribution prescan a partition planner sizes splits from)
    dec = (
        t.select("source", "n_tok",
                 F.row_number().over(w).alias("rn"),
                 F.count("*").over(Window.partitionBy("source")).alias("cnt"))
        .groupBy("source")
        .agg(*[
            F.max(F.when(
                F.col("rn") == F.expr(f"((cnt - 1) * {k}) div 10 + 1"),
                F.col("n_tok"),
            )).cast("long").alias(f"dec{k}_n_tok")
            for k in range(1, 10)
        ])
    )
    # wave 79 — LEAVE-ONE-OUT source INFLUENCE on the corpus mean length
    # (the data-ablation planner's first-order signal: what happens to mean
    # n_tok if this source is dropped?): Δ = (T−t_s)/(N−n_s) − T/N reduced
    # to the SINGLE exact rational (T·n_s − N·t_s)/(N·(N−n_s)) — integer
    # numerator/denominator gated raw, ONE final division. Positive ⇒
    # dropping the source RAISES the mean (it drags length down). Products
    # stay inside int64 to T·n_s ≈ 9·10¹⁸ (per-shard split beyond).
    tot = base.agg(
        F.sum("n_docs").cast("long").alias("__N"),
        F.sum("total_tokens").cast("long").alias("__T"),
    )
    base = (
        base.crossJoin(F.broadcast(tot))
        .withColumn(
            "infl_num",
            (F.col("__T") * F.col("n_docs")
             - F.col("__N") * F.col("total_tokens")).cast("long"),
        )
        .withColumn(
            "infl_den",
            (F.col("__N") * (F.col("__N") - F.col("n_docs"))).cast("long"),
        )
        .withColumn(
            "infl4",
            F.when(
                F.col("infl_den") > 0,
                _r4(F.col("infl_num") / F.col("infl_den")),
            ).otherwise(F.lit(0.0)),
        )
        .drop("__N", "__T")
    )
    # wave 91 — JACKKNIFE standard error of the corpus mean length over
    # the k leave-one-source-out replicates (the uncertainty the LOO
    # influence numbers deserve): θ_i = (T−t_s)/(N−n_s) identical IEEE
    # divisions; θ̄ and Σ(θ_i−θ̄)² are ORDERED source-ASC folds (pure-add
    # list_reduce class), SE = sqrt((k−1)·S/k) one fixed chain. θ̄ is
    # STAGED as a column before the second fold (the Catalyst
    # lambda-rescan trap). Corpus constants, broadcast onto every row.
    jtot = base.agg(
        F.sum("n_docs").cast("long").alias("__N2"),
        F.sum("total_tokens").cast("long").alias("__T2"),
    )
    jth = base.crossJoin(F.broadcast(jtot)).select(
        "source",
        ((F.col("__T2") - F.col("total_tokens")).cast("double")
         / (F.col("__N2") - F.col("n_docs")).cast("double")).alias("__th"),
    )
    j1 = jth.agg(
        F.sort_array(F.collect_list(F.struct("source", "__th"))).alias("__a"),
        F.count("*").cast("long").alias("jk_k"),
    )
    j2 = j1.withColumn(
        "__thbar",
        F.expr("aggregate(transform(__a, x -> x.__th), 0D, (p, q) -> p + q)")
        / F.col("jk_k"),
    )
    j3 = j2.withColumn(
        "__S",
        F.expr("aggregate(transform(__a,"
               " x -> (x.__th - __thbar) * (x.__th - __thbar)),"
               " 0D, (p, q) -> p + q)"),
    )
    jkf = j3.select(
        "jk_k",
        _r4(F.col("__thbar")).alias("jk_mean4"),
        _r4(F.sqrt(F.col("__S") * (F.col("jk_k") - 1) / F.col("jk_k")))
        .alias("jk_se4"),
    )
    base = base.crossJoin(F.broadcast(jkf))
    # wave 103 — χ² INDEPENDENCE of (source × lang) + CRAMÉR'S V (the
    # categorical-association monitor: are domains language-skewed?):
    # DENSE grid incl. zero cells (they carry r·c/N² mass), per-cell term
    # (N·o − r·c)²/(N·r·c) exact integers inside ONE double chain, the
    # cell sum an ORDERED (source, lang) fold (pure-add list_reduce
    # class), V = sqrt(χ²/(N·min(R−1,C−1))) one chain.
    dl = load_table(spark, sf_dir, "documents").select("source", "lang")
    osl = dl.groupBy("source", "lang").agg(
        F.count("*").cast("long").alias("__o"))
    rsx = dl.groupBy("source").agg(F.count("*").cast("long").alias("__r"))
    clx = dl.groupBy("lang").agg(F.count("*").cast("long").alias("__c"))
    nnx = dl.agg(F.count("*").cast("long").alias("__N"))
    dims = rsx.agg(F.count("*").cast("long").alias("__R")).crossJoin(
        clx.agg(F.count("*").cast("long").alias("__C")))
    dense = (
        rsx.crossJoin(clx)
        .join(osl, ["source", "lang"], "left")
        .withColumn("__o", F.coalesce("__o", F.lit(0).cast("long")))
        .crossJoin(F.broadcast(nnx))
        .withColumn(
            "__t",
            ((F.col("__N") * F.col("__o") - F.col("__r") * F.col("__c"))
             * (F.col("__N") * F.col("__o") - F.col("__r") * F.col("__c")))
            .cast("double")
            / (F.col("__N") * F.col("__r") * F.col("__c")).cast("double"),
        )
    )
    slagg = dense.agg(
        F.sort_array(
            F.collect_list(F.struct("source", "lang", "__t"))).alias("__a"),
        F.count("*").cast("long").alias("sl_cells"),
        F.max("__N").alias("__N"),
    ).crossJoin(F.broadcast(dims))
    slchi = slagg.withColumn(
        "__chi",
        F.expr("aggregate(transform(__a, x -> x.__t), 0D, (p, q) -> p + q)"),
    ).select(
        "sl_cells",
        _r4(F.col("__chi")).alias("chi2_sl4"),
        _r4(
            F.sqrt(
                F.col("__chi")
                / (F.col("__N")
                   * F.least(F.col("__R") - 1, F.col("__C") - 1))
                .cast("double")
            )
        ).alias("cramers_v4"),
    )
    base = base.crossJoin(F.broadcast(slchi))
    # wave 108 — MEDIAN-OF-MEANS robust per-source mean length (the
    # heavy-tail-safe estimator beside mean/median/MAD): 8 deterministic
    # hash buckets (oid·1103515245 mod P31 — re-derivable on any engine
    # forever), bucket sums/counts exact BIGINTs, the median bucket under
    # the (IEEE bucket-mean, bucket-id) total order at lower-median rank,
    # mom4 = ONE final division of the selected bucket's exact integers.
    oidl = F.expr("cast(substr(doc_id, 5) as bigint)")
    mbk = t.select(
        "source",
        (((oidl % F.lit(2147483647)) * F.lit(1103515245))
         % F.lit(2147483647) % F.lit(8)).alias("mom_bucket"),
        "n_tok",
    ).groupBy("source", "mom_bucket").agg(
        F.sum("n_tok").cast("long").alias("mom_sum"),
        F.count("*").cast("long").alias("mom_cnt"),
    )
    wmb = Window.partitionBy("source").orderBy(
        (F.col("mom_sum").cast("double")
         / F.col("mom_cnt").cast("double")).asc(),
        F.col("mom_bucket").asc(),
    )
    mom = (
        mbk.select(
            "source", "mom_bucket", "mom_sum", "mom_cnt",
            F.row_number().over(wmb).alias("__rn"),
            F.count("*").over(Window.partitionBy("source")).alias("__nb"),
        )
        .filter(F.col("__rn") == F.expr("(__nb + 1) div 2"))
        .select(
            "source", "mom_bucket", "mom_sum", "mom_cnt",
            _r4(F.col("mom_sum").cast("double")
                / F.col("mom_cnt").cast("double")).alias("mom4"),
        )
    )
    # wave 116 — OOV TOKENIZER-TRANSFER rate per source: freeze src0's
    # top-16 vocabulary (count DESC, token ASC — deterministic) and
    # measure every source's out-of-vocabulary token MASS under it — the
    # "does the reference domain's tokenizer fit this domain" monitor.
    # Exact integer masses, the frozen vocab a 16-row broadcast dim,
    # ONE final division.
    wv = Window.orderBy(F.desc("__c"), F.asc("tok"))
    v16 = (
        stc.filter(F.col("source") == "src0")
        .select("tok", F.col("c").alias("__c"))
        .withColumn("__r", F.row_number().over(wv))
        .filter(F.col("__r") <= 16)
        .select("tok")
    )
    oov = (
        stc.join(F.broadcast(v16), "tok", "left_anti")
        .groupBy("source")
        .agg(F.sum("c").cast("long").alias("oov_mass"))
    )
    ret = (base.join(med, "source").join(ws, "source").join(mode, "source")
           .join(tv, "source").join(fert, "source")
           .join(assoc, "source").join(leak, "source").join(dig, "source")
           .join(churn, "source").join(dig2, "source").join(mrg, "source")
           .join(mhsk, "source")
           .join(mad, "source").join(trim, "source").join(ks, "source")
           .join(sim, "source").join(dec, "source").join(emd, "source")
           .join(mom, "source")
           .join(oov, "source", "left")
           .drop("sy", "sxx", "syy", "sxy"))
    return (
        ret.withColumn("oov_mass",
                       F.coalesce("oov_mass", F.lit(0).cast("long")))
        .withColumn(
            "oov_rate4",
            F.when(
                F.col("total_tokens") > 0,
                _r4(F.col("oov_mass").cast("double")
                    / F.col("total_tokens").cast("double")),
            ).otherwise(F.lit(0.0)),
        )
    )


def _q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship sorted-merge as-of join (union_window plan)."""
    _prep(spark)
    from pyspark.sql import functions as F

    from nyxus_spark.operators import asof_join
    from nyxus_spark.sources import probes, tokens_versions

    v = tokens_versions(spark, sf_dir).select("doc_id", "ts", "n_tok", "source")
    p = probes(spark, sf_dir)
    out = asof_join(p, v)
    # feature STALENESS (probe time − matched version time, exact µs): the
    # point-in-time freshness metric a feature store monitors per serve
    res = out.select(
        "doc_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.unix_micros(F.col("matched_ts").cast("timestamp")).alias("matched_ts_us"),
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.unix_micros(F.col("matched_ts").cast("timestamp"))
        ).cast("long").alias("staleness_us"),
        "n_tok",
        F.col("source").alias("matched_source"),
    )
    # wave 127 — staleness SLO audit (the freshness numbers a feature
    # store pages on): exact rank-selected p50/p90 over MATCHED serves
    # (lower-median / decile rank rules, (event_id)-tie-broken total
    # order; NULL-staleness unmatched rows excluded — Spark and DuckDB
    # disagree on NULL sort placement, so the SLO is defined over served
    # features only), plus max and the count of serves staler than 1 h.
    from pyspark.sql import Window as _Wsl

    wst = _Wsl.orderBy(F.col("staleness_us").asc(), F.col("event_id").asc())
    stt = (
        res.filter(F.col("matched_ts_us").isNotNull())
        .select("staleness_us", "event_id")
        .withColumn("__rn", F.row_number().over(wst))
        .withColumn("__cnt", F.count("*").over(_Wsl.partitionBy()))
        .agg(
            F.max(F.when(F.col("__rn") == F.expr("(__cnt + 1) div 2"),
                         F.col("staleness_us"))).cast("long")
            .alias("stale_p50"),
            F.max(F.when(
                F.col("__rn") == F.expr("((__cnt - 1) * 9) div 10 + 1"),
                F.col("staleness_us"))).cast("long").alias("stale_p90"),
            F.max("staleness_us").cast("long").alias("stale_max"),
            F.sum((F.col("staleness_us") > 3600000000).cast("long"))
            .cast("long").alias("stale_viol"),
        )
    )
    return res.crossJoin(F.broadcast(stt))


def _q_asof_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING stateful as-of join under the driver gate (§2.7), with
    OUT-OF-ORDER file replay: batch 1 carries only the older half of the
    versions, batch 2 carries the newer versions plus ALL probes — so every
    probe arrives up to a full stream behind the versions it must match
    (many after newer versions of its key), and the correct result is only
    reachable through the bounded per-key version-history GroupState
    (stateful.py HISTORY_DEPTH; the residual contract — ≤ 64 newer versions
    between a probe and its match — holds with wide margin at sf0.01).
    Driven by applyInPandasWithState with Trigger.AvailableNow +
    maxFilesPerTrigger=1; the memory-sink table must equal the same DuckDB
    ASOF LEFT JOIN oracle the batch plans pass."""
    _prep(spark)
    import os
    import tempfile

    from pyspark.sql import functions as F

    from nyxus_spark.sources import probes, tokens_versions
    from nyxus_spark.streaming import asof_join_stream
    from nyxus_spark.streaming.stateful import TAGGED_SCHEMA

    v = tokens_versions(spark, sf_dir).select(
        "doc_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.lit(1).cast("long").alias("is_version"),
        F.col("n_tok").cast("long").alias("n_tok"),
        F.lit(None).cast("long").alias("event_id"),
    )
    p = probes(spark, sf_dir).select(
        "doc_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.lit(0).cast("long").alias("is_version"),
        F.lit(None).cast("long").alias("n_tok"),
        F.col("event_id").cast("long").alias("event_id"),
    )
    split_ts = v.approxQuantile("ts_us", [0.5], 0.0)[0]
    stream_dir = tempfile.mkdtemp(prefix="nyxus_asof_stream_")

    def _dump(df, path):
        pdf = df.toPandas()
        for c in ("ts_us", "is_version", "n_tok", "event_id"):
            pdf[c] = pdf[c].astype("Int64")
        pdf.to_parquet(path)

    f0 = os.path.join(stream_dir, "part-000.parquet")
    f1 = os.path.join(stream_dir, "part-001.parquet")
    # out-of-order replay: older versions alone first; ALL probes (whatever
    # their event time) arrive a batch later, alongside the newer versions
    _dump(v.filter(F.col("ts_us") <= split_ts), f0)
    _dump(v.filter(F.col("ts_us") > split_ts).unionByName(p), f1)
    # the file source orders by modification time — pin the replay order so
    # the per-key ordering contract (time-split files) holds deterministically
    os.utime(f0, (1_000_000, 1_000_000))
    os.utime(f1, (2_000_000, 2_000_000))

    src = (
        spark.readStream.schema(TAGGED_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    q = (
        asof_join_stream(src)
        .writeStream.format("memory")
        .queryName("asof_stream_gate")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.sql(
        "SELECT doc_id, event_id, ts_us, matched_ts_us, n_tok FROM asof_stream_gate"
    )


def _q_stream_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING dedup → windowed aggregation under the driver gate (§2.7):
    the replayed stream carries INJECTED duplicates — every event_id % 5 == 0
    row twice within its own micro-batch, and every event_id % 7 == 0 row of
    batch 1 re-sent in batch 2 (a cross-batch re-crawl) — removed by
    `streaming.dedup_stream` (streaming dropDuplicates: first arrival wins,
    per-key state carried across micro-batches) BEFORE the hourly
    tumbling-window counts + exact-integer cents sums per event_type
    (complete output mode — the stateful aggregate must also carry partials
    across batches). The oracle aggregates the ORIGINAL events table, so any
    surviving duplicate flips the exact integers red. Value sums go through
    FLOOR(value·100) BIGINT cents so both engines sum exact integers (no
    parallel-float-sum jitter)."""
    _prep(spark)
    import os
    import tempfile

    from pyspark.sql import functions as F

    from nyxus_spark.streaming import dedup_stream

    # timestamps travel as epoch-micros longs (CLAUDE.md convention) — the
    # pandas-staged parquet then round-trips without timestamp-unit drift
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "event_type",
        "value",
    )
    split_ts = ev.approxQuantile("event_id", [0.5], 0.0)[0]
    stream_dir = tempfile.mkdtemp(prefix="nyxus_stream_agg_")
    f0 = os.path.join(stream_dir, "part-000.parquet")
    f1 = os.path.join(stream_dir, "part-001.parquet")
    b1 = ev.filter(F.col("event_id") <= split_ts)
    b2 = ev.filter(F.col("event_id") > split_ts)
    b1.unionByName(b1.filter(F.col("event_id") % 5 == 0)).toPandas().to_parquet(f0)
    (
        b2.unionByName(b2.filter(F.col("event_id") % 5 == 0))
        .unionByName(b1.filter(F.col("event_id") % 7 == 0))
        .toPandas()
        .to_parquet(f1)
    )
    os.utime(f0, (1_000_000, 1_000_000))
    os.utime(f1, (2_000_000, 2_000_000))

    src = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    deduped = dedup_stream(src, ["event_id"])
    agg = (
        deduped.groupBy(
            F.window(F.timestamp_micros(F.col("ts_us")), "3600 seconds").alias("w"),
            "event_type",
        )
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("sum_cents"),
        )
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("stream_agg_gate")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    res = spark.sql(
        "SELECT unix_micros(w.start) AS window_start_us, event_type, n_events, "
        "CAST(sum_cents AS BIGINT) AS sum_cents FROM stream_agg_gate"
    ).localCheckpoint()  # break the shared memory-view lineage: the burst
    # stage below self-joins this (window × type)-sized table
    # BURST-ANOMALY flags over the streamed windows (the monitoring pass a
    # pipeline runs on its own telemetry): per event_type, the robust
    # center is the LOWER-MEDIAN of window counts (rank rule, exact int),
    # spread is the lower-median absolute deviation, and a window flags
    # when |n − med| > 3·mad — the comparison CROSS-MULTIPLIED on exact
    # integers, no division anywhere
    from pyspark.sql import Window

    wcnt = Window.partitionBy("event_type")
    wmed = Window.partitionBy("event_type").orderBy(
        F.col("n_events").asc(), F.col("window_start_us").asc())
    base = res.withColumn("__rn", F.row_number().over(wmed)).withColumn(
        "__cnt", F.count("*").over(wcnt))
    med = base.filter(F.col("__rn") == F.expr("(__cnt + 1) div 2")).select(
        "event_type", F.col("n_events").cast("long").alias("win_med"))
    dev = res.join(med, "event_type").withColumn(
        "win_dev", F.abs(F.col("n_events") - F.col("win_med")).cast("long"))
    wdev = Window.partitionBy("event_type").orderBy(
        F.col("win_dev").asc(), F.col("window_start_us").asc())
    mad = dev.withColumn("__rn", F.row_number().over(wdev)).withColumn(
        "__cnt", F.count("*").over(wcnt)
    ).filter(F.col("__rn") == F.expr("(__cnt + 1) div 2")).select(
        "event_type", F.col("win_dev").cast("long").alias("win_mad"))
    # STREAM-STREAM event-time interval join (the remaining §2.7 shape):
    # the probe stream (event_id % 3 == 0) picks up, per event_type, every
    # candidate event (% 3 != 0) of the PRECEDING 30 minutes. Replayed as
    # two TIME-split micro-batches (nothing is ever late, so the watermark
    # drops nothing) — every pair whose members land in different batches
    # must come out of the buffered join STATE. The per-type pair count and
    # the exact id checksum gate the emitted pair set against a plain batch
    # join in the oracle: one lost boundary pair flips both.
    from nyxus_spark.streaming import interval_join_stream

    sj_dir = tempfile.mkdtemp(prefix="nyxus_stream_join_")
    med_ts = ev.approxQuantile("ts_us", [0.5], 0.0)[0]
    g0 = os.path.join(sj_dir, "part-000.parquet")
    g1 = os.path.join(sj_dir, "part-001.parquet")
    ev.filter(F.col("ts_us") <= med_ts).toPandas().to_parquet(g0)
    ev.filter(F.col("ts_us") > med_ts).toPandas().to_parquet(g1)
    os.utime(g0, (1_000_000, 1_000_000))
    os.utime(g1, (2_000_000, 2_000_000))

    def _sj_src():
        return (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(sj_dir)
        )

    lhs = _sj_src().filter(F.col("event_id") % 3 == 0).select(
        "event_id", "event_type", "ts_us")
    rhs = _sj_src().filter(F.col("event_id") % 3 != 0).select(
        "event_id", "event_type", "ts_us")
    pairs = interval_join_stream(lhs, rhs, "event_type", 30 * 60_000_000,
                                 delay="4 hours")
    qj = (
        pairs.writeStream.format("memory").queryName("stream_join_gate")
        .outputMode("append").trigger(availableNow=True).start()
    )
    qj.awaitTermination()
    sj = (
        spark.table("stream_join_gate")
        .groupBy(F.col("key").alias("event_type"))
        .agg(
            F.count("*").cast("long").alias("sj_pairs"),
            F.sum(F.col("l_event_id") * 3 + F.col("r_event_id"))
            .cast("long").alias("sj_checksum"),
        )
    )
    zero = F.lit(0).cast("long")
    out = (
        dev.join(mad, "event_type")
        .withColumn("burst", (F.col("win_dev") > 3 * F.col("win_mad")).cast("long"))
        .join(sj, "event_type", "left")
        .withColumn("sj_pairs", F.coalesce("sj_pairs", zero))
        .withColumn("sj_checksum", F.coalesce("sj_checksum", zero))
    )
    # CUSUM changepoint statistics (Page 1954) per type over window-start
    # order: sustained level shifts vs the gated median grow c⁺/c⁻
    # linearly where the MAD burst flag only sees point spikes. Exact
    # BIGINTs via the closed form c_t = S_t − min(0, min prefix S) — pure
    # window expressions, no fold replay needed; alarm cross-multiplied.
    from nyxus_spark.operators.windows import with_cusum

    out = with_cusum(out, "n_events", "win_med", "event_type",
                     "window_start_us")
    return out.withColumn(
        "cusum_alarm",
        ((F.col("cusum_pos") > 5 * F.col("win_mad"))
         | (F.col("cusum_neg") > 5 * F.col("win_mad"))).cast("long"),
    )


def _q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap sessionization (gap = 1h) over the raw event stream, composed
    with semi-structured parsing: the JSON `props` column is parsed typed
    (ONE from_json pass) and rolled up per session — per-row extracted k,
    the session's exact integer k-sum, and its event count."""
    _prep(spark)
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from nyxus_spark.functions import parse_json_col
    from nyxus_spark.operators import sessionize

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.col("user_id").cast("string").alias("doc_id"), "ts", "event_id",
        "props", "value", "event_type",
    )
    # deterministic SCHEMA DRIFT injection so the audit has real work:
    # every 5th event's producer "adds a field" (x), every 7th "drops" k —
    # the json_schema_audit columns must count both exactly
    ev = ev.withColumn(
        "props",
        F.when(
            F.col("event_id") % 7 == 0, F.lit('{"z": 1}')
        ).when(
            F.col("event_id") % 5 == 0,
            F.concat(
                F.expr("substring(props, 1, length(props) - 1)"),
                F.lit(', "x": '),
                (F.col("event_id") % 9).cast("string"),
                F.lit("}"),
            ),
        ).otherwise(F.col("props")),
    )
    s = parse_json_col(
        sessionize(ev, 3600.0), "props", {"k": "bigint"}, prefix="props_"
    )
    from nyxus_spark.functions import json_schema_audit

    aud = json_schema_audit("props", ("k",))
    s = s.select(
        "*",
        aud["n_keys"].alias("pj_keys"),
        aud["extra"].alias("pj_extra"),
        aud["missing"].alias("pj_missing"),
    )
    w = Window.partitionBy("doc_id", "session_id")
    # session TWAP (time-weighted average value): each event's cents weight
    # is its µs gap to the NEXT event in the session (last event weighs 0),
    # numerator an exact BIGINT, ONE final division by the session span;
    # single-event sessions (span 0) → NULL on both engines
    wlead = Window.partitionBy("doc_id", "session_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc())
    s = s.withColumn(
        "__us", F.unix_micros(F.col("ts").cast("timestamp"))
    ).withColumn(
        "__cents", F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    )
    s = s.withColumn(
        "__dt", F.coalesce(F.lead("__us").over(wlead), F.col("__us")) - F.col("__us")
    )
    twap_num = F.sum(F.col("__cents") * F.col("__dt")).over(w).cast("long")
    twap_den = F.max("__us").over(w) - F.min("__us").over(w)
    out = s.select(
        "doc_id",
        "event_id",
        "session_id",
        "props_k",
        "pj_keys", "pj_extra", "pj_missing",
        F.sum("props_k").over(w).cast("long").alias("session_k_sum"),
        F.count("*").over(w).cast("long").alias("session_n_events"),
        F.when(twap_den > 0, _r4(twap_num / twap_den)).alias("session_twap4"),
        # marketing-attribution columns: FIRST-TOUCH = the session's opening
        # event type; LAST-TOUCH = the most recent non-purchase type at or
        # before this event (the channel a purchase is credited to) — both
        # pure ordered-window carries, NULL until a non-purchase occurs
        F.first("event_type")
        .over(wlead.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("ft_type"),
        F.last(
            F.when(F.col("event_type") != "purchase", F.col("event_type")),
            ignorenulls=True,
        )
        .over(wlead.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("lt_type"),
    )
    # INTERVAL JOIN composition: each session's [min ts, max ts] becomes a
    # validity window, and every event re-joins through the bucketed
    # range-join operator (relations.interval_join, 1 h buckets). Sessions
    # of one key are >1 h apart, so each event lands in exactly its own
    # session — iv_n must equal session_n_events, but via an INDEPENDENT
    # join path the oracle replays as a SQL range join.
    from nyxus_spark.operators.relations import interval_join

    iv = s.groupBy("doc_id", "session_id").agg(
        F.min("ts").alias("start"), F.max("ts").alias("end")
    )
    pts = ev.select("doc_id", "ts")
    matched = interval_join(pts, iv, bucket_seconds=3600.0)
    mt = matched.groupBy("doc_id", "session_id").agg(
        F.count("*").cast("long").alias("iv_n")
    )
    # STREAMING sessionization (§2.7) value-gated on the same rows: the
    # identical events replay as TWO time-split micro-batch files through
    # session_window + watermark (streaming/stream.py), so a session whose
    # events straddle the split only counts right via the cross-batch
    # session-state merge. The complete-mode result joins back per
    # (key, session-start) and the driver hash-gates every streamed count.
    # Boundary note: session_window opens a NEW session at diff == gap
    # while the batch rule (> gap) keeps it — no exact-gap pair exists at
    # any test SF, and this inner join would shrink the row count (loud
    # gate failure) if one appeared.
    import os
    import tempfile

    from nyxus_spark.streaming import sessionize_stream
    from nyxus_spark.streaming.stream import run_availablenow

    evs = ev.select("doc_id", "ts", "event_id").withColumn(
        "ts_us", F.unix_micros(F.col("ts").cast("timestamp"))
    )
    split_us = evs.approxQuantile("ts_us", [0.5], 0.0)[0]
    sdir = tempfile.mkdtemp(prefix="nyxus_sess_stream_")
    f0 = os.path.join(sdir, "part-000.parquet")
    f1 = os.path.join(sdir, "part-001.parquet")
    evf = evs.select("doc_id", "ts_us", "event_id")
    evf.filter(F.col("ts_us") <= split_us).toPandas().to_parquet(f0)
    evf.filter(F.col("ts_us") > split_us).toPandas().to_parquet(f1)
    os.utime(f0, (1_000_000, 1_000_000))
    os.utime(f1, (2_000_000, 2_000_000))
    src = (
        spark.readStream.schema("doc_id STRING, ts_us BIGINT, event_id BIGINT")
        .option("maxFilesPerTrigger", 1)
        .parquet(sdir)
        .withColumn("ts", F.timestamp_micros(F.col("ts_us")))
    )
    run_availablenow(sessionize_stream(src, 3600.0), "sess_stream_gate")
    sm = spark.sql(
        "SELECT doc_id, unix_micros(session_start) AS ss_us,"
        " CAST(n_events AS BIGINT) AS stream_n_events FROM sess_stream_gate"
    )
    bk = iv.select(
        "doc_id", "session_id",
        F.unix_micros(F.col("start").cast("timestamp")).alias("ss_us"),
    )
    smj = bk.join(sm, ["doc_id", "ss_us"]).select(
        "doc_id", "session_id", "stream_n_events"
    )
    # CO-ACTIVITY degree via the interval×interval OVERLAP join
    # (relations.interval_overlap_join, bucketed broad phase, each pair
    # emitted once): how many OTHER users' sessions intersect this
    # session's validity window — the two-sided range-join primitive the
    # point-into-window iv_n path does not cover
    from nyxus_spark.operators.relations import interval_overlap_join

    ov = interval_overlap_join(iv, iv, bucket_seconds=3600.0)
    co = (
        ov.filter(F.col("doc_id") != F.col("doc_id_r"))
        .groupBy("doc_id", "session_id")
        .agg(F.count("*").cast("long").alias("co_n"))
    )
    # USER COHORT RETENTION (the product-analytics rollup): cohort = the
    # user's first-activity day; each event row carries its user's cohort
    # day, the cohort's size, and the distinct cohort members active at
    # THIS event's own day offset — exact integers the oracle re-derives
    # from scratch (hash aggs only, no windows).
    from nyxus_spark.operators.windows import cohort_retention

    first, cells = cohort_retention(ev, "doc_id", "ts")
    evd = s.select(
        "event_id", F.col("doc_id").alias("u"),
        F.floor(
            F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(86_400_000_000)
        ).cast("long").alias("__d"),
    )
    coh = (
        evd.join(first, "u")
        .withColumn("offset_d", (F.col("__d") - F.col("cohort_d")).cast("long"))
        .join(cells, ["cohort_d", "offset_d"])
        .select("event_id", "cohort_d", "offset_d", "cohort_users", "cell_users")
    )
    # wave 101 — COCHRAN–ARMITAGE retention-trend statistic per cohort
    # (the ordered-group trend test on the retention curve): over dense
    # offsets 0..max, scores s=o, successes d_o = cell_users, totals
    # n_o = cohort_users; T_num = N·Σ(o·d_o) − R·(cu·Σo) with the dense
    # terms in CLOSED FORM (absent cells contribute 0 to the data sums;
    # Σo = mo(mo+1)/2, N = cu·(mo+1)) — one exact int64 per cohort, the
    # sign = is retention front-loaded (negative) or flat. One hash agg.
    cag = cells.groupBy("cohort_d").agg(
        F.max("offset_d").cast("long").alias("__mo"),
        F.max("cohort_users").cast("long").alias("__cu"),
        F.sum("cell_users").cast("long").alias("__R"),
        F.sum(F.col("offset_d") * F.col("cell_users")).cast("long")
        .alias("__sd"),
    )
    ca = cag.select(
        "cohort_d",
        (
            (F.col("__cu") * (F.col("__mo") + 1)) * F.col("__sd")
            - F.col("__R")
            * (F.col("__cu") * F.expr("(__mo * (__mo + 1)) div 2"))
        ).cast("long").alias("ca_num"),
    ).withColumn(
        "ca_sign",
        F.when(F.col("ca_num") > 0, 1)
        .when(F.col("ca_num") < 0, -1)
        .otherwise(0).cast("int"),
    )
    # wave 76 — robust per-user activity TREND over daily counts:
    # Mann–Kendall S (exact int64 pairwise sign sum) + Theil–Sen slope as
    # the LOWER-median element pick of the pairwise slopes (one IEEE
    # division, identical both engines); pair count bounded by corpus span
    # in days squared — constant w.r.t. data volume.
    from nyxus_spark.operators.windows import trend_stats

    tr = trend_stats(ev, key_col="doc_id", ts_col="ts")
    resS = (
        out.join(mt, ["doc_id", "session_id"])
        .join(smj, ["doc_id", "session_id"])
        .join(co, ["doc_id", "session_id"], "left")
        .join(coh, "event_id")
        .join(ca, "cohort_d")
        .join(tr, "doc_id", "left")
        .withColumn("co_n", F.coalesce("co_n", F.lit(0).cast("long")))
        .withColumn("mk_s", F.coalesce("mk_s", F.lit(0).cast("long")))
        .withColumn("mk_pairs", F.coalesce("mk_pairs", F.lit(0).cast("long")))
        .withColumn("mk_sign", F.coalesce("mk_sign", F.lit(0).cast("int")))
        .withColumn(
            "stream_match",
            (F.col("stream_n_events") == F.col("session_n_events")).cast("long"),
        )
    )
    # wave 128 — per-user BOUNCE RATE (the engagement-quality metric):
    # sessions with exactly one event are bounces; per user the session
    # count, bounce count, and rate (exact ints + ONE division) ride on
    # every event row — one distinct per-session dim + a tiny per-user agg.
    bnc = (
        resS.select("doc_id", "session_id", "session_n_events").distinct()
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("user_sessions"),
            F.sum((F.col("session_n_events") == 1).cast("long"))
            .cast("long").alias("user_bounces"),
        )
        .withColumn(
            "bounce_rate4",
            _r4(F.col("user_bounces").cast("double")
                / F.col("user_sessions").cast("double")),
        )
    )
    return resS.join(bnc, "doc_id")


def _q_lag_lead_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead/LOCF window features over the event stream, composed with
    ROLLING frames (operators/windows.with_rolling): last-3-rows and
    last-2-hours sum/count/min/max of exact purchase cents — the
    point-in-time rolling features every event model trains on. Row frames
    are tie-broken on event_id; the range frame works on epoch-µs. All
    frame aggregates are exact BIGINTs, so the DuckDB window-frame replay
    hash-matches."""
    _prep(spark)
    from pyspark.sql import functions as F

    from nyxus_spark.operators import (
        scd2_intervals,
        with_lags,
        with_locf,
        with_nocb,
        with_rolling,
        with_time_interp,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.col("user_id").cast("string").alias("doc_id"),
        "ts",
        "event_id",
        F.when(F.col("event_type") == "purchase", F.col("value")).alias("purchase_value"),
        F.when(
            F.col("event_type") == "purchase",
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"),
        ).alias("cents"),
    )
    out = with_locf(with_lags(ev, ["purchase_value"], [1]), ["purchase_value"])
    # the other two members of the backfill family: NOCB (time-reversed
    # LOCF) and event-time-weighted LINEAR INTERPOLATION (fixed IEEE chain
    # v0 + (v1−v0)·(Δ/D), oracle-replayed op-for-op)
    out = with_nocb(out, ["purchase_value"])
    out = with_time_interp(out, "purchase_value")
    out = with_rolling(out, "cents", n_rows=3, range_us=7_200_000_000,
                       tiebreak="event_id")
    # robust rolling baseline: exact lower-median over the last 5 rows
    # (collect_list + array_sort + element_at, whole-stage JVM)
    from nyxus_spark.operators import with_decayed_counter, with_rolling_median

    out = with_rolling_median(out, "cents", n_rows=5, tiebreak="event_id")
    # TIME-DECAYED counters (the feature-store decayed-CTR primitive) at two
    # half-lives: dyadic 2^(−age-bucket) weights over the trailing-32 frame,
    # so the 2^20-scaled numerator is an exact BIGINT and the feature is ONE
    # IEEE division by a power of two — engine-bit-identical
    out = with_decayed_counter(out, "cents", half_life_us=1_800_000_000,
                               tiebreak="event_id")
    out = with_decayed_counter(out, "cents", half_life_us=14_400_000_000,
                               tiebreak="event_id")
    # TEMPORAL GROUP SPLIT (the leakage-free backtest split, the north
    # rule's zero-temporal-leakage discipline as an operator): T = exact
    # lower-median event time; unseen-after-T users are TEST, pre-T rows of
    # known users are TRAIN, their post-T tail is DROPPED
    from nyxus_spark.operators.windows import temporal_group_split

    out = temporal_group_split(out, "doc_id", "ts")
    # SCD2 validity intervals (Kimball type-2 history table): every event
    # version carries [valid_from_us, valid_to_us) with the open version
    # flagged — the materialized counterpart of the as-of window join
    out = scd2_intervals(out, "doc_id", "ts", "event_id")
    # ORDERED FUNNEL (view → click → purchase conversion): per user, each
    # step's earliest completion STRICTLY AFTER the previous step — k
    # conditional-min hash aggs, exact epoch-µs; the per-user stage and
    # step times ride every event row and the oracle re-derives the whole
    # chain with nested conditional subqueries.
    from nyxus_spark.operators.windows import funnel_stages

    fun = funnel_stages(
        spark.read.parquet(f"{sf_dir}/events.parquet").select(
            F.col("user_id").cast("string").alias("doc_id"),
            "ts", "event_type",
        ),
        ["view", "click", "purchase"],
    )
    out = out.join(fun, "doc_id", "left")
    for k in range(3):
        out = out.withColumn(
            f"f_ts_{k}", F.coalesce(f"f_ts_{k}", F.lit(-1).cast("long")))
    out = out.withColumn(
        "funnel_stage", F.coalesce("funnel_stage", F.lit(0).cast("long")))
    return out.select(
        "doc_id",
        "event_id",
        _r4("lag_purchase_value_1").alias("lag_v1"),
        _r4("lead_purchase_value_1").alias("lead_v1"),
        _r4("purchase_value_locf").alias("locf_v"),
        _r4("purchase_value_nocb").alias("nocb_v"),
        _r4("purchase_value_interp").alias("interp_v"),
        F.col("roll3_sum_cents").alias("r3_sum"),
        F.col("roll3_count_cents").alias("r3_n"),
        F.col("roll3_min_cents").alias("r3_min"),
        F.col("roll3_max_cents").alias("r3_max"),
        F.col("rollr7200000000us_sum_cents").alias("r2h_sum"),
        F.col("rollr7200000000us_count_cents").alias("r2h_n"),
        F.col("roll5_med_cents").alias("r5_med"),
        F.col("roll5_mad_cents").alias("r5_mad"),
        F.col("dk30m_num_cents").alias("dk30_num"),
        F.col("dk30m_n_cents").alias("dk30_n"),
        _r4("dk30m_cents").alias("dk30"),
        F.col("dk240m_num_cents").alias("dk240_num"),
        _r4("dk240m_cents").alias("dk240"),
        "split_T_us", "key_first_us", "tsplit",
        "scd_from_us", "scd_to_us", "scd_current",
        "f_ts_0", "f_ts_1", "f_ts_2", "funnel_stage",
    )


def _q_firstorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine feature kernel (mapInPandas, segment-vectorized) on the static
    corpus; SQL-expressible subset checked against a from-scratch DuckDB
    reimplementation of the same nyxus semantics."""
    _prep(spark)
    from pyspark.sql import functions as F

    from nyxus_spark.features import extract_features
    from nyxus_spark.sources import tokens_static

    t = tokens_static(spark, sf_dir)
    feats = extract_features(
        t,
        ["COUNT", "MIN", "MAX", "RANGE", "MEAN", "MEDIAN", "MODE", "ENERGY",
         "ENTROPY", "UNIFORMITY", "INTEGRATED_INTENSITY",
         "ROOT_MEAN_SQUARED",
         # deviation/moment block: the kernel's seg_sum is np.bincount — a
         # sequential per-doc fold in token order — so MAD/MedAD/the d²/d⁴
         # sums replay in SQL as list_reduce over the position-ordered token
         # array; STD/SE/COV/KURTOSIS are IEEE chains (sqrt + divisions) of
         # those folds. SKEW/HYPER* denominators are explicit sqrt+multiply
         # chains in the kernel (x·sqrt(x), (s²·s²)·s — never libm pow), so
         # they replay op-for-op too: the whole 36-code family is gated.
         "MEAN_ABSOLUTE_DEVIATION", "MEDIAN_ABSOLUTE_DEVIATION",
         "STANDARD_DEVIATION", "STANDARD_DEVIATION_BIASED",
         "VARIANCE_BIASED", "STANDARD_ERROR", "COV",
         "SKEWNESS", "KURTOSIS", "EXCESS_KURTOSIS",
         "HYPERSKEWNESS", "HYPERFLATNESS", "UNIFORMITY_PIU"],
        keep_tokens=False,
        # annotation passthrough (output_2_csv.cpp:62-80): `source` rides
        # through the kernel pass as the string column anno0
        annotations=["source"],
    )
    # variance from exact-integer aggregates (COUNT·ENERGY − SUM²)/(n(n−1)):
    # a single final division is bit-identical across engines, whereas two-pass
    # float variance differs in the last ulp and can flip the rounding
    n = F.col("COUNT")
    var_exact = (n * F.col("ENERGY") - F.col("INTEGRATED_INTENSITY") ** 2) / (n * (n - 1))
    out = feats.filter(F.col("RANGE") > 0).select(
        "doc_id",
        "anno0",
        F.col("MIN").cast("long").alias("tok_min"),
        F.col("MAX").cast("long").alias("tok_max"),
        _r4("MEAN").alias("mean_tok"),
        _r4("MEDIAN").alias("median_tok"),
        F.col("MODE").cast("long").alias("mode_tok"),
        _r4(var_exact).alias("var_tok"),
        F.col("ENERGY").cast("long").alias("energy_tok"),
        _r4("ENTROPY").alias("entropy_tok"),
        _r4("UNIFORMITY").alias("uniformity_tok"),
        F.col("INTEGRATED_INTENSITY").cast("long").alias("sum_tok"),
        # sqrt is correctly rounded in IEEE-754, so sqrt(e/n) of the exact
        # integer ratio is engine-deterministic like the single divisions
        _r4("ROOT_MEAN_SQUARED").alias("rms_tok"),
        _r4("MEAN_ABSOLUTE_DEVIATION").alias("mad_tok"),
        _r4("MEDIAN_ABSOLUTE_DEVIATION").alias("medad_tok"),
        _r4("STANDARD_DEVIATION").alias("std_tok"),
        _r4("STANDARD_DEVIATION_BIASED").alias("stdb_tok"),
        _r4("VARIANCE_BIASED").alias("varb_tok"),
        _r4("STANDARD_ERROR").alias("se_tok"),
        _r4("COV").alias("cov_tok"),
        _r4("SKEWNESS").alias("skew_tok"),
        _r4("KURTOSIS").alias("kurt_tok"),
        _r4("EXCESS_KURTOSIS").alias("exkurt_tok"),
        _r4("HYPERSKEWNESS").alias("hskew_tok"),
        _r4("HYPERFLATNESS").alias("hflat_tok"),
        _r4("UNIFORMITY_PIU").alias("piu_tok"),
    )
    return out


def _aug_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus with injected duplicates (Spark twin of oracles.SQL_AUG)."""
    from pyspark.sql import functions as F

    from nyxus_spark.sources import tokens_static

    t = tokens_static(spark, sf_dir)
    exact_c = t.filter(F.expr("cast(substr(doc_id, 5) as int) % 25 = 0")).withColumn(
        "doc_id", F.concat(F.lit("dup_"), F.col("doc_id"))
    )
    near_c = t.filter(F.expr("cast(substr(doc_id, 5) as int) % 10 = 0")).select(
        F.concat(F.lit("near_"), F.col("doc_id")).alias("doc_id"),
        F.expr("slice(tokens, 2, size(tokens) - 1)").alias("tokens"),
        (F.col("n_tok") - 1).alias("n_tok"),
        "source",
    )
    return t.unionByName(exact_c).unionByName(near_c)


def _q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: keep the lowest doc_id per identical token sequence."""
    _prep(spark)
    from pyspark.sql import functions as F

    from nyxus_spark.operators.dedup import exact_dedup

    aug = _aug_corpus(spark, sf_dir).withColumn(
        "key", F.concat_ws(",", F.transform("tokens", lambda x: x.cast("string")))
    )
    # INCREMENTAL dedup composed in: split the corpus by the id's last
    # digit (old = even, new = odd — re-derivable in SQL), dedup the new
    # batch against the old batch's key index only, and flag every
    # corpus-wide survivor with the incremental outcome: 1 = survived the
    # incremental path, 0 = new-batch row the incremental path dropped,
    # −1 = old batch (not part of the increment). The oracle recomputes
    # the split, the anti-join, and the intra-batch first occurrence.
    from nyxus_spark.operators.dedup import dedup_incremental

    is_new = F.expr("CAST(substring(doc_id, length(doc_id), 1) AS INT) % 2")
    inc = (
        dedup_incremental(
            aug.filter(is_new == 1), aug.filter(is_new == 0).select("key"),
            ["key"],
        )
        .select("doc_id")
        .withColumn("__inc", F.lit(1))
    )
    # STREAMING exact dedup, driver-gated: replay the corpus as two
    # micro-batches (batch 0 = even last digit — the same split the
    # incremental gate uses, so the oracle re-derives it), dedup through
    # the engine's cross-batch key state (dropDuplicates), and gate per
    # key that the stream emitted EXACTLY ONE survivor and that it came
    # from the EARLIEST batch containing the key — one duplicate leaking
    # through a later batch flips stream_cnt, one first-arrival lost
    # flips stream_batch.
    import os
    import tempfile

    from nyxus_spark.streaming.dedup import DEDUP_IN_SCHEMA, dedup_stream

    sd = aug.select("key", "doc_id", is_new.cast("long").alias("batch"))
    sdir = tempfile.mkdtemp(prefix="nyxus_dedup_stream_")
    for bi in (0, 1):
        fp = os.path.join(sdir, f"part-{bi:03d}.parquet")
        sd.filter(F.col("batch") == bi).toPandas().to_parquet(fp)
        os.utime(fp, (1_000_000 * (bi + 1), 1_000_000 * (bi + 1)))
    src = (
        spark.readStream.schema(DEDUP_IN_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(sdir)
    )
    q = (
        dedup_stream(src)
        .writeStream.format("memory")
        .queryName("dedup_stream_gate")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    sflags = (
        spark.table("dedup_stream_gate")
        .groupBy("key")
        .agg(
            F.min("batch").cast("long").alias("stream_batch"),
            F.count("*").cast("long").alias("stream_cnt"),
        )
    )
    # SORTED-NEIGHBORHOOD diagnostic (Hernández–Stolfo SNM, the
    # order-blocking complement to the hash blockings): each survivor
    # carries its predecessor in the corpus-wide lexicographic token sort,
    # the exact LCP, and the prefix/duplicate flag — computed over the
    # FULL aug corpus so injected dup_/near_ rows shape the neighborhoods
    from nyxus_spark.operators.dedup import sorted_neighborhood

    snm = sorted_neighborhood(aug)
    return (
        exact_dedup(aug, ["key"])
        .select("doc_id", "source", "key", is_new.alias("__n"))
        .join(inc, "doc_id", "left")
        .join(sflags, "key")
        .join(snm, "doc_id")
        .select(
            "doc_id", "source",
            F.when(F.col("__n") == 0, F.lit(-1))
            .otherwise(F.coalesce("__inc", F.lit(0)))
            .cast("long").alias("inc_kept"),
            "stream_batch", "stream_cnt",
            "snm_prev", "snm_lcp", "snm_pfx",
        )
    )


def _q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidate pairs verified by exact Jaccard,
    each pair also carrying the SKETCH's own Jaccard estimate (fraction of
    agreeing signature slots, Broder 1997) — gating both the exact verifier
    and the estimator the sketch would use where verification is
    unaffordable."""
    _prep(spark)
    from pyspark.sql import functions as F

    from nyxus_spark.operators.dedup import (
        lsh_recall_audit,
        minhash_estimate,
        minhash_lsh_pairs,
    )

    aug = _aug_corpus(spark, sf_dir)
    pairs = minhash_lsh_pairs(aug, jaccard_threshold=0.5)
    est = minhash_estimate(aug, pairs)
    # blocking-RECALL audit on a deterministic id-sample: brute-force truth
    # on the sample, measure the fraction LSH surfaced — one broadcast row
    audit = lsh_recall_audit(
        aug, pairs,
        F.expr("CAST(regexp_extract(doc_id, '([0-9]+)$', 1) AS BIGINT) % 7 = 0"),
    )
    # STREAMING near-dup parity, driven through the driver gate: the same
    # banded rows replay as two micro-batches through the cross-batch
    # band-bucket GroupState (streaming/neardup.py); every batch candidate
    # pair must be re-discovered by the stream — stream_seen is 1 on every
    # gated row and the oracle emits literal 1, so one missed pair is a
    # value mismatch.
    import os
    import tempfile

    from nyxus_spark.operators.dedup import lsh_band_rows
    from nyxus_spark.streaming.neardup import NEARDUP_IN_SCHEMA, neardup_stream

    banded = lsh_band_rows(aug).select(
        F.col("band_idx").cast("int").alias("band_idx"),
        F.col("band_key").cast("long").alias("band_key"),
        "doc_id",
        F.xxhash64("doc_id").alias("oid"),
    )
    sdir = tempfile.mkdtemp(prefix="nyxus_neardup_stream_")
    f0 = os.path.join(sdir, "part-000.parquet")
    f1 = os.path.join(sdir, "part-001.parquet")
    banded.filter(F.pmod(F.col("oid"), F.lit(2)) == 0).toPandas().to_parquet(f0)
    banded.filter(F.pmod(F.col("oid"), F.lit(2)) == 1).toPandas().to_parquet(f1)
    os.utime(f0, (1_000_000, 1_000_000))
    os.utime(f1, (2_000_000, 2_000_000))
    src = (
        spark.readStream.schema(NEARDUP_IN_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(sdir)
    )
    q = (
        neardup_stream(src)
        .writeStream.format("memory")
        .queryName("neardup_stream_gate")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    spairs = (
        spark.sql(
            "SELECT LEAST(id_a, id_b) AS id_a, GREATEST(id_a, id_b) AS id_b "
            "FROM neardup_stream_gate"
        )
        .distinct()
        .withColumn("stream_seen", F.lit(1).cast("long"))
    )
    zero = F.lit(0).cast("long")
    # LSH S-CURVE calculator, made a checked artifact: under (b=4, r=4)
    # banding, a pair with sketch similarity s collides with probability
    # p = 1 − (1 − s⁴)⁴ — the design curve every LSH deployment is tuned
    # on. s = sig_match/16 is ONE division of exact integers and the
    # quartic powers are explicit multiply chains (never pow()), so the
    # oracle replays the value bit-for-bit.
    s = F.col("sig_match").cast("double") / F.lit(16.0)
    s4 = (s * s) * (s * s)
    tt = F.lit(1.0) - s4
    t4 = (tt * tt) * (tt * tt)
    out = (
        pairs.join(est, ["id_a", "id_b"]).crossJoin(F.broadcast(audit))
        .join(spairs, ["id_a", "id_b"], "left")
        .withColumn("stream_seen", F.coalesce("stream_seen", zero))
        .withColumn("scurve4", _r4(F.lit(1.0) - t4))
    )
    # wave 115 — cross-SOURCE near-dup matrix (the domain-contamination
    # heatmap: where template families cross domain boundaries): each
    # verified pair carries both members' sources normalized sa ≤ sb plus
    # the corpus-wide pair count of that source cell — two broadcast-dim
    # joins + one tiny cell agg broadcast back, never the corpus.
    sa_ = aug.select(F.col("doc_id").alias("id_a"),
                     F.col("source").alias("__sa"))
    sb_ = aug.select(F.col("doc_id").alias("id_b"),
                     F.col("source").alias("__sb"))
    out = (
        out.join(F.broadcast(sa_), "id_a").join(F.broadcast(sb_), "id_b")
        .withColumn("src_a", F.least("__sa", "__sb"))
        .withColumn("src_b", F.greatest("__sa", "__sb"))
        .drop("__sa", "__sb")
    )
    cell = out.groupBy("src_a", "src_b").agg(
        F.count("*").cast("long").alias("src_pairs"))
    return out.join(F.broadcast(cell), ["src_a", "src_b"])


def _q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (hamming ≤ 3, band-OR blocking over 4×8-bit
    bands — pigeonhole-guaranteed recall at r < 4)."""
    _prep(spark)
    from nyxus_spark.operators.dedup import simhash_pairs

    return simhash_pairs(_aug_corpus(spark, sf_dir), max_hamming=3)


def _q_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data cleaning pipeline: exact dedup → MinHash-LSH
    near-dup removal (drop the higher id of each pair ≥ 0.5 Jaccard) →
    SEGMENT-level exact dedup of the survivors (the CCNet/Gopher line-dedup
    pass: split on the corpus's top token, first occurrence of each distinct
    segment wins corpus-wide) — the dedup operators COMPOSED, as a real
    corpus pipeline would run them. Per-doc columns gate every segment keep
    decision (counts + exact kept-token sums)."""
    _prep(spark)
    from pyspark.sql import functions as F

    from nyxus_spark.operators.dedup import (
        exact_dedup,
        minhash_lsh_pairs,
        reassemble_segments,
        segment_dedup,
    )

    aug = _aug_corpus(spark, sf_dir).withColumn(
        "key", F.concat_ws(",", F.transform("tokens", lambda x: x.cast("string")))
    )
    survivors = exact_dedup(aug, ["key"]).drop("key")
    near = minhash_lsh_pairs(survivors, jaccard_threshold=0.5)
    drop_ids = near.select(F.col("id_b").alias("doc_id")).distinct()
    cleaned = survivors.join(drop_ids, "doc_id", "left_anti")
    segd = segment_dedup(cleaned, delim=104, keep_tokens=True)
    # BOILERPLATE pass (distinct from first-wins dedup): segments whose
    # content appears in >= 2 DISTINCT docs are flagged in every doc,
    # including the first occurrence that seg_kept retains
    from nyxus_spark.operators.dedup import boilerplate_segments

    segd = boilerplate_segments(segd, min_docs=2)
    per_doc = segd.groupBy("doc_id").agg(
        F.sum("seg_kept").cast("long").alias("segs_kept"),
        (F.count("*") - F.sum("seg_kept")).cast("long").alias("segs_removed"),
        F.sum(F.when(F.col("seg_kept") == 1, F.col("seg_len")).otherwise(0))
        .cast("long").alias("clean_n_tok"),
        F.sum(F.when(F.col("seg_kept") == 1, F.col("seg_sum")).otherwise(0))
        .cast("long").alias("clean_tok_sum"),
        F.sum("bp_flag").cast("long").alias("bp_segs"),
        F.sum(F.when(F.col("bp_flag") == 1, F.col("seg_len")).otherwise(0))
        .cast("long").alias("bp_tok"),
    )
    # REASSEMBLY: rebuild each cleaned doc from its kept segments (in
    # seg_id order, delimiters gone) and gate the order-sensitive digest
    # Σ token·(position+1) mod 1000003 — one wrong token, order flip, or
    # segment mis-assignment flips it. Docs whose every segment was a
    # duplicate drop out of the rebuilt table → digest −1.
    rebuilt = reassemble_segments(segd).select(
        "doc_id",
        F.expr(
            "CASE WHEN n_tok = 0 THEN 0L ELSE "
            "aggregate(zip_with(tokens, sequence(1, n_tok),"
            " (t, i) -> cast(t as bigint) * i), 0L, (a, x) -> a + x)"
            " % 1000003 END"
        ).alias("clean_digest"),
    )
    # PREFIX-CONTAINMENT (the truncation-duplicate class Jaccard misses):
    # pairs over the FULL aug corpus. Exact dups orient higher-id-contained
    # (dup_X contained by X), so every original whose dup_ copy was
    # injected carries pfx_contains ≥ 1 on its surviving row; a genuinely
    # truncated prefix would survive exact dedup and carry pfx_contained=1.
    from nyxus_spark.operators.dedup import (
        prefix_containment,
        prefix_containment_agg,
    )

    pfx_pairs = prefix_containment(aug, k=8)
    cont = prefix_containment_agg(pfx_pairs)
    contr = pfx_pairs.groupBy(F.col("id_b").alias("doc_id")).agg(
        F.count("*").cast("long").alias("pfx_contains"),
        F.sum("n_tok_a").cast("long").alias("pfx_contained_mass"),
    )
    # SUFFIX containment (header-prepended re-crawls): the injected
    # near_ docs ARE suffix truncations (original minus its first token),
    # so every surviving original with an injected near_ copy carries
    # sfx_contains >= 1 — the class the prefix pass cannot see.
    from nyxus_spark.operators.dedup import suffix_containment

    sfx_pairs = suffix_containment(aug, k=8)
    scont = prefix_containment_agg(sfx_pairs).select(
        "doc_id",
        F.col("pfx_container").alias("sfx_container"),
        F.col("pfx_n_containers").alias("sfx_n_containers"),
    )
    scontr = sfx_pairs.groupBy(F.col("id_b").alias("doc_id")).agg(
        F.count("*").cast("long").alias("sfx_contains"),
        F.sum("n_tok_a").cast("long").alias("sfx_contained_mass"),
    )
    # EXACT set-similarity join (AllPairs/PPJoin prefix filtering) over the
    # exact-dedup SURVIVORS (the same base the LSH pass blocks on): every
    # shingle-set Jaccard >= 0.6 pair with ZERO false negatives — the
    # deterministic peer of the LSH pass above; gated through per-doc
    # aggregates so the complete pair set is value-checked.
    from nyxus_spark.operators.dedup import prefix_filter_pairs

    ppj = prefix_filter_pairs(survivors, 3, 5)
    ppj_sym = ppj.select(
        F.col("id_a").alias("doc_id"), "ppj_inter", "ppj_union"
    ).unionByName(
        ppj.select(F.col("id_b").alias("doc_id"), "ppj_inter", "ppj_union")
    )
    ppjd = ppj_sym.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("ppj_partners"),
        F.sum("ppj_inter").cast("long").alias("ppj_inter_sum"),
        F.sum("ppj_union").cast("long").alias("ppj_union_sum"),
    )
    # DROP-PROVENANCE attribution: per survivor, how many docs it caused
    # to drop — exact-dup victims (its key group's size − 1; exact dedup
    # keeps the lowest id) and near-dup victims (pairs where it is id_a) —
    # the audit trail a corpus-clean owner answers "where did my docs go?"
    # with, all exact integers
    exv = aug.groupBy("key").agg(
        F.min("doc_id").alias("doc_id"),
        (F.count("*") - 1).cast("long").alias("exact_victims"),
    ).select("doc_id", "exact_victims")
    nrv = near.groupBy(F.col("id_a").alias("doc_id")).agg(
        F.count("*").cast("long").alias("near_victims"))
    zero = F.lit(0).cast("long")
    resc = (
        cleaned.join(per_doc, "doc_id", "left")
        .join(exv, "doc_id", "left")
        .join(nrv, "doc_id", "left")
        .join(rebuilt, "doc_id", "left")
        .join(cont, "doc_id", "left")
        .join(contr, "doc_id", "left")
        .join(scont, "doc_id", "left")
        .join(scontr, "doc_id", "left")
        .join(ppjd, "doc_id", "left")
        .select(
            "doc_id", "source",
            F.coalesce("segs_kept", zero).alias("segs_kept"),
            F.coalesce("segs_removed", zero).alias("segs_removed"),
            F.coalesce("clean_n_tok", zero).alias("clean_n_tok"),
            F.coalesce("clean_tok_sum", zero).alias("clean_tok_sum"),
            F.coalesce("clean_digest", F.lit(-1).cast("long")).alias("clean_digest"),
            F.coalesce("bp_segs", zero).alias("bp_segs"),
            F.coalesce("bp_tok", zero).alias("bp_tok"),
            F.when(F.col("pfx_container").isNull(), zero)
            .otherwise(F.lit(1).cast("long")).alias("pfx_contained"),
            F.coalesce("pfx_container", F.lit("")).alias("pfx_container"),
            F.coalesce("pfx_n_containers", zero).alias("pfx_n_containers"),
            F.coalesce("pfx_contains", zero).alias("pfx_contains"),
            F.coalesce("pfx_contained_mass", zero).alias("pfx_contained_mass"),
            F.when(F.col("sfx_container").isNull(), zero)
            .otherwise(F.lit(1).cast("long")).alias("sfx_contained"),
            F.coalesce("sfx_container", F.lit("")).alias("sfx_container"),
            F.coalesce("sfx_n_containers", zero).alias("sfx_n_containers"),
            F.coalesce("sfx_contains", zero).alias("sfx_contains"),
            F.coalesce("sfx_contained_mass", zero).alias("sfx_contained_mass"),
            F.coalesce("ppj_partners", zero).alias("ppj_partners"),
            F.coalesce("ppj_inter_sum", zero).alias("ppj_inter_sum"),
            F.coalesce("ppj_union_sum", zero).alias("ppj_union_sum"),
            F.coalesce("exact_victims", zero).alias("exact_victims"),
            F.coalesce("near_victims", zero).alias("near_victims"),
        )
    )
    # wave 124 — dedup MIXTURE-SHIFT audit ("dedup changes your mixture"):
    # per-source token mass BEFORE the pipeline (the aug corpus) vs AFTER
    # (clean_n_tok survivors) and the share drift as the cross-multiplied
    # exact integer |clean_s·T_orig − orig_s·T_clean| (zero iff the
    # source's share is unchanged) — duplicates concentrate in specific
    # sources, so cleaning silently reweights the mixture; this makes the
    # reweighting a checked artifact. Two tiny per-source aggs + one
    # broadcast join; shares land as ONE division each.
    omass = aug.groupBy("source").agg(
        F.sum("n_tok").cast("long").alias("src_orig_mass"))
    cmass = resc.groupBy("source").agg(
        F.sum("clean_n_tok").cast("long").alias("src_clean_mass"))
    tots = (
        omass.agg(F.sum("src_orig_mass").cast("long").alias("__to"))
        .crossJoin(cmass.agg(
            F.sum("src_clean_mass").cast("long").alias("__tc")))
    )
    mix = (
        omass.join(cmass, "source")
        .crossJoin(F.broadcast(tots))
        .select(
            "source", "src_orig_mass", "src_clean_mass",
            F.abs(F.col("src_clean_mass") * F.col("__to")
                  - F.col("src_orig_mass") * F.col("__tc")).cast("long")
            .alias("src_mix_drift"),
            _r4(F.col("src_orig_mass").cast("double")
                / F.col("__to").cast("double")).alias("src_orig_share4"),
            _r4(F.col("src_clean_mass").cast("double")
                / F.col("__tc").cast("double")).alias("src_clean_share4"),
        )
    )
    return resc.join(F.broadcast(mix), "source")


def _q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERING: LSH pairs → connected components (iterative
    min-label propagation, operators/dedup.py connected_components) — each
    clustered doc labeled with its canonical representative (smallest id in
    the component) and the component size. The oracle computes the same
    components with a DuckDB recursive CTE, so the distributed iterative
    algorithm is checked against a from-scratch declarative fixpoint."""
    _prep(spark)
    from pyspark.sql import functions as F

    from nyxus_spark.operators.dedup import connected_components, minhash_lsh_pairs

    aug = _aug_corpus(spark, sf_dir)
    pairs = minhash_lsh_pairs(aug, jaccard_threshold=0.5)
    comps = connected_components(pairs)
    sizes = comps.groupBy("rep").agg(F.count("*").cast("long").alias("cluster_size"))
    # QUALITY-AWARE representative: production near-dup removal keeps the
    # best document of each cluster, not the lowest id — here quality =
    # n_tok (keep-the-longest policy), ties -> lowest doc_id. Max-struct
    # aggregation (partial-combine, no window); doc_id order is inverted
    # through a reversed-string trick-free struct: strings can't negate, so
    # rank by (n_tok DESC) then min doc_id among the max-n_tok members.
    sized = comps.join(aug.select("doc_id", "n_tok"), "doc_id")
    mx = sized.groupBy("rep").agg(F.max("n_tok").alias("best_n_tok"))
    best = (
        sized.join(mx, "rep")
        .filter(F.col("n_tok") == F.col("best_n_tok"))
        .groupBy("rep")
        .agg(F.min("doc_id").alias("best_doc"),
             F.max("n_tok").cast("long").alias("best_n_tok"))
    )
    # GRAPH analytics over the near-dup graph (the spam-farm/template-chain
    # monitor): exact degree, wedge-close triangle counts, and the local
    # clustering coefficient — dense cliques (true dup farms) score
    # clust4→1, chain-shaped template families score →0.
    from nyxus_spark.operators.dedup import graph_node_stats

    gns = graph_node_stats(pairs)
    # PAGERANK over the same near-dup graph (template-HUB authority): 4
    # fixed iterations, source-id-ordered message folds the oracle replays
    # term-for-term — the hub of a dup farm outranks its leaves, a chain
    # stays flat
    from nyxus_spark.operators.dedup import pagerank

    pr = pagerank(pairs, iters=4)
    # wave 77 — K-CORE density stratification (bounded 4-round peel,
    # operators/dedup.py kcore_peel): core2/core3 survivor flags + degree
    # inside the 2-core subgraph; the oracle replays the identical
    # unrolled recursion (oracles.sql_kcore), so the gate is exact whether
    # or not the peel reached fixpoint.
    from nyxus_spark.operators.dedup import kcore_peel

    kc = kcore_peel(pairs, ks=(2, 3), rounds=4)
    # wave 93 — cluster TRANSITIVITY / DENSITY audit (the over-merge
    # diagnostic connected components cannot see: CC merges on ANY path,
    # so a chain of borderline pairs can fuse non-duplicates): per
    # cluster, intra-cluster candidate-edge count vs the clique bound
    # size·(size−1)/2 — density 1.0 = true dup farm (clique), low density
    # = chained over-merge risk; missing-edge count = the verify work a
    # precision pass would re-check. Exact ints + ONE division.
    ced = (
        pairs.join(
            comps.select(F.col("doc_id").alias("id_a"),
                         F.col("rep").alias("__ra")), "id_a")
        .groupBy(F.col("__ra").alias("rep"))
        .agg(F.count("*").cast("long").alias("cl_edges"))
    )
    den = sizes.join(ced, "rep").select(
        "rep", "cl_edges",
        F.expr("(cluster_size * (cluster_size - 1)) div 2")
        .cast("long").alias("cl_possible"),
    ).select(
        "rep", "cl_edges", "cl_possible",
        (F.col("cl_possible") - F.col("cl_edges")).cast("long")
        .alias("cl_missing"),
        _r4(F.col("cl_edges") / F.col("cl_possible")).alias("cl_density4"),
    )
    return (
        comps.join(sizes, "rep").join(best, "rep").join(gns, "doc_id")
        .join(pr, "doc_id")
        .join(kc, "doc_id")
        .join(den, "rep")
        .select(
            "doc_id", "rep", "cluster_size", "best_doc", "best_n_tok",
            (F.col("doc_id") == F.col("best_doc")).cast("int").alias("is_best"),
            "deg_cnt", "tri_cnt", "clust4", "pr4",
            "core2", "core3", "core2_deg",
            "cl_edges", "cl_possible", "cl_missing", "cl_density4",
        )
    )


def _q_ngram_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking→verification composition: MinHash-LSH candidate pairs fed
    through the pair-wise ngram_jaccard verifier (equi-joins by id, no
    cross product). Must reproduce minhash_pairs' result set exactly."""
    _prep(spark)
    from nyxus_spark.operators.dedup import minhash_candidate_pairs, ngram_jaccard

    aug = _aug_corpus(spark, sf_dir)
    pairs = minhash_candidate_pairs(aug)
    # threshold on the RAW ratio (mirrors the oracle WHERE clause); the
    # emitted jaccard column is the rounded one
    ver = ngram_jaccard(aug, pairs, threshold=0.5)
    # Levenshtein verification (order/multiplicity-aware precision stage)
    # in the cross-engine "wide" encoding: two ASCII chars per token, so
    # the char-DP and DuckDB's byte-DP compute the identical value (the
    # 1-char true-token mode is Spark-side and pytest-pinned — DuckDB's
    # levenshtein is byte-based and overcharges code points >= 128)
    from nyxus_spark.operators.dedup import edit_distance_verify

    lev = edit_distance_verify(aug, pairs, encoding="wide")
    # asymmetric n-gram CONTAINMENT (the decontamination measure, Broder
    # 1997): |sh(a)∩sh(b)|/|sh(a)| catches near-containment pairs whose
    # Jaccard is diluted by a size mismatch. Exact set sizes gate the
    # underlying integers; one fround4 division each side.
    from nyxus_spark.operators.dedup import ngram_containment

    cont = ngram_containment(aug, pairs)
    # winnowing-fingerprint verify (MOSS, Schleimer/Wilkerson/Aiken 2003):
    # guarantee-carrying local overlap — any shared token run >= k+w-1 = 7
    # yields a shared fingerprint; exact set sizes + one fround4 division
    from nyxus_spark.operators.dedup import winnow_verify

    wnv = winnow_verify(aug, pairs)
    from pyspark.sql import functions as F

    out = (ver.join(lev, ["id_a", "id_b"]).join(cont, ["id_a", "id_b"])
              .join(wnv, ["id_a", "id_b"]))
    # wave 105 — dedup THRESHOLD-SENSITIVITY curve: decile bins of the
    # verified jaccard (identical double both engines → identical bin),
    # per-bin pair count + victim-token mass (min(len_a, len_b) — what a
    # dedup pass at that cut deletes). The knob-tuning artifact: how much
    # MORE a stricter/looser threshold would keep or kill.
    out = out.withColumn(
        "jb_bin",
        F.least(F.floor(F.col("jaccard") * 10), F.lit(9)).cast("long"),
    )
    jbins = out.groupBy("jb_bin").agg(
        F.count("*").cast("long").alias("jb_pairs"),
        F.sum(F.least("len_a", "len_b")).cast("long").alias("jb_victims"),
    )
    return out.join(F.broadcast(jbins), "jb_bin")


def _q_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 against the vec_id=0 embedding, RANK-joined
    with the Hamming top-10 over 16-bit SRP signatures (Charikar SimHash
    distance — the bit-level ANN stage-0; exact integer signatures on both
    sides, popcount(xor) distances): one row per rank with both rankings'
    members, so the oracle re-derives both orders from scratch."""
    _prep(spark)
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from nyxus_spark.operators.similarity import hamming_topk, topk_cosine
    from nyxus_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter("vec_id = 0").first()["embedding"]
    cos = topk_cosine(emb, list(qv), k=10)
    ham = hamming_topk(emb, list(qv), k=10)
    wc = Window.orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    wh = Window.orderBy(F.col("hamming").asc(), F.col("vec_id").asc())
    cr = cos.withColumn("rank", F.row_number().over(wc).cast("long"))
    hr = ham.select(
        F.col("vec_id").alias("ham_vec_id"), "hamming",
        F.row_number().over(wh).cast("long").alias("rank"),
    )
    # RECIPROCAL-RANK FUSION (Cormack et al., SIGIR 2009 — the hybrid
    # dense+lexical retrieval standard) over the SHARED id space: the
    # cosine top-10 fuses with the BM25 top-10 of the token corpus
    # (ranked on the gated 4-dec score, ties → id);
    # RRF = 1/(60+r_dense) + 1/(60+r_lexical), each term ONE IEEE division
    # of exact small ints (absent list contributes 0), fused order by
    # (rrf4 DESC, id ASC). At scale both input lists are already top-k —
    # RRF only ever touches ≤ 2k fused candidates per query.
    from nyxus_spark.functions import bm25_scores
    from nyxus_spark.sources import tokens_static

    t = tokens_static(spark, sf_dir)
    bm = bm25_scores(t, [18, 55, 89, 138, 216]).select(
        F.expr("CAST(substring(doc_id, 5) AS BIGINT)").alias("bid"),
        "bm25_score4",
    )
    wb = Window.orderBy(F.col("bm25_score4").desc(), F.col("bid").asc())
    br10 = (
        bm.withColumn("brank", F.row_number().over(wb).cast("long"))
        .filter(F.col("brank") <= 10).select("bid", "brank")
    )
    cr10 = cr.filter(F.col("rank") <= 10).select(
        F.col("vec_id").alias("cid"), F.col("rank").alias("crank"))
    fused = (
        cr10.join(br10, cr10["cid"] == br10["bid"], "full_outer")
        .select(
            F.coalesce("cid", "bid").alias("rrf_vec_id"),
            "crank", "brank",
        )
        .withColumn(
            "rrf4",
            _r4(
                F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("crank")), F.lit(0.0))
                + F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("brank")), F.lit(0.0))
            ),
        )
        .withColumn(
            "rrf_in_both",
            (F.col("crank").isNotNull() & F.col("brank").isNotNull())
            .cast("long"),
        )
    )
    wf = Window.orderBy(F.col("rrf4").desc(), F.col("rrf_vec_id").asc())
    fr = (
        fused.withColumn("rank", F.row_number().over(wf).cast("long"))
        .filter(F.col("rank") <= 10)
        .select("rank", "rrf_vec_id", "rrf4", "rrf_in_both")
    )
    # RANK-BIASED OVERLAP (Webber et al., TOIS 2010) between the dense and
    # lexical top-10s at p = 1/2 — every depth weight an exact dyadic:
    # truncated RBO = Σ_{d=1..10} (|A_d ∩ B_d|/d)·2^{−d}. Overlap counts
    # are exact ints off the fused table; the sum is a fixed 10-term chain
    # in depth order. The ranker-agreement metric beside the fusion itself.
    ovs = fused.agg(*[
        F.sum(((F.col("crank") <= d) & (F.col("brank") <= d)).cast("long"))
        .alias(f"__ov{d}")
        for d in range(1, 11)
    ])
    rbo = None
    for d in range(1, 11):
        t_ = (
            F.coalesce(F.col(f"__ov{d}"), F.lit(0)).cast("double")
            / F.lit(float(d)) * F.lit(2.0 ** -d)
        )
        rbo = t_ if rbo is None else rbo + t_
    fr = fr.crossJoin(F.broadcast(ovs.select(_r4(rbo).alias("rbo4"))))
    # MMR diversified rerank (Carbonell–Goldstein, SIGIR 1998) over the
    # cosine top-8: greedy λ·rel − µ·max-sim selection of 4, every step's
    # score a fround4 IEEE chain and every argmax tie-broken by id, so the
    # oracle replays the selection step-for-step with 4 unrolled CTEs
    from nyxus_spark.operators.similarity import mmr_rerank

    mc = cr.filter(F.col("rank") <= 8).join(emb, "vec_id").select(
        "vec_id", "embedding", "cos")
    mm = mmr_rerank(mc, k_select=4).select(
        F.col("ordinal").alias("rank"),
        F.col("vec_id").alias("mmr_vec_id"),
        "mmr_score4",
    )
    # wave 130 — top-1/top-2 MARGIN (the retrieval-confidence audit: a
    # thin margin means the answer is ambiguous and an ANN approximation
    # is most likely to flip it): difference of the two gated cosine
    # values — identical doubles on both engines, one subtraction.
    mg = (
        cr.filter(F.col("rank") <= 2)
        .agg(
            (F.max(F.when(F.col("rank") == 1, F.col("cos")))
             - F.max(F.when(F.col("rank") == 2, F.col("cos"))))
            .alias("__m"))
        .select(_r4(F.col("__m")).alias("margin4"))
    )
    return (
        cr.join(hr, "rank").join(fr, "rank").join(mm, "rank", "left")
        .crossJoin(F.broadcast(mg))
        .select(
            "rank", "vec_id", "cos", "ham_vec_id", "hamming",
            "rrf_vec_id", "rrf4", "rrf_in_both", "rbo4",
            F.coalesce("mmr_vec_id", F.lit(-1).cast("long")).alias("mmr_vec_id"),
            F.coalesce("mmr_score4", F.lit(-2.0)).alias("mmr_score4"),
            "margin4",
        )
    )


def _q_topk_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch multi-query top-k: the top-5 cosine neighbors of each of three
    query vectors in one pass (broadcast queries + per-query rank)."""
    _prep(spark)
    from pyspark.sql import functions as F

    from nyxus_spark.operators.similarity import topk_cosine_batch
    from nyxus_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter("vec_id < 3").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = topk_cosine_batch(emb, queries, k=5)
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("vec_id").asc())
    out = out.withColumn("rank", F.row_number().over(w).cast("long"))
    # two-stage int8→float rerank (cheap exact-integer first stage, exact
    # cosine second stage) joined by rank position — both engines compute
    # the same deterministic pipeline, so the gate pins candidate
    # generation AND the final order
    from nyxus_spark.operators.similarity import rerank_topk

    rr = rerank_topk(emb, queries, k=5, m=20).withColumnRenamed(
        "rr_rank", "rank")
    return out.join(rr, ["query_id", "rank"])


def _q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-probed cosine search (the ANN scale path): 8 deterministic coarse
    centroids (vec_id < 8), probe the query's top-2 buckets, top-10 within.
    Assignment and probing rank on the ROUNDED cosine so the bucket decisions
    are engine-reproducible; the oracle replays the same plan in SQL."""
    _prep(spark)
    from pyspark.sql import functions as F

    from nyxus_spark.operators.similarity import ivf_topk
    from nyxus_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cents = emb.filter("vec_id < 8").select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_vec")
    )
    qv = emb.filter("vec_id = 0").first()["embedding"]
    return ivf_topk(emb, cents, list(qv), k=10, n_probe=2)


def _q_ivf_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED-index half of the ANN scale path: materialize the IVF
    index once (write partitioned by assigned_cent), then search it via the
    partition-pruned scan — the physical plan carries
    `PartitionFilters: [assigned_cent IN (...)]`, so only the probed buckets
    are read (the Iceberg identity-partition story at 100 TB). Same centroids,
    query, and rank discipline as `ivf_topk`, so the same oracle gates it."""
    _prep(spark)
    import tempfile

    from pyspark.sql import functions as F

    from nyxus_spark.operators.similarity import ivf_index, ivf_search
    from nyxus_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cents = emb.filter("vec_id < 8").select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_vec")
    )
    qv = emb.filter("vec_id = 0").first()["embedding"]
    path = tempfile.mkdtemp(prefix="nyxus_ivf_idx_")
    ivf_index(emb, cents, path)
    return ivf_search(spark, path, cents, list(qv), k=10, n_probe=2)


def _q_ivf_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch multi-query ANN through the IVF index: three queries each probe
    their top-2 centroid buckets; corpus rows are scored only against the
    queries probing their bucket (the corpus-scale batch plan — candidate
    expansion is |probed fraction|·|Q|, not |corpus|·|Q|). Composed with
    RECALL@5 evaluation: each result row carries its query's measured recall
    vs the exact brute-force top-5 (|ivf ∩ brute|/5, exact integers + one
    division) — the index-quality monitor, itself under the oracle gate."""
    _prep(spark)
    from pyspark.sql import functions as F

    from nyxus_spark.operators.similarity import (
        ivf_topk_batch,
        recall_at_k,
        topk_cosine_batch,
    )
    from nyxus_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cents = emb.filter("vec_id < 8").select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_vec")
    )
    queries = emb.filter("vec_id < 3").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    ivf = ivf_topk_batch(emb, cents, queries, k=5, n_probe=2)
    brute = topk_cosine_batch(emb, queries, k=5)
    rec = recall_at_k(ivf, brute)
    out = ivf.join(rec, "query_id")
    # PQ-ADC search for the same queries (the lookup-table scan that
    # replaces per-row vector arithmetic at the 100 TB tier): quantize →
    # encode (4×16 PQ, 8 seed codebooks) → exact int64 ADC top-5. Joined by
    # per-query rank, so every ADC hit and its exact distance is gated.
    from pyspark.sql import Window

    from nyxus_spark.operators.similarity import (
        pq_encode,
        pq_search_adc,
        quantize_embedding,
    )

    qz = emb.select("vec_id", quantize_embedding("embedding").alias("q"))
    books = qz.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").cast("int").alias("cent_id"),
        F.posexplode(F.expr(
            "transform(sequence(0, 3),"
            " j -> slice(q, j * (size(q) div 4) + 1, size(q) div 4))"
        )).alias("sub_id", "cent_sub"),
    )
    codes = pq_encode(qz, books, m=4, vec_col="q")
    qvq = qz.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("query_qvec")
    )
    adc = pq_search_adc(codes, books, qvq, m=4, k=5).select(
        "query_id", F.col("vec_id").alias("adc_vec_id"), "adc_d", "rank"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("vec_id").asc()
    )
    ranked = out.withColumn("rank", F.row_number().over(w).cast("long"))
    # MRR of the index: the rank at which the ivf list surfaces the brute
    # top-1 neighbor (0 = missed) — the retrieval-eval metric next to
    # recall@k, an exact integer per query
    b1 = (
        brute.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") == 1)
        .select("query_id", F.col("vec_id").alias("__top1"))
    )
    mrr = (
        ranked.join(b1, "query_id")
        .filter(F.col("vec_id") == F.col("__top1"))
        .groupBy("query_id")
        .agg(F.min("rank").cast("long").alias("mrr_rank"))
    )
    # wave 80 — EXACT-INTEGER AVERAGE PRECISION@5 (the ranking-quality
    # metric beside recall/MRR): AP = Σ_k rel_k·(hits@k/k) / n_rel is a sum
    # of rationals with denominators 1..5, so the 60-scaled numerator
    # (60 = lcm(1..5)) Σ rel_k·hits@k·(60 div k) is an EXACT int64 — the
    # float only appears in the ONE final division by 60·n_exact.
    relj = (
        ranked.select("query_id", "vec_id", "rank")
        .join(
            brute.select("query_id", "vec_id").withColumn("__rel", F.lit(1)),
            ["query_id", "vec_id"], "left",
        )
        .withColumn("__rel", F.coalesce("__rel", F.lit(0)))
    )
    wap = Window.partitionBy("query_id").orderBy("rank")
    # ...and RANK-BIASED PRECISION (Moffat–Zobel, persistence p = 1/2):
    # RBP = Σ rel_k/2^k, so the 32-scaled numerator Σ rel_k·2^(5−k) is an
    # exact int64 (shifts 0..4 — inside the 63-bit cross-engine rule).
    apq = (
        relj.withColumn("__ch", F.sum("__rel").over(wap))
        .withColumn(
            "__t", F.col("__rel") * F.col("__ch") * F.expr("60 div rank"))
        .withColumn(
            "__rb",
            F.col("__rel") * F.expr("shiftleft(1L, cast(5 - rank as int))"))
        .groupBy("query_id")
        .agg(
            F.sum("__t").cast("long").alias("ap_num60"),
            F.sum("__rb").cast("long").alias("rbp_num32"),
        )
    )
    return (
        ranked.join(adc, ["query_id", "rank"])
        .join(mrr, "query_id", "left")
        .join(apq, "query_id")
        .withColumn("mrr_rank", F.coalesce("mrr_rank", F.lit(0).cast("long")))
        .withColumn(
            "ap4",
            _r4(F.col("ap_num60") / (F.lit(60) * F.col("n_exact"))),
        )
        .withColumn("rbp4", _r4(F.col("rbp_num32") / F.lit(32)))
        .select(
            "query_id", "vec_id", "cos", "n_hits", "n_exact", "recall",
            "rank", "adc_vec_id", "adc_d", "mrr_rank", "ap_num60", "ap4",
            "rbp_num32", "rbp4",
        )
    )


def _q_multi_format_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-format source abstraction (S-section breadth): the documents
    table is staged to CSV, JSON, and ORC, read back through `load_path`
    with an explicit schema (no inference scan), and each format's content
    is checksummed by the same aggregate — one row per format, identical
    numbers. The oracle computes the aggregate once per format literal from
    the canonical parquet (a format round-trip must be content-preserving)."""
    _prep(spark)
    import tempfile

    from pyspark.sql import functions as F

    from nyxus_spark.sinks import to_csv, to_json, to_orc
    from nyxus_spark.sources import load_path, load_table

    # narrow, text-free projection: numeric + categorical columns round-trip
    # through the text formats without quoting/encoding ambiguity
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    base = tempfile.mkdtemp(prefix="nyxus_fmt_")
    to_csv(docs, f"{base}/csv")
    to_json(docs, f"{base}/json")
    to_orc(docs, f"{base}/orc")
    schema = "doc_id bigint, lang string, source string, n_chars bigint"
    parts = []
    for fmt in ("csv", "json", "orc"):
        d = load_path(spark, f"{base}/{fmt}", fmt, schema=schema)
        parts.append(
            d.agg(
                F.lit(fmt).alias("fmt"),
                F.count("*").cast("long").alias("n_docs"),
                F.sum("n_chars").cast("long").alias("sum_chars"),
                F.countDistinct("lang").cast("long").alias("n_langs"),
                F.countDistinct("doc_id").cast("long").alias("n_ids"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary counting (the BPE-vocab-building analog) COMPOSED
    with the rare-token → UNK remap: top-10 vocabulary by (count DESC,
    token ASC), then `remap_tokens` rewrites the corpus (everything outside
    the top-10 becomes −1) and the remapped corpus is RE-counted — one row
    per surviving token id (the 10 kept + the UNK bucket), with the
    original count joined on (0 for UNK). The oracle recomputes the whole
    remap from scratch, so a single mis-mapped token flips the counts."""
    _prep(spark)
    from pyspark.sql import functions as F

    from nyxus_spark.functions import remap_tokens, vocab_topk
    from nyxus_spark.sources import tokens_static

    t = tokens_static(spark, sf_dir)
    top = vocab_topk(t, k=10)
    keep = [r.token for r in top.collect()]  # 10 ids — broadcast-tiny
    rec = (
        remap_tokens(t, keep, unk=-1)
        .select(F.explode("tokens").alias("token"))
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("cnt_remap"))
    )
    # per-token distribution DRIFT between the two largest strata (the
    # new-crawl monitor): |c_a·N_b − c_b·N_a| exact BIGINT + the normalized
    # rate, attached to every surviving vocab row (UNK has no drift row →
    # coalesced zeros)
    from nyxus_spark.functions import source_drift

    drift = source_drift(t, "src0", "src1")
    # PMI collocations: each kept token's best right-collocate by bigram
    # count (ties → lowest successor id), association = the exact IEEE
    # chain (c_ab/c_a)·N/c_b under fround4 — the oracle recomputes bigram
    # and unigram counts from scratch. UNK(-1) has no anchor row →
    # coalesced sentinels.
    from nyxus_spark.functions import pmi_best_next

    pmi = pmi_best_next(t, keep)
    # word2vec negative-sampling distribution over the kept vocabulary:
    # p ∝ cnt^0.75 as the exact sqrt(sqrt(cnt³)) chain; the normalizer is a
    # token-ordered sequential fold the oracle replays with list_reduce
    from nyxus_spark.functions import neg_sampling_shares

    neg = neg_sampling_shares(top)
    zero = F.lit(0).cast("long")
    out = (
        rec.join(top, "token", "left")
        .join(drift, "token", "left")
        .join(pmi, "token", "left")
        .join(neg, "token", "left")
        .select(
            "token",
            F.coalesce("cnt", zero).alias("cnt"),
            "cnt_remap",
            F.coalesce("cnt_a", zero).alias("cnt_src0"),
            F.coalesce("cnt_b", zero).alias("cnt_src1"),
            F.coalesce("drift_num", zero).alias("drift_num"),
            F.coalesce("drift_rate", F.lit(0.0)).alias("drift_rate"),
            F.coalesce("next_token", F.lit(-1)).cast("long").alias("next_token"),
            F.coalesce("big_cnt", zero).alias("big_cnt"),
            F.coalesce("pmi4", F.lit(0.0)).alias("pmi4"),
            F.coalesce("neg_share4", F.lit(0.0)).alias("neg_share4"),
        )
    )
    # VOCABULARY COVERAGE CURVE (the vocab-size-selection metric): each row
    # gets its rank over the remapped counts (cnt_remap DESC, token ASC)
    # plus the cumulative token mass and the covered fraction of the WHOLE
    # corpus — exact BIGINT running sum over the post-aggregation top-k
    # frame (k+1 rows, so the single-partition window is broadcast-tiny; at
    # scale the heavy work stays in the two-phase count aggregation above)
    # COUNT-MIN-SKETCH heavy-hitter estimate (the monitoring-tick analog of
    # the exact vocab count): depth-4 x width-64 sketch built in ONE
    # map-side-combinable aggregation over the token stream, point-queried
    # for every gate row. cms_est >= cnt is the CMS guarantee; cms_over is
    # the collision overcount — both exact integers the oracle re-derives by
    # rebuilding the whole sketch from scratch.
    from nyxus_spark.functions import cms_estimate, cms_table

    cms = cms_table(t)
    out = cms_estimate(out, cms).withColumn(
        "cms_over", (F.col("cms_est") - F.col("cnt")).cast("long")
    )
    # CMS JOIN-SIZE estimation (Cormode–Muthukrishnan inner product): the
    # src0 ⋈ src1 token-equi-join cardinality estimated from the two
    # sketches alone (min_j of the depth-wise dot products — the number a
    # planner sizes a shuffle with), next to the exact Σ c_a·c_b truth;
    # the collision-only-inflates law makes est ≥ true on every row
    from nyxus_spark.functions.sketch import cms_join_size

    ta = t.filter(F.col("source") == "src0")
    tb = t.filter(F.col("source") == "src1")
    fa = ta.select(F.explode("tokens").alias("tk")).groupBy("tk").agg(
        F.count("*").cast("long").alias("__ca"))
    fb = tb.select(F.explode("tokens").alias("tk")).groupBy("tk").agg(
        F.count("*").cast("long").alias("__cb"))
    js_true = fa.join(fb, "tk").agg(
        F.coalesce(F.sum(F.col("__ca") * F.col("__cb")), F.lit(0))
        .cast("long").alias("js_true"))
    js_est = cms_join_size(cms_table(ta), cms_table(tb)).select(
        F.coalesce("js_cms_est", F.lit(0)).cast("long").alias("js_cms_est"))
    out = (
        out.crossJoin(F.broadcast(js_true))
        .crossJoin(F.broadcast(js_est))
        .withColumn("js_cms_over",
                    (F.col("js_cms_est") - F.col("js_true")).cast("long"))
    )
    # Kneser-Ney continuation counts (the KN-smoothing statistics): per
    # token, distinct LEFT contexts N1+(·w) and distinct RIGHT
    # continuations N1+(w·) over the ORIGINAL corpus — exact integers
    # from one distinct-bigram dim agg (UNK/-1 coalesces to 0).
    from nyxus_spark.functions import kn_continuation

    knz = F.lit(0).cast("long")
    kn = kn_continuation(t)
    out = out.join(kn, "token", "left").withColumn(
        "kn_left", F.coalesce("kn_left", knz)
    ).withColumn("kn_right", F.coalesce("kn_right", knz))
    # FULL interpolated Kneser-Ney bigram probability (Chen & Goodman
    # 1999, d = 0.75) of each kept token's best collocate:
    #   P(w|v) = max(c_vw − d, 0)/c_v• + (d·N1+(v·)/c_v•)·(N1+(·w)/N1++)
    # — every operand an exact integer (d = 0.75 is exactly binary), the
    # value a FIXED IEEE chain the oracle replays op-for-op.
    from nyxus_spark.functions import bigram_counts

    cv = (
        bigram_counts(t).groupBy("token")
        .agg(F.sum("big_cnt").cast("long").alias("kn_cv"))
    )
    knw = kn.select(F.col("token").alias("next_token"),
                    F.col("kn_left").alias("__knl_w"))
    n1pp = kn.agg(F.sum("kn_left").cast("long").alias("__kn_n1pp"))
    out = (
        out.join(cv, "token", "left")
        .join(knw, "next_token", "left")
        .crossJoin(F.broadcast(n1pp))
        .withColumn("kn_cv", F.coalesce("kn_cv", knz))
    )
    knp_val = (
        F.greatest(F.col("big_cnt").cast("double") - F.lit(0.75), F.lit(0.0))
        / F.col("kn_cv").cast("double")
        + (F.lit(0.75) * F.col("kn_right").cast("double")
           / F.col("kn_cv").cast("double"))
        * (F.col("__knl_w").cast("double") / F.col("__kn_n1pp").cast("double"))
    )
    out = out.withColumn(
        "kn_p4",
        F.when(
            (F.col("big_cnt") > 0) & (F.col("kn_cv") > 0)
            & F.col("__knl_w").isNotNull(),
            _r4(knp_val),
        ).otherwise(F.lit(0.0)),
    ).drop("__knl_w", "__kn_n1pp")
    # HEAPS-LAW vocabulary-growth audit (the vocab-scaling monitor: does
    # distinct-type count keep growing with corpus size, or has the token
    # space saturated?): |vocab| over the first ⌊n/4⌋ and ⌊n/2⌋ documents
    # (deterministic prefix by numeric doc id) vs the full corpus — three
    # exact integers from ONE conditional-distinct aggregation.
    ex_g = t.select(
        F.expr("cast(substr(doc_id, 5) as bigint)").alias("oid"),
        F.explode("tokens").alias("tok"),
    )
    nd = t.agg(F.countDistinct("doc_id").cast("long").alias("__nd"))
    growth = ex_g.crossJoin(F.broadcast(nd)).agg(
        F.countDistinct(
            F.when(F.col("oid") < F.expr("__nd div 4"), F.col("tok"))
        ).cast("long").alias("vocab_q1"),
        F.countDistinct(
            F.when(F.col("oid") < F.expr("__nd div 2"), F.col("tok"))
        ).cast("long").alias("vocab_h1"),
        F.countDistinct("tok").cast("long").alias("vocab_full"),
    )
    out = out.crossJoin(F.broadcast(growth))
    # vocabulary GINI coefficient (token-mass inequality — the
    # concentration monitor beside Zipf): over the FULL vocab's counts
    # sorted (count ASC, token ASC), G = Σ(2i−n−1)·cᵢ / (n·Σc) — the
    # sorted-rank numerator is an EXACT BIGINT, ONE final division. The
    # global window runs over |V| rows (the bounded vocab table, never the
    # corpus).
    from pyspark.sql import Window as _W

    vc = (
        t.select(F.explode("tokens").alias("tok"))
        .groupBy("tok").agg(F.count("*").cast("long").alias("c"))
    )
    wg = _W.orderBy(F.col("c").asc(), F.col("tok").asc())
    gr = vc.select(
        "c",
        F.row_number().over(wg).cast("long").alias("rn"),
        F.count("*").over(_W.partitionBy()).cast("long").alias("nv"),
        F.sum("c").over(_W.partitionBy()).cast("long").alias("tv"),
    )
    gini = gr.agg(
        F.sum((2 * F.col("rn") - F.col("nv") - 1) * F.col("c"))
        .cast("long").alias("gini_num"),
        (F.max("nv") * F.max("tv")).cast("long").alias("gini_den"),
    ).select(
        "gini_num", "gini_den",
        _r4(F.col("gini_num").cast("double")
            / F.col("gini_den").cast("double")).alias("gini4"),
    )
    out = out.crossJoin(F.broadcast(gini))
    # wave 78 — DIVERSITY indices over the same full-vocab count table:
    # Simpson's D = Σc(c−1)/(N(N−1)) (the collision probability of two
    # draws without replacement — exact integer numerator/denominator,
    # ONE final division) and Berger–Parker dominance = max c / N. Both
    # corpus constants; N(N−1) stays inside int64 to N ≈ 3·10⁹ tokens —
    # per-shard sharding applies the same exact algebra beyond that.
    div = vc.agg(
        F.sum(F.col("c") * (F.col("c") - 1)).cast("long").alias("simpson_num"),
        F.sum("c").cast("long").alias("__N"),
        F.max("c").cast("long").alias("bp_max"),
    ).select(
        "simpson_num",
        (F.col("__N") * (F.col("__N") - 1)).cast("long").alias("simpson_den"),
        _r4(F.col("simpson_num").cast("double")
            / (F.col("__N") * (F.col("__N") - 1)).cast("double"))
        .alias("simpson4"),
        "bp_max",
        _r4(F.col("bp_max").cast("double") / F.col("__N").cast("double"))
        .alias("bp4"),
    )
    out = out.crossJoin(F.broadcast(div))
    # wave 90 — AMS F₂ SKETCH (Alon–Matias–Szegedy; the third classic
    # stream sketch beside CMS and HLL): 8 sign-hash estimators Z_j =
    # Σ_t s_j(t)·c_t with s_j(t) = 1 − 2·(((t+1)·1103515245 + C_j) mod 2)
    # (the SAME deterministic ±1 family as the JL projection, constants
    # C_j = (j+1)·506952114) — every Z_j an exact int64, the estimate
    # ΣZ_j²/8 one division, and the exact second frequency moment
    # F₂ = Σc² riding along as the estimator envelope (the join-size /
    # self-join-cardinality statistic a planner reads from a stream).
    _amsZ = [
        F.sum(
            (1 - 2 * (((F.col("tok").cast("bigint") + 1)
                       * F.lit(1103515245)
                       + F.lit((j + 1) * 506952114)) % 2))
            * F.col("c")
        ).cast("long").alias(f"__z{j}")
        for j in range(8)
    ]
    ams = vc.agg(
        *_amsZ,
        F.sum(F.col("c") * F.col("c")).cast("long").alias("ams_f2_true"),
    ).select(
        F.col("__z0").alias("ams_z0"),
        sum(
            (F.col(f"__z{j}") * F.col(f"__z{j}") for j in range(1, 8)),
            F.col("__z0") * F.col("__z0"),
        ).cast("long").alias("ams_sq_sum"),
        "ams_f2_true",
    ).select(
        "ams_z0", "ams_sq_sum", "ams_f2_true",
        _r4(F.col("ams_sq_sum") / F.lit(8)).alias("ams_f2_est4"),
    )
    out = out.crossJoin(F.broadcast(ams))
    # wave 81 — GOOD–TURING smoothing statistics (Gale–Sampson; the classic
    # LM mass-reallocation): count-of-counts N_r over the full vocab, each
    # gate row's r* = (r+1)·N_{r+1}/N_r (exact integer product, ONE
    # division), plus the corpus UNSEEN-MASS estimate P₀ = N₁/N — the
    # probability the next token is a brand-new type, the held-out novelty
    # forecast a crawl-scheduling loop reads. Count-of-counts is a
    # second-level hash agg over the (bounded) vocab dim — scale-safe.
    coc = vc.groupBy("c").agg(F.count("*").cast("long").alias("__nr"))
    cr = coc.select(F.col("c").alias("cnt"), F.col("__nr").alias("gt_nr"))
    cr1 = coc.select((F.col("c") - 1).alias("cnt"),
                     F.col("__nr").alias("gt_nr1"))
    gtc = vc.agg(
        F.sum("c").cast("long").alias("__tt"),
        F.sum((F.col("c") == 1).cast("long")).cast("long").alias("gt_n1"),
    ).select(
        "gt_n1",
        _r4(F.col("gt_n1").cast("double") / F.col("__tt").cast("double"))
        .alias("gt_p0_4"),
    )
    out = (
        out.join(cr, "cnt", "left").join(cr1, "cnt", "left")
        .withColumn("gt_nr", F.coalesce("gt_nr", F.lit(0).cast("long")))
        .withColumn("gt_nr1", F.coalesce("gt_nr1", F.lit(0).cast("long")))
        .withColumn(
            "gt_rstar4",
            F.when(
                F.col("gt_nr") > 0,
                _r4(((F.col("cnt") + 1) * F.col("gt_nr1")) / F.col("gt_nr")),
            ).otherwise(F.lit(0.0)),
        )
        .crossJoin(F.broadcast(gtc))
    )
    # INVERTED-INDEX posting stats per kept token (the IR indexing
    # primitive): df / first doc / max gap / exact varint-model bit cost
    # of the delta-encoded posting list — all exact integers (UNK -1 has
    # no postings → coalesced zeros)
    from nyxus_spark.functions import posting_stats

    post = posting_stats(t)
    zerol = F.lit(0).cast("long")
    out = out.join(post, "token", "left").select(
        "*",
    ).withColumn("post_df", F.coalesce("post_df", zerol)) \
     .withColumn("post_first", F.coalesce("post_first", F.lit(-1).cast("long"))) \
     .withColumn("post_max_gap", F.coalesce("post_max_gap", zerol)) \
     .withColumn("post_bits", F.coalesce("post_bits", zerol))
    # NUCLEUS (top-p) truncation flags (Holtzman et al. 2020, corpus-side):
    # in-nucleus while the cumulative mass BEFORE the token is under p —
    # the exact cross-multiplied inequality (cum−cnt)·10 < 9·tot; the
    # smallest ≥0.9-mass prefix of the (count DESC, token ASC) order. UNK
    # (-1) has no vocab row → sentinel.
    from nyxus_spark.functions import nucleus_flags

    nuc = nucleus_flags(t, 9, 10).select(
        F.col("tok").alias("token"), "nuc_cum", "in_nucleus")
    out = out.join(nuc, "token", "left") \
        .withColumn("nuc_cum", F.coalesce("nuc_cum", F.lit(-1).cast("long"))) \
        .withColumn("in_nucleus", F.coalesce("in_nucleus", F.lit(-1).cast("long")))
    # word2vec FREQUENT-WORD SUBSAMPLING keep-probability (Mikolov et al.
    # 2013): p_keep = sqrt(t/f) + t/f at t = 1/1024 (exactly binary) —
    # r = total/(1024·cnt) is ONE IEEE division of exact BIGINTs, the rest
    # the fixed chain sqrt(r) + r. UNK (cnt 0) → sentinel.
    w2tot = t.agg(F.sum("n_tok").cast("long").alias("__w2tot"))
    r_ = F.col("__w2tot").cast("double") / (1024 * F.col("cnt")).cast("double")
    out = out.crossJoin(F.broadcast(w2tot)).withColumn(
        "w2v_keep4",
        F.when(F.col("cnt") > 0, _r4(F.sqrt(r_) + r_)).otherwise(F.lit(-1.0)),
    ).drop("__w2tot")
    # BITMAP-INDEX posting intersection (the roaring-style pattern beside
    # the gap-encoded posting stats): the two most frequent tokens' doc
    # sets as 63-bit-word bitsets (word = oid div 63, bit_or of
    # 1 << (oid % 63) — the sign bit stays clear, which DuckDB requires),
    # intersected word-wise with popcount. bm_inter must equal the plain
    # distinct-doc equi-join count (bm_inter_exact) — both paths gated.
    ta, tb = int(keep[0]), int(keep[1])
    dtok = (
        t.select(
            F.expr("cast(substr(doc_id, 5) as bigint)").alias("oid"),
            F.explode("tokens").alias("tok"),
        )
        .filter(F.col("tok").isin([ta, tb]))
        .distinct()
    )
    bits = dtok.groupBy(
        "tok", F.expr("oid div 63").alias("w")
    ).agg(F.expr("bit_or(shiftleft(1L, cast(oid % 63 as int)))").alias("m"))
    binter = (
        bits.filter(F.col("tok") == ta).select("w", F.col("m").alias("ma"))
        .join(bits.filter(F.col("tok") == tb).select("w", F.col("m").alias("mb")), "w")
        .agg(F.sum(F.expr("bit_count(ma & mb)")).cast("long").alias("bm_inter"))
    )
    bdocs = dtok.groupBy("tok").agg(F.count("*").cast("long").alias("n"))
    bmeta = (
        bdocs.agg(
            F.max(F.when(F.col("tok") == ta, F.col("n"))).cast("long").alias("bm_docs_a"),
            F.max(F.when(F.col("tok") == tb, F.col("n"))).cast("long").alias("bm_docs_b"),
        )
    )
    bexact = (
        dtok.groupBy("oid").agg(F.countDistinct("tok").alias("__k"))
        .filter(F.col("__k") == 2)
        .agg(F.count("*").cast("long").alias("bm_inter_exact"))
    )
    out = (
        out.crossJoin(F.broadcast(binter))
        .crossJoin(F.broadcast(bmeta))
        .crossJoin(F.broadcast(bexact))
    )
    # wave 110 — ELIAS-FANO succinct posting-list size (the index-budget
    # model beside the varint post_bits): ef_bits = 2n + n·⌈log2(u/n)⌉
    # bits for n postings over a u-doc universe — ⌈log2 x⌉ exact via the
    # cross-engine length(bin(x−1)) kit on the integer x = ⌈u/n⌉. The
    # succinct-vs-byte-aligned planning pair for the same lists.
    utot = t.agg(F.count("*").cast("long").alias("__u"))
    out = out.crossJoin(F.broadcast(utot)).withColumn(
        "ef_bits",
        F.when(
            F.col("post_df") > 0,
            2 * F.col("post_df")
            + F.col("post_df") * F.when(
                F.expr("(__u + post_df - 1) div post_df") > 1,
                F.length(
                    F.expr("bin((__u + post_df - 1) div post_df - 1)")
                ).cast("long"),
            ).otherwise(F.lit(0).cast("long")),
        ).otherwise(F.lit(0).cast("long")),
    ).drop("__u")
    # wave 111 — TOKEN BURSTINESS (Church–Gale index of dispersion over
    # per-doc counts, zeros included): D = Var/mean reduced to the single
    # exact rational (N·Σx² − (Σx)²)/(N·Σx) on BIGINTs — D≈1 Poisson
    # (function words), D≫1 bursty/contagious (content words) — the
    # content-vs-glue token classifier a curriculum/quality filter reads.
    # UNK (-1) has no vocab row → sentinels.
    bursts = (
        t.select(F.explode("tokens").alias("token"))
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("__s1x"))
        .join(
            t.select(
                F.expr("cast(substr(doc_id, 5) as bigint)").alias("__oid"),
                F.explode("tokens").alias("token"),
            )
            .groupBy("token", "__oid")
            .agg(F.count("*").cast("long").alias("__c"))
            .groupBy("token")
            .agg(F.sum(F.col("__c") * F.col("__c")).cast("long")
                 .alias("__s2x")),
            "token",
        )
        .crossJoin(F.broadcast(utot))
        .select(
            "token",
            (F.col("__u") * F.col("__s2x") - F.col("__s1x") * F.col("__s1x"))
            .cast("long").alias("disp_num"),
            (F.col("__u") * F.col("__s1x")).cast("long").alias("disp_den"),
        )
        .withColumn(
            "disp4",
            _r4(F.col("disp_num").cast("double")
                / F.col("disp_den").cast("double")),
        )
    )
    out = (
        out.join(bursts, "token", "left")
        .withColumn("disp_num",
                    F.coalesce("disp_num", F.lit(-1).cast("long")))
        .withColumn("disp_den",
                    F.coalesce("disp_den", F.lit(-1).cast("long")))
        .withColumn("disp4", F.coalesce("disp4", F.lit(-1.0)))
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("cnt_remap"), F.asc("token"))
    wall = Window.partitionBy()
    return (
        out.withColumn("vrank", F.row_number().over(w).cast("long"))
        .withColumn(
            "cum_mass",
            F.sum("cnt_remap").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ).cast("long"),
        )
        .withColumn(
            "cov4",
            _r4(F.col("cum_mass") / F.sum("cnt_remap").over(wall)),
        )
        # ZIPF audit: rank·frequency is ~constant under Zipf's law — the
        # product is an exact BIGINT per row, and its ratio to the rank-1
        # mass (ONE division) is the normalized curve a tokenizer/corpus
        # monitor tracks for distribution shift
        .withColumn("zipf_fr", (F.col("cnt_remap") * F.col("vrank")).cast("long"))
        .withColumn(
            "zipf_ratio4",
            _r4(
                F.col("zipf_fr").cast("double")
                / F.max("cnt_remap").over(wall).cast("double")
            ),
        )
    )


def _q_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible hash-based corpus subsampling: keep docs where
    (doc_id·MIX mod P31) < P31·rate — re-derivable forever, unlike
    partitioning-dependent df.sample. Composed with STRATIFIED sampling
    (training-mixture control): each row carries the keep-decision of a
    per-source rate map (src0→1.0, src1→0.5, src2→0.25, others→0.1) on the
    same hash — the nested-sample property (same hash order per stratum)
    gated as an exact 0/1 integer — and with the deterministic EPOCH
    SHUFFLE keys (reproducible per-epoch training-order permutation,
    epochs 0 and 1) plus the epoch-0 rank within the sample."""
    _prep(spark)
    from pyspark.sql import functions as F
    from pyspark.sql import Window

    from nyxus_spark.functions import (
        deterministic_sample,
        epoch_shuffle_key,
        stratified_keep,
    )
    from nyxus_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    keep = stratified_keep(
        {"src0": 1.0, "src1": 0.5, "src2": 0.25}, "source", F.col("doc_id"),
        default_rate=0.1,
    )
    # TEMPERATURE mixture rates (α=0.5, p_s ∝ √n_s — the multilingual
    # upsampling rule): data-derived per-source rates on the FULL corpus,
    # then the keep decision on the shared hash. The oracle re-derives the
    # counts, the sqrt ratio, and the cut integer from scratch.
    from nyxus_spark.functions import temperature_rates

    t_rates = temperature_rates(docs, "source", alpha=0.5)
    temp_keep = stratified_keep(t_rates, "source", F.col("doc_id"))
    # wave 118 — TEMPERATURE SWEEP (mixture-sensitivity curve): the same
    # keep decision at α = 0.25 (flattest) and α = 0.75 (sqrt(n·√n), the
    # new exact IEEE chain) beside α = 0.5 — the three-point curve a
    # mixture designer reads before committing to a temperature. Same
    # shared hash, so the three keeps are NESTED per doc as α falls.
    temp_keep25 = stratified_keep(
        temperature_rates(docs, "source", alpha=0.25),
        "source", F.col("doc_id"))
    temp_keep75 = stratified_keep(
        temperature_rates(docs, "source", alpha=0.75),
        "source", F.col("doc_id"))
    # deterministic 3-way holdout (train/val/test disjoint by one hash,
    # independent MINSTD mixer — ids never migrate between splits)
    # deterministic k-FOLD assignment (cross-validation partition: every
    # doc evals exactly once; independent mixer keeps folds uncorrelated
    # with the sampling/holdout/quota hashes) — per-row fold id plus the
    # FULL-corpus fold-balance audit (exact per-fold row counts)
    from nyxus_spark.functions import cv_fold, holdout_split

    out = deterministic_sample(docs, 0.2, F.col("doc_id")).select(
        "doc_id", "source", "n_chars",
        keep.cast("long").alias("strat_keep"),
        temp_keep.cast("long").alias("temp_keep"),
        temp_keep25.cast("long").alias("temp_keep25"),
        temp_keep75.cast("long").alias("temp_keep75"),
        epoch_shuffle_key(F.col("doc_id"), 0).alias("shuf_e0"),
        epoch_shuffle_key(F.col("doc_id"), 1).alias("shuf_e1"),
        holdout_split(F.col("doc_id"), 0.05, 0.05).alias("holdout"),
        cv_fold(F.col("doc_id"), 5).alias("cv_fold"),
    )
    # rank within source (partitioned window — the scale-safe shape; a
    # global training order would come from repartitionByRange on the key)
    w = Window.partitionBy("source").orderBy(F.col("shuf_e0").asc(), F.col("doc_id").asc())
    out = out.withColumn("order_e0", F.row_number().over(w).cast("long"))
    # STRIDE-SCHEDULING interleave (the data-mixing ORDER, not just rates):
    # the i-th doc of source s runs at virtual time i/w_s; key = i·(L/w_s)
    # keeps the order exact-BIGINT. mix_admit gates the weight-exact
    # property directly: key ≤ 50·L admits exactly min(n_s, 50·w_s) docs
    # of each source — 4:2:1 for src0:src1:rest until a source runs dry.
    from nyxus_spark.functions import stride_interleave_key

    out = out.withColumn(
        "mix_key",
        stride_interleave_key(F.col("order_e0"), {"src0": 4, "src1": 2}),
    ).withColumn("mix_admit", (F.col("mix_key") <= 200).cast("long"))
    # DETERMINISTIC repartitionByRange bounds (Spark's RangePartitioner
    # samples nondeterministically; these are exact): 8 equal-count ranges
    # of the epoch-0 shuffle key. The ≤7-value bound list is collected
    # driver-side (same tiny-dim pattern as _probe_cents) and every doc's
    # partition assignment + its partition's exact row count are gated.
    from nyxus_spark.operators.prescan import exact_range_bounds

    bvals = [
        int(r.bound_val)
        for r in exact_range_bounds(out, "shuf_e0", 8)
        .orderBy("bound_idx").collect()
    ]
    barr = F.array(*[F.lit(b) for b in bvals])
    out = out.withColumn(
        "rp8",
        F.size(F.filter(barr, lambda b: b < F.col("shuf_e0"))).cast("long"),
    )
    rp_sizes = out.groupBy("rp8").agg(
        F.count("*").cast("long").alias("rp8_rows")
    )
    out = out.join(rp_sizes, "rp8")
    # SHUFFLE-MIXING audit: how well the epoch-0 shuffle interleaves
    # sources WITHIN each range partition (= one output file's local read
    # order). mix_prev_same flags a same-source adjacency; rp8_same_adj is
    # the partition's adjacency count — a well-mixed shuffle drives it
    # toward sum(p_s²)·n. Partitioned by rp8, so the window never sees more
    # than one partition's rows (at scale the bound count grows with the
    # corpus and each range stays file-sized).
    wm = Window.partitionBy("rp8").orderBy(
        F.col("shuf_e0").asc(), F.col("doc_id").asc()
    )
    out = out.withColumn(
        "mix_prev_same",
        F.coalesce(
            (F.col("source") == F.lag("source").over(wm)).cast("long"),
            F.lit(0).cast("long"),
        ),
    ).withColumn(
        "rp8_same_adj",
        F.sum("mix_prev_same").over(Window.partitionBy("rp8")).cast("long"),
    )
    # DATA-BUDGET PLANNER (the LLaMA-style mixture table): per-source epoch
    # allocation under a half-corpus char budget with a 4-epoch repeat cap,
    # derived from the FULL corpus, joined onto every sampled row
    from nyxus_spark.functions import budget_allocation

    plan = budget_allocation(docs, "n_chars", cap_epochs=4,
                             budget_num=1, budget_den=2)
    # HYPERLOGLOG per-source cardinality monitor (the at-scale stand-in for
    # COUNT(DISTINCT) on every monitoring tick): m=64 exact-integer
    # registers over the FULL corpus — the register state (present/V/Rmax/
    # S-numerator) is gated as exact bigints and the raw estimate as ONE
    # IEEE chain; hll_true (the exact distinct count) rides along so the
    # artifact itself shows the estimator envelope. A different mixer than
    # the sampling hash keeps the keep-filter uncorrelated with buckets.
    from nyxus_spark.functions import hll_merged_summary, hll_summary

    hll = hll_summary(docs, "source", "doc_id")
    true_cnt = docs.groupBy("source").agg(
        F.countDistinct("doc_id").cast("long").alias("hll_true")
    )
    # SKETCH MERGEABILITY gate: the same HLL computed as 4 per-shard
    # partial register tables merged by per-bucket MAX — the composition a
    # real cluster does (one sketch per split/day, merged centrally). The
    # oracle recomputes FROM SCRATCH, so equality proves the merge is
    # lossless, the property that makes the sketch usable at 100 TB.
    hllm = hll_merged_summary(docs, "source", "doc_id", shards=4).select(
        "source",
        F.col("hll_present").alias("hllm_present"),
        F.col("hll_v").alias("hllm_v"),
        F.col("hll_rmax").alias("hllm_rmax"),
        F.col("hll_snum").alias("hllm_snum"),
        F.col("hll_est4").alias("hllm_est4"),
    )
    # QUOTA sampling (exactly-k-per-source holdout selection): rank over the
    # FULL corpus on a different mixer than the sampling hash, joined onto
    # the sampled rows — each row carries its corpus-wide quota rank/keep
    from nyxus_spark.functions import quota_sample

    # mix=1103515245: the default mixer reduces to the SAME multiplier as
    # the sampling hash mod P31, which would make quota_rank a restatement
    # of order_e0 — a distinct mixer makes it an independent order
    quota = quota_sample(docs, k=40, mix=1103515245).select(
        "doc_id", "quota_rank", "quota_keep")
    # PRIORITY sampling (Duffield–Lund–Thorup): weighted-without-replacement
    # on n_chars over the FULL corpus — heavy docs near-certain, light docs
    # sampled, ŵ = max(w, τ) the unbiased subset-sum estimator; one exact
    # bigint numerator and ONE IEEE division per row (see priority_sample)
    from nyxus_spark.functions import priority_sample

    psamp = priority_sample(docs, k=10, weight_col="n_chars").select(
        "doc_id", "pri4", "pri_rank", "pri_keep", "pri_ht4")
    # LARGEST-REMAINDER apportionment (exactly-100 overall, proportional
    # per-source): floors + ranked remainders over the FULL corpus;
    # lr_keep composes it with the per-source quota rank, so exactly
    # Σ alloc_s = 100 docs are admitted corpus-wide
    from nyxus_spark.functions import largest_remainder_alloc

    lra = largest_remainder_alloc(docs, 100)
    # Z-ORDER layout key (Delta/Iceberg OPTIMIZE ZORDER analog): interleave
    # (source index, n_chars) bits → z32; the locality audit gates each
    # top-level z bucket's 2-D EXTENTS (a z range is a rectangle: bounded
    # n_chars AND source spread per bucket — the property that makes both
    # columns prunable after a z-sort)
    from nyxus_spark.functions import zorder_key

    si_sql = "cast(substring(source, 4) as bigint)"
    out = out.withColumn(
        "z32", zorder_key(si_sql, "cast(n_chars as bigint)", 16).cast("long")
    ).withColumn("zb", F.expr("z32 div 4096"))
    zext = out.groupBy("zb").agg(
        F.count("*").cast("long").alias("zb_rows"),
        F.min("n_chars").cast("long").alias("zb_n_min"),
        F.max("n_chars").cast("long").alias("zb_n_max"),
        F.min(F.expr(si_sql)).cast("long").alias("zb_src_min"),
        F.max(F.expr(si_sql)).cast("long").alias("zb_src_max"),
    )
    out = out.join(zext, "zb")
    # HILBERT-curve layout key over the SAME two dims (the stronger-locality
    # OPTIMIZE variant: consecutive keys are grid-adjacent, and each aligned
    # 4096-key bucket is an exact 64×64 SQUARE — both extents < 64, a
    # tighter pruning guarantee than the z-order rectangles gated above);
    # one xy2d rotate/flip fold per row, oracle-replayed per bit step
    from nyxus_spark.functions import hilbert_key

    out = out.withColumn(
        "h32", hilbert_key(si_sql, "cast(n_chars as bigint)", 16).cast("long")
    ).withColumn("hb", F.expr("h32 div 4096"))
    hext = out.groupBy("hb").agg(
        F.count("*").cast("long").alias("hb_rows"),
        F.min("n_chars").cast("long").alias("hb_n_min"),
        F.max("n_chars").cast("long").alias("hb_n_max"),
        F.min(F.expr(si_sql)).cast("long").alias("hb_src_min"),
        F.max(F.expr(si_sql)).cast("long").alias("hb_src_max"),
    )
    out = out.join(hext, "hb")
    fold_sizes = docs.select(
        cv_fold(F.col("doc_id"), 5).alias("cv_fold")
    ).groupBy("cv_fold").agg(
        F.count("*").cast("long").alias("cv_fold_rows")
    )
    # STRATIFIED k-fold: per-source round-robin over the shuffle-hash
    # order — every (source, fold) cell's size differs by ≤ 1 BY
    # CONSTRUCTION (the class-balanced CV split; plain cv_fold only
    # balances in expectation). st_fold is deterministic given the corpus;
    # the per-cell counts ride along as the balance audit.
    wst = Window.partitionBy("source").orderBy(
        epoch_shuffle_key(F.col("doc_id"), 0).asc(), F.col("doc_id").asc())
    stf = docs.select(
        "doc_id", "source",
        ((F.row_number().over(wst) - 1) % 5).cast("long").alias("st_fold"),
    )
    stf_sizes = stf.groupBy("source", "st_fold").agg(
        F.count("*").cast("long").alias("st_fold_rows"))
    stf = stf.join(stf_sizes, ["source", "st_fold"]).select(
        "doc_id", "st_fold", "st_fold_rows")
    # RENDEZVOUS (HRW) sharding — the consistent-sharding rule stateful
    # services route by: shard = argmax per-shard hash. Both the 8-shard
    # and 9-shard assignments ride the gate, so the MINIMAL-DISRUPTION law
    # (growing the fleet moves keys ONLY onto the new shard, never
    # laterally) is value-checked on every row: hrw_moved ≡ (s8 ≠ s9) and
    # any lateral move flips hrw_shard9 against the oracle's argmax.
    from nyxus_spark.functions import rendezvous_shard

    hrw = docs.select(
        "doc_id",
        rendezvous_shard("doc_id", 8).alias("hrw_shard"),
        rendezvous_shard("doc_id", 9).alias("hrw_shard9"),
    ).withColumn(
        "hrw_moved",
        (F.col("hrw_shard") != F.col("hrw_shard9")).cast("long"),
    )
    # wave 82 — LINCOLN–PETERSEN / CHAPMAN mark-recapture estimate of the
    # corpus universe from TWO independent deterministic samples (mixers
    # 2654435761 and 1103515245, rate 0.3 each): N̂_LP = n_a·n_b/m,
    # N̂_Chapman = (n_a+1)(n_b+1)/(m+1) − 1 (the small-sample-unbiased
    # form) — exact integer capture counts, one IEEE chain each; lp_true
    # rides along so the artifact itself shows the estimator envelope
    # (the same discipline as the HLL and CMS accuracy gates). The
    # estimator a crawl pipeline uses to size a universe it cannot
    # enumerate (distinct URLs/contents) from two cheap passes.
    # wave 86 — K-ANONYMITY / L-DIVERSITY privacy audit over the
    # quasi-identifier pair (source, n_chars div 100): every doc carries
    # its equivalence-class size (k), the class's distinct sensitive-value
    # count (lang — the l-diversity), and the k<5 / l<2 re-identification
    # risk flags — the privacy prescan a training-data release runs before
    # shipping. One hash agg on the QI pair + one co-partitioned join back;
    # all exact integers.
    anon = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.expr("n_chars div 100").alias("qi_bucket"),
        "lang",
    )
    kec = anon.groupBy("source", "qi_bucket").agg(
        F.count("*").cast("long").alias("ec_size"),
        F.countDistinct("lang").cast("long").alias("ec_ldiv"),
    )
    ka = anon.join(kec, ["source", "qi_bucket"]).select(
        "doc_id", "qi_bucket", "ec_size", "ec_ldiv",
        (F.col("ec_size") < 5).cast("long").alias("k_risk"),
        (F.col("ec_ldiv") < 2).cast("long").alias("l_risk"),
    )
    # wave 88 — QUANTILE NORMALIZATION of n_chars across sources (the
    # batch-effect correction: map each source's empirical distribution
    # onto the POOLED distribution): r-th of n_s in its source maps to the
    # pooled sorted value at index ((r−1)(N−1)) div (n_s−1) + 1 — every
    # step an exact integer RANK SELECTION, no interpolation, so the
    # normalized value is an element pick both engines make identically
    # (the value at a rank is tie-order-invariant). Global rank window is
    # over the documents dim; at corpus scale this becomes
    # repartitionByRange + per-partition offsets (exact_range_bounds).
    wqs = Window.partitionBy("source").orderBy(
        F.col("n_chars").asc(), F.col("doc_id").asc())
    wqg = Window.orderBy(F.col("n_chars").asc(), F.col("doc_id").asc())
    qng = docs.select(
        "doc_id", "source", "n_chars",
        F.row_number().over(wqs).cast("long").alias("qn_rank"),
        F.count("*").over(Window.partitionBy("source")).cast("long")
        .alias("__ns"),
        F.count("*").over(Window.partitionBy()).cast("long").alias("__nn"),
        F.row_number().over(wqg).cast("long").alias("__g"),
    )
    qnt = qng.withColumn(
        "qn_tgt",
        F.expr("CASE WHEN __ns > 1 THEN"
               " ((qn_rank - 1) * (__nn - 1)) div (__ns - 1) + 1"
               " ELSE (__nn + 1) div 2 END"),
    )
    qnv = qng.select(F.col("__g").alias("qn_tgt"),
                     F.col("n_chars").cast("long").alias("qn_value"))
    qn = qnt.join(qnv, "qn_tgt").select(
        "doc_id", "qn_rank", "qn_tgt", "qn_value")
    # wave 104 — SAMPLING-INFRASTRUCTURE SELF-AUDITS. (a) epoch-shuffle
    # DECORRELATION: Spearman between the epoch-0 and epoch-1 training
    # orders — both are exact permutations of 1..N, so the margins are
    # equal and ρ = (N·Σuv − ΣuΣv)/(N·Σu² − (Σu)²) is ONE exact rational
    # (no sqrt!) that must sit near 0 for a healthy shuffle. (b) hash
    # AVALANCHE: mean popcount of h(id) XOR h(id+1) over successive-id
    # pairs (≈ 15.5 for a well-mixing 31-bit hash) — exact integer bit
    # counts, one division; the quality audit for the mixers every
    # sampling decision in this repo rides on.
    shk = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        epoch_shuffle_key(F.col("doc_id"), 0).alias("__k0"),
        epoch_shuffle_key(F.col("doc_id"), 1).alias("__k1"),
    )
    wk0 = Window.orderBy(F.col("__k0").asc(), F.col("doc_id").asc())
    wk1 = Window.orderBy(F.col("__k1").asc(), F.col("doc_id").asc())
    shr = shk.select(
        F.row_number().over(wk0).cast("long").alias("u"),
        F.row_number().over(wk1).cast("long").alias("v"),
    )
    shs = shr.agg(
        F.count("*").cast("long").alias("__n"),
        F.sum("u").cast("long").alias("__su"),
        F.sum(F.col("u") * F.col("u")).cast("long").alias("__suu"),
        F.sum(F.col("u") * F.col("v")).cast("long").alias("__suv"),
    )
    sdec = shs.select(
        (F.col("__n") * F.col("__suv") - F.col("__su") * F.col("__su"))
        .cast("long").alias("sd_num"),
        (F.col("__n") * F.col("__suu") - F.col("__su") * F.col("__su"))
        .cast("long").alias("sd_den"),
    ).select(
        "sd_num", "sd_den",
        _r4(F.col("sd_num").cast("double") / F.col("sd_den").cast("double"))
        .alias("shuffle_decorr4"),
    )
    _hv = F.pmod(
        (F.col("doc_id").cast("bigint") % 2147483647) * F.lit(506952114),
        F.lit(2147483647),
    )
    hvd = load_table(spark, sf_dir, "documents").select(
        "doc_id", _hv.alias("__h"))
    ava = (
        hvd.alias("a")
        .join(hvd.alias("b"),
              F.col("b.doc_id") == F.col("a.doc_id") + 1)
        .agg(
            F.count("*").cast("long").alias("av_pairs"),
            F.sum(F.expr("bit_count(a.__h ^ b.__h)")).cast("long")
            .alias("av_bits"),
        )
        .select(
            "av_pairs", "av_bits",
            _r4(F.col("av_bits").cast("double")
                / F.col("av_pairs").cast("double")).alias("av_mean4"),
        )
    )
    # wave 97 — deterministic MULTIPLIER BOOTSTRAP (the one-pass
    # Poisson-bootstrap shape production systems use at scale: per-row
    # independent weights, no resampling pass): 8 replicates with weights
    # w_b = ((id mod P31)·M_b mod P31) mod 3 ∈ {0,1,2} (E[w]=1),
    # replicate means Σw·x/Σw from exact integer sums, m̄ and Σ(m_b−m̄)²
    # as ORDERED index-literal folds (the pure-add class — the list IS
    # the order), SE = sqrt(S/(B−1)) one chain. Integer anchors for
    # replicate 0 gate the weighting itself.
    _p31 = 2147483647
    _hid = F.col("doc_id").cast("bigint") % _p31
    _bs_cols = []
    for _b, _M in enumerate(_BS_M):
        _w = ((_hid * F.lit(_M)) % _p31) % 3
        _bs_cols.append(
            F.sum(_w * F.col("n_chars")).cast("long").alias(f"__bs_s{_b}"))
        _bs_cols.append(F.sum(_w).cast("long").alias(f"__bs_w{_b}"))
    bsa = docs.agg(*_bs_cols).withColumn(
        "__marr",
        F.array(*[
            F.col(f"__bs_s{b}").cast("double")
            / F.col(f"__bs_w{b}").cast("double")
            for b in range(8)
        ]),
    ).withColumn(
        "__mbar",
        F.expr("aggregate(__marr, 0D, (p, q) -> p + q)") / F.lit(8),
    ).withColumn(
        "__S",
        F.expr("aggregate(transform(__marr,"
               " x -> (x - __mbar) * (x - __mbar)), 0D, (p, q) -> p + q)"),
    )
    bs = bsa.select(
        F.col("__bs_s0").alias("bs_s0"),
        F.col("__bs_w0").alias("bs_w0"),
        _r4(F.col("__mbar")).alias("bs_mean4"),
        _r4(F.sqrt(F.col("__S") / F.lit(7))).alias("bs_se4"),
    )
    sa = deterministic_sample(docs, 0.3, F.col("doc_id")).select("doc_id")
    sb = deterministic_sample(
        docs, 0.3, F.col("doc_id"), mix=1103515245).select("doc_id")
    lpj = sa.select("doc_id", F.lit(1).alias("__a")).join(
        sb.select("doc_id", F.lit(1).alias("__b")), "doc_id", "full")
    lp = lpj.agg(
        F.sum(F.coalesce("__a", F.lit(0))).cast("long").alias("lp_na"),
        F.sum(F.coalesce("__b", F.lit(0))).cast("long").alias("lp_nb"),
        F.sum(F.coalesce("__a", F.lit(0)) * F.coalesce("__b", F.lit(0)))
        .cast("long").alias("lp_m"),
    ).crossJoin(
        F.broadcast(docs.agg(F.count("*").cast("long").alias("lp_true")))
    ).select(
        "lp_na", "lp_nb", "lp_m", "lp_true",
        F.when(
            F.col("lp_m") > 0,
            _r4((F.col("lp_na") * F.col("lp_nb")) / F.col("lp_m")),
        ).otherwise(F.lit(0.0)).alias("lp_est4"),
        _r4(
            ((F.col("lp_na") + 1) * (F.col("lp_nb") + 1))
            / (F.col("lp_m") + 1) - 1
        ).alias("lp_chap4"),
    )
    # wave 129 — BOTTOM-K sketch per source (the THIRD mergeable
    # distinct-count sketch beside the HLL registers and the MinHash
    # corpus signature): keep the k = 8 smallest (id·MIX mod P31) hash
    # values per source; D̂ = (k−1)·P31/h_(k) is ONE division of exact
    # integers. Mergeability gated structurally: the same h_(k) is
    # RE-DERIVED from two per-shard (id parity) bottom-8 partials merged
    # and re-ranked — min-k of a union equals the merge of min-k's, the
    # property that makes the sketch shard-safe; both paths must agree.
    bkh = F.pmod(
        (F.col("doc_id").cast("bigint") % F.lit(2147483647))
        * F.lit(506952114), F.lit(2147483647))
    wbk = Window.partitionBy("source").orderBy(F.col("__bh").asc())
    bkd = docs.select("doc_id", "source").withColumn("__bh", bkh)
    bk1 = (
        bkd.withColumn("__r", F.row_number().over(wbk))
        .filter(F.col("__r") <= 8)
        .groupBy("source")
        .agg(F.max("__bh").cast("long").alias("bk_h8"),
             F.count("*").cast("long").alias("bk_k"))
    )
    shard_bottom = (
        bkd.withColumn("__sh", (F.col("doc_id") % 2).cast("int"))
        .withColumn(
            "__r",
            F.row_number().over(
                Window.partitionBy("source", "__sh")
                .orderBy(F.col("__bh").asc())),
        )
        .filter(F.col("__r") <= 8)
    )
    bk2 = (
        shard_bottom.withColumn(
            "__r2", F.row_number().over(wbk))
        .filter(F.col("__r2") <= 8)
        .groupBy("source")
        .agg(F.max("__bh").cast("long").alias("bk_merge_h8"))
    )
    bks = bk1.join(bk2, "source").withColumn(
        "bk_est4",
        F.when(
            (F.col("bk_k") >= 8) & (F.col("bk_h8") > 0),
            _r4((7.0 * 2147483647.0)
                / F.col("bk_h8").cast("double")),
        ).otherwise(F.lit(-1.0)),
    )
    # wave 122 — NESTED-SAMPLE estimator STABILITY audit (validate the
    # estimate-on-a-sample workflow): the 20% sample's mean n_chars vs the
    # NESTED 10% and 5% sub-samples on the SAME hash (nesting is free —
    # the hash order is shared, so each cut is a prefix of the last).
    # Drift numerators are the cross-multiplied exact ints
    # |S_a·C_b − S_b·C_a| (zero iff the two means are identical); means
    # land as ONE division each. A drifting pair says the metric has not
    # stabilized at that sample size.
    c10 = F.col("shuf_e0") < int(2147483647 * 0.1)
    c05 = F.col("shuf_e0") < int(2147483647 * 0.05)
    nst = out.agg(
        F.sum("n_chars").cast("long").alias("ns_s20"),
        F.count("*").cast("long").alias("ns_c20"),
        F.sum(F.when(c10, F.col("n_chars")).otherwise(F.lit(0)))
        .cast("long").alias("ns_s10"),
        F.sum(c10.cast("long")).cast("long").alias("ns_c10"),
        F.sum(F.when(c05, F.col("n_chars")).otherwise(F.lit(0)))
        .cast("long").alias("ns_s05"),
        F.sum(c05.cast("long")).cast("long").alias("ns_c05"),
    ).select(
        "*",
        F.abs(F.col("ns_s10") * F.col("ns_c20")
              - F.col("ns_s20") * F.col("ns_c10")).cast("long")
        .alias("ns_drift10"),
        F.abs(F.col("ns_s05") * F.col("ns_c10")
              - F.col("ns_s10") * F.col("ns_c05")).cast("long")
        .alias("ns_drift05"),
        _r4(F.col("ns_s20").cast("double")
            / F.col("ns_c20").cast("double")).alias("ns_mean20_4"),
        F.when(
            F.col("ns_c10") > 0,
            _r4(F.col("ns_s10").cast("double")
                / F.col("ns_c10").cast("double")),
        ).otherwise(F.lit(0.0)).alias("ns_mean10_4"),
        F.when(
            F.col("ns_c05") > 0,
            _r4(F.col("ns_s05").cast("double")
                / F.col("ns_c05").cast("double")),
        ).otherwise(F.lit(0.0)).alias("ns_mean05_4"),
    )
    return (
        out.join(plan, "source")
        .join(hll, "source")
        .join(true_cnt, "source")
        .join(hllm, "source")
        .join(quota, "doc_id")
        .join(psamp, "doc_id")
        .join(fold_sizes, "cv_fold")
        .join(stf, "doc_id")
        .join(lra, "source")
        .join(hrw, "doc_id")
        .join(ka, "doc_id")
        .join(qn, "doc_id")
        .crossJoin(F.broadcast(lp))
        .crossJoin(F.broadcast(bs))
        .crossJoin(F.broadcast(sdec))
        .crossJoin(F.broadcast(ava))
        .crossJoin(F.broadcast(nst))
        .join(F.broadcast(bks), "source")
        .withColumn("in_s10", c10.cast("long"))
        .withColumn("in_s05", c05.cast("long"))
        .withColumn(
            "lr_keep",
            (F.col("quota_rank") <= F.col("lr_alloc")).cast("long"),
        )
    )


def _q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization (corpus-shrinking preprocessing
    before ANN indexing): q_i = floor(127·x_i/max|x| + 0.5) — element-wise
    IEEE ops with a comparison-based scale, bit-identical across engines.
    Per-vector integer checksums gate every quantized value."""
    _prep(spark)
    from pyspark.sql import functions as F

    from nyxus_spark.operators.similarity import quantize_embedding
    from nyxus_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select("vec_id", quantize_embedding("embedding").alias("q"))
    # Matryoshka-style truncation audit: how much of each vector's energy
    # the first 32 of 64 dims retain — exact integer norms, ONE division
    n2 = F.expr(
        "aggregate(transform(q, x -> cast(x as bigint) * cast(x as bigint)),"
        " 0L, (a, v) -> a + v)"
    )
    head_n2 = F.expr(
        "aggregate(transform(slice(q, 1, 32),"
        " x -> cast(x as bigint) * cast(x as bigint)),"
        " 0L, (a, v) -> a + v)"
    )
    per_vec = q.select(
        "vec_id",
        F.size("q").cast("long").alias("n_dims"),
        F.aggregate("q", F.lit(0).cast("long"), lambda a, x: a + x).alias("q_sum"),
        F.array_min("q").cast("long").alias("q_min"),
        F.array_max("q").cast("long").alias("q_max"),
        n2.alias("q_n2"),
        head_n2.alias("q_head_n2"),
        F.when(
            n2 > 0, _r4(head_n2.cast("double") / n2.cast("double"))
        ).otherwise(F.lit(-1.0)).alias("q_head_frac4"),
    )
    # one exact Lloyd iteration (IVF coarse-quantizer training) over the
    # quantized corpus, seeded by the first 8 vectors; the per-(cluster, dim)
    # sums roll back up per vector's assigned cluster so the gate stays one
    # row per vec_id
    from nyxus_spark.operators.similarity import kmeans_step

    seeds = q.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cent_id"), F.col("q").alias("cent_qvec")
    )
    step = kmeans_step(q, seeds, vec_col="q")
    cluster_rollup = step.groupBy("assigned_cent").agg(
        F.max("n").alias("cl_n"),
        F.sum("coord_sum").alias("cl_sum"),
        F.sum(F.col("dim").cast("bigint") * F.col("coord_sum")).alias("cl_moment"),
    )
    # re-derive each vector's assignment (same exact argmin) to attach its
    # cluster's update summary
    d2 = F.expr(
        "aggregate(zip_with(q, cent_qvec, (x, y) -> cast(x - y as bigint) * (x - y)),"
        " 0L, (a, v) -> a + v)"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("vec_id").orderBy(F.col("__d").asc(), F.col("cent_id").asc())
    avec = (
        q.crossJoin(F.broadcast(seeds))
        .select("vec_id", F.col("cent_id"), d2.alias("__d"))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("vec_id", F.col("cent_id").cast("long").alias("assigned_cent"), F.col("__d").alias("d2"))
    )
    # per-cluster INERTIA (within-cluster SSE) — the k-means quality/elbow
    # metric, an exact BIGINT sum of the exact int64 distances
    inertia = avec.groupBy("assigned_cent").agg(
        F.sum("d2").cast("long").alias("cl_inertia")
    )
    # wave 126 — LLOYD-STEP centroid SHIFT (the k-means convergence
    # monitor): ‖new_mean − seed‖² with the division cleared — shift_num =
    # Σ_dim (coord_sum_d − n·seed_d)² (exact BIGINT), the per-cluster
    # magnitude shift4 = √shift_num / n one sqrt + ONE division. Zero ⇒
    # the cluster has converged in one step; the per-iteration progress
    # number an IVF trainer tracks.
    seedd = seeds.select(
        F.col("cent_id").alias("assigned_cent"),
        F.posexplode("cent_qvec").alias("dim", "__sv"),
    )
    shift = (
        step.join(seedd, ["assigned_cent", "dim"])
        .groupBy("assigned_cent")
        .agg(
            F.max("n").cast("long").alias("__n2"),
            F.sum(
                (F.col("coord_sum").cast("long")
                 - F.col("n").cast("long") * F.col("__sv"))
                * (F.col("coord_sum").cast("long")
                   - F.col("n").cast("long") * F.col("__sv"))
            ).cast("long").alias("shift_num"),
        )
        .select(
            "assigned_cent", "shift_num",
            F.when(
                F.col("__n2") > 0,
                _r4(F.sqrt(F.col("shift_num").cast("double"))
                    / F.col("__n2").cast("double")),
            ).otherwise(F.lit(0.0)).alias("shift4"),
        )
    )
    # PRODUCT-QUANTIZATION encode (the beyond-IVF memory-scale ANN path):
    # 4 subspaces × 16 dims, codebooks = the 8 seed vectors' subvectors,
    # exact int64 argmin per subspace — every code and the total distortion
    # re-derived from scratch by the oracle.
    from nyxus_spark.operators.similarity import pq_encode

    books = q.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").cast("int").alias("cent_id"),
        F.posexplode(F.expr(
            "transform(sequence(0, 3),"
            " j -> slice(q, j * (size(q) div 4) + 1, size(q) div 4))"
        )).alias("sub_id", "cent_sub"),
    )
    pq = pq_encode(q, books, m=4, vec_col="q").select(
        "vec_id",
        *[F.element_at("pq_codes", j + 1).cast("long").alias(f"pq_code_{j}")
          for j in range(4)],
        F.col("pq_d2").cast("long").alias("pq_d2"),
    )
    # Johnson–Lindenstrauss random projection (deterministic Achlioptas ±1
    # sign matrix derived by hash): 64 → 8 dims, every output an EXACT
    # BIGINT (integer sum — order-independent), the width-reduction pass
    # before sketching/bucketing. Pure per-row map, zero shuffle.
    from nyxus_spark.operators.similarity import random_project

    rp = random_project(q, d_out=8, vec_col="q")
    # greedy k-center (farthest-point-first) coreset selection: k=4 exact
    # int64 centers + per-vector nearest-center assignment — the diversity
    # sampling primitive beside the k-means density one above (k-1 ONE-row
    # driver probes, then a single literal-center scan; similarity.py)
    from nyxus_spark.operators.similarity import greedy_kcenter

    kc = greedy_kcenter(q.select("vec_id", F.col("q").alias("qv")), k=4)
    # wave 84 — MATRYOSHKA truncated-RETRIEVAL audit (Kusupati et al.; the
    # prefix-dim ANN serving trick): top-5 of query 0 by the EXACT int64
    # 16-dim-prefix dot vs the full 64-dim dot — per-vector membership
    # flags in both lists and the corpus overlap@5 constant. The energy
    # fraction above says what the prefix RETAINS; this says what retrieval
    # it LOSES. Whole-corpus rank window is over the embeddings DIM table
    # (at corpus scale the per-partition pre-top-k combine in
    # similarity._partition_topk is the shape to swap in).
    q0 = q.filter(F.col("vec_id") == 0).select(F.col("q").alias("q0"))
    dots = q.crossJoin(F.broadcast(q0)).select(
        "vec_id",
        F.expr(
            "aggregate(zip_with(q, q0, (a, b) -> cast(a as bigint) * b),"
            " 0L, (s, x) -> s + x)"
        ).alias("__df"),
        F.expr(
            "aggregate(zip_with(slice(q, 1, 16), slice(q0, 1, 16),"
            " (a, b) -> cast(a as bigint) * b), 0L, (s, x) -> s + x)"
        ).alias("__d16"),
    )
    wmf = Window.orderBy(F.col("__df").desc(), F.col("vec_id").asc())
    wmt = Window.orderBy(F.col("__d16").desc(), F.col("vec_id").asc())
    mat = dots.select(
        "vec_id",
        (F.row_number().over(wmf) <= 5).cast("long").alias("mat_full5"),
        (F.row_number().over(wmt) <= 5).cast("long").alias("mat_trunc5"),
    )
    mov = mat.agg(
        F.sum(F.col("mat_full5") * F.col("mat_trunc5")).cast("long")
        .alias("mat_overlap5")
    )
    # wave 117 — EXTERNAL clustering evaluation against the ground-truth
    # label column: per-cluster PURITY (majority-label mass / cluster size,
    # exact ints + ONE division) and the corpus pair-counting RAND INDEX
    # between the k-means-cell assignment and the labels — with ordered
    # pair counts P(x) = x(x−1): RI = (P_N + 2·ΣP(n_kl) − ΣP(n_k) −
    # ΣP(m_l)) / P_N, every term an exact BIGINT, ONE final division.
    # The "is the coarse quantizer learning the label structure" audit.
    labs = emb.select("vec_id", F.col("label").cast("long").alias("__lab"))
    cmx = avec.join(labs, "vec_id").groupBy("assigned_cent", "__lab").agg(
        F.count("*").cast("long").alias("__nkl"))
    pur = cmx.groupBy("assigned_cent").agg(
        F.max("__nkl").cast("long").alias("cl_pure_cnt"))
    pa_ = cmx.agg(F.sum(F.col("__nkl") * (F.col("__nkl") - 1))
                  .cast("long").alias("__pa"))
    pc_ = (cmx.groupBy("assigned_cent")
           .agg(F.sum("__nkl").alias("__nk"))
           .agg(F.sum(F.col("__nk") * (F.col("__nk") - 1))
                .cast("long").alias("__pc")))
    pl_ = (labs.groupBy("__lab")
           .agg(F.count("*").cast("long").alias("__ml"))
           .agg(F.sum(F.col("__ml") * (F.col("__ml") - 1))
                .cast("long").alias("__pl")))
    pn_ = labs.agg(F.count("*").cast("long").alias("__N"))
    # wave 117b — ADJUSTED Rand (chance-corrected) + FOWLKES–MALLOWS on
    # the same exact pair counts, in UNORDERED C(x,2) = P(x)/2 terms
    # (every P is even): ARI = (C_T·C_A − C_k·C_l) / (C_T·(C_k+C_l)/2 −
    # C_k·C_l) — both sides exact BIGINTs, ONE division; FM = C_A /
    # sqrt(C_k·C_l), one correctly-rounded sqrt of an exact product.
    # integer `div` (not double `/` + cast): keeps the counts exact past
    # 2^53 and matches the DuckDB oracle's `// 2` arithmetic path (ADVICE r4)
    ca = F.expr("__pa div 2")
    ck = F.expr("__pc div 2")
    cl_ = F.expr("__pl div 2")
    ct_ = F.expr("(__N * (__N - 1)) div 2")
    ri = (
        pa_.crossJoin(pc_).crossJoin(pl_).crossJoin(pn_)
        .select(
            (F.col("__N") * (F.col("__N") - 1) + 2 * F.col("__pa")
             - F.col("__pc") - F.col("__pl")).cast("long").alias("rand_num"),
            (F.col("__N") * (F.col("__N") - 1)).cast("long")
            .alias("rand_den"),
            (2 * (ct_ * ca - ck * cl_)).cast("long").alias("ari_num"),
            (ct_ * (ck + cl_) - 2 * ck * cl_).cast("long").alias("ari_den"),
            F.when(
                ck * cl_ > 0,
                _r4(ca.cast("double") / F.sqrt((ck * cl_).cast("double"))),
            ).otherwise(F.lit(-1.0)).alias("fm4"),
        )
        .withColumn(
            "rand4",
            _r4(F.col("rand_num").cast("double")
                / F.col("rand_den").cast("double")),
        )
        .withColumn(
            "ari4",
            F.when(
                F.col("ari_den") != 0,
                _r4(F.col("ari_num").cast("double")
                    / F.col("ari_den").cast("double")),
            ).otherwise(F.lit(0.0)),
        )
    )
    return (
        per_vec.join(avec, "vec_id")
        .join(cluster_rollup, "assigned_cent")
        .join(inertia, "assigned_cent")
        .join(pq, "vec_id")
        .join(rp, "vec_id")
        .join(kc, "vec_id")
        .join(mat, "vec_id")
        .crossJoin(F.broadcast(mov))
        .join(shift, "assigned_cent")
        .join(pur, "assigned_cent")
        .crossJoin(F.broadcast(ri))
        .withColumn(
            "cl_purity4",
            _r4(F.col("cl_pure_cnt").cast("double")
                / F.col("cl_n").cast("double")),
        )
        .select(
            "vec_id", "n_dims", "q_sum", "q_min", "q_max",
            "q_n2", "q_head_n2", "q_head_frac4",
            "assigned_cent", "d2", "cl_n", "cl_sum", "cl_moment", "cl_inertia",
            "pq_code_0", "pq_code_1", "pq_code_2", "pq_code_3", "pq_d2",
            *[f"rp_{j}" for j in range(8)],
            "kc_cent", "kc_d",
            "mat_full5", "mat_trunc5", "mat_overlap5",
            "cl_pure_cnt", "cl_purity4", "rand_num", "rand_den", "rand4",
            "ari_num", "ari_den", "ari4", "fm4",
            "shift_num", "shift4",
        )
    )


def _q_chunk_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window composition: 32/8 overlap chunking (narrow posexplode,
    no shuffle) joined with shard-local concat-then-chunk sequence PACKING —
    driven through the STREAMING packer (streaming/pack.py: per-shard
    running-offset GroupState over two id-split micro-batches, so the
    second batch's offsets are only right via the state carry). The batch
    packer (operators/packing.py) computes the identical assignment — the
    stream-vs-batch parity test pins that — and the DuckDB oracle replays
    the window-cumsum arithmetic, so the streaming operator itself sits
    under the value gate."""
    _prep(spark)
    import os
    import tempfile

    from pyspark.sql import functions as F

    from nyxus_spark.functions import chunk_tokens
    from nyxus_spark.operators.packing import shard_expr
    from nyxus_spark.sources import tokens_static
    from nyxus_spark.streaming import pack_stream
    from nyxus_spark.streaming.pack import PACK_IN_SCHEMA

    t = tokens_static(spark, sf_dir)
    ch = chunk_tokens(t, size=32, overlap=8).select(
        "doc_id",
        "chunk_id",
        "chunk_len",
        F.aggregate(
            "chunk_tokens", F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("chunk_sum"),
    )
    oid = F.expr("cast(substr(doc_id, 5) as bigint)")
    docs = t.filter(F.col("n_tok") > 0).select(
        shard_expr(oid, 8).alias("pack_shard"),
        "doc_id",
        oid.alias("oid"),
        F.col("n_tok").cast("long").alias("n_tok"),
    )
    split_oid = docs.approxQuantile("oid", [0.5], 0.0)[0]
    stream_dir = tempfile.mkdtemp(prefix="nyxus_pack_stream_")
    f0 = os.path.join(stream_dir, "part-000.parquet")
    f1 = os.path.join(stream_dir, "part-001.parquet")
    # id-ranged files: every shard's documents arrive in id order across the
    # two micro-batches (the streaming packer's ordering contract)
    docs.filter(F.col("oid") <= split_oid).toPandas().to_parquet(f0)
    docs.filter(F.col("oid") > split_oid).toPandas().to_parquet(f1)
    os.utime(f0, (1_000_000, 1_000_000))
    os.utime(f1, (2_000_000, 2_000_000))
    src = (
        spark.readStream.schema(PACK_IN_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    q = (
        pack_stream(src, capacity=128)
        .writeStream.format("memory")
        .queryName("pack_stream_gate")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    pk = spark.sql(
        "SELECT doc_id, pack_shard, pack_start, pack_first, pack_last,"
        "       pack_spans, pack_head_fill FROM pack_stream_gate"
    )
    # CONTENT-DEFINED chunking + chunk-level dedup (the shift-robust pass):
    # boundary rule replayed term-for-term by the oracle; per-doc chunk
    # count, corpus-wide first-occurrence keeps, and the kept token mass
    # pin every boundary decision AND every dedup decision.
    from nyxus_spark.operators.dedup import cdc_chunks

    cdc = (
        cdc_chunks(t, div=16)
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("cdc_n"),
            F.sum("cdc_kept").cast("long").alias("cdc_kept_n"),
            F.sum(F.col("cdc_sum") * F.col("cdc_kept")).cast("long")
            .alias("cdc_kept_sum"),
        )
    )
    # PACKING EFFICIENCY (the padding-waste metric): per shard, total
    # tokens = max running offset, pack count from the last offset, waste
    # = capacity·packs − tokens, fill = ONE exact division under fround4.
    # Joined onto every row of the shard, replayed from the oracle's own
    # cumulative-sum CTE.
    from nyxus_spark.compare import fround4 as _f4

    pkj = pk.select(
        "doc_id", F.col("pack_shard").alias("__ps"), "pack_start"
    ).join(docs.select("doc_id", "n_tok"), "doc_id")
    sh = (
        pkj.groupBy("__ps")
        .agg(F.max(F.col("pack_start") + F.col("n_tok")).alias("shard_tokens"))
        .withColumn("shard_packs", F.expr("(shard_tokens - 1) div 128 + 1"))
        .withColumn("shard_waste", F.col("shard_packs") * 128 - F.col("shard_tokens"))
        .withColumn(
            "shard_fill4",
            _f4(F.col("shard_tokens").cast("double")
                / (F.col("shard_packs") * 128).cast("double")),
        )
        .withColumnRenamed("__ps", "pack_shard")
    )
    # PACK SEGMENTS (the trainer-facing inversion of the packer: per-(doc,
    # pack) attention segments with in-pack offset, token count, and the
    # within-pack ordinal). Per-doc conservation (pseg_sum = n_tok), an
    # offset digest pinning every boundary, the doc's first-pack ordinal
    # (pins the seg_idx window order), and the first pack's segment count
    # and fill — all exact bigints the oracle re-derives from its own
    # cumulative-sum CTE.
    from nyxus_spark.operators.packing import pack_segments

    seg_in = pk.join(docs.select("doc_id", "n_tok"), "doc_id")
    psegs = pack_segments(seg_in, 128)
    pdoc = psegs.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("pseg_n"),
        F.sum("seg_len").cast("long").alias("pseg_sum"),
        F.sum((F.col("seg_pack") * 131 + F.col("seg_off")) * F.col("seg_len"))
        .cast("long").alias("pseg_digest"),
    )
    pidx = psegs.filter(F.col("seg_pack") == F.col("pack_first")).select(
        "doc_id", F.col("seg_idx").alias("pseg_idx0")
    )
    pgrp = (
        psegs.select(
            F.col("pack_shard").alias("__fpsh"),
            F.col("seg_pack").alias("__fppk"),
            "seg_len",
        )
        .groupBy("__fpsh", "__fppk")
        .agg(
            F.count("*").cast("long").alias("fp_segs"),
            F.sum("seg_len").cast("long").alias("fp_fill"),
            # wave 106 — block-diagonal ATTENTION-FLOPs audit: Σ seg_len²
            # (the cost under per-doc attention masks) vs the full 128²
            # window; fl_save4 = the compute fraction the mask removes —
            # the trainer-facing payoff of segment-aware packing.
            F.sum(F.col("seg_len") * F.col("seg_len")).cast("long")
            .alias("fl_block"),
        )
        .withColumn(
            "fl_save4",
            _r4(1.0 - F.col("fl_block") / F.lit(16384.0)),
        )
    )
    fp = (
        seg_in.select("doc_id", "pack_shard", "pack_first")
        .join(
            pgrp,
            (F.col("pack_shard") == F.col("__fpsh"))
            & (F.col("pack_first") == F.col("__fppk")),
        )
        .select("doc_id", "fp_segs", "fp_fill", "fl_block", "fl_save4")
    )
    # LENGTH-BUCKET batching stats (the dynamic-batching alternative to
    # packing: pad each doc to the next power of two): per-doc bucket +
    # padding waste, and the per-bucket fill rate — exact ints, ONE
    # division. The pow-2 bucket is bit arithmetic (shiftleft of the
    # bit-length), replayed identically by DuckDB's bin()/<<.
    lb = docs.select(
        "doc_id",
        F.expr(
            "CASE WHEN n_tok <= 1 THEN n_tok"
            " ELSE shiftleft(1L, length(bin(n_tok - 1))) END"
        ).alias("len_bucket"),
        "n_tok",
    ).withColumn("pad_waste", F.col("len_bucket") - F.col("n_tok"))
    bstats = (
        lb.groupBy("len_bucket")
        .agg(
            F.count("*").cast("long").alias("bucket_docs"),
            F.sum("n_tok").cast("long").alias("__bmass"),
        )
        .withColumn(
            "bucket_fill4",
            _f4(F.col("__bmass").cast("double")
                / (F.col("len_bucket") * F.col("bucket_docs")).cast("double")),
        )
        .drop("__bmass")
    )
    lbj = lb.select("doc_id", "len_bucket", "pad_waste").join(bstats, "len_bucket")
    # FIRST-FIT-DECREASING document-integrity packing (the third trainer
    # layout beside concat-then-chunk and pow-2 padding: every doc whole in
    # ONE window): the greedy fold runs as a shard-local Catalyst
    # aggregate(), the oracle replays it one document per RECURSIVE-CTE
    # step (the LZ78 replay class) — bin id, bin final load, and the
    # shard's bin count gated per doc
    from nyxus_spark.operators.packing import pack_ffd

    ffd = pack_ffd(
        t.filter(F.col("n_tok") > 0), 128, oid, n_shards=8
    ).select("doc_id", F.col("ffd_bin").cast("long").alias("ffd_bin"),
             "ffd_load", "ffd_bins")
    # LPT SCHEDULING (Graham's least-loaded greedy, the straggler balancer
    # — the reference's per-ROI thread scheduler shape): docs in
    # (len DESC, id ASC) order onto 8 workers, oracle-replayed one item per
    # recursion step; worker id, worker final load, and the makespan gated
    from nyxus_spark.operators.packing import lpt_assign

    lpt = lpt_assign(t.filter(F.col("n_tok") > 0), 8, oid).select(
        "doc_id",
        F.col("lpt_worker").cast("long").alias("lpt_worker"),
        "lpt_load", "lpt_makespan",
    )
    # wave 98 — FILL-IN-THE-MIDDLE transform audit (Bavarian et al. — the
    # infilling data transform code models train on): two DETERMINISTIC
    # split points p1 ≤ p2 from independent id hashes (p1 = h1 mod (n+1),
    # p2 = p1 + h2 mod (n−p1+1) — always a valid 3-way split), the PSM
    # reorder prefix‖suffix‖middle materialized as array ops, and a
    # position-weighted checksum of the REORDERED stream (fully
    # order-sensitive: any mis-split or mis-reorder flips it). Pure narrow
    # exprs — no shuffle.
    _p31f = 2147483647
    fimh1 = F.pmod((F.col("__oid") % _p31f) * F.lit(506952114), F.lit(_p31f))
    fimh2 = F.pmod((F.col("__oid") % _p31f) * F.lit(1103515245),
                   F.lit(_p31f))
    fim = (
        t.filter(F.col("n_tok") > 0)
        .select(
            "doc_id", "tokens",
            F.col("n_tok").cast("long").alias("__n"),
            oid.alias("__oid"),
        )
        .withColumn("fim_p1", (fimh1 % (F.col("__n") + 1)).cast("long"))
        .withColumn(
            "fim_p2",
            (F.col("fim_p1")
             + F.pmod(fimh2, F.col("__n") - F.col("fim_p1") + 1))
            .cast("long"),
        )
        .withColumn(
            "__psm",
            F.expr(
                "concat(slice(tokens, 1, cast(fim_p1 as int)),"
                " slice(tokens, cast(fim_p2 + 1 as int),"
                "       cast(__n - fim_p2 as int)),"
                " slice(tokens, cast(fim_p1 + 1 as int),"
                "       cast(fim_p2 - fim_p1 as int)))"
            ),
        )
        .select(
            "doc_id", "fim_p1", "fim_p2",
            (F.col("__n") - F.col("fim_p2")).cast("long").alias("fim_suf"),
            F.expr(
                "aggregate(zip_with(__psm, sequence(1L, size(__psm)),"
                " (tk, i) -> cast(tk as bigint) * i), 0L,"
                " (a, x) -> a + x) % 1000003"
            ).cast("long").alias("fim_ck"),
        )
    )
    return (
        ch.join(pk, "doc_id").join(cdc, "doc_id").join(sh, "pack_shard")
        .join(lbj, "doc_id")
        .join(pdoc, "doc_id").join(pidx, "doc_id").join(fp, "doc_id")
        .join(ffd, "doc_id").join(lpt, "doc_id")
        .join(fim, "doc_id")
    )


def _q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing end-to-end: deterministic fake payloads from the
    corpus, decoded by the Arrow-batched mapInPandas codec stub. The fake
    decode is pure byte arithmetic (text is ASCII, so byte i = ascii of char
    i%len), giving an exact integer oracle for the pseudo-image mean."""
    _prep(spark)
    from nyxus_spark.operators.multimodal import attach_fake_media, decode_media
    from nyxus_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    # patch=4: the decode also PATCHIFIES (ViT tokenization) — 16 row-major
    # 4x4 patches per pseudo-image, gated via the exact per-doc patch
    # digest/min/max (any single patch-sum error flips the digest)
    out = decode_media(attach_fake_media(docs), codec="fake", patch=4)
    # TEXT-SIDE EMBEDDING FUSION: the multimodal record carries its pooled
    # text embedding next to the decoded-media features. Token-embedding
    # table = the int8-quantized embeddings (vec_id == token id; every
    # token < 251 < |V| matches); per-doc exact BIGINT digests of the
    # pooled coordinate sums — bit-reproducible doc representations.
    from pyspark.sql import functions as F

    from nyxus_spark.operators.similarity import (
        mean_pool_docs,
        quantize_embedding,
    )
    from nyxus_spark.sources import tokens_static

    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("token"),
        quantize_embedding("embedding").alias("qvec"),
    )
    pool = mean_pool_docs(tokens_static(spark, sf_dir), emb)
    zero = F.lit(0).cast("long")
    pd_ = (
        pool.groupBy("doc_id")
        .agg(
            F.max("pool_n").cast("long").alias("pool_tok"),
            F.sum((F.col("dim") + 1) * F.col("coord_sum"))
            .cast("long").alias("pool_digest"),
            F.sum(F.abs(F.col("coord_sum"))).cast("long").alias("pool_abs"),
        )
        .select(
            F.expr("CAST(substring(doc_id, 5) AS BIGINT)")
            .cast("string").alias("doc_id"),
            "pool_tok", "pool_digest", "pool_abs",
        )
    )
    res = (
        out.select("doc_id", "media_type", "out_width", "out_height",
                   "mean_intensity",
                   "patch_digest", "patch_min", "patch_max")
        .join(pd_, "doc_id", "left")
        .select(
            "doc_id", "media_type", "out_width", "out_height",
            "mean_intensity",
            "patch_digest", "patch_min", "patch_max",
            F.coalesce("pool_tok", zero).alias("pool_tok"),
            F.coalesce("pool_digest", zero).alias("pool_digest"),
            F.coalesce("pool_abs", zero).alias("pool_abs"),
        )
    )
    # wave 83 — INTERLEAVED MULTIMODAL TOKEN BUDGET (the MMC4/ViT
    # sequence-cost accounting: image patches spend context exactly like
    # text tokens): per record mm_patches = (W div P)·(H div P) vision
    # tokens, mm_eff_len = text + patches (what the packer must budget),
    # the per-record image share, and the corpus-level vision-token share
    # — exact integers + one division each; the corpus rollup is a
    # broadcast one-row agg.
    res = res.withColumn(
        "mm_patches",
        (F.expr("out_width div 4") * F.expr("out_height div 4"))
        .cast("long"),
    ).withColumn(
        "mm_eff_len", (F.col("pool_tok") + F.col("mm_patches")).cast("long")
    ).withColumn(
        "mm_img_share4",
        F.when(
            F.col("mm_eff_len") > 0,
            _r4(F.col("mm_patches") / F.col("mm_eff_len")),
        ).otherwise(F.lit(0.0)),
    )
    tot = res.agg(
        F.sum("mm_patches").cast("long").alias("mm_corpus_patches"),
        F.sum("mm_eff_len").cast("long").alias("mm_corpus_eff"),
    ).select(
        "mm_corpus_patches", "mm_corpus_eff",
        _r4(F.col("mm_corpus_patches") / F.col("mm_corpus_eff"))
        .alias("mm_corpus_img4"),
    )
    return res.crossJoin(F.broadcast(tot))


def _q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shape pricing summary over lineitem — evidence the engine's
    general OLAP path (Catalyst partial+final hash agg, no Python). All money
    is exact integer cents (floor(x*100+0.5); inputs are 2-decimal), so sums
    are BIGINT-exact and averages are one final division."""
    _prep(spark)
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02")
    )
    cents = lambda c: F.floor(F.col(c) * 100 + F.lit(0.5)).cast("long")  # noqa: E731
    qty = F.col("l_quantity").cast("long")
    disc_c = cents("l_discount")
    tax_c = cents("l_tax")
    price_c = cents("l_extendedprice")
    out = (
        li.select(
            "l_returnflag", "l_linestatus",
            qty.alias("q"), price_c.alias("pc"),
            (price_c * (100 - disc_c)).alias("dp4"),           # 1e-4 units
            (price_c * (100 - disc_c) * (100 + tax_c)).alias("ch6"),  # 1e-6
        )
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("q").alias("sum_qty"),
            F.sum("pc").alias("sum_base_price_cents"),
            F.sum("dp4").alias("sum_disc_price_e4"),
            F.sum("ch6").alias("sum_charge_e6"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .withColumn("avg_qty", _r4(F.col("sum_qty") / F.col("count_order")))
        .withColumn("avg_price",
                    _r4(F.col("sum_base_price_cents") / (F.col("count_order") * 100)))
    )
    return out


def _q_segment_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders ⋈ customer multi-grain CUBE over (market segment, order
    priority) — the broadcast-join path (customer is the small dim;
    `.explain` shows BroadcastHashJoin) feeding Spark's native CUBE
    (Expand + one hash-agg shuffle: every grain computed in a single pass
    over the fact table, never one job per grain). Grouping flags mark the
    grain; super-aggregate NULLs are coalesced to '(all)' so the key is
    engine-portable. All aggregates exact integers."""
    _prep(spark)
    from pyspark.sql import functions as F

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_mktsegment"
    )
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .cube("c_mktsegment", "o_orderpriority")
        .agg(
            F.grouping("c_mktsegment").cast("long").alias("g_seg"),
            F.grouping("o_orderpriority").cast("long").alias("g_prio"),
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long"))
            .alias("sum_totalprice_cents"),
            F.countDistinct("o_custkey").alias("n_customers"),
        )
        .select(
            F.coalesce("c_mktsegment", F.lit("(all)")).alias("c_mktsegment"),
            F.coalesce("o_orderpriority", F.lit("(all)")).alias("o_orderpriority"),
            "g_seg", "g_prio", "n_orders", "sum_totalprice_cents", "n_customers",
        )
        # referential-integrity audit (data-quality sweep a warehouse runs
        # beside every rollup): broadcast anti-join counts ride every cube
        # row as corpus-level columns — orphan orders (custkey not in
        # customer: must be 0) and inactive customers (no orders: the
        # TPC-H-style nonzero third)
        .crossJoin(F.broadcast(
            spark.read.parquet(f"{sf_dir}/orders.parquet").select("o_custkey")
            .join(c, F.col("o_custkey") == c.c_custkey, "left_anti")
            .agg(F.count(F.lit(1)).alias("ri_orphan_orders"))
        ))
        .crossJoin(F.broadcast(
            c.join(
                spark.read.parquet(f"{sf_dir}/orders.parquet")
                .select("o_custkey").distinct(),
                F.col("c_custkey") == F.col("o_custkey"), "left_anti",
            ).agg(F.count(F.lit(1)).alias("ri_idle_customers"))
        ))
        # EXACT χ² two-proportion A/B test (the experimentation-analytics
        # primitive): variant = custkey parity, success = urgent priority;
        # χ² = N·(ad−bc)²/((a+b)(c+d)(a+c)(b+d)) — DECIMAL(38) numerator
        # (HUGEINT on the oracle side), the p<0.05 flag decided by the
        # CROSS-MULTIPLIED integer inequality num·10⁶ > den·3841459 (the
        # 1-df critical value as an exact rational) — no float ever enters
        # the decision
        .crossJoin(F.broadcast(_ab_chi2(o)))
        # wave 92 — DIFFERENCE-IN-DIFFERENCES (the quasi-experimental
        # causal estimate beside the χ² A/B): treatment = even custkey,
        # pre/post = the corpus order-date midpoint; DiD = (ȳ_T,post −
        # ȳ_T,pre) − (ȳ_C,post − ȳ_C,pre) over exact integer cents/count
        # cells — four identical IEEE divisions + three subtractions,
        # replayed op-for-op
        .crossJoin(F.broadcast(_ab_did(o)))
    )


def _ab_did(o):
    """2×2 difference-in-differences over orders: (custkey parity) ×
    (order date before/after the corpus midpoint day); metric = mean
    totalprice cents. All cells exact integers; the estimate is one
    fixed chain of four divisions."""
    from pyspark.sql import functions as F

    day = F.expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000")
    b = o.agg(F.min(day).alias("__dmn"), F.max(day).alias("__dmx"))
    o2 = o.crossJoin(F.broadcast(b)).withColumn(
        "__mid", F.expr("(__dmn + __dmx) div 2"))
    t = (F.col("o_custkey") % 2 == 0).cast("long")
    p = (day >= F.col("__mid")).cast("long")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    cells = o2.agg(
        F.sum(t * p).cast("long").alias("did_n_tp"),
        F.sum(t * p * cents).cast("long").alias("did_s_tp"),
        F.sum(t * (1 - p)).cast("long").alias("did_n_ta"),
        F.sum(t * (1 - p) * cents).cast("long").alias("did_s_ta"),
        F.sum((1 - t) * p).cast("long").alias("did_n_cp"),
        F.sum((1 - t) * p * cents).cast("long").alias("did_s_cp"),
        F.sum((1 - t) * (1 - p)).cast("long").alias("did_n_ca"),
        F.sum((1 - t) * (1 - p) * cents).cast("long").alias("did_s_ca"),
    )

    def mean(s, n):
        return F.col(s).cast("double") / F.col(n).cast("double")

    return cells.select(
        "*",
        F.when(
            (F.col("did_n_tp") > 0) & (F.col("did_n_ta") > 0)
            & (F.col("did_n_cp") > 0) & (F.col("did_n_ca") > 0),
            _r4(
                (mean("did_s_tp", "did_n_tp") - mean("did_s_ta", "did_n_ta"))
                - (mean("did_s_cp", "did_n_cp")
                   - mean("did_s_ca", "did_n_ca"))
            ),
        ).otherwise(F.lit(0.0)).alias("did4"),
    )


def _ab_chi2(o):
    """2×2 χ² over orders: (custkey parity) × (urgent priority)."""
    from pyspark.sql import functions as F

    v = (F.col("o_custkey") % 2 == 0).cast("long")
    s = (F.col("o_orderpriority") == F.lit("1-URGENT")).cast("long")
    cells = o.agg(
        F.sum(v * s).cast("long").alias("ab_a"),
        F.sum(v * (1 - s)).cast("long").alias("ab_b"),
        F.sum((1 - v) * s).cast("long").alias("ab_c"),
        F.sum((1 - v) * (1 - s)).cast("long").alias("ab_d"),
    )
    dec = "cast({} as decimal(38, 0))"
    num = F.expr(
        ("(({a} + {b} + {c} + {d}) * (({a} * {d} - {b} * {c}) "
         "* ({a} * {d} - {b} * {c})))").format(
            a=dec.format("ab_a"), b=dec.format("ab_b"),
            c=dec.format("ab_c"), d=dec.format("ab_d"))
    )
    den = F.expr(
        "((cast(ab_a as decimal(38,0)) + ab_b) * (cast(ab_c as decimal(38,0)) + ab_d)"
        " * (cast(ab_a as decimal(38,0)) + ab_c) * (cast(ab_b as decimal(38,0)) + ab_d))"
    )
    return cells.select(
        "ab_a", "ab_b", "ab_c", "ab_d",
        F.when(
            den > 0, _r4(num.cast("double") / den.cast("double"))
        ).alias("chi2_4"),
        F.when(den > 0, (num * 1000000 > den * 3841459).cast("long"))
        .otherwise(F.lit(0).cast("long")).alias("chi2_sig"),
    )


def _q_cosine_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (hyperplane-LSH blocking + exact
    cosine verify) over the corpus augmented with injected duplicates:
    exact copies (vec_id%20==0 → +10000) and perturbed copies
    (first coordinate +0.01, vec_id%15==0 → +20000)."""
    _prep(spark)
    from pyspark.sql import functions as F

    from nyxus_spark.operators.dedup import cosine_dup_pairs
    from nyxus_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    exact = emb.filter(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding"
    )
    near = emb.filter(F.col("vec_id") % 15 == 0).select(
        (F.col("vec_id") + 20000).alias("vec_id"),
        F.expr(
            "transform(embedding, (x, i) -> CASE WHEN i = 0 "
            "THEN cast(cast(x as double) + 0.01D as float) ELSE x END)"
        ).alias("embedding"),
    )
    aug = emb.unionByName(exact).unionByName(near)
    pairs = cosine_dup_pairs(aug, threshold=0.99)
    # MULTI-PROBE LSH recall booster (Lv et al., VLDB 2007): also probe the
    # 16 buckets one hyperplane-flip away — verified hamming-1 pairs are
    # exactly what single-bucket blocking misses; each gate row carries how
    # many such EXTRA pairs its members participate in
    from nyxus_spark.operators.dedup import multiprobe_cosine_pairs

    mp = multiprobe_cosine_pairs(aug, threshold=0.99)
    mpa = mp.select(F.col("id_a").alias("k")).unionAll(
        mp.select(F.col("id_b").alias("k"))
    ).groupBy("k").agg(F.count("*").cast("long").alias("mp_extra"))
    # EVAL-SET DECONTAMINATION at the embedding level (SemDeDup-style):
    # each near-dup pair carries both members' deterministic 3-way split
    # (20/20/60 here so cross-split pairs actually occur at test scale) and
    # the LEAK flag — a train↔held-out near-duplicate is exactly the
    # contamination an embedding-level decontam pass must surface.
    from nyxus_spark.functions import holdout_split

    sa = holdout_split(F.col("id_a"), 0.2, 0.2).cast("long")
    sb = holdout_split(F.col("id_b"), 0.2, 0.2).cast("long")
    flagged = pairs.select(
        "id_a", "id_b", "cos",
        sa.alias("split_a"), sb.alias("split_b"),
        (sa != sb).cast("long").alias("xsplit_leak"),
    )
    # SemDeDup (cluster-then-dedup-within-cluster, Abbas et al. 2023) over
    # the SAME augmented corpus: integer-quantize, k-means-assign to the
    # first-8-vector seeds (exact int64 L2 argmin), exact-integer cosine
    # within clusters, keep-lowest-id drop policy. Each LSH pair row carries
    # both members' cluster + drop flag and the dropped member's max cosine
    # to a lower-id cluster-mate — the two blocking strategies (SRP bands vs
    # k-means cells) cross-check each other on the injected duplicates.
    from nyxus_spark.operators.dedup import semdedup
    from nyxus_spark.operators.similarity import quantize_embedding

    q = aug.select("vec_id", quantize_embedding("embedding").alias("qv"))
    seeds = q.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cent_id"), F.col("qv").alias("cent_qvec")
    )
    sd = semdedup(q, seeds, threshold=0.98, vec_col="qv")
    # HARD-NEGATIVE mining (contrastive-training data prep): each pair
    # member's highest-cosine NON-duplicate cell mate (cos < 0.98,
    # unrounded) — the same k-means-cell blocking as SemDeDup, exact int64
    # dot/norms, ties to the lowest candidate id via one max(struct)
    from nyxus_spark.operators.similarity import hard_negatives

    hn = hard_negatives(q, seeds, threshold=0.98, vec_col="qv")
    # RECIPROCAL nearest neighbors (mutual top-1 under the same cell
    # blocking): a is b's best non-duplicate AND b is a's — the
    # high-precision semantic-pair seed (RNN matching); one self-join of
    # the |corpus|-row hn table on (hn_id, vec_id)
    hnm = (
        hn.alias("x")
        .join(
            hn.alias("y"),
            (F.col("x.hn_id") == F.col("y.vec_id"))
            & (F.col("y.hn_id") == F.col("x.vec_id")),
        )
        .select(F.col("x.vec_id").alias("vec_id"),
                F.lit(1).cast("long").alias("hn_mutual"))
    )
    return (
        flagged.join(
            sd.select(
                F.col("vec_id").alias("id_a"),
                F.col("sd_cluster").cast("long").alias("sd_cluster_a"),
                F.col("sd_drop").alias("sd_drop_a"),
            ),
            "id_a",
        )
        .join(
            sd.select(
                F.col("vec_id").alias("id_b"),
                F.col("sd_cluster").cast("long").alias("sd_cluster_b"),
                F.col("sd_drop").alias("sd_drop_b"),
                F.col("sd_max_cos4").alias("sd_maxcos_b4"),
            ),
            "id_b",
        )
        .join(
            hn.select(
                F.col("vec_id").alias("id_a"),
                F.col("hn_id").alias("hn_id_a"),
                F.col("hn_cos4").alias("hn_cos4_a"),
            ),
            "id_a",
            "left",
        )
        .join(
            hn.select(
                F.col("vec_id").alias("id_b"),
                F.col("hn_id").alias("hn_id_b"),
                F.col("hn_cos4").alias("hn_cos4_b"),
            ),
            "id_b",
            "left",
        )
        .join(
            hnm.select(F.col("vec_id").alias("id_a"),
                       F.col("hn_mutual").alias("hn_mut_a")),
            "id_a", "left",
        )
        .join(
            hnm.select(F.col("vec_id").alias("id_b"),
                       F.col("hn_mutual").alias("hn_mut_b")),
            "id_b", "left",
        )
        .withColumn("hn_id_a", F.coalesce("hn_id_a", F.lit(-1).cast("long")))
        .withColumn("hn_cos4_a", F.coalesce("hn_cos4_a", F.lit(-2.0)))
        .withColumn("hn_id_b", F.coalesce("hn_id_b", F.lit(-1).cast("long")))
        .withColumn("hn_cos4_b", F.coalesce("hn_cos4_b", F.lit(-2.0)))
        .withColumn("hn_mut_a", F.coalesce("hn_mut_a", F.lit(0).cast("long")))
        .withColumn("hn_mut_b", F.coalesce("hn_mut_b", F.lit(0).cast("long")))
        .join(mpa.select(F.col("k").alias("id_a"),
                         F.col("mp_extra").alias("mp_extra_a")),
              "id_a", "left")
        .join(mpa.select(F.col("k").alias("id_b"),
                         F.col("mp_extra").alias("mp_extra_b")),
              "id_b", "left")
        .withColumn("mp_extra_a", F.coalesce("mp_extra_a", F.lit(0).cast("long")))
        .withColumn("mp_extra_b", F.coalesce("mp_extra_b", F.lit(0).cast("long")))
    )


def _q_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-hit language identification heuristic."""
    _prep(spark)
    from nyxus_spark.functions import langid_expr
    from nyxus_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", langid_expr().alias("lang_pred"))


def _q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring + token counting over the raw corpus."""
    _prep(spark)
    from nyxus_spark.functions import quality_exprs, token_count_exprs
    from nyxus_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    q = quality_exprs()
    tc = token_count_exprs()
    return docs.select(
        "doc_id",
        q["n_words"].alias("n_words"),
        q["n_chars_derived"].alias("n_chars_derived"),
        tc["re_tokens"].alias("re_tokens"),
        q["mean_word_len"].alias("mean_word_len"),
        q["punct_ratio"].alias("punct_ratio"),
        q["stopword_ratio"].alias("stopword_ratio"),
        q["quality_score"].alias("quality_score"),
    )


def _q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive document fingerprint (token-array equality digest)."""
    _prep(spark)
    from nyxus_spark.functions import fingerprint_expr
    from nyxus_spark.sources import tokens_static

    return tokens_static(spark, sf_dir).select(
        "doc_id", fingerprint_expr().alias("fingerprint")
    )


def _q_glrlm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-length texture features (engine kernel) vs gaps-and-islands SQL."""
    _prep(spark)
    from pyspark.sql import functions as F

    from nyxus_spark.features import extract_features
    from nyxus_spark.sources import tokens_static

    t = tokens_static(spark, sf_dir).filter(
        F.array_max("tokens") > F.array_min("tokens")
    )
    # integer-numerator features + the inverse-weighted folds (SRE/LGLRE/
    # SRLGLE/SRHGLE/LRLGLE): per-term exact doubles accumulated by
    # np.bincount in run order, replayed addition-for-addition by the
    # oracle's list_reduce ORDER BY run_id. RE (entropy) stays pytest-only.
    feats = extract_features(
        t, ["GLRLM_LRE", "GLRLM_RP", "GLRLM_HGLRE", "GLRLM_GLN", "GLRLM_RLN",
            "GLRLM_GLNN", "GLRLM_RLNN", "GLRLM_LRHGLE", "GLRLM_GLV", "GLRLM_RV",
            "GLRLM_SRE", "GLRLM_LGLRE", "GLRLM_SRLGLE", "GLRLM_SRHGLE",
            "GLRLM_LRLGLE"],
        keep_tokens=False,
    )
    return feats.select(
        "doc_id",
        _r4("GLRLM_LRE").alias("glrlm_lre"),
        _r4("GLRLM_RP").alias("glrlm_rp"),
        _r4("GLRLM_HGLRE").alias("glrlm_hglre"),
        _r4("GLRLM_GLN").alias("glrlm_gln"),
        _r4("GLRLM_RLN").alias("glrlm_rln"),
        _r4("GLRLM_GLNN").alias("glrlm_glnn"),
        _r4("GLRLM_RLNN").alias("glrlm_rlnn"),
        _r4("GLRLM_LRHGLE").alias("glrlm_lrhgle"),
        _r4("GLRLM_GLV").alias("glrlm_glv"),
        _r4("GLRLM_RV").alias("glrlm_rv"),
        _r4("GLRLM_SRE").alias("glrlm_sre"),
        _r4("GLRLM_LGLRE").alias("glrlm_lglre"),
        _r4("GLRLM_SRLGLE").alias("glrlm_srlgle"),
        _r4("GLRLM_SRHGLE").alias("glrlm_srhgle"),
        _r4("GLRLM_LRLGLE").alias("glrlm_lrlgle"),
    )


def _q_glcm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-occurrence texture features (engine kernel) vs bigram-count SQL.
    Integer-numerator codes + the rational-weighted folds (HOM1/ID,
    IDM/HOM2, IDN/IDMN, IV, the centered-square JVAR/SUMVAR/DIFVAR) and the
    marginal-moment codes (VARIANCE/CLUTEND/CLUSHADE/CLUPROM/CORRELATION —
    the px/py marginals themselves replayed as nested folds) in the kernel's
    np.unique cell order; only the entropy codes (JE/SUMENTROPY/DIFENTRO/
    INFOMEAS1/2 — libm log2 differs across engines) stay pytest-only."""
    _prep(spark)
    from pyspark.sql import functions as F

    from nyxus_spark.features import extract_features
    from nyxus_spark.sources import tokens_static

    t = tokens_static(spark, sf_dir).filter(
        F.array_max("tokens") > F.array_min("tokens")
    )
    feats = extract_features(
        t, ["GLCM_CONTRAST", "GLCM_ASM", "GLCM_DIS", "GLCM_SUMAVERAGE",
            "GLCM_ACOR", "GLCM_JAVE", "GLCM_JMAX",
            "GLCM_HOM1", "GLCM_ID", "GLCM_IDM", "GLCM_HOM2", "GLCM_IDN",
            "GLCM_IDMN", "GLCM_IV", "GLCM_JVAR", "GLCM_SUMVARIANCE",
            "GLCM_DIFVAR", "GLCM_DIFAVE", "GLCM_ENERGY",
            "GLCM_VARIANCE", "GLCM_CLUTEND", "GLCM_CLUSHADE", "GLCM_CLUPROM",
            "GLCM_CORRELATION"], keep_tokens=False
    )
    return feats.select(
        "doc_id",
        _r4("GLCM_CONTRAST").alias("glcm_contrast"),
        _r4("GLCM_ASM").alias("glcm_asm"),
        _r4("GLCM_DIS").alias("glcm_dis"),
        _r4("GLCM_SUMAVERAGE").alias("glcm_sumaverage"),
        _r4("GLCM_ACOR").alias("glcm_acor"),
        _r4("GLCM_JAVE").alias("glcm_jave"),
        _r4("GLCM_JMAX").alias("glcm_jmax"),
        _r4("GLCM_HOM1").alias("glcm_hom1"),
        _r4("GLCM_ID").alias("glcm_id"),
        _r4("GLCM_IDM").alias("glcm_idm"),
        _r4("GLCM_HOM2").alias("glcm_hom2"),
        _r4("GLCM_IDN").alias("glcm_idn"),
        _r4("GLCM_IDMN").alias("glcm_idmn"),
        _r4("GLCM_IV").alias("glcm_iv"),
        _r4("GLCM_JVAR").alias("glcm_jvar"),
        _r4("GLCM_SUMVARIANCE").alias("glcm_sumvar"),
        _r4("GLCM_DIFVAR").alias("glcm_difvar"),
        _r4("GLCM_DIFAVE").alias("glcm_difave"),
        _r4("GLCM_ENERGY").alias("glcm_energy"),
        _r4("GLCM_VARIANCE").alias("glcm_variance"),
        _r4("GLCM_CLUTEND").alias("glcm_clutend"),
        _r4("GLCM_CLUSHADE").alias("glcm_clushade"),
        _r4("GLCM_CLUPROM").alias("glcm_cluprom"),
        _r4("GLCM_CORRELATION").alias("glcm_correlation"),
    )


def _q_glszm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-size texture features: 1-D zones ≡ runs (glszm.cpp DFS clusters
    degenerate to runs), so the oracle is the gaps-and-islands SQL with GLSZM
    naming. Integer-numerator features only (same rationale as glrlm)."""
    _prep(spark)
    from pyspark.sql import functions as F

    from nyxus_spark.features import extract_features
    from nyxus_spark.sources import tokens_static

    t = tokens_static(spark, sf_dir).filter(
        F.array_max("tokens") > F.array_min("tokens")
    )
    feats = extract_features(
        t, ["GLSZM_LAE", "GLSZM_ZP", "GLSZM_HGLZE", "GLSZM_GLN", "GLSZM_SZN",
            "GLSZM_GLNN", "GLSZM_SZNN", "GLSZM_LAHGLE", "GLSZM_GLV", "GLSZM_ZV",
            # inverse-weighted folds replayed by the oracle in bincount run
            # order (same mechanism as glrlm/gldzm); ZE entropy stays pytest
            "GLSZM_SAE", "GLSZM_LGLZE", "GLSZM_SALGLE", "GLSZM_SAHGLE",
            "GLSZM_LALGLE"],
        keep_tokens=False,
    )
    return feats.select(
        "doc_id",
        _r4("GLSZM_LAE").alias("glszm_lae"),
        _r4("GLSZM_ZP").alias("glszm_zp"),
        _r4("GLSZM_HGLZE").alias("glszm_hglze"),
        _r4("GLSZM_GLN").alias("glszm_gln"),
        _r4("GLSZM_SZN").alias("glszm_szn"),
        _r4("GLSZM_GLNN").alias("glszm_glnn"),
        _r4("GLSZM_SZNN").alias("glszm_sznn"),
        _r4("GLSZM_LAHGLE").alias("glszm_lahgle"),
        _r4("GLSZM_GLV").alias("glszm_glv"),
        _r4("GLSZM_ZV").alias("glszm_zv"),
        _r4("GLSZM_SAE").alias("glszm_sae"),
        _r4("GLSZM_LGLZE").alias("glszm_lglze"),
        _r4("GLSZM_SALGLE").alias("glszm_salgle"),
        _r4("GLSZM_SAHGLE").alias("glszm_sahgle"),
        _r4("GLSZM_LALGLE").alias("glszm_lalgle"),
    )


def _q_ngtdm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighbourhood-difference kernel. At offset 1 every 2·s_i is an exact
    integer, and the kernel computes coarseness as the single division
    Nvc/Σ(N·S), so the DuckDB integer-numerator oracle is bit-identical.
    nvc/ngp are recomputed Spark-NATIVE (JVM transform expression) as an
    independent cross-check of the matlab binning against both the numpy
    kernel's input and the SQL twin."""
    _prep(spark)
    from pyspark.sql import functions as F

    from nyxus_spark.features import extract_features
    from nyxus_spark.sources import tokens_static

    t = tokens_static(spark, sf_dir)
    feats = extract_features(
        t, ["NGTDM_COARSENESS", "NGTDM_CONTRAST", "NGTDM_STRENGTH",
            "NGTDM_BUSYNESS", "NGTDM_COMPLEXITY"]
    )
    binned = F.expr(
        "transform(tokens, t -> CASE WHEN t = 0 THEN 1 ELSE "
        "least(greatest(cast(floor((64.0D / array_max(tokens)) * t + 1) AS int), 1), 64) END)"
    )
    return (
        feats.withColumn("ngp", F.size(F.array_distinct(binned)).cast("long"))
        .filter(F.col("ngp") >= 2)
        .select(
            "doc_id",
            F.size("tokens").cast("long").alias("nvc"),
            "ngp",
            _r4(F.col("NGTDM_COARSENESS")).alias("ngtdm_coarseness"),
            # contrast/strength/busyness in exact integer-index-domain forms
            # (texture.py: the p = N/Nvc rationals cancel algebraically)
            _r4(F.col("NGTDM_CONTRAST")).alias("ngtdm_contrast"),
            _r4(F.col("NGTDM_STRENGTH")).alias("ngtdm_strength"),
            _r4(F.col("NGTDM_BUSYNESS")).alias("ngtdm_busyness"),
            # pairwise sum, gated by op-order replay (oracles.py cpairs/cfold)
            _r4(F.col("NGTDM_COMPLEXITY")).alias("ngtdm_complexity"),
        )
    )


def _q_gldzm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-distance texture features: zone distance = run distance to the
    nearer sequence border (gldzm.cpp:244-256 analog) — exact integers, so
    the integer-numerator features compare exactly."""
    _prep(spark)
    from pyspark.sql import functions as F

    from nyxus_spark.features import extract_features
    from nyxus_spark.sources import tokens_static

    t = tokens_static(spark, sf_dir).filter(
        F.array_max("tokens") > F.array_min("tokens")
    )
    feats = extract_features(
        t, ["GLDZM_LDE", "GLDZM_ZP", "GLDZM_HGLZE", "GLDZM_GLNU", "GLDZM_ZDNU",
            "GLDZM_GLNUN", "GLDZM_ZDNUN", "GLDZM_GLM", "GLDZM_ZDM",
            "GLDZM_GLV", "GLDZM_ZDV",
            # inverse-weighted codes: per-term exact doubles folded in run
            # order by np.bincount — the oracle replays the fold
            # addition-for-addition (list_reduce ORDER BY run_id); LDHGLE is
            # a pure exact-integer sum. ZDE (entropy) stays pytest-only.
            "GLDZM_SDE", "GLDZM_LGLZE", "GLDZM_SDLGLE", "GLDZM_SDHGLE",
            "GLDZM_LDLGLE", "GLDZM_LDHGLE"],
        keep_tokens=False,
    )
    return feats.select(
        "doc_id",
        _r4("GLDZM_LDE").alias("gldzm_lde"),
        _r4("GLDZM_ZP").alias("gldzm_zp"),
        _r4("GLDZM_HGLZE").alias("gldzm_hglze"),
        _r4("GLDZM_GLNU").alias("gldzm_glnu"),
        _r4("GLDZM_ZDNU").alias("gldzm_zdnu"),
        _r4("GLDZM_GLNUN").alias("gldzm_glnun"),
        _r4("GLDZM_ZDNUN").alias("gldzm_zdnun"),
        _r4("GLDZM_GLM").alias("gldzm_glm"),
        _r4("GLDZM_ZDM").alias("gldzm_zdm"),
        _r4("GLDZM_GLV").alias("gldzm_glv"),
        _r4("GLDZM_ZDV").alias("gldzm_zdv"),
        _r4("GLDZM_SDE").alias("gldzm_sde"),
        _r4("GLDZM_LGLZE").alias("gldzm_lglze"),
        _r4("GLDZM_SDLGLE").alias("gldzm_sdlgle"),
        _r4("GLDZM_SDHGLE").alias("gldzm_sdhgle"),
        _r4("GLDZM_LDLGLE").alias("gldzm_ldlgle"),
        _r4("GLDZM_LDHGLE").alias("gldzm_ldhgle"),
    )


def _q_glrlm_bg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-length features over a corpus WITH background zeros (every token
    divisible by 7 zeroed, radiomics binning): exercises the zero-break RLE
    path — zeros are excluded AND runs must not merge across them
    (glrlm.cpp background semantics; never triggered under matlab binning
    where raw 0 maps to level 1)."""
    _prep(spark)
    from pyspark.sql import functions as F

    from nyxus_spark.features import extract_features
    from nyxus_spark.settings import FeatureSettings
    from nyxus_spark.sources import tokens_static

    t = tokens_static(spark, sf_dir).withColumn(
        "tokens", F.expr("transform(tokens, x -> CASE WHEN x % 7 = 0 THEN 0 ELSE x END)")
    ).filter(
        (F.array_max("tokens") > F.array_min("tokens"))
        & F.exists("tokens", lambda x: x != 0)
    )
    feats = extract_features(
        t, ["GLRLM_LRE", "GLRLM_RP", "GLRLM_HGLRE", "GLRLM_GLN", "GLRLM_RLN"],
        settings=FeatureSettings(grey_info=-64),
        keep_tokens=False,
    )
    return feats.select(
        "doc_id",
        _r4("GLRLM_LRE").alias("glrlm_lre"),
        _r4("GLRLM_RP").alias("glrlm_rp"),
        _r4("GLRLM_HGLRE").alias("glrlm_hglre"),
        _r4("GLRLM_GLN").alias("glrlm_gln"),
        _r4("GLRLM_RLN").alias("glrlm_rln"),
    )


def _q_glcm_sym(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GLCM under the RADIOMICS binning mode (grey_info<0: 1-based bins,
    binW=range/n, raw 0 = background) with symmetric pair accumulation
    (glcm.cpp:475-477) — driver-gates the second of the three binning modes
    (matlab is covered by `glcm`, IBSI identity by pytest)."""
    _prep(spark)
    from pyspark.sql import functions as F

    from nyxus_spark.features import extract_features
    from nyxus_spark.settings import FeatureSettings
    from nyxus_spark.sources import tokens_static

    t = tokens_static(spark, sf_dir).filter(
        F.array_max("tokens") > F.array_min("tokens")
    )
    feats = extract_features(
        t, ["GLCM_CONTRAST", "GLCM_ASM", "GLCM_DIS", "GLCM_SUMAVERAGE",
            "GLCM_ACOR", "GLCM_JAVE"],
        settings=FeatureSettings(grey_info=-64),
        keep_tokens=False,
    )
    return feats.filter(~F.isnan("GLCM_CONTRAST")).select(
        "doc_id",
        _r4("GLCM_CONTRAST").alias("glcm_contrast"),
        _r4("GLCM_ASM").alias("glcm_asm"),
        _r4("GLCM_DIS").alias("glcm_dis"),
        _r4("GLCM_SUMAVERAGE").alias("glcm_sumaverage"),
        _r4("GLCM_ACOR").alias("glcm_acor"),
        _r4("GLCM_JAVE").alias("glcm_jave"),
    )


def _q_glcm_ibsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GLCM under IBSI IDENTITY binning (grey_info=0: tokens ARE the grey
    levels, texture_feature.h:43-49) over a deterministic small-vocab
    derivation (x % 32 + 1) — with glcm (matlab) and glcm_sym (radiomics)
    this puts all THREE binning modes under the oracle gate."""
    _prep(spark)
    from pyspark.sql import functions as F

    from nyxus_spark.features import extract_features
    from nyxus_spark.settings import FeatureSettings
    from nyxus_spark.sources import tokens_static

    t = tokens_static(spark, sf_dir).withColumn(
        "tokens", F.expr("transform(tokens, x -> x % 32 + 1)")
    ).filter(F.array_max("tokens") > F.array_min("tokens"))
    feats = extract_features(
        t, ["GLCM_CONTRAST", "GLCM_ASM", "GLCM_DIS", "GLCM_SUMAVERAGE",
            "GLCM_ACOR", "GLCM_JAVE"],
        settings=FeatureSettings(grey_info=0),
        keep_tokens=False,
    )
    return feats.filter(~F.isnan("GLCM_CONTRAST")).select(
        "doc_id",
        _r4("GLCM_CONTRAST").alias("glcm_contrast"),
        _r4("GLCM_ASM").alias("glcm_asm"),
        _r4("GLCM_DIS").alias("glcm_dis"),
        _r4("GLCM_SUMAVERAGE").alias("glcm_sumaverage"),
        _r4("GLCM_ACOR").alias("glcm_acor"),
        _r4("GLCM_JAVE").alias("glcm_jave"),
    )


def _q_glcm_ave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-offset GLCM — the 1-D analog of the reference's per-angle columns
    plus _AVE averages (output_2_csv.cpp:97-127, featureset.h:205-233). One
    column per offset d ∈ {1,2,4} and the sequential-accumulation average;
    integer-numerator stats only, AVE replayed by the oracle in the identical
    IEEE op order ((v1+v2)+v4)/3."""
    _prep(spark)
    from pyspark.sql import functions as F

    from nyxus_spark.features import extract_features
    from nyxus_spark.sources import tokens_static

    t = tokens_static(spark, sf_dir).filter(
        F.array_max("tokens") > F.array_min("tokens")
    )
    feats = extract_features(
        t, ["GLCM_CONTRAST_D1", "GLCM_CONTRAST_D2", "GLCM_CONTRAST_D4",
            "GLCM_CONTRAST_AVE", "GLCM_DIS_AVE", "GLCM_ACOR_AVE",
            "GLCM_JAVE_AVE", "GLCM_ASM_AVE"],
        keep_tokens=False,
    )
    # drop docs lacking valid pairs at some offset (NaN per-offset → NaN AVE);
    # the oracle's inner joins across per-offset sums define the same domain
    return feats.filter(~F.isnan("GLCM_CONTRAST_AVE")).select(
        "doc_id",
        _r4("GLCM_CONTRAST_D1").alias("glcm_contrast_d1"),
        _r4("GLCM_CONTRAST_D2").alias("glcm_contrast_d2"),
        _r4("GLCM_CONTRAST_D4").alias("glcm_contrast_d4"),
        _r4("GLCM_CONTRAST_AVE").alias("glcm_contrast_ave"),
        _r4("GLCM_DIS_AVE").alias("glcm_dis_ave"),
        _r4("GLCM_ACOR_AVE").alias("glcm_acor_ave"),
        _r4("GLCM_JAVE_AVE").alias("glcm_jave_ave"),
        _r4("GLCM_ASM_AVE").alias("glcm_asm_ave"),
    )


def _q_glrlm_ave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-offset GLRLM: stride-d runs over the d interleaved subsequences
    (the 1-D analog of the reference's 4 run directions, glrlm.cpp:62-235) —
    per-offset + _AVE columns, integer-numerator stats."""
    _prep(spark)
    from pyspark.sql import functions as F

    from nyxus_spark.features import extract_features
    from nyxus_spark.sources import tokens_static

    t = tokens_static(spark, sf_dir).filter(
        F.array_max("tokens") > F.array_min("tokens")
    )
    feats = extract_features(
        t, ["GLRLM_LRE_D1", "GLRLM_LRE_D2", "GLRLM_LRE_D4", "GLRLM_LRE_AVE",
            "GLRLM_GLN_D2", "GLRLM_GLN_AVE", "GLRLM_RP_AVE"],
        keep_tokens=False,
    )
    return feats.select(
        "doc_id",
        _r4("GLRLM_LRE_D1").alias("glrlm_lre_d1"),
        _r4("GLRLM_LRE_D2").alias("glrlm_lre_d2"),
        _r4("GLRLM_LRE_D4").alias("glrlm_lre_d4"),
        _r4("GLRLM_LRE_AVE").alias("glrlm_lre_ave"),
        _r4("GLRLM_GLN_D2").alias("glrlm_gln_d2"),
        _r4("GLRLM_GLN_AVE").alias("glrlm_gln_ave"),
        _r4("GLRLM_RP_AVE").alias("glrlm_rp_ave"),
    )


def _q_radial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radial distribution (FRAC_AT_D bands): band indices derive from
    IEEE-identical float ops on exact integer moments, band masses are exact
    integers, each fraction is one final division (signal.py radial_section)."""
    _prep(spark)
    from pyspark.sql import functions as F

    from nyxus_spark.features import extract_features
    from nyxus_spark.sources import tokens_static

    t = tokens_static(spark, sf_dir).filter(
        F.aggregate("tokens", F.lit(0).cast("long"), lambda a, x: a + x) > 0
    )
    feats = extract_features(
        t, [f"FRAC_AT_D_{k}" for k in range(8)], keep_tokens=False
    )
    return feats.select(
        "doc_id",
        *[_r4(f"FRAC_AT_D_{k}").alias(f"frac_at_d_{k}") for k in range(8)],
    )


def _q_gabor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gabor filter-bank energy ratios over the quantized integer bank: the
    kernel convolves 14-bit fixed-point taps in exact int64, so each
    GABOR_E_f is a ratio of two exact integers (one final division) and the
    DuckDB oracle replays it bit-identically (oracles.sql_gabor). Filter
    matches the oracle: n_tok >= K, a nonzero token (for n >= K the base
    energy is zero iff all tokens are zero → softNAN path), and the int64
    exactness bound (the kernel softNANs rows that could wrap; the filter
    replays the identical predicate so the HUGEINT-exact oracle sees the
    same domain)."""
    _prep(spark)
    from pyspark.sql import functions as F

    from nyxus_spark.features import extract_features
    from nyxus_spark.features.signal import GABOR_FREQS, K, within_bound_sql
    from nyxus_spark.sources import tokens_static

    t = tokens_static(spark, sf_dir).filter(
        (F.col("n_tok") >= K) & (F.expr("array_max(tokens)") > 0)
        & F.expr(within_bound_sql("n_tok", "array_max(tokens)"))
    )
    feats = extract_features(
        t, [f"GABOR_E_{f}" for f in GABOR_FREQS], keep_tokens=False
    )
    return feats.select(
        "doc_id",
        *[_r4(f"GABOR_E_{f}").alias(f"gabor_e_{f}") for f in GABOR_FREQS],
    )


def _q_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal neighbor self-join (bucketed range join): per event, neighbor
    count + distance to the closest 1/2 within R = 4h — composed with the
    SKEW REPORT over the same join key (the pre-shuffle diagnostic you run
    before exactly this kind of self-join at 100 TB): per user, exact row
    count, reproducible shuffle bucket, reducer mass, and integer
    cross-multiplied hot flags — and the INTER-ARRIVAL point-process profile
    per user (Goh–Barabási burstiness, lag-1 memory coefficient, hourly Fano
    factor; windows.interarrival_stats), every float ONE affine/sqrt map of
    exact int64 sums so the oracle replays it bit-identically."""
    _prep(spark)
    from pyspark.sql import functions as F

    from nyxus_spark.operators.prescan import skew_report
    from nyxus_spark.operators.relations import neighbor_stats
    from nyxus_spark.operators.windows import interarrival_stats

    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev = raw.select(
        F.col("user_id").cast("string").alias("doc_id"), "ts", "event_id"
    )
    out = neighbor_stats(ev, 14400.0)
    sk = skew_report(raw, F.col("user_id"), n_buckets=16).select(
        F.col("sk_key").cast("string").alias("doc_id"),
        "sk_rows", "sk_bucket", "sk_bucket_rows", "sk_key_hot", "sk_bucket_hot",
    )
    ia = interarrival_stats(ev, key_col="doc_id", ts_col="ts")
    # wave 59a — MARKOV source-transition profile per user: consecutive
    # (source → next source) pairs under the deterministic (ts, event_id)
    # total order; exact transition counts, self-loop count/share, count of
    # transitions INTO 'purchase' (the conversion edge), and the modal
    # transition (count DESC, pair ASC tie-break) — the first-order sequence
    # prior a behavior model estimates before training
    from pyspark.sql import Window

    ev2 = raw.select(
        F.col("user_id").cast("string").alias("doc_id"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        "event_id",
        F.col("event_type").alias("src"),
    )
    wseq = Window.partitionBy("doc_id").orderBy(
        F.col("us").asc(), F.col("event_id").asc())
    tr = (
        ev2.withColumn("nxt", F.lead("src").over(wseq))
        .filter(F.col("nxt").isNotNull())
    )
    mka = tr.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("mk_trans"),
        F.sum((F.col("src") == F.col("nxt")).cast("long")).cast("long")
        .alias("mk_self"),
        F.sum((F.col("nxt") == "purchase").cast("long")).cast("long")
        .alias("mk_to_purchase"),
    ).withColumn(
        "mk_self_share4",
        F.when(F.col("mk_trans") > 0,
               _r4(F.col("mk_self") / F.col("mk_trans"))).otherwise(F.lit(0.0)),
    )
    wtop = Window.partitionBy("doc_id").orderBy(
        F.col("cnt").desc(), F.col("src").asc(), F.col("nxt").asc())
    mkt = (
        tr.groupBy("doc_id", "src", "nxt")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("rn", F.row_number().over(wtop))
        .filter(F.col("rn") == 1)
        .select("doc_id",
                F.concat_ws(">", "src", "nxt").alias("mk_top_pair"))
    )
    # wave 59b — PEAK trailing-1h rate: max events any user packs into a
    # sliding [t−1h, t] window (the rate-limit / abuse-detection primitive);
    # a RANGE frame on epoch-µs is tie-safe (value-defined, not row-defined)
    wrate = (
        Window.partitionBy("doc_id").orderBy("us")
        .rangeBetween(-3_600_000_000, 0)
    )
    mrate = (
        ev2.withColumn("c", F.count(F.lit(1)).over(wrate))
        .groupBy("doc_id")
        .agg(F.max("c").cast("long").alias("peak_rate_1h"))
    )
    # wave 75 — Kaplan–Meier churn survival: per user, duration = last−first
    # event in whole days (integer `div`); churned iff the last event
    # precedes corpus_max − 1 day (else right-censored). KM S(t) =
    # Π_{t'≤t} (n_{t'} − d_{t'}) / n_{t'} over the DAY-granularity duration
    # dim (cardinality bounded by the corpus span in days, never by |users| —
    # the single-partition window is over a ≤ O(days) dim, scale-safe).
    # The running product is an order-dependent float fold: Spark
    # F.aggregate is a sequential in-order fold and the DuckDB oracle
    # replays it with list_reduce((x,y) -> x*y) over the same time-ordered
    # factor list — pure-multiply lambda, the vectorization-safe class —
    # so km_surv is gated as a raw bit-identical double. n/d are exact
    # int64. Survival-analysis analog of nyxus's per-ROI lifetime stats.
    day_us = 86_400_000_000
    lif = ev2.groupBy("doc_id").agg(
        F.min("us").alias("first_us"), F.max("us").alias("last_us")
    )
    cmax = lif.agg(F.max("last_us").alias("corpus_max_us"))
    lif2 = lif.crossJoin(F.broadcast(cmax)).select(
        "doc_id",
        F.expr(f"(last_us - first_us) div {day_us}").cast("long")
        .alias("km_t"),
        F.when(
            F.col("last_us") < F.col("corpus_max_us") - F.lit(day_us),
            F.lit(1),
        ).otherwise(F.lit(0)).cast("long").alias("km_churn"),
    )
    kmdim = lif2.groupBy("km_t").agg(
        F.sum("km_churn").cast("long").alias("km_d"),
        F.count(F.lit(1)).cast("long").alias("c"),
    )
    wdesc = Window.orderBy(F.col("km_t").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    wasc = Window.orderBy(F.col("km_t").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    kmfac = (
        kmdim.withColumn("km_n", F.sum("c").over(wdesc).cast("long"))
        .withColumn(
            "f",
            (F.col("km_n") - F.col("km_d")).cast("double")
            / F.col("km_n").cast("double"),
        )
    )
    km = (
        kmfac.withColumn("fl", F.collect_list("f").over(wasc))
        .select(
            "km_t",
            F.col("km_d").alias("km_events"),
            F.col("km_n").alias("km_at_risk"),
            F.aggregate("fl", F.lit(1.0), lambda a, x: a * x)
            .alias("km_surv"),
        )
    )
    kmu = lif2.select("doc_id", "km_t").join(F.broadcast(km), "km_t").select(
        "doc_id", "km_t", "km_events", "km_at_risk", "km_surv"
    )
    # wave 89 — CUPED variance reduction (Deng et al., WSDM 2013 — the
    # experimentation-platform adjustment): pre-period covariate x = cents
    # before the corpus ts midpoint, metric y = cents after; θ =
    # cov(x,y)/var(x) with EXACT integer numerator N·Σxy − Σx·Σy and
    # denominator N·Σx² − (Σx)² (the same N·Σ−ΣΣ discipline as the Pearson
    # gate), ŷ = y − θ·(x − x̄) one fixed IEEE chain the oracle replays
    # op-for-op. Two hash aggs + one broadcast of a 1-row stats dim.
    evc = raw.select(
        F.col("user_id").cast("string").alias("doc_id"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
        .alias("cents"),
    )
    cbounds = evc.agg(F.min("us").alias("__mn2"), F.max("us").alias("__mx2"))
    evc2 = evc.crossJoin(F.broadcast(cbounds)).withColumn(
        "__mid", F.expr("(__mn2 + __mx2) div 2"))
    cup = evc2.groupBy("doc_id").agg(
        F.coalesce(
            F.sum(F.when(F.col("us") < F.col("__mid"), F.col("cents"))),
            F.lit(0),
        ).cast("long").alias("cup_x"),
        F.coalesce(
            F.sum(F.when(F.col("us") >= F.col("__mid"), F.col("cents"))),
            F.lit(0),
        ).cast("long").alias("cup_y"),
    )
    cstats = cup.agg(
        F.count("*").cast("long").alias("__cn"),
        F.sum("cup_x").cast("long").alias("__csx"),
        F.sum("cup_y").cast("long").alias("__csy"),
        F.sum(F.col("cup_x") * F.col("cup_x")).cast("long").alias("__csxx"),
        F.sum(F.col("cup_x") * F.col("cup_y")).cast("long").alias("__csxy"),
    )
    theta = F.when(
        F.col("cup_den") > 0,
        F.col("cup_num").cast("double") / F.col("cup_den").cast("double"),
    ).otherwise(F.lit(0.0))
    xbar = F.col("__csx").cast("double") / F.col("__cn").cast("double")
    cupj = (
        cup.crossJoin(F.broadcast(cstats))
        .withColumn(
            "cup_num",
            (F.col("__cn") * F.col("__csxy")
             - F.col("__csx") * F.col("__csy")).cast("long"),
        )
        .withColumn(
            "cup_den",
            (F.col("__cn") * F.col("__csxx")
             - F.col("__csx") * F.col("__csx")).cast("long"),
        )
        .withColumn("cup_theta4", _r4(theta))
        .withColumn(
            "cup_adj4",
            _r4(F.col("cup_y").cast("double")
                - theta * (F.col("cup_x").cast("double") - xbar)),
        )
        .select("doc_id", "cup_x", "cup_y", "cup_num", "cup_den",
                "cup_theta4", "cup_adj4")
    )
    return (
        out.select(
            "doc_id", "event_id", "num_neighbors", "closest1_us", "closest2_us"
        )
        .join(sk, "doc_id")
        .join(ia, "doc_id")
        .join(mka, "doc_id", "left")
        .join(mkt, "doc_id", "left")
        .join(mrate, "doc_id")
        .join(kmu, "doc_id")
        .join(cupj, "doc_id")
        .withColumn("mk_trans", F.coalesce("mk_trans", F.lit(0).cast("long")))
        .withColumn("mk_self", F.coalesce("mk_self", F.lit(0).cast("long")))
        .withColumn("mk_to_purchase",
                    F.coalesce("mk_to_purchase", F.lit(0).cast("long")))
        .withColumn("mk_self_share4", F.coalesce("mk_self_share4", F.lit(0.0)))
        .withColumn("mk_top_pair", F.coalesce("mk_top_pair", F.lit("")))
    )


def _q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parent-child rollup (J3): aggregate version-level stats per doc,
    including the WMA (area-weighted mean, nested_feature_aggregation.h:6)
    in the exact-integer cents formulation: Σ(cents·n_tok)/(Σn_tok·100)."""
    _prep(spark)
    from pyspark.sql import functions as F

    from nyxus_spark.operators.relations import rollup_parent
    from nyxus_spark.sources import tokens_versions

    v = tokens_versions(spark, sf_dir).select("doc_id", "n_tok", "value")
    base = rollup_parent(v, "doc_id", ["n_tok", "value"])
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    ntok = F.col("n_tok").cast("long")
    wma = v.groupBy("doc_id").agg(
        _r4(F.sum(cents * ntok) / (F.sum(ntok) * 100)).alias("wma_value")
    )
    return base.join(wma, "doc_id")


def _q_rollup_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot rollup: per doc, version count per source (event type)."""
    _prep(spark)
    from pyspark.sql import functions as F

    from nyxus_spark.sources import tokens_versions

    v = tokens_versions(spark, sf_dir)
    return (
        v.groupBy("doc_id")
        .pivot("source", ["click", "error", "purchase", "signup", "view"])
        .agg(F.count(F.lit(1)))
        .fillna(0)
    )


def _q_covered_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prescan broadcast + COVERED_IMAGE_INTENSITY_RANGE analog
    (intensity.cpp:104-109 over (sequence, source))."""
    _prep(spark)
    from pyspark.sql import functions as F

    from nyxus_spark.operators.prescan import covered_range_col, with_source_range
    from nyxus_spark.sources import tokens_static

    t = with_source_range(tokens_static(spark, sf_dir))
    # SCAN-PLANNING composition (prescan.manifest_prune): the Iceberg
    # manifest min/max file-pruning decision on the sorted-writer layout —
    # per-file stats, the data-derived p25/p75 range predicate, and every
    # per-file scan/skip decision value-gated; corpus totals ride each row
    from nyxus_spark.operators.prescan import manifest_prune

    mp = manifest_prune(
        t, "cast(substring(doc_id, 5) as bigint)", "n_tok"
    ).select(
        "doc_id", "mf_file", "mf_rows", "mf_min", "mf_max", "mf_lo", "mf_hi",
        "mf_scan", "mf_hit", "mf_files", "mf_files_scanned", "mf_rows_skipped",
    )
    # wave 96 — BENFORD first-digit audit of document lengths (the classic
    # synthetic/fabricated-data tripwire: organically-grown size
    # distributions lean on Benford's law, a generator that draws lengths
    # uniformly does not): exact per-digit counts, observed share, the
    # log10(1+1/d) expectation as NINE shared double literals (same
    # shortest-repr constant parsed by both engines), per-digit absolute
    # deviation and the corpus max deviation — the summary a data-quality
    # monitor alerts on.
    bfd = F.expr("cast(substring(cast(n_tok as string), 1, 1) as int)")
    bf1 = t.select("doc_id", bfd.alias("bf_digit"))
    bfc = bf1.groupBy("bf_digit").agg(
        F.count("*").cast("long").alias("bf_cnt"))
    bfn = bf1.agg(F.count("*").cast("long").alias("__bn"))
    bfe = F.element_at(
        F.array(*[F.lit(x) for x in _BENFORD]), F.col("bf_digit"))
    bf = (
        bfc.crossJoin(F.broadcast(bfn))
        .withColumn("bf_exp", bfe)
        .withColumn("bf_obs4", _r4(F.col("bf_cnt") / F.col("__bn")))
        .withColumn(
            "bf_dev4",
            _r4(F.abs(F.col("bf_cnt") / F.col("__bn") - F.col("bf_exp"))),
        )
        .drop("__bn")
    )
    bfm = bf.agg(F.max("bf_dev4").alias("bf_max_dev4"))
    return (
        t.select(
            "doc_id",
            "source",
            "src_min",
            "src_max",
            _r4(covered_range_col()).alias("covered_range"),
        )
        .join(mp, "doc_id")
        .join(bf1, "doc_id")
        .join(F.broadcast(bf), "bf_digit")
        .crossJoin(F.broadcast(bfm))
    )


def _q_asof_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT token-array equality through the as-of join (the north rule's
    per-row invariant, literally): the matched version's full token array is
    carried through the join and serialized for byte-exact comparison —
    stronger than the digest proxy in tokens_basic."""
    _prep(spark)
    from pyspark.sql import functions as F

    from nyxus_spark.operators import asof_join
    from nyxus_spark.sources import probes, tokens_versions

    v = tokens_versions(spark, sf_dir).select("doc_id", "ts", "tokens")
    p = probes(spark, sf_dir)
    out = asof_join(p, v)
    return out.select(
        "doc_id",
        "event_id",
        F.unix_micros(F.col("matched_ts").cast("timestamp")).alias("matched_ts_us"),
        F.concat_ws(",", F.transform("tokens", lambda x: x.cast("string"))).alias("tokens_csv"),
    )


def _q_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a staleness tolerance (1h): matches older than the
    tolerance are nulled — the merge_asof `tolerance` semantics on the JVM
    union-window path. Oracle: plain ASOF LEFT JOIN + a CASE that replays the
    same Δt ≤ tolerance comparison on epoch seconds."""
    _prep(spark)
    from pyspark.sql import functions as F

    from nyxus_spark.operators import asof_join
    from nyxus_spark.sources import probes, tokens_versions

    v = tokens_versions(spark, sf_dir).select("doc_id", "ts", "n_tok")
    p = probes(spark, sf_dir)
    out = asof_join(p, v, tolerance_sec=3600.0)
    return out.select(
        "doc_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.unix_micros(F.col("matched_ts").cast("timestamp")).alias("matched_ts_us"),
        "n_tok",
    )


def _q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal frame sampling: one row per sampled byte offset of each
    video payload (posexplode over a stride sequence — pure column exprs)."""
    _prep(spark)
    from nyxus_spark.operators.multimodal import attach_fake_media, frame_sample
    from nyxus_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    return frame_sample(attach_fake_media(docs), every_n_bytes=64)


def _q_asof_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join via the time-sliced salted path (salt_slices=4, the
    north-rule hot-key treatment). Both plans must agree, so the oracle is
    the same ASOF LEFT JOIN SQL as the union_window query."""
    _prep(spark)
    from pyspark.sql import functions as F

    from nyxus_spark.operators import asof_join
    from nyxus_spark.sources import probes, tokens_versions

    v = tokens_versions(spark, sf_dir).select("doc_id", "ts", "n_tok")
    p = probes(spark, sf_dir)
    out = asof_join(p, v, salt_slices=4)
    return out.select(
        "doc_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.unix_micros(F.col("matched_ts").cast("timestamp")).alias("matched_ts_us"),
        "n_tok",
    )


# ---------------------------------------------------------------------------
# composition queries: several operators gated by ONE driver row each. The
# driver's correctness window covers the first 50 registry entries, so
# related operators are joined on their row key into one wide result (every
# column of every member stays value-gated — nothing is dropped, the results
# are just carried side by side).
# ---------------------------------------------------------------------------


def _q_asof_strategies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of plans AND match directions side-by-side in one gated row set:
    the time-sliced salted path (salt_slices=4, the north-rule hot-key
    treatment), plus the union_window FORWARD (first version at-or-after
    the probe), NEAREST (min |Δts|, ties backward — pandas semantics) and
    STRICT backward (allow_exact_matches=False: versions strictly before
    the probe) variants. Joined on the probe key, so the oracle (backward +
    forward + strict ASOF LEFT JOINs, nearest derived by the same tie-break
    CASE) forces every plan/direction/bound to agree with the oracle AND
    each other."""
    from pyspark.sql import functions as F

    from nyxus_spark.operators import asof_join
    from nyxus_spark.sources import probes, tokens_versions

    salted = _q_asof_salted(spark, sf_dir).select(
        "doc_id", "event_id", "ts_us",
        F.col("matched_ts_us").alias("salted_matched_ts_us"),
        F.col("n_tok").alias("salted_n_tok"),
    )
    _prep(spark)
    v = tokens_versions(spark, sf_dir).select("doc_id", "ts", "n_tok")
    p = probes(spark, sf_dir)

    def directed(direction, tag, exact=True):
        out = asof_join(p, v, direction=direction, allow_exact_matches=exact)
        return out.select(
            "doc_id", "event_id",
            F.unix_micros(F.col("matched_ts").cast("timestamp"))
            .alias(f"{tag}_matched_ts_us"),
            F.col("n_tok").alias(f"{tag}_n_tok"),
        )

    # multi-source point-in-time join (feature-store shape): the same probe
    # row picks up features from TWO independent version streams — token
    # versions, then a purchase-price stream — by chaining as-of joins (each
    # one exchange; the price stream is deduped per (doc, ts) so the match
    # is tie-free on every engine)
    from nyxus_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    px = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("doc_id"),
            F.col("ts").cast("timestamp").alias("ts"),
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
        )
        .groupBy("doc_id", "ts")
        .agg(F.max("cents").alias("cents"), F.count("*").alias("n"))
    )
    base = asof_join(p, v).select(
        "doc_id", "event_id", "ts",
        F.col("matched_ts").alias("_tok_mts"),
        F.col("n_tok").alias("multi_n_tok"),
    )
    multi = asof_join(base, px, version_prefix="px_").select(
        "doc_id", "event_id",
        F.unix_micros(F.col("_tok_mts").cast("timestamp")).alias("multi_tok_ts_us"),
        "multi_n_tok",
        F.unix_micros(F.col("matched_ts").cast("timestamp")).alias("multi_px_ts_us"),
        F.col("px_cents").alias("multi_px_cents"),
        F.col("px_n").alias("multi_px_n"),
    )

    # TOMBSTONE semantics (feature-store deletions): versions whose
    # n_tok % 7 == 0 are marked deleted — a probe whose latest visible
    # version is a tombstone must get NULLs, not the resurrected prior
    # value. The flag is data-derived so the oracle re-derives it.
    from nyxus_spark.operators.asof_join import asof_join_tombstones

    vd = v.withColumn("deleted", (F.col("n_tok") % 7 == 0).cast("int"))
    tomb = asof_join_tombstones(p, vd).select(
        "doc_id", "event_id",
        F.unix_micros(F.col("matched_ts").cast("timestamp"))
        .alias("tomb_matched_ts_us"),
        F.col("n_tok").alias("tomb_n_tok"),
    )

    return (
        salted.join(directed("forward", "fwd"), ["doc_id", "event_id"])
        .join(directed("nearest", "near"), ["doc_id", "event_id"])
        .join(directed("backward", "strict", exact=False), ["doc_id", "event_id"])
        .join(multi, ["doc_id", "event_id"])
        .join(tomb, ["doc_id", "event_id"])
    )


def _q_gabor_radial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signal-family composition: the exact-integer quantized Gabor bank and
    the radial distribution bands, joined per doc (domains differ — gabor
    needs n_tok >= K within the int64 bound, radial positive mass — so the
    row set is the intersection, replayed by the oracle's inner join)."""
    g = _q_gabor(spark, sf_dir)
    r = _q_radial(spark, sf_dir)
    # Haar multi-resolution detail/approximation energies: the exact-integer
    # dyadic band decomposition beside the quantized Gabor bank
    # (features/signal.py haar_cols — staged level arrays, zero Python)
    from nyxus_spark.features.signal import haar_cols
    from nyxus_spark.sources import tokens_static

    h = haar_cols(
        tokens_static(spark, sf_dir).select("doc_id", "tokens", "n_tok")
    ).select("doc_id", "haar_d1", "haar_d2", "haar_d3", "haar_a3")
    return g.join(r, "doc_id").join(h, "doc_id")


def _q_glcm_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All three GLCM binning modes + the multi-offset _AVE expansion in one
    gated row set: radiomics/symmetric (sym_*), IBSI identity (ibsi_*), and
    the per-offset D1/D2/D4 + _AVE columns (matlab binning)."""
    from pyspark.sql import functions as F

    sym = _q_glcm_sym(spark, sf_dir)
    sym = sym.select("doc_id", *[F.col(c).alias(f"sym_{c}") for c in sym.columns if c != "doc_id"])
    ibsi = _q_glcm_ibsi(spark, sf_dir)
    ibsi = ibsi.select("doc_id", *[F.col(c).alias(f"ibsi_{c}") for c in ibsi.columns if c != "doc_id"])
    ave = _q_glcm_ave(spark, sf_dir)
    return sym.join(ibsi, "doc_id").join(ave, "doc_id")


def _q_glrlm_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GLRLM variants in one gated row set: the multi-offset D1/D2/D4 + _AVE
    columns over the clean corpus, and the background-break path (bg_*) over
    the zeroed-token corpus (runs must not merge across background)."""
    from pyspark.sql import functions as F

    ave = _q_glrlm_ave(spark, sf_dir)
    bg = _q_glrlm_bg(spark, sf_dir)
    bg = bg.select("doc_id", *[F.col(c).alias(f"bg_{c}") for c in bg.columns if c != "doc_id"])
    return ave.join(bg, "doc_id")


def _q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-analysis composition, one row per doc: language-ID, quality
    scoring + token counting, the order-sensitive token fingerprint,
    Gopher-style n-gram repetition stats (duplicate-3-gram surplus/ratio/top
    multiplicity — two-phase (doc, gram) agg) and the Gopher rule over them,
    a benchmark-decontamination scan (8-gram occurrences hitting the
    benchmark gram set, benchmark = docs with doc_id % 97 == 0), PII
    scrubbing, cross-doc duplicate spans, DSIR weights, BM25 and MaxSim
    scores, LZ78 complexity, curriculum bucket + pacing, the langid
    confusion audit and the canary memorization audit. Token-table
    sub-queries are keyed 'doc_<id>' — stripped back to the numeric
    documents key for the join, identically in SQL."""
    from pyspark.sql import functions as F

    from nyxus_spark.functions import repetition_stats
    from nyxus_spark.sources import tokens_static

    lid = _q_langid(spark, sf_dir)
    tq = _q_text_quality(spark, sf_dir)
    fp = _q_fingerprint(spark, sf_dir).select(
        F.expr("CAST(substring(doc_id, 5) AS BIGINT)").alias("doc_id"),
        "fingerprint",
    )
    toks = tokens_static(spark, sf_dir)
    nid = F.expr("CAST(substring(doc_id, 5) AS BIGINT)")
    rep = repetition_stats(toks, n=3).select(
        nid.alias("doc_id"), "rep_total_ngrams", "rep_distinct_ngrams",
        "rep_dup_ngrams", "rep_top_ngram_count", "rep_dup_ratio",
    )
    bench = toks.filter(nid % 97 == 0)
    # driven through the Bloom-bitset prefilter path (the shape this scan
    # takes when the benchmark gram set outgrows a broadcast hash table);
    # output provably identical to the exact `contamination` — Bloom false
    # positives die in the verify join — so the same oracle gates it, and
    # tests/test_wave9_ops.py pins per-row equality of the two paths
    from nyxus_spark.functions import contamination_bloom

    cont = contamination_bloom(toks, bench, n=8).select(
        nid.alias("doc_id"), "contam_hits", "contam_distinct", "is_contaminated",
    )
    # PII-style scrubbing over deterministically-augmented text: docs with
    # id % 7 == 0 carry a synthetic contact suffix (email + long number +
    # URL, derived from the id the same way in SQL), so the scrubber has
    # real work and every count/length decision is value-gated
    from nyxus_spark.functions import gopher_pass_expr, scrub_exprs
    from nyxus_spark.sources import load_table

    doc_tbl = load_table(spark, sf_dir, "documents")
    ids = F.col("doc_id").cast("string")
    aug_text = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(F.col("text"), F.lit(" contact user"), ids,
                 F.lit("@example.com ref 123456789 see https://ex.org/"), ids),
    ).otherwise(F.col("text"))
    scr = doc_tbl.select(F.col("doc_id"), aug_text.alias("text"))
    scr = scr.select("doc_id", *[v.alias(k) for k, v in scrub_exprs("text").items()])
    # ExactSubstr-style cross-doc duplicate SPANS (Lee et al. ACL'22):
    # length-8 windows occurring in >= 2 distinct docs, merged into maximal
    # spans — hit count, span count, covered tokens, and the first
    # duplicated position all exact integers.
    from nyxus_spark.operators.dedup import duplicate_spans

    ds = duplicate_spans(toks, L=8).select(
        nid.alias("doc_id"), "ds_hits", "ds_spans", "ds_cover", "ds_first",
    )
    # DSIR importance weights (Xie et al. 2023): target domain = docs with
    # id % 5 == 0; hashed-bigram bucket ratios are single exact-BIGINT
    # divisions, the per-doc weight a position-order multiply fold the SQL
    # replays via list_reduce — scoring itself is a pure map stage over a
    # broadcast 1024-double dense ratio array (zero shuffle at 100 TB)
    from nyxus_spark.functions import dsir_weights

    _, dsir = dsir_weights(
        toks.select(nid.alias("doc_id"), "tokens", "n_tok"),
        (F.col("doc_id") % 5 == 0),
    )
    dsw = dsir.select("doc_id", "dsir_pairs", "dsir_w4", "dsir_keep")
    # Okapi BM25 lexical relevance with the LOG-FREE rational idf (the
    # retrieval/quality-ranking primitive): per-term contributions are ONE
    # IEEE division of exact BIGINTs, the score a token-id-ordered fold the
    # oracle replays via list_reduce — docs with no query term coalesce to 0
    from nyxus_spark.functions import bm25_scores

    bm = bm25_scores(toks, [18, 55, 89, 138, 216]).select(
        F.expr("CAST(substring(doc_id, 5) AS BIGINT)").alias("doc_id"),
        "bm25_terms", "bm25_tf", "bm25_score4",
    )
    # ColBERT-style MaxSim late interaction over the SAME query terms:
    # each term's best-matching doc token in EMBEDDING space (token id t →
    # embedding vec_id t), so semantic matches BM25's exact-tf cannot see
    # are scored — and the lexical and late-interaction gates cross-check
    # on one query. LUT = |q|×|V| broadcast of 4-dec cosines; score = the
    # fixed 5-term addition chain in term order.
    from nyxus_spark.operators.similarity import maxsim_scores
    from nyxus_spark.sources import load_table as _lt

    temb = _lt(spark, sf_dir, "embeddings").filter(F.col("vec_id") <= 250).select(
        F.col("vec_id").alias("tok"), "embedding")
    cb = maxsim_scores(toks, temb, [18, 55, 89, 138, 216]).select(
        F.expr("CAST(substring(doc_id, 5) AS BIGINT)").alias("doc_id"),
        "cb_18", "cb_55", "cb_89", "cb_138", "cb_216", "colbert4",
    )
    out = lid.join(tq, "doc_id").join(fp, "doc_id").join(rep, "doc_id", "left")
    out = out.join(cont, "doc_id").join(scr, "doc_id")
    out = out.join(ds, "doc_id", "left").join(dsw, "doc_id")
    out = out.join(bm, "doc_id", "left").join(cb, "doc_id")
    zero = F.lit(0).cast("long")
    out = out.select(
        "doc_id", "lang_pred", "n_words", "n_chars_derived", "re_tokens",
        "mean_word_len", "punct_ratio", "stopword_ratio", "quality_score",
        "fingerprint",
        F.coalesce("rep_total_ngrams", zero).alias("rep_total_ngrams"),
        F.coalesce("rep_distinct_ngrams", zero).alias("rep_distinct_ngrams"),
        F.coalesce("rep_dup_ngrams", zero).alias("rep_dup_ngrams"),
        F.coalesce("rep_top_ngram_count", zero).alias("rep_top_ngram_count"),
        F.coalesce("rep_dup_ratio", F.lit(0.0)).alias("rep_dup_ratio"),
        "contam_hits", "contam_distinct", "is_contaminated",
        "n_url", "n_email", "n_longnum", "scrub_len",
        F.coalesce("ds_hits", zero).alias("ds_hits"),
        F.coalesce("ds_spans", zero).alias("ds_spans"),
        F.coalesce("ds_cover", zero).alias("ds_cover"),
        F.coalesce("ds_first", F.lit(-1).cast("long")).alias("ds_first"),
        "dsir_pairs", "dsir_w4", "dsir_keep",
        F.coalesce("bm25_terms", zero).alias("bm25_terms"),
        F.coalesce("bm25_tf", zero).alias("bm25_tf"),
        F.coalesce("bm25_score4", F.lit(0.0)).alias("bm25_score4"),
        "cb_18", "cb_55", "cb_89", "cb_138", "cb_216", "colbert4",
    )
    # Gopher-style quality rule: pure boolean algebra over the gated stats
    out = out.withColumn("gopher_pass", gopher_pass_expr())
    # curriculum bucketing: quality quartiles per language (ntile under a
    # TOTAL order — quality_score ties broken by doc_id — so the bucket
    # boundaries are engine-deterministic); partitioned window = scale-safe
    from pyspark.sql import Window

    w = Window.partitionBy("lang_pred").orderBy(
        F.col("quality_score").asc(), F.col("doc_id").asc())
    out = out.withColumn("curriculum_bucket", F.ntile(4).over(w).cast("long"))
    # curriculum PACING (root-p schedule, Platanios et al. 2019): easiest
    # docs unlock first; doc at difficulty rank r of N (hardest = highest
    # quality rank here) joins training at the first of T=16 steps where
    # the unlocked fraction sqrt(t/T) reaches r/N — t = ceil(r²·T/N²),
    # EXACT integer arithmetic (no sqrt: the inequality is squared)
    out = (
        out.withColumn(
            "__cr",
            F.row_number().over(w).cast("long"),
        )
        .withColumn("__cn", F.count("*").over(
            Window.partitionBy("lang_pred")).cast("long"))
        .withColumn(
            "cur_unlock16",
            F.expr("(__cr * __cr * 16 + __cn * __cn - 1) div (__cn * __cn)")
            .cast("long"),
        )
        .drop("__cr", "__cn")
    )
    # LZ78 COMPRESSION COMPLEXITY (the compression-ratio quality filter):
    # the incremental-parse phrase count as ONE Catalyst struct-state fold
    # (functions.lz78_phrases, zero Python), lz_ratio = phrases/n_tok the
    # compressibility proxy — fully value-gated against a RECURSIVE-CTE
    # replay of the parse (one recursion step per phrase)
    from nyxus_spark.functions.text import lz78_phrases

    lzc = toks.select(
        nid.alias("doc_id"),
        lz78_phrases().alias("lz_phrases"),
        "n_tok",
    ).select(
        "doc_id", "lz_phrases",
        F.when(
            F.col("n_tok") > 0, _r4(F.col("lz_phrases") / F.col("n_tok"))
        ).otherwise(F.lit(0.0)).alias("lz_ratio4"),
    )
    # wave 102 — LANGUAGE-ID CONFUSION audit (the eval loop closed over
    # the langid heuristic itself: documents carry ground-truth `lang`):
    # per-doc correct flag, per-true-language class size + recall, corpus
    # accuracy — exact counts, one division each. The audit that tells a
    # mixture planner which languages the cheap classifier under-serves.
    truth = _lt(spark, sf_dir, "documents").select(
        "doc_id", F.col("lang").alias("lang_true"))
    out = out.join(truth, "doc_id").withColumn(
        "lid_correct",
        (F.col("lang_true") == F.col("lang_pred")).cast("long"),
    )
    lidacc = out.agg(
        _r4(F.sum("lid_correct") / F.count("*")).alias("lid_acc4"))
    lrec = out.groupBy("lang_true").agg(
        F.count("*").cast("long").alias("lang_n"),
        _r4(F.sum("lid_correct") / F.count("*")).alias("lang_recall4"),
    )
    out = (
        out.join(F.broadcast(lrec), "lang_true")
        .crossJoin(F.broadcast(lidacc))
    )
    # wave 118 — CANARY memorization audit (the Carlini insight: REPEATED
    # canaries are the extractable ones): docs with oid % 31 ∈ {0..3}
    # carry canary C_j (12 tokens, (j·37 + i·11) % 251, ~16 carriers per
    # canary) appended; doc oid = 13 carries a UNIQUE 12-token sequence.
    # The extraction pass is the same ExactSubstr gram machinery
    # (12-token window keys, dup = present in ≥ 2 distinct docs): every
    # repeated canary's trailing window surfaces, the unique one must not
    # — can_caught is the value-gated outcome per doc, recomputed from
    # scratch by the oracle.
    from nyxus_spark.functions.text import ngram_keys

    canj = F.expr("cast(substr(doc_id, 5) as bigint) % 31")
    is_car = canj < 4
    is_neg = F.expr("cast(substr(doc_id, 5) as bigint) = 13")
    suffix = F.when(
        is_car,
        F.expr(
            "transform(sequence(0, 11), i -> cast("
            "((cast(substr(doc_id, 5) as bigint) % 31) * 37 + i * 11) % 251"
            " as int))"
        ),
    ).when(
        is_neg,
        F.expr(
            "transform(sequence(0, 11),"
            " i -> cast((199 + i * 7) % 251 as int))"
        ),
    )
    caug = (
        toks.select(
            "doc_id",
            F.when(suffix.isNotNull(), F.concat("tokens", suffix))
            .otherwise(F.col("tokens")).alias("tokens"),
        )
        .withColumn("n_tok", F.size("tokens"))
        .withColumn(
            "can_id",
            F.when(is_car, canj).when(is_neg, F.lit(-2))
            .otherwise(F.lit(-1)).cast("long"),
        )
    )
    w12 = caug.select(
        "doc_id", "n_tok",
        F.posexplode(ngram_keys(12)).alias("pos", "gram"),
    )
    d12 = (
        w12.groupBy("gram")
        .agg(F.countDistinct("doc_id").alias("__nd"))
        .filter(F.col("__nd") >= 2)
        .select("gram")
    )
    canf = (
        w12.filter(F.col("pos") == F.col("n_tok") - 12)
        .join(d12, "gram", "left_semi")
        .select("doc_id")
        .withColumn("can_caught", F.lit(1).cast("long"))
    )
    can = (
        caug.select("doc_id", "can_id")
        .join(canf, "doc_id", "left")
        .withColumn(
            "can_caught",
            F.coalesce("can_caught", F.lit(0).cast("long")),
        )
        .select(
            F.expr("CAST(substring(doc_id, 5) AS BIGINT)").alias("doc_id"),
            "can_id", "can_caught",
        )
    )
    return out.join(lzc, "doc_id").join(can, "doc_id")


def _q_rollup_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parent-child rollup composition: the J3 stats rollup (SUM/MEAN/MIN/
    MAX/WMA) and the per-source pivot counts, one row per parent doc —
    composed (wave 58) with the VERSION-DELTA audit: between consecutive
    versions of each doc (ordered by ts; (doc_id, ts) is unique in the
    versions derivation), the minimal edit region via longest common prefix
    and capped longest common suffix — the data-lineage diff a feature store
    runs to audit what changed between snapshot versions. All exact ints:
    per-doc sums/max of LCP/LCS/edit-region lengths, identical-pair count,
    and a position-weighted checksum of each new version's edit region."""
    base = _q_rollup(spark, sf_dir).join(_q_rollup_pivot(spark, sf_dir), "doc_id")
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from nyxus_spark.sources import tokens_versions

    v = tokens_versions(spark, sf_dir).select("doc_id", "ts", "tokens", "n_tok")
    w = Window.partitionBy("doc_id").orderBy("ts")
    p = (
        v.withColumn("ptok", F.lag("tokens").over(w))
        .filter(F.col("ptok").isNotNull())
        .withColumn("na", F.size("ptok").cast("long"))
        .withColumn("nb", F.col("n_tok").cast("long"))
        .withColumn("mn", F.least("na", "nb"))
        # stage the equality masks once (arrays of 1/0), then take the first
        # zero's position: LCP/LCS = run of leading 1s
        .withColumn("eqp", F.expr(
            "zip_with(slice(ptok, 1, cast(mn as int)),"
            "         slice(tokens, 1, cast(mn as int)),"
            "         (x, y) -> CASE WHEN x = y THEN 1 ELSE 0 END)"))
        .withColumn("eqs", F.expr(
            "zip_with(slice(reverse(ptok), 1, cast(mn as int)),"
            "         slice(reverse(tokens), 1, cast(mn as int)),"
            "         (x, y) -> CASE WHEN x = y THEN 1 ELSE 0 END)"))
        .withColumn("lcp", F.expr(
            "CASE WHEN mn = 0 THEN 0L"
            " WHEN array_position(eqp, 0) = 0 THEN mn"
            " ELSE array_position(eqp, 0) - 1 END"))
        .withColumn("lcs", F.least(
            F.expr("CASE WHEN mn = 0 THEN 0L"
                   " WHEN array_position(eqs, 0) = 0 THEN mn"
                   " ELSE array_position(eqs, 0) - 1 END"),
            F.col("mn") - F.col("lcp")))
        .withColumn("a_edit", F.col("na") - F.col("lcp") - F.col("lcs"))
        .withColumn("b_edit", F.col("nb") - F.col("lcp") - F.col("lcs"))
        .withColumn("ident", ((F.col("na") == F.col("nb"))
                              & (F.col("lcp") == F.col("na"))).cast("long"))
        .withColumn("edit_ck", F.expr(
            "CASE WHEN b_edit = 0 THEN 0L ELSE aggregate("
            " zip_with(slice(tokens, cast(lcp + 1 as int), cast(b_edit as int)),"
            "          sequence(1L, b_edit), (t, i) -> cast(t as bigint) * i),"
            " 0L, (s, x) -> s + x) % 1000003 END"))
    )
    vd = p.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("vd_pairs"),
        F.sum("ident").cast("long").alias("vd_identical"),
        F.sum("lcp").cast("long").alias("vd_sum_lcp"),
        F.sum("lcs").cast("long").alias("vd_sum_lcs"),
        F.sum(F.col("a_edit") + F.col("b_edit")).cast("long").alias("vd_sum_edit"),
        F.max("b_edit").cast("long").alias("vd_max_edit"),
        F.sum("edit_ck").cast("long").alias("vd_edit_ck"),
    )
    zero = F.lit(0).cast("long")
    out = base.join(vd, "doc_id", "left")
    return out.select(
        *[c for c in base.columns],
        F.coalesce("vd_pairs", zero).alias("vd_pairs"),
        F.coalesce("vd_identical", zero).alias("vd_identical"),
        F.coalesce("vd_sum_lcp", zero).alias("vd_sum_lcp"),
        F.coalesce("vd_sum_lcs", zero).alias("vd_sum_lcs"),
        F.coalesce("vd_sum_edit", zero).alias("vd_sum_edit"),
        F.coalesce("vd_max_edit", zero).alias("vd_max_edit"),
        F.coalesce("vd_edit_ck", zero).alias("vd_edit_ck"),
    )


def _q_ih(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IBSI intensity-histogram kernel — index-domain outputs are integers, so
    the oracle comparison is exact (the quantile/median machinery is exercised
    through getIndexOf)."""
    _prep(spark)
    from pyspark.sql import functions as F

    from nyxus_spark.features import extract_features
    from nyxus_spark.sources import tokens_static

    t = tokens_static(spark, sf_dir).filter(F.array_max("tokens") > F.array_min("tokens"))
    feats = extract_features(
        t, ["IH_MEDIAN_IDX", "IH_MODE_IDX", "IH_P10_IDX", "IH_P90_IDX",
            "IH_NUM_BINS", "IH_BIN_SIZE", "IH_MEDIAN_VAL",
            # value-domain stats via exact-integer-numerator accumulations
            # (S1/S2/Σf² sums are exact ints → order-independent; one final
            # division / affine bin-center map is replayed by the oracle)
            "IH_MEAN_VAL", "IH_VARIANCE_VAL", "IH_UNIFORMITY_VAL",
            "IH_MODE_VAL", "IH_RANGE_VAL", "IH_P10_VAL", "IH_P90_VAL",
            "IH_MAX_GRADIENT", "IH_MAX_GRADIENT_IDX",
            "IH_MIN_GRADIENT", "IH_MIN_GRADIENT_IDX",
            # round-4 widening: extrema, index-domain moments, the exact
            # deviation family (MAD/RMAD/MedAD via integer numerators),
            # robust mean, IQR/QCOD through the p25/p75 quantile walk, and
            # the CV sqrt-of-exact-ratio chains
            "IH_MINIMUM_VAL", "IH_MAXIMUM_VAL", "IH_MEAN_IDX",
            "IH_VARIANCE_IDX", "IH_INTERQUANTILE_RANGE_VAL",
            "IH_INTERQUANTILE_RANGE_IDX",
            "IH_QUANTILE_COEFFICIENT_OF_DISPERSION_VAL",
            "IH_QUANTILE_COEFFICIENT_OF_DISPERSION_IDX",
            "IH_COEFFICIENT_OF_VARIATION_VAL", "IH_COEFFICIENT_OF_VARIATION_IDX",
            "IH_MEAN_ABSOLUTE_DEVIATION_VAL", "IH_MEAN_ABSOLUTE_DEVIATION_IDX",
            "IH_MEDIAN_ABSOLUTE_DEVIATION_VAL", "IH_MEDIAN_ABSOLUTE_DEVIATION_IDX",
            "IH_ROBUST_MEAN_VAL", "IH_ROBUST_MEAN_IDX",
            "IH_ROBUST_MEAN_ABSOLUTE_DEVIATION_VAL",
            "IH_ROBUST_MEAN_ABSOLUTE_DEVIATION_IDX",
            # round-4 wave 2: skew/kurtosis — the axis-1 sums run over 64
            # bins (below numpy's 128-element pairwise threshold → a
            # sequential fold in bin order the SQL replays via list_reduce);
            # denominators are IEEE chains (var·sqrt(var), var·var)
            "IH_SKEWNESS_VAL", "IH_SKEWNESS_IDX",
            "IH_EXCESS_KURTOSIS_VAL", "IH_EXCESS_KURTOSIS_IDX"],
        keep_tokens=False,
    )
    return feats.select(
        "doc_id",
        F.col("IH_MEDIAN_IDX").cast("long").alias("ih_median_idx"),
        F.col("IH_MODE_IDX").cast("long").alias("ih_mode_idx"),
        F.col("IH_P10_IDX").cast("long").alias("ih_p10_idx"),
        F.col("IH_P90_IDX").cast("long").alias("ih_p90_idx"),
        F.col("IH_NUM_BINS").cast("long").alias("ih_num_bins"),
        _r4(F.col("IH_BIN_SIZE")).alias("ih_bin_size"),
        _r4(F.col("IH_MEDIAN_VAL")).alias("ih_median_val"),
        _r4(F.col("IH_MEAN_VAL")).alias("ih_mean_val"),
        _r4(F.col("IH_VARIANCE_VAL")).alias("ih_var_val"),
        _r4(F.col("IH_UNIFORMITY_VAL")).alias("ih_uniformity_val"),
        _r4(F.col("IH_MODE_VAL")).alias("ih_mode_val"),
        _r4(F.col("IH_RANGE_VAL")).alias("ih_range_val"),
        _r4(F.col("IH_P10_VAL")).alias("ih_p10_val"),
        _r4(F.col("IH_P90_VAL")).alias("ih_p90_val"),
        # gradients: central differences of integer counts — interior values
        # are exact halves, edges exact ints (intensity_histogram.cpp:162-167)
        _r4(F.col("IH_MAX_GRADIENT")).alias("ih_max_grad"),
        F.col("IH_MAX_GRADIENT_IDX").cast("long").alias("ih_max_grad_idx"),
        _r4(F.col("IH_MIN_GRADIENT")).alias("ih_min_grad"),
        F.col("IH_MIN_GRADIENT_IDX").cast("long").alias("ih_min_grad_idx"),
        _r4(F.col("IH_MINIMUM_VAL")).alias("ih_min_val"),
        _r4(F.col("IH_MAXIMUM_VAL")).alias("ih_max_val"),
        _r4(F.col("IH_MEAN_IDX")).alias("ih_mean_idx_val"),
        _r4(F.col("IH_VARIANCE_IDX")).alias("ih_var_idx_val"),
        _r4(F.col("IH_INTERQUANTILE_RANGE_VAL")).alias("ih_iqr_val"),
        F.col("IH_INTERQUANTILE_RANGE_IDX").cast("long").alias("ih_iqr_idx"),
        _r4(F.col("IH_QUANTILE_COEFFICIENT_OF_DISPERSION_VAL")).alias("ih_qcod_val"),
        _r4(F.col("IH_QUANTILE_COEFFICIENT_OF_DISPERSION_IDX")).alias("ih_qcod_idx"),
        _r4(F.col("IH_COEFFICIENT_OF_VARIATION_VAL")).alias("ih_cv_val"),
        _r4(F.col("IH_COEFFICIENT_OF_VARIATION_IDX")).alias("ih_cv_idx"),
        _r4(F.col("IH_MEAN_ABSOLUTE_DEVIATION_VAL")).alias("ih_mad_val"),
        _r4(F.col("IH_MEAN_ABSOLUTE_DEVIATION_IDX")).alias("ih_mad_idx"),
        _r4(F.col("IH_MEDIAN_ABSOLUTE_DEVIATION_VAL")).alias("ih_medad_val"),
        _r4(F.col("IH_MEDIAN_ABSOLUTE_DEVIATION_IDX")).alias("ih_medad_idx"),
        _r4(F.col("IH_ROBUST_MEAN_VAL")).alias("ih_rmean_val"),
        _r4(F.col("IH_ROBUST_MEAN_IDX")).alias("ih_rmean_idx"),
        _r4(F.col("IH_ROBUST_MEAN_ABSOLUTE_DEVIATION_VAL")).alias("ih_rmad_val"),
        _r4(F.col("IH_ROBUST_MEAN_ABSOLUTE_DEVIATION_IDX")).alias("ih_rmad_idx"),
        _r4(F.col("IH_SKEWNESS_VAL")).alias("ih_skew_val"),
        _r4(F.col("IH_SKEWNESS_IDX")).alias("ih_skew_idx"),
        _r4(F.col("IH_EXCESS_KURTOSIS_VAL")).alias("ih_exkurt_val"),
        _r4(F.col("IH_EXCESS_KURTOSIS_IDX")).alias("ih_exkurt_idx"),
    )


def _q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The nyxus interpolated-percentile semantics (100-bin histogram walk,
    histogram.h:298-327) under the oracle gate: the DuckDB twin replays the
    kernel's exact IEEE op sequence, so P10/P25/P75/P90 and the derived
    IQR/QCOD hash-match."""
    _prep(spark)
    from pyspark.sql import functions as F

    from nyxus_spark.features import extract_features
    from nyxus_spark.sources import tokens_static

    t = tokens_static(spark, sf_dir).filter(
        F.array_max("tokens") > F.array_min("tokens")
    )
    feats = extract_features(
        t, ["P01", "P10", "P25", "P75", "P90", "P99", "INTERQUARTILE_RANGE",
            "QCOD", "ROBUST_MEAN", "ROBUST_MEAN_ABSOLUTE_DEVIATION"],
        keep_tokens=False,
    )
    return feats.select(
        "doc_id",
        _r4("P01").alias("p01"),
        _r4("P10").alias("p10"),
        _r4("P25").alias("p25"),
        _r4("P75").alias("p75"),
        _r4("P90").alias("p90"),
        _r4("P99").alias("p99"),
        _r4("INTERQUARTILE_RANGE").alias("iqr"),
        _r4("QCOD").alias("qcod"),
        _r4("ROBUST_MEAN").alias("robust_mean"),
        _r4("ROBUST_MEAN_ABSOLUTE_DEVIATION").alias("robust_mad"),
    )


def _q_catalog_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-family composition: one representative column from each of seven
    kernel families computed in a SINGLE extract_features pass (one Segments,
    one shared binning cache, one Arrow crossing) — the oracle recomputes
    every column with an independent per-family sub-oracle. Catches section
    interaction bugs (cache invalidation, ordering) that per-family queries
    cannot."""
    _prep(spark)
    from pyspark.sql import functions as F

    from nyxus_spark.features import extract_features
    from nyxus_spark.sources import tokens_static

    t = tokens_static(spark, sf_dir).filter(
        F.array_max("tokens") > F.array_min("tokens")
    )
    feats = extract_features(
        t, ["MEAN", "MEDIAN", "P25", "GLCM_CONTRAST", "GLRLM_LRE",
            "GLDZM_LDE", "GLDM_LDE", "IH_MEDIAN_IDX", "HISTO_BIN_0",
            "MOM_RAW_1", "MOM_MID_2", "IH_SKEWNESS_VAL"],
        keep_tokens=False,
    )
    feats = feats.select(
        "doc_id",
        _r4("MEAN").alias("mean_tok"),
        _r4("MEDIAN").alias("median_tok"),
        _r4("P25").alias("p25"),
        _r4("GLCM_CONTRAST").alias("glcm_contrast"),
        _r4("GLRLM_LRE").alias("glrlm_lre"),
        _r4("GLDZM_LDE").alias("gldzm_lde"),
        _r4("GLDM_LDE").alias("gldm_lde"),
        F.col("IH_MEDIAN_IDX").cast("long").alias("ih_median_idx"),
        F.col("HISTO_BIN_0").cast("long").alias("histo_bin_0"),
        F.col("MOM_RAW_1").cast("long").alias("m1"),
        # round-4 families, taken straight from the KERNEL here (unlike the
        # moments/ih queries, which recompute from raw sums) — the kernel's
        # binomial midpoint chain and bin-order skew fold are exact /
        # replayed at this corpus scale, so the direct values gate too
        _r4("MOM_MID_2").alias("mom_mid2"),
        _r4("IH_SKEWNESS_VAL").alias("ih_skew_val"),
    )
    # CATALOG-INVENTORY tripwire: the registered feature counts ride as
    # constants computed FROM THE LIVE REGISTRY while the oracle pins the
    # expected literals — a feature accidentally dropped from (or added
    # to) the default catalog or the Gabor escape group flips the value
    # and fails the gate, instead of silently shrinking coverage.
    from nyxus_spark.features.registry import resolve_features

    n_default = len(resolve_features(["*ALL_BUT_GABOR*"]))
    n_all = len(resolve_features(["*ALL*"]))
    n_gabor = len(resolve_features(["*ALL_GABOR*"]))
    return (
        feats.withColumn("catalog_n_default", F.lit(n_default).cast("long"))
        .withColumn("catalog_n_all", F.lit(n_all).cast("long"))
        .withColumn("catalog_n_gabor", F.lit(n_gabor).cast("long"))
    )


def _q_histo_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-bin histogram feature columns (intensity.cpp:399-402): one exact
    integer count per custom-histogram bin — trivially oracle-able."""
    _prep(spark)
    from pyspark.sql import functions as F

    from nyxus_spark.features import extract_features
    from nyxus_spark.features.firstorder import HISTO_FEATURES
    from nyxus_spark.sources import tokens_static

    full = tokens_static(spark, sf_dir)
    t = full.filter(F.array_max("tokens") > F.array_min("tokens"))
    feats = extract_features(t, list(HISTO_FEATURES), keep_tokens=False)
    # GLOBAL histogram EQUALIZATION (the classic intensity remap by corpus
    # CDF — the preprocessing transform ahead of texture/IH binning):
    # eq(v) = round-half-up of (cdf(v) − cdf_min)·63/(N − cdf_min), exact
    # via floor((2a·63 + b) div (2b)). The CDF is a 251-row dim (global
    # window on the DIM only), broadcast back to the exploded stream;
    # per-doc sums/extrema/position-checksum gate the whole remapped
    # sequence.
    from pyspark.sql import Window

    cnts = (
        full.select(F.explode("tokens").alias("tok"))
        .groupBy("tok").agg(F.count("*").alias("c"))
    )
    wt = Window.orderBy(F.col("tok").asc()).rowsBetween(
        Window.unboundedPreceding, 0)
    cdf = cnts.withColumn("cum", F.sum("c").over(wt))
    sc = cdf.agg(F.min("cum").alias("cmn"), F.max("cum").alias("nn"))
    eqmap = cdf.crossJoin(F.broadcast(sc)).select(
        "tok",
        F.expr(
            "CASE WHEN nn = cmn THEN 0L ELSE "
            "(2 * (cum - cmn) * 63 + (nn - cmn)) div (2 * (nn - cmn)) END"
        ).alias("eq"),
    )
    pe = t.select("doc_id", F.posexplode("tokens").alias("pos", "tok"))
    eqd = (
        pe.join(F.broadcast(eqmap), "tok")
        .groupBy("doc_id")
        .agg(
            F.sum("eq").cast("long").alias("eq_sum"),
            F.min("eq").cast("long").alias("eq_min"),
            F.max("eq").cast("long").alias("eq_max"),
            F.sum(F.col("eq") * (F.col("pos") + 1)).cast("long")
            .alias("eq_checksum"),
            F.countDistinct("eq").cast("long").alias("eq_levels"),
        )
    )
    out = feats.select(
        "doc_id",
        *[F.col(h).cast("long").alias(h.lower()) for h in HISTO_FEATURES],
    ).join(eqd, "doc_id")
    # OTSU threshold (the classic binarization: argmax of between-class
    # variance over the 64-bin histogram). Candidate scores are
    # (W·S_t − w_t·S)²/(w_t·(W−w_t)) — exact-integer numerators/denominators
    # evaluated with ONE identical double chain per candidate, so the argmax
    # (first index of the max, ties → lowest threshold) matches bit-for-bit.
    # Cumulative arrays are STAGED columns (never recompute a fold inside
    # the scoring lambda — the Catalyst rescan trap).
    arr = "array(" + ", ".join(f"histo_bin_{i}" for i in range(64)) + ")"
    out = out.withColumn("__hb", F.expr(arr))
    out = out.withColumn(
        "__cw",
        F.expr("transform(sequence(1, 63),"
               " k -> aggregate(slice(__hb, 1, k), 0L, (a, x) -> a + x))"),
    ).withColumn(
        "__cs",
        F.expr(
            "transform(sequence(1, 63),"
            " k -> aggregate(zip_with(slice(__hb, 1, k), sequence(0, k - 1),"
            "                (c, b) -> cast(b as bigint) * c),"
            "      0L, (a, x) -> a + x))"
        ),
    ).withColumn(
        "__W", F.expr("aggregate(__hb, 0L, (a, x) -> a + x)")
    ).withColumn(
        "__S",
        F.expr("aggregate(zip_with(__hb, sequence(0, 63),"
               " (c, b) -> cast(b as bigint) * c), 0L, (a, x) -> a + x)"),
    ).withColumn(
        "__ov",
        F.expr(
            "transform(sequence(1, 63), k -> CASE"
            " WHEN element_at(__cw, k) > 0 AND element_at(__cw, k) < __W THEN"
            " cast(__W * element_at(__cs, k) - element_at(__cw, k) * __S as double)"
            " * (__W * element_at(__cs, k) - element_at(__cw, k) * __S)"
            " / (element_at(__cw, k) * (__W - element_at(__cw, k)))"
            " ELSE -1.0D END)"
        ),
    )
    out = out.select(
        *[c for c in out.columns if not c.startswith("__")],
        (F.expr("array_position(__ov, array_max(__ov))") - 1)
        .cast("long").alias("otsu_bin"),
        _r4(F.expr("array_max(__ov)")
            / (F.col("__W").cast("double") * F.col("__W").cast("double")))
        .alias("otsu_sep4"),
    )
    # 1-D MORPHOLOGY on the Otsu-binarized stream (the shape-analysis
    # family recast, A14): foreground mask f = [bin(tok) > otsu_bin] with
    # the kernel's exact binning formula, then mass, run count, MAX run
    # (struct-state fold — fields cast stable), and radius-1 EROSION /
    # DILATION survivor counts with zero-padded borders. Pure exprs; the
    # oracle replays via lag/lead windows + gaps-and-islands.
    m = out.join(t.select("doc_id", "tokens"), "doc_id")
    m = m.withColumn("__mn", F.array_min("tokens")).withColumn(
        "__mx", F.array_max("tokens"))
    m = m.withColumn(
        "__fg",
        F.expr(
            "transform(tokens, x -> CASE WHEN"
            " least(cast(floor(cast(x - __mn as double) / (__mx - __mn)"
            " * 64.0) as int), 63) > otsu_bin THEN 1L ELSE 0L END)"
        ),
    )
    m = (
        m.withColumn(
            "fg_count", F.expr("aggregate(__fg, 0L, (a, x) -> a + x)"))
        .withColumn(
            "fg_runs",
            F.expr(
                "element_at(__fg, 1) + aggregate(zip_with("
                " slice(__fg, 2, size(__fg) - 1),"
                " slice(__fg, 1, size(__fg) - 1),"
                " (a, b) -> a * (1L - b)), 0L, (s, x) -> s + x)"
            ),
        )
        .withColumn(
            "max_fg_run",
            F.expr(
                "aggregate(__fg, named_struct('cur', 0L, 'best', 0L),"
                " (s, x) -> named_struct("
                "   'cur', CASE WHEN x = 1L THEN s.cur + 1L ELSE 0L END,"
                "   'best', greatest(s.best,"
                "     CASE WHEN x = 1L THEN s.cur + 1L ELSE 0L END)),"
                " s -> s.best)"
            ),
        )
        .withColumn(
            "eroded_count",
            F.expr(
                "CASE WHEN size(__fg) >= 3 THEN"
                " aggregate(transform(sequence(2, size(__fg) - 1),"
                "  i -> element_at(__fg, i - 1) * element_at(__fg, i)"
                "       * element_at(__fg, i + 1)), 0L, (s, x) -> s + x)"
                " ELSE 0L END"
            ),
        )
        .withColumn(
            "dilated_count",
            F.expr(
                "aggregate(transform(sequence(1, size(__fg)), i -> CASE WHEN"
                " (CASE WHEN i > 1 THEN element_at(__fg, i - 1) ELSE 0L END)"
                " + element_at(__fg, i)"
                " + (CASE WHEN i < size(__fg) THEN element_at(__fg, i + 1)"
                "    ELSE 0L END) > 0 THEN 1L ELSE 0L END),"
                " 0L, (s, x) -> s + x)"
            ),
        )
    )
    # wave 85 — HISTOGRAM-PERCENTILE ERROR audit (the sketch-accuracy
    # discipline applied to the 64-bin histogram itself: what a planner
    # pays for estimating quantiles from bin counts instead of sorting):
    # estimated P50/P90 = the bin-midpoint value of the first bin whose
    # cumulative count reaches the lower-rank target (midpoint as the
    # exact integer (2k+1)(mx−mn) div 128), exact P50/P90 = rank-selected
    # sorted elements, and the signed integer errors. All exact int64.
    hbarr = "array(" + ", ".join(f"histo_bin_{i}" for i in range(64)) + ")"
    m = (
        m.withColumn("__hb2", F.expr(hbarr))
        .withColumn(
            "__cum64",
            F.expr("transform(sequence(1, 64),"
                   " k -> aggregate(slice(__hb2, 1, k), 0L, (a, x) -> a + x))"),
        )
        .withColumn("__n", F.size("tokens").cast("long"))
        .withColumn("__r50", F.expr("(__n + 1) div 2"))
        .withColumn("__r90", F.expr("((__n - 1) * 9) div 10 + 1"))
        .withColumn(
            "hp_k50",
            F.expr("cast(size(filter(__cum64, c -> c < __r50)) as bigint)"),
        )
        .withColumn(
            "hp_k90",
            F.expr("cast(size(filter(__cum64, c -> c < __r90)) as bigint)"),
        )
        .withColumn(
            "hp_est50",
            F.expr("__mn + ((2 * hp_k50 + 1) * cast(__mx - __mn as bigint))"
                   " div 128"),
        )
        .withColumn(
            "hp_est90",
            F.expr("__mn + ((2 * hp_k90 + 1) * cast(__mx - __mn as bigint))"
                   " div 128"),
        )
        .withColumn(
            "hp_exact50",
            F.expr("cast(element_at(array_sort(tokens),"
                   " cast(__r50 as int)) as bigint)"),
        )
        .withColumn(
            "hp_exact90",
            F.expr("cast(element_at(array_sort(tokens),"
                   " cast(__r90 as int)) as bigint)"),
        )
        .withColumn("hp_err50", F.col("hp_est50") - F.col("hp_exact50"))
        .withColumn("hp_err90", F.col("hp_est90") - F.col("hp_exact90"))
    )
    # fractal BOX-COUNTING sufficient statistics (fractal_dim.cpp analog):
    # occupied box counts at dyadic scales s ∈ {2,4,8} over the binarized
    # mask (scale 1 = fg_count above); the log-log slope stays client-side
    # (logs are not cross-engine-gateable) — the COUNTS are the artifact.
    for s in (2, 4, 8):
        m = m.withColumn(
            f"fd_n{s}",
            F.expr(
                f"aggregate(transform("
                f" sequence(0, cast((size(__fg) - 1) div {s} as int)),"
                f" bx -> CASE WHEN aggregate(slice(__fg, bx * {s} + 1, {s}),"
                f"   0L, (a, x) -> greatest(a, x)) > 0 THEN 1L ELSE 0L END),"
                f" 0L, (a, x) -> a + x)"
            ),
        )
    return m.select(
        *[c for c in m.columns
          if not c.startswith("__") and c != "tokens"],
    )


def _q_gldm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dependence-matrix kernel: integer-numerator features + the
    inverse-weighted and centered-square codes, whose np.bincount
    token-order folds the oracle replays addition-for-addition
    (list_reduce ORDER BY position). DE/DCENT (entropies) stay pytest."""
    _prep(spark)
    from pyspark.sql import functions as F

    from nyxus_spark.features import extract_features
    from nyxus_spark.sources import tokens_static

    t = tokens_static(spark, sf_dir).filter(F.array_max("tokens") > F.array_min("tokens"))
    feats = extract_features(
        t, ["GLDM_LDE", "GLDM_GLN", "GLDM_DN", "NGLDM_DCM", "NGLDM_GLM",
            "GLDM_HGLE", "GLDM_DNN", "NGLDM_DCENE",
            "GLDM_SDE", "GLDM_LGLE", "GLDM_SDLGLE", "GLDM_SDHGLE",
            "GLDM_LDLGLE", "GLDM_LDHGLE", "GLDM_GLV", "GLDM_DV",
            "NGLDM_GLNUN"],
        keep_tokens=False,
    )
    return feats.select(
        "doc_id",
        _r4(F.col("GLDM_LDE")).alias("gldm_lde"),
        _r4(F.col("GLDM_GLN")).alias("gldm_gln"),
        _r4(F.col("GLDM_DN")).alias("gldm_dn"),
        _r4(F.col("NGLDM_DCM")).alias("ngldm_dcm"),
        _r4(F.col("NGLDM_GLM")).alias("ngldm_glm"),
        _r4(F.col("GLDM_HGLE")).alias("gldm_hgle"),
        _r4(F.col("GLDM_DNN")).alias("gldm_dnn"),
        _r4(F.col("NGLDM_DCENE")).alias("ngldm_dcene"),
        _r4(F.col("GLDM_SDE")).alias("gldm_sde"),
        _r4(F.col("GLDM_LGLE")).alias("gldm_lgle"),
        _r4(F.col("GLDM_SDLGLE")).alias("gldm_sdlgle"),
        _r4(F.col("GLDM_SDHGLE")).alias("gldm_sdhgle"),
        _r4(F.col("GLDM_LDLGLE")).alias("gldm_ldlgle"),
        _r4(F.col("GLDM_LDHGLE")).alias("gldm_ldhgle"),
        _r4(F.col("GLDM_GLV")).alias("gldm_glv"),
        _r4(F.col("GLDM_DV")).alias("gldm_dv"),
        _r4(F.col("NGLDM_GLNUN")).alias("ngldm_glnun"),
    )


def _q_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional moments; derived stats recomputed from the kernel's exact
    integer raw moments so both engines do identical single divisions.

    Weighted central μ2..μ4, normalized η3/η4, and the Hu-analog invariants
    reduce to SINGLE rationals in the raw moments (binomial expansion about
    c = m1/m0): μ2 = A/m0, μ3 = C/m0², μ4 = B/m0³ with
      A = m0·m2 − m1², C = m0²·m3 − 3·m0·m1·m2 + 2·m1³,
      B = m0³·m4 − 4·m0²·m1·m3 + 6·m0·m1²·m2 − 3·m1⁴,
    η3 = C/m0^4.5, η4 = B/m0⁶, HU1 = η2 = A/m0³, HU2 = η3² = C²/m0⁹,
    HU3 = η4 − 3η2² = (B − 3A²)/m0⁶. Numerators are computed in Spark
    DECIMAL (exact to 38 digits; B ≤ ~4e25, C² ≤ ~2e37 here) and the oracle
    mirrors them in DuckDB HUGEINT; denominators are identical double
    multiply-chains (never pow()) so both engines round identically.

    Round-4 extensions (same gating disciplines):
    * normalized raw moments m_p/m0^(1+p/2) for p ∈ {1,4} and the full
      shape-family set — exact ratios, sqrt(m0) correctly rounded IEEE;
    * ratio invariants HU4 = μ4/μ2² = B/(A²·m0) and HU5 = μ3²/μ2³ =
      C²/A³ (standardized kurtosis / squared skewness — exact numerator
      over a double multiply-chain denominator, NULL when μ2 = 0 on both
      engines via the same A > 0 CASE);
    * HU6 = η2η4 − η3²: A·B exceeds 38 digits, so it is gated as the FIXED
      IEEE chain (A/m0³)·(B/m0⁶) − C²/m0⁹ — three exact-numerator
      divisions, one product, one subtraction, replayed in that exact op
      order by the oracle."""
    _prep(spark)
    from pyspark.sql import functions as F

    from nyxus_spark.features import extract_features
    from nyxus_spark.sources import tokens_static

    t = tokens_static(spark, sf_dir)
    feats = extract_features(
        t, ["MOM_RAW_0", "MOM_RAW_1", "MOM_RAW_2", "MOM_RAW_3", "MOM_RAW_4",
            "MOM_SHAPE_RAW_0", "MOM_SHAPE_RAW_1", "MOM_SHAPE_RAW_2",
            "MOM_SHAPE_RAW_3", "MOM_SHAPE_RAW_4"],
        keep_tokens=False,
    ).filter((F.col("MOM_RAW_0") > 0) & (F.col("MOM_SHAPE_RAW_0") > 0))
    # the midpoint family's center h = (n−1)/2 uses the n_tok column the
    # kernel pass already carries through
    m0, m1, m2 = F.col("MOM_RAW_0"), F.col("MOM_RAW_1"), F.col("MOM_RAW_2")
    s0, s1, s2 = (F.col("MOM_SHAPE_RAW_0"), F.col("MOM_SHAPE_RAW_1"),
                  F.col("MOM_SHAPE_RAW_2"))
    # exact integer numerators in decimal arithmetic
    m0i, m1i, m2i, m3i, m4i = (
        F.col(f"MOM_RAW_{p}").cast("decimal(14,0)") for p in range(5)
    )
    A = (m0i * m2i - m1i * m1i).cast("decimal(19,0)")
    Cn = (m0i * m0i * m3i - F.lit(3) * (m0i * m1i * m2i)
          + F.lit(2) * (m1i * m1i * m1i)).cast("decimal(19,0)")
    B = (m0i * m0i * m0i * m4i - F.lit(4) * (m0i * m0i * m1i * m3i)
         + F.lit(6) * (m0i * m1i * m1i * m2i)
         - F.lit(3) * (m1i * m1i * m1i * m1i)).cast("decimal(27,0)")
    h3n = (B - F.lit(3) * (A * A)).cast("decimal(38,0)")
    c2n = (Cn * Cn).cast("decimal(38,0)")
    # denominator multiply-chains (identical tree in the oracle SQL)
    m02 = m0 * m0
    m03 = m02 * m0
    m06 = m03 * m03
    m09 = m06 * m03
    # shape-family (unweighted) numerators — small-integer domain
    s0i, s1i, s2i, s3i, s4i = (
        F.col(f"MOM_SHAPE_RAW_{p}").cast("decimal(14,0)") for p in range(5)
    )
    As = (s0i * s2i - s1i * s1i).cast("decimal(19,0)")
    Cs = (s0i * s0i * s3i - F.lit(3) * (s0i * s1i * s2i)
          + F.lit(2) * (s1i * s1i * s1i)).cast("decimal(19,0)")
    Bs = (s0i * s0i * s0i * s4i - F.lit(4) * (s0i * s0i * s1i * s3i)
          + F.lit(6) * (s0i * s1i * s1i * s2i)
          - F.lit(3) * (s1i * s1i * s1i * s1i)).cast("decimal(27,0)")
    s02 = s0 * s0
    s03 = s02 * s0
    # midpoint-central family (moments about the sequence center
    # h = (n−1)/2): 2^p-scaled numerators are exact integers — binomial in
    # the raw moments with q = n−1 — and the final /2^p is an exact
    # power-of-two scaling
    qd = (F.col("n_tok") - 1).cast("decimal(14,0)")
    qd2 = qd * qd
    mid1n = (F.lit(2) * m1i - qd * m0i).cast("decimal(19,0)")
    mid2n = (F.lit(4) * m2i - F.lit(4) * (qd * m1i) + qd2 * m0i).cast("decimal(19,0)")
    mid3n = (F.lit(8) * m3i - F.lit(12) * (qd * m2i) + F.lit(6) * (qd2 * m1i)
             - (qd2 * qd) * m0i).cast("decimal(27,0)")
    mid4n = (F.lit(16) * m4i - F.lit(32) * (qd * m3i) + F.lit(24) * (qd2 * m2i)
             - F.lit(8) * ((qd2 * qd) * m1i)
             + (qd2 * qd2) * m0i).cast("decimal(27,0)")
    smid2n = (F.lit(4) * s2i - F.lit(4) * (qd * s1i) + qd2 * s0i).cast("decimal(19,0)")
    smid3n = (F.lit(8) * s3i - F.lit(12) * (qd * s2i) + F.lit(6) * (qd2 * s1i)
              - (qd2 * qd) * s0i).cast("decimal(27,0)")
    smid4n = (F.lit(16) * s4i - F.lit(32) * (qd * s3i) + F.lit(24) * (qd2 * s2i)
              - F.lit(8) * ((qd2 * qd) * s1i)
              + (qd2 * qd2) * s0i).cast("decimal(27,0)")
    # shifted-Legendre ORTHOGONAL moments (the 1-D analog of the reference's
    # Zernike radial-polynomial family, /root/reference/src/nyx/features/
    # zernike.cpp — an orthogonal basis over the normalized domain instead
    # of the raw power basis): ℓ_k = Σᵢ P̃ₖ(i/h)·tᵢ / m0 with h = n−1 and
    # P̃₁ = 2u−1, P̃₂ = 6u²−6u+1, P̃₃ = 20u³−30u²+12u−1,
    # P̃₄ = 70u⁴−140u³+90u²−20u+1. Multiplying by h^k makes every numerator
    # an exact-integer combination of the raw moments the kernel already
    # emits (DECIMAL here, HUGEINT in the oracle); the denominator is the
    # identical (m0·h)·h·… double multiply-chain; h = 0 → NULL both engines.
    leg2n = (F.lit(6) * m2i - F.lit(6) * (qd * m1i)
             + qd2 * m0i).cast("decimal(27,0)")
    leg3n = (F.lit(20) * m3i - F.lit(30) * (qd * m2i) + F.lit(12) * (qd2 * m1i)
             - (qd2 * qd) * m0i).cast("decimal(27,0)")
    leg4n = (F.lit(70) * m4i - F.lit(140) * (qd * m3i) + F.lit(90) * (qd2 * m2i)
             - F.lit(20) * ((qd2 * qd) * m1i)
             + (qd2 * qd2) * m0i).cast("decimal(38,0)")
    sleg2n = (F.lit(6) * s2i - F.lit(6) * (qd * s1i)
              + qd2 * s0i).cast("decimal(27,0)")
    sleg3n = (F.lit(20) * s3i - F.lit(30) * (qd * s2i) + F.lit(12) * (qd2 * s1i)
              - (qd2 * qd) * s0i).cast("decimal(27,0)")
    sleg4n = (F.lit(70) * s4i - F.lit(140) * (qd * s3i) + F.lit(90) * (qd2 * s2i)
              - F.lit(20) * ((qd2 * qd) * s1i)
              + (qd2 * qd2) * s0i).cast("decimal(38,0)")
    hd = (F.col("n_tok") - 1).cast("double")
    pos = F.col("n_tok") > 1
    # positional OLS trend (token drift over the sequence): with Σi and Σi²
    # closed-form in n, slope = 6·(2n·m1 − n·h·m0) / (n²·(n²−1)) — an exact
    # integer numerator over a closed-form denominator (ONE division);
    # intercept = mean(t) − slope·h/2 as a fixed IEEE chain. n = 1 → NULL.
    nd_i = F.col("n_tok").cast("decimal(14,0)")
    trendn = (F.lit(2) * (nd_i * m1i) - (nd_i * qd) * m0i).cast("decimal(27,0)")
    nd = F.col("n_tok").cast("double")
    trend_den = (nd * nd) * ((nd * nd) - F.lit(1.0))
    slope_u = (F.lit(6) * trendn).cast("double") / trend_den
    return feats.withColumn(
        "__slope", F.when(pos, slope_u)
    ).select(
        "doc_id",
        m0.cast("long").alias("m0"),
        m1.cast("long").alias("m1"),
        m2.cast("long").alias("m2"),
        F.col("MOM_RAW_3").cast("long").alias("m3"),
        F.col("MOM_RAW_4").cast("long").alias("m4"),
        _r4(m1 / m0).alias("centroid"),
        _r4((m0 * m2 - m1 * m1) / (m0 * m0 * m0)).alias("norm_central2"),
        _r4(A.cast("double") / m0).alias("central2"),
        _r4(Cn.cast("double") / m02).alias("central3"),
        _r4(B.cast("double") / m03).alias("central4"),
        _r4(Cn.cast("double") / ((m02 * m02) * F.sqrt(m0))).alias("norm_central3"),
        _r4(B.cast("double") / m06).alias("norm_central4"),
        # normalized RAW moments (reference W_pq weighted-normalized codes):
        # m_p / m0^(1+p/2) — exact ratio; sqrt is correctly rounded IEEE
        _r4(m1 / (m0 * F.sqrt(m0))).alias("norm_raw_1"),
        _r4(m2 / m02).alias("norm_raw_2"),
        _r4(F.col("MOM_RAW_3") / (m02 * F.sqrt(m0))).alias("norm_raw_3"),
        _r4(F.col("MOM_RAW_4") / m03).alias("norm_raw_4"),
        _r4(A.cast("double") / m03).alias("hu1"),
        _r4(c2n.cast("double") / m09).alias("hu2"),
        _r4(h3n.cast("double") / m06).alias("hu3"),
        # ratio invariants: exact numerator / double multiply-chain; μ2 = 0
        # (all mass at one position) → NULL via the same CASE on both sides
        F.when(A.cast("double") > 0,
               _r4(B.cast("double")
                   / ((A.cast("double") * A.cast("double")) * m0))).alias("hu4"),
        F.when(A.cast("double") > 0,
               _r4(c2n.cast("double")
                   / ((A.cast("double") * A.cast("double")) * A.cast("double")))).alias("hu5"),
        # HU6 = η2η4 − η3² as the fixed IEEE chain (A·B > 38 digits)
        _r4((A.cast("double") / m03) * (B.cast("double") / m06)
            - c2n.cast("double") / m09).alias("hu6"),
        s0.cast("long").alias("s0"),
        s1.cast("long").alias("s1"),
        s2.cast("long").alias("s2"),
        F.col("MOM_SHAPE_RAW_3").cast("long").alias("s3"),
        _r4(s1 / s0).alias("shape_centroid"),
        _r4(s1 / (s0 * F.sqrt(s0))).alias("shape_norm_raw_1"),
        _r4(s2 / s02).alias("shape_norm_raw_2"),
        _r4(F.col("MOM_SHAPE_RAW_3") / (s02 * F.sqrt(s0))).alias("shape_norm_raw_3"),
        _r4(F.col("MOM_SHAPE_RAW_4") / s03).alias("shape_norm_raw_4"),
        _r4((s0 * s2 - s1 * s1) / (s0 * s0 * s0)).alias("shape_norm_central2"),
        # shape-family centrals + invariants (mask-moment analogs): same
        # single-rational forms on the unweighted s-moments
        _r4(As.cast("double") / s0).alias("shape_central2"),
        _r4(Cs.cast("double") / s02).alias("shape_central3"),
        _r4(Bs.cast("double") / s03).alias("shape_central4"),
        _r4(As.cast("double") / s03).alias("shape_hu1"),
        _r4((Cs * Cs).cast("double") / ((s03 * s03) * s03)).alias("shape_hu2"),
        _r4((Bs - F.lit(3) * (As * As)).cast("double") / (s03 * s03)).alias("shape_hu3"),
        F.when(As.cast("double") > 0,
               _r4(Bs.cast("double")
                   / ((As.cast("double") * As.cast("double")) * s0))).alias("shape_hu4"),
        F.when(As.cast("double") > 0,
               _r4((Cs * Cs).cast("double")
                   / ((As.cast("double") * As.cast("double")) * As.cast("double")))).alias("shape_hu5"),
        _r4(mid1n.cast("double") / F.lit(2.0)).alias("mid1"),
        _r4(mid2n.cast("double") / F.lit(4.0)).alias("mid2"),
        _r4(mid3n.cast("double") / F.lit(8.0)).alias("mid3"),
        _r4(mid4n.cast("double") / F.lit(16.0)).alias("mid4"),
        _r4(smid2n.cast("double") / F.lit(4.0)).alias("shape_mid2"),
        _r4(smid3n.cast("double") / F.lit(8.0)).alias("shape_mid3"),
        _r4(smid4n.cast("double") / F.lit(16.0)).alias("shape_mid4"),
        F.when(pos, _r4(mid1n.cast("double") / (m0 * hd))).alias("leg1"),
        F.when(pos, _r4(leg2n.cast("double") / ((m0 * hd) * hd))).alias("leg2"),
        F.when(pos, _r4(leg3n.cast("double")
                        / (((m0 * hd) * hd) * hd))).alias("leg3"),
        F.when(pos, _r4(leg4n.cast("double")
                        / ((((m0 * hd) * hd) * hd) * hd))).alias("leg4"),
        F.when(pos, _r4(sleg2n.cast("double") / ((s0 * hd) * hd))).alias("shape_leg2"),
        F.when(pos, _r4(sleg3n.cast("double")
                        / (((s0 * hd) * hd) * hd))).alias("shape_leg3"),
        F.when(pos, _r4(sleg4n.cast("double")
                        / ((((s0 * hd) * hd) * hd) * hd))).alias("shape_leg4"),
        _r4(F.col("__slope")).alias("trend_slope"),
        F.when(pos, _r4(m0 / nd - F.col("__slope") * (hd / F.lit(2.0))))
        .alias("trend_icept"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # EXACTLY 50 entries — the driver's correctness window covers the first
    # 50 in registry order, so every registered query gets a driver row.
    # Related operators that used to be separate entries are composition
    # queries now (join-merged on their row key; every column still gated):
    # gabor+radial → gabor_radial, glcm_sym+glcm_ibsi+glcm_ave → glcm_modes,
    # glrlm_ave+glrlm_bg → glrlm_modes, langid+text_quality+fingerprint →
    # text_stats, rollup+rollup_pivot → rollup_wide, asof_salted + the
    # as-of directions → asof_strategies. Queries whose gates are
    # newest-or-changed lead.
    return {
        # round-4 new/changed gates first
        "gabor_radial": _q_gabor_radial,
        "ngtdm": _q_ngtdm,
        "gldzm": _q_gldzm,
        "asof_strategies": _q_asof_strategies,
        "pricing_summary": _q_pricing_summary,
        "multimodal_decode": _q_multimodal_decode,
        "segment_sales": _q_segment_sales,
        "glcm_modes": _q_glcm_modes,
        "glrlm_modes": _q_glrlm_modes,
        "text_stats": _q_text_stats,
        "rollup_wide": _q_rollup_wide,
        "chunk_tokens": _q_chunk_tokens,
        "sample_hash": _q_sample_hash,
        # stable gates
        "ih": _q_ih,
        "percentiles": _q_percentiles,
        "histo_bins": _q_histo_bins,
        "catalog_wide": _q_catalog_wide,
        "gldm": _q_gldm,
        "moments": _q_moments,
        "neighbors": _q_neighbors,
        "covered_range": _q_covered_range,
        "asof_tokens": _q_asof_tokens,
        "asof_tolerance": _q_asof_tolerance,
        "frame_sample": _q_frame_sample,
        "tokens_basic": _q_tokens_basic,
        "prescan_sources": _q_prescan_sources,
        "asof_join": _q_asof_join,
        "asof_stream": _q_asof_stream,
        "stream_agg": _q_stream_agg,
        "sessionize": _q_sessionize,
        "lag_lead_locf": _q_lag_lead_locf,
        "firstorder": _q_firstorder,
        "dedup_exact": _q_dedup_exact,
        "minhash_pairs": _q_minhash_pairs,
        "simhash_pairs": _q_simhash_pairs,
        "ngram_verify": _q_ngram_verify,
        "dedup_clusters": _q_dedup_clusters,
        "corpus_clean": _q_corpus_clean,
        "topk_cosine": _q_topk_cosine,
        "topk_batch": _q_topk_batch,
        "ivf_topk": _q_ivf_topk,
        "ivf_persisted": _q_ivf_persisted,
        "ivf_batch": _q_ivf_batch,
        "multi_format_scan": _q_multi_format_scan,
        "vocab_topk": _q_vocab_topk,
        "embed_quantize": _q_embed_quantize,
        "cosine_dup": _q_cosine_dup,
        "glrlm": _q_glrlm,
        "glcm": _q_glcm,
        "glszm": _q_glszm,
    }


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB). Token-table CTEs are imported from the single source
# of truth in nyxus_spark/sources/tables.py.
# ---------------------------------------------------------------------------

def oracle_sql() -> dict[str, str]:
    from nyxus_spark import oracles
    from nyxus_spark.functions import STOPWORDS
    from nyxus_spark.sources.tables import SQL_PROBES, SQL_TOKENS_STATIC, SQL_VERSIONS

    extra = {
        "ih": oracles.sql_ih(64),
        "percentiles": oracles.sql_percentiles(),
        "histo_bins": oracles.sql_histo_bins(64),
        "catalog_wide": oracles.sql_catalog_wide(),
        "gldm": oracles.sql_gldm(64),
        "moments": oracles.sql_moments(),
        "neighbors": """
WITH ev AS (
  SELECT CAST(user_id AS VARCHAR) AS doc_id, ts, event_id FROM events
),
pairs AS (
  SELECT a.doc_id, a.event_id,
         CAST(abs(epoch_us(a.ts) - epoch_us(b.ts)) AS BIGINT) AS d
  FROM ev a JOIN ev b
    ON a.doc_id = b.doc_id AND a.event_id <> b.event_id
   AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 14400000000
),
agg AS (
  SELECT doc_id, event_id,
         CAST(COUNT(*) AS BIGINT) AS num_neighbors,
         CAST(min(d) AS BIGINT) AS closest1_us,
         CAST((list(d ORDER BY d))[2] AS BIGINT) AS closest2_us
  FROM pairs GROUP BY doc_id, event_id
),
sk AS (  -- skew report: per key, rows + reproducible bucket (MIX mod P31)
  SELECT CAST(user_id AS VARCHAR) AS doc_id,
         CAST(COUNT(*) AS BIGINT) AS sk_rows,
         CAST((user_id % 2147483647) * 506952114 % 2147483647 % 16
              AS INTEGER) AS sk_bucket
  FROM events GROUP BY user_id
),
skb AS (
  SELECT sk_bucket, CAST(SUM(sk_rows) AS BIGINT) AS sk_bucket_rows
  FROM sk GROUP BY sk_bucket
),
skt AS (
  SELECT CAST(SUM(sk_rows) AS BIGINT) AS total,
         CAST(COUNT(*) AS BIGINT) AS nkeys
  FROM sk
),
ia1 AS (  -- inter-arrival gaps in whole seconds (exact int64)
  SELECT CAST(user_id AS VARCHAR) AS doc_id, epoch_us(ts) AS us,
         (epoch_us(ts) - lag(epoch_us(ts))
            OVER (PARTITION BY user_id ORDER BY epoch_us(ts))) // 1000000 AS g
  FROM events
),
ia2 AS (
  SELECT doc_id, g,
         lag(g) OVER (PARTITION BY doc_id ORDER BY us) AS gp
  FROM ia1
),
iag AS (
  SELECT doc_id,
         CAST(count(g) AS BIGINT) AS gn,
         CAST(sum(g) AS BIGINT) AS s,
         CAST(max(g) AS BIGINT) AS gmax,
         CAST(sum(g*g) AS BIGINT) AS q,
         CAST(count(gp) AS BIGINT) AS m,
         CAST(sum(g*gp) AS BIGINT) AS p,
         CAST(sum(gp) AS BIGINT) AS sa,
         CAST(sum(CASE WHEN gp IS NOT NULL THEN g END) AS BIGINT) AS sb,
         CAST(sum(gp*gp) AS BIGINT) AS qa,
         CAST(sum(CASE WHEN gp IS NOT NULL THEN g*g END) AS BIGINT) AS qb
  FROM ia2 GROUP BY doc_id
),
iab AS (
  SELECT doc_id, gn AS ia_n_gaps, s AS ia_sum_s, gmax AS ia_max_s,
    CASE WHEN gn >= 2 AND (s > 0 OR gn*q > s*s) THEN
      FLOOR(((sqrt(CAST(gn*q - s*s AS DOUBLE)) - CAST(s AS DOUBLE))
           / (sqrt(CAST(gn*q - s*s AS DOUBLE)) + CAST(s AS DOUBLE)))
           * 10000.0 + 0.5) / 10000.0 END AS ia_burstiness,
    CASE WHEN m >= 2 AND m*qa - sa*sa > 0 AND m*qb - sb*sb > 0 THEN
      FLOOR((CAST(m*p - sa*sb AS DOUBLE)
           / (sqrt(CAST(m*qa - sa*sa AS DOUBLE)) * sqrt(CAST(m*qb - sb*sb AS DOUBLE))))
           * 10000.0 + 0.5) / 10000.0 END AS ia_memory
  FROM iag
),
iaf AS (
  SELECT doc_id,
    FLOOR((CAST(nh*q2 - n*n AS DOUBLE) / CAST(nh*n AS DOUBLE))
          * 10000.0 + 0.5) / 10000.0 AS ia_fano_hourly
  FROM (
    SELECT doc_id, max(h) - min(h) + 1 AS nh,
           CAST(sum(c) AS BIGINT) AS n, CAST(sum(c*c) AS BIGINT) AS q2
    FROM (SELECT doc_id, h, CAST(count(*) AS BIGINT) AS c
          FROM (SELECT CAST(user_id AS VARCHAR) AS doc_id,
                       epoch_us(ts) // 3600000000 AS h FROM events)
          GROUP BY doc_id, h)
    GROUP BY doc_id)
),
mkseq AS (  -- Markov transitions under the (ts, event_id) total order
  SELECT CAST(user_id AS VARCHAR) AS doc_id, event_type AS src,
         lead(event_type) OVER (
           PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS nxt
  FROM events
),
mka AS (
  SELECT doc_id,
         CAST(count(nxt) AS BIGINT) AS mk_trans,
         CAST(COALESCE(SUM(CASE WHEN src = nxt THEN 1 END), 0) AS BIGINT)
           AS mk_self,
         CAST(COALESCE(SUM(CASE WHEN nxt = 'purchase' THEN 1 END), 0)
           AS BIGINT) AS mk_to_purchase
  FROM mkseq GROUP BY doc_id
),
mkt AS (
  SELECT doc_id, src || '>' || nxt AS mk_top_pair FROM (
    SELECT doc_id, src, nxt,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY count(*) DESC, src ASC, nxt ASC) AS rn
    FROM mkseq WHERE nxt IS NOT NULL GROUP BY doc_id, src, nxt) WHERE rn = 1
),
mrate AS (  -- peak trailing-1h rate (value-defined RANGE frame, tie-safe)
  SELECT doc_id, CAST(MAX(c) AS BIGINT) AS peak_rate_1h FROM (
    SELECT CAST(user_id AS VARCHAR) AS doc_id,
           count(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                          RANGE BETWEEN 3600000000 PRECEDING
                                    AND CURRENT ROW) AS c
    FROM events)
  GROUP BY doc_id
),
lif AS (  -- Kaplan–Meier lifetimes: duration in whole days + churn flag
  SELECT CAST(user_id AS VARCHAR) AS doc_id,
         (max(epoch_us(ts)) - min(epoch_us(ts))) // 86400000000 AS km_t,
         CASE WHEN max(epoch_us(ts)) <
              (SELECT max(epoch_us(ts)) FROM events) - 86400000000
              THEN 1 ELSE 0 END AS km_churn
  FROM events GROUP BY user_id
),
kmdim AS (
  SELECT km_t, CAST(SUM(km_churn) AS BIGINT) AS km_d,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM lif GROUP BY km_t
),
kmfac AS (
  SELECT km_t, km_d, km_n,
         CAST(km_n - km_d AS DOUBLE) / CAST(km_n AS DOUBLE) AS f
  FROM (SELECT km_t, km_d,
               CAST(SUM(c) OVER (ORDER BY km_t DESC
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS BIGINT) AS km_n
        FROM kmdim)
),
km AS (  -- running product replayed in fold order (pure-multiply lambda)
  SELECT a.km_t, a.km_d AS km_events, a.km_n AS km_at_risk,
         list_reduce(list(b.f ORDER BY b.km_t), (x, y) -> x * y) AS km_surv
  FROM kmfac a JOIN kmfac b ON b.km_t <= a.km_t
  GROUP BY a.km_t, a.km_d, a.km_n
),
cupe AS (  -- CUPED: pre/post cents split at the corpus ts midpoint
  SELECT CAST(user_id AS VARCHAR) AS doc_id, epoch_us(ts) AS us,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events
),
cupb AS (SELECT (MIN(us) + MAX(us)) // 2 AS mid FROM cupe),
cup AS (
  SELECT doc_id,
         CAST(COALESCE(SUM(CASE WHEN us < b.mid THEN cents END), 0)
              AS BIGINT) AS cup_x,
         CAST(COALESCE(SUM(CASE WHEN us >= b.mid THEN cents END), 0)
              AS BIGINT) AS cup_y
  FROM cupe, cupb b GROUP BY doc_id
),
cups AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(cup_x) AS BIGINT) AS sx,
         CAST(SUM(cup_y) AS BIGINT) AS sy,
         CAST(SUM(cup_x * cup_x) AS BIGINT) AS sxx,
         CAST(SUM(cup_x * cup_y) AS BIGINT) AS sxy
  FROM cup
),
cupd AS (
  SELECT c.doc_id, c.cup_x, c.cup_y,
         CAST(s.n * s.sxy - s.sx * s.sy AS BIGINT) AS cup_num,
         CAST(s.n * s.sxx - s.sx * s.sx AS BIGINT) AS cup_den,
         CASE WHEN s.n * s.sxx - s.sx * s.sx > 0 THEN
           CAST(s.n * s.sxy - s.sx * s.sy AS DOUBLE)
           / CAST(s.n * s.sxx - s.sx * s.sx AS DOUBLE)
         ELSE 0.0 END AS theta,
         CAST(s.sx AS DOUBLE) / CAST(s.n AS DOUBLE) AS xbar
  FROM cup c, cups s
)
SELECT e.doc_id, e.event_id,
       COALESCE(a.num_neighbors, 0) AS num_neighbors,
       a.closest1_us, a.closest2_us,
       s.sk_rows, s.sk_bucket, b.sk_bucket_rows,
       CAST(s.sk_rows * t.nkeys > 2 * t.total AS BIGINT) AS sk_key_hot,
       CAST(b.sk_bucket_rows * 16 > 2 * t.total AS BIGINT) AS sk_bucket_hot,
       i.ia_n_gaps, i.ia_sum_s, i.ia_max_s, i.ia_burstiness, i.ia_memory,
       f.ia_fano_hourly,
       COALESCE(mk.mk_trans, 0) AS mk_trans,
       COALESCE(mk.mk_self, 0) AS mk_self,
       COALESCE(mk.mk_to_purchase, 0) AS mk_to_purchase,
       CASE WHEN COALESCE(mk.mk_trans, 0) > 0 THEN
         FLOOR((CAST(mk.mk_self AS DOUBLE) / mk.mk_trans) * 10000.0 + 0.5)
           / 10000.0
       ELSE 0.0 END AS mk_self_share4,
       COALESCE(mt.mk_top_pair, '') AS mk_top_pair,
       mr.peak_rate_1h,
       l.km_t, km.km_events, km.km_at_risk, km.km_surv,
       cp.cup_x, cp.cup_y, cp.cup_num, cp.cup_den,
       FLOOR(cp.theta * 10000.0 + 0.5) / 10000.0 AS cup_theta4,
       FLOOR((CAST(cp.cup_y AS DOUBLE)
              - cp.theta * (CAST(cp.cup_x AS DOUBLE) - cp.xbar))
             * 10000.0 + 0.5) / 10000.0 AS cup_adj4
FROM ev e LEFT JOIN agg a USING (doc_id, event_id)
JOIN sk s USING (doc_id) JOIN skb b USING (sk_bucket)
JOIN iab i ON i.doc_id = e.doc_id JOIN iaf f ON f.doc_id = e.doc_id
LEFT JOIN mka mk ON mk.doc_id = e.doc_id
LEFT JOIN mkt mt ON mt.doc_id = e.doc_id
JOIN mrate mr ON mr.doc_id = e.doc_id
JOIN lif l ON l.doc_id = e.doc_id JOIN km ON km.km_t = l.km_t
JOIN cupd cp ON cp.doc_id = e.doc_id, skt t
""",
        "rollup_wide": f"""
WITH {SQL_VERSIONS},
vd1 AS (  -- consecutive version pairs ((doc_id, ts) unique ⇒ deterministic)
  SELECT doc_id, tokens, ptok,
         CAST(len(ptok) AS BIGINT) AS na,
         CAST(len(tokens) AS BIGINT) AS nb,
         LEAST(CAST(len(ptok) AS BIGINT), CAST(len(tokens) AS BIGINT)) AS mn
  FROM (SELECT doc_id, tokens,
               lag(tokens) OVER (PARTITION BY doc_id ORDER BY ts) AS ptok
        FROM versions)
  WHERE ptok IS NOT NULL
),
vd3 AS (
  SELECT doc_id, tokens, na, nb, mn,
         -- list_position returns 0 when absent (same contract as Spark's
         -- array_position — measured, not NULL)
         CASE WHEN mn = 0 THEN 0
              WHEN list_position(eqp, 0) = 0 THEN mn
              ELSE list_position(eqp, 0) - 1 END AS lcp,
         CASE WHEN mn = 0 THEN 0
              WHEN list_position(eqs, 0) = 0 THEN mn
              ELSE list_position(eqs, 0) - 1 END AS lcs_raw
  FROM (
    SELECT doc_id, tokens, na, nb, mn,
           list_transform(range(1, mn + 1), i ->
             CASE WHEN ptok[CAST(i AS INTEGER)] = tokens[CAST(i AS INTEGER)]
                  THEN 1 ELSE 0 END) AS eqp,
           list_transform(range(1, mn + 1), i ->
             CASE WHEN ptok[CAST(na - i + 1 AS INTEGER)]
                       = tokens[CAST(nb - i + 1 AS INTEGER)]
                  THEN 1 ELSE 0 END) AS eqs
    FROM vd1)
),
vd4 AS (
  SELECT doc_id, na, nb, lcp,
         LEAST(lcs_raw, mn - lcp) AS lcs,
         na - lcp - LEAST(lcs_raw, mn - lcp) AS a_edit,
         nb - lcp - LEAST(lcs_raw, mn - lcp) AS b_edit,
         CASE WHEN na = nb AND lcp = na THEN 1 ELSE 0 END AS ident,
         CASE WHEN nb - lcp - LEAST(lcs_raw, mn - lcp) = 0 THEN 0
              ELSE COALESCE(list_sum(list_transform(
                     range(1, nb - lcp - LEAST(lcs_raw, mn - lcp) + 1),
                     i -> CAST(tokens[CAST(lcp + i AS INTEGER)] AS BIGINT) * i)), 0)
                   % 1000003 END AS edit_ck
  FROM vd3
),
vdagg AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS vd_pairs,
         CAST(SUM(ident) AS BIGINT) AS vd_identical,
         CAST(SUM(lcp) AS BIGINT) AS vd_sum_lcp,
         CAST(SUM(lcs) AS BIGINT) AS vd_sum_lcs,
         CAST(SUM(a_edit + b_edit) AS BIGINT) AS vd_sum_edit,
         CAST(MAX(b_edit) AS BIGINT) AS vd_max_edit,
         CAST(SUM(edit_ck) AS BIGINT) AS vd_edit_ck
  FROM vd4 GROUP BY doc_id
),
main AS (
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_children,
       FLOOR((CAST(CAST(SUM(n_tok) AS BIGINT) AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS sum_n_tok,
       FLOOR((CAST(CAST(SUM(n_tok) AS BIGINT) AS DOUBLE) / COUNT(*)) * 10000.0 + 0.5) / 10000.0 AS mean_n_tok,
       FLOOR((CAST(MIN(n_tok) AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS min_n_tok,
       FLOOR((CAST(MAX(n_tok) AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS max_n_tok,
       FLOOR((SUM(value)) * 10000.0 + 0.5) / 10000.0 AS sum_value,
       FLOOR((AVG(value)) * 10000.0 + 0.5) / 10000.0 AS mean_value,
       FLOOR((MIN(value)) * 10000.0 + 0.5) / 10000.0 AS min_value,
       FLOOR((MAX(value)) * 10000.0 + 0.5) / 10000.0 AS max_value,
       FLOOR((CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT) * n_tok) AS DOUBLE)
             / (CAST(SUM(n_tok) AS BIGINT) * 100)) * 10000.0 + 0.5) / 10000.0 AS wma_value,
       CAST(COUNT(*) FILTER (source = 'click') AS BIGINT) AS click,
       CAST(COUNT(*) FILTER (source = 'error') AS BIGINT) AS error,
       CAST(COUNT(*) FILTER (source = 'purchase') AS BIGINT) AS purchase,
       CAST(COUNT(*) FILTER (source = 'signup') AS BIGINT) AS signup,
       CAST(COUNT(*) FILTER (source = 'view') AS BIGINT) AS "view"
FROM versions GROUP BY doc_id
)
SELECT m.*,
       COALESCE(v.vd_pairs, 0) AS vd_pairs,
       COALESCE(v.vd_identical, 0) AS vd_identical,
       COALESCE(v.vd_sum_lcp, 0) AS vd_sum_lcp,
       COALESCE(v.vd_sum_lcs, 0) AS vd_sum_lcs,
       COALESCE(v.vd_sum_edit, 0) AS vd_sum_edit,
       COALESCE(v.vd_max_edit, 0) AS vd_max_edit,
       COALESCE(v.vd_edit_ck, 0) AS vd_edit_ck
FROM main m LEFT JOIN vdagg v USING (doc_id)
""",
        "covered_range": f"""
WITH {SQL_TOKENS_STATIC},
dim AS (
  SELECT source, MIN(list_min(tokens)) AS src_min, MAX(list_max(tokens)) AS src_max
  FROM tokens_static GROUP BY source
),
mff AS (  -- pseudo-files: id div 32 (the sorted-writer layout)
  SELECT doc_id, CAST(n_tok AS BIGINT) AS v,
         CAST(CAST(substr(doc_id, 5) AS BIGINT) // 32 AS BIGINT) AS mf_file
  FROM tokens_static
),
mfm AS (  -- the manifest: per-file rows + min/max stats
  SELECT mf_file, CAST(COUNT(*) AS BIGINT) AS mf_rows,
         CAST(MIN(v) AS BIGINT) AS mf_min, CAST(MAX(v) AS BIGINT) AS mf_max
  FROM mff GROUP BY mf_file
),
mfc AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM mff GROUP BY v),
mfq AS (SELECT v,
               SUM(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cum,
               SUM(c) OVER () AS n
        FROM mfc),
mfb AS (  -- the range predicate: corpus lower-rank p25/p75 bounds
  SELECT CAST(MIN(CASE WHEN cum >= GREATEST(1, (n * 25) // 100) THEN v END)
              AS BIGINT) AS mf_lo,
         CAST(MIN(CASE WHEN cum >= GREATEST(1, (n * 75) // 100) THEN v END)
              AS BIGINT) AS mf_hi
  FROM mfq
),
mfs AS (  -- the scan decision: file range intersects the predicate range
  SELECT m.*, b.mf_lo, b.mf_hi,
         CAST(m.mf_max >= b.mf_lo AND m.mf_min <= b.mf_hi AS BIGINT) AS mf_scan
  FROM mfm m CROSS JOIN mfb b
),
mft AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS mf_files,
         CAST(SUM(mf_scan) AS BIGINT) AS mf_files_scanned,
         CAST(SUM(CASE WHEN mf_scan = 0 THEN mf_rows ELSE 0 END) AS BIGINT)
           AS mf_rows_skipped
  FROM mfs
),
bfq AS (  -- Benford audit: first digit of n_tok
  SELECT doc_id,
         CAST(substr(CAST(n_tok AS VARCHAR), 1, 1) AS INTEGER) AS bf_digit
  FROM tokens_static
),
bfc AS (SELECT bf_digit, CAST(COUNT(*) AS BIGINT) AS bf_cnt
        FROM bfq GROUP BY 1),
bfn2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS bn FROM bfq),
bfx AS (
  SELECT c.bf_digit, c.bf_cnt,
         [{", ".join(repr(x) for x in _BENFORD)}][c.bf_digit] AS bf_exp,
         FLOOR((c.bf_cnt / n.bn) * 10000.0 + 0.5) / 10000.0 AS bf_obs4,
         FLOOR(ABS(c.bf_cnt / n.bn
                   - [{", ".join(repr(x) for x in _BENFORD)}][c.bf_digit])
               * 10000.0 + 0.5) / 10000.0 AS bf_dev4
  FROM bfc c, bfn2 n
),
bfm AS (SELECT MAX(bf_dev4) AS bf_max_dev4 FROM bfx)
SELECT t.doc_id, t.source, d.src_min, d.src_max,
       FLOOR((CAST(list_max(t.tokens) - list_min(t.tokens) AS DOUBLE)
             / (d.src_max - d.src_min)) * 10000.0 + 0.5) / 10000.0 AS covered_range,
       f.mf_file, s.mf_rows, s.mf_min, s.mf_max, s.mf_lo, s.mf_hi, s.mf_scan,
       CAST(f.v >= s.mf_lo AND f.v <= s.mf_hi AS BIGINT) AS mf_hit,
       g.mf_files, g.mf_files_scanned, g.mf_rows_skipped,
       q.bf_digit, x.bf_cnt, x.bf_exp, x.bf_obs4, x.bf_dev4,
       m2.bf_max_dev4
FROM tokens_static t JOIN dim d USING (source)
JOIN mff f USING (doc_id)
JOIN mfs s USING (mf_file)
JOIN bfq q ON q.doc_id = t.doc_id
JOIN bfx x ON x.bf_digit = q.bf_digit
CROSS JOIN mft g
CROSS JOIN bfm m2
""",
        # backward ASOF (gating the salted plan and the chained multi-source
        # join's token side) + forward ASOF (p.ts <= v.ts picks the first at-or-after version)
        # + nearest derived from the two by the pandas tie-break (min |Δ|,
        # equal distances go backward) + STRICT backward (p.ts > v.ts, the
        # allow_exact_matches=False bound) — gating all directions and both
        # bound modes
        "asof_strategies": f"""
WITH {SQL_VERSIONS}, {SQL_PROBES},
b AS (
  SELECT p.doc_id, p.event_id, epoch_us(p.ts) AS ts_us,
         epoch_us(v.ts) AS b_ts, v.n_tok AS b_nt
  FROM probes p ASOF LEFT JOIN versions v
    ON p.doc_id = v.doc_id AND p.ts >= v.ts
),
f AS (
  SELECT p.doc_id, p.event_id,
         epoch_us(v.ts) AS f_ts, v.n_tok AS f_nt
  FROM probes p ASOF LEFT JOIN versions v
    ON p.doc_id = v.doc_id AND p.ts <= v.ts
),
s AS (
  SELECT p.doc_id, p.event_id,
         epoch_us(v.ts) AS s_ts, v.n_tok AS s_nt
  FROM probes p ASOF LEFT JOIN versions v
    ON p.doc_id = v.doc_id AND p.ts > v.ts
),
px AS (  -- second feature stream: purchase prices, deduped per (doc, ts)
  SELECT 'u' || CAST(user_id AS VARCHAR) AS doc_id, ts,
         CAST(MAX(FLOOR(value * 100 + 0.5)) AS BIGINT) AS cents,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events WHERE event_type = 'purchase'
  GROUP BY 1, 2
),
multi AS (  -- chained point-in-time: the probe also picks up the price state
  SELECT p.doc_id, p.event_id,
         epoch_us(x.ts) AS px_ts, x.cents AS px_cents, x.n AS px_n
  FROM probes p ASOF LEFT JOIN px x
    ON p.doc_id = x.doc_id AND p.ts >= x.ts
),
vt AS (  -- tombstoned version stream: the flag re-derived from the data
  SELECT doc_id, ts, n_tok, CAST(n_tok % 7 = 0 AS INTEGER) AS deleted
  FROM versions
),
tomb AS (  -- deletion semantics: latest visible version wins, THEN a
           -- tombstone match nulls out — never resurrect the prior value
  SELECT p.doc_id, p.event_id,
         CASE WHEN v.deleted = 1 THEN NULL ELSE epoch_us(v.ts) END AS t_ts,
         CASE WHEN v.deleted = 1 THEN NULL ELSE v.n_tok END AS t_nt
  FROM probes p ASOF LEFT JOIN vt v
    ON p.doc_id = v.doc_id AND p.ts >= v.ts
)
SELECT b.doc_id, b.event_id, b.ts_us,
       b.b_ts AS salted_matched_ts_us, b.b_nt AS salted_n_tok,
       f.f_ts AS fwd_matched_ts_us, f.f_nt AS fwd_n_tok,
       CASE WHEN b.b_ts IS NOT NULL
             AND (f.f_ts IS NULL OR b.ts_us - b.b_ts <= f.f_ts - b.ts_us)
            THEN b.b_ts ELSE f.f_ts END AS near_matched_ts_us,
       CASE WHEN b.b_ts IS NOT NULL
             AND (f.f_ts IS NULL OR b.ts_us - b.b_ts <= f.f_ts - b.ts_us)
            THEN b.b_nt ELSE f.f_nt END AS near_n_tok,
       s.s_ts AS strict_matched_ts_us, s.s_nt AS strict_n_tok,
       b.b_ts AS multi_tok_ts_us, b.b_nt AS multi_n_tok,
       m.px_ts AS multi_px_ts_us, m.px_cents AS multi_px_cents,
       m.px_n AS multi_px_n,
       t.t_ts AS tomb_matched_ts_us, t.t_nt AS tomb_n_tok
FROM b JOIN f USING (doc_id, event_id) JOIN s USING (doc_id, event_id)
     JOIN multi m USING (doc_id, event_id)
     JOIN tomb t USING (doc_id, event_id)
""",
        "multimodal_decode": f"""
WITH {SQL_TOKENS_STATIC},
base AS (
  SELECT CAST(doc_id AS VARCHAR) AS sdoc,
         ['image', 'audio', 'video'][CAST(doc_id % 3 AS INTEGER) + 1] AS media_type,
         text, CAST(strlen(text) AS BIGINT) AS n
  FROM documents WHERE strlen(text) > 0
),
-- pseudo-image pixel i (0..255) = byte i of the payload cycled: text is pure
-- ASCII so byte i == ascii(char at (i % n) + 1)
vals AS (
  SELECT b.sdoc,
         CAST(SUM(ascii(substr(b.text, CAST(p % b.n AS INTEGER) + 1, 1))) AS BIGINT) AS s
  FROM base b, unnest(range(0, 256)) AS u(p)
  GROUP BY b.sdoc
),
pp AS (  -- ViT patchify replay: pixel p of the 16x16 pseudo-image lands in
         -- row-major 4x4 patch ((p//16)//4)*4 + (p%16)//4
  SELECT b.sdoc,
         ((p // 16) // 4) * 4 + ((p % 16) // 4) AS pidx,
         CAST(SUM(ascii(substr(b.text, CAST(p % b.n AS INTEGER) + 1, 1))) AS BIGINT) AS ps
  FROM base b, unnest(range(0, 256)) AS u(p)
  GROUP BY 1, 2
),
pdg AS (
  SELECT sdoc,
         CAST(SUM((pidx + 1) * ps) AS BIGINT) AS patch_digest,
         CAST(MIN(ps) AS BIGINT) AS patch_min,
         CAST(MAX(ps) AS BIGINT) AS patch_max
  FROM pp GROUP BY sdoc
),
mq AS (  -- int8 quantization, same IEEE expression tree as embed_quantize
  SELECT vec_id,
         CASE WHEN list_max(list_transform(CAST(embedding AS DOUBLE[]), y -> abs(y))) = 0
              THEN list_transform(CAST(embedding AS DOUBLE[]), x -> 0)
              ELSE list_transform(CAST(embedding AS DOUBLE[]),
                     x -> CAST(FLOOR(127.0 * x
                          / list_max(list_transform(CAST(embedding AS DOUBLE[]), y -> abs(y)))
                          + 0.5) AS INTEGER))
         END AS qv
  FROM embeddings
),
mtok AS (
  SELECT CAST(CAST(substr(doc_id, 5) AS BIGINT) AS VARCHAR) AS sdoc,
         unnest(tokens) AS t
  FROM tokens_static
),
mpool AS (  -- pooled per-(doc, dim) exact BIGINT coordinate sums
  SELECT m.sdoc, u.dim, COUNT(*) AS pn, CAST(SUM(u.val) AS BIGINT) AS cs
  FROM mtok m JOIN (
    SELECT vec_id, unnest(qv) AS val,
           unnest(range(0, len(qv))) AS dim
    FROM mq
  ) u ON u.vec_id = m.t
  GROUP BY m.sdoc, u.dim
),
mdig AS (
  SELECT sdoc,
         CAST(MAX(pn) AS BIGINT) AS pool_tok,
         CAST(SUM((dim + 1) * cs) AS BIGINT) AS pool_digest,
         CAST(SUM(ABS(cs)) AS BIGINT) AS pool_abs
  FROM mpool GROUP BY sdoc
),
eff AS (  -- interleaved multimodal budget: 16 patches + pooled text tokens
  SELECT b.sdoc, CAST(16 AS BIGINT) AS mm_patches,
         CAST(COALESCE(d.pool_tok, 0) + 16 AS BIGINT) AS mm_eff_len
  FROM base b LEFT JOIN mdig d USING (sdoc)
),
efft AS (
  SELECT CAST(SUM(mm_patches) AS BIGINT) AS mm_corpus_patches,
         CAST(SUM(mm_eff_len) AS BIGINT) AS mm_corpus_eff,
         FLOOR((CAST(SUM(mm_patches) AS DOUBLE)
                / CAST(SUM(mm_eff_len) AS DOUBLE)) * 10000.0 + 0.5)
           / 10000.0 AS mm_corpus_img4
  FROM eff
)
SELECT b.sdoc AS doc_id, b.media_type,
       16 AS out_width, 16 AS out_height,
       CAST(v.s // 256 AS BIGINT) AS mean_intensity,
       pg.patch_digest, pg.patch_min, pg.patch_max,
       COALESCE(d.pool_tok, 0) AS pool_tok,
       COALESCE(d.pool_digest, 0) AS pool_digest,
       COALESCE(d.pool_abs, 0) AS pool_abs,
       e.mm_patches, e.mm_eff_len,
       CASE WHEN e.mm_eff_len > 0 THEN
         FLOOR((e.mm_patches / e.mm_eff_len) * 10000.0 + 0.5) / 10000.0
       ELSE 0.0 END AS mm_img_share4,
       et.mm_corpus_patches, et.mm_corpus_eff, et.mm_corpus_img4
FROM base b JOIN vals v USING (sdoc)
JOIN pdg pg USING (sdoc)
LEFT JOIN mdig d USING (sdoc)
JOIN eff e USING (sdoc) CROSS JOIN efft et
""",
        "pricing_summary": """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_base_price_cents,
       CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
                * (100 - CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT))) AS BIGINT) AS sum_disc_price_e4,
       CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
                * (100 - CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT))
                * (100 + CAST(FLOOR(l_tax * 100 + 0.5) AS BIGINT))) AS BIGINT) AS sum_charge_e6,
       CAST(COUNT(*) AS BIGINT) AS count_order,
       FLOOR((CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) / COUNT(*)) * 10000.0 + 0.5) / 10000.0 AS avg_qty,
       FLOOR((CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS DOUBLE)
             / (COUNT(*) * 100)) * 10000.0 + 0.5) / 10000.0 AS avg_price
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
        "segment_sales": """
WITH abx AS (  -- 2x2 A/B cells: custkey parity x urgent priority
  SELECT CAST(SUM(CASE WHEN o_custkey % 2 = 0 AND o_orderpriority = '1-URGENT'
                       THEN 1 ELSE 0 END) AS BIGINT) AS ab_a,
         CAST(SUM(CASE WHEN o_custkey % 2 = 0 AND o_orderpriority <> '1-URGENT'
                       THEN 1 ELSE 0 END) AS BIGINT) AS ab_b,
         CAST(SUM(CASE WHEN o_custkey % 2 = 1 AND o_orderpriority = '1-URGENT'
                       THEN 1 ELSE 0 END) AS BIGINT) AS ab_c,
         CAST(SUM(CASE WHEN o_custkey % 2 = 1 AND o_orderpriority <> '1-URGENT'
                       THEN 1 ELSE 0 END) AS BIGINT) AS ab_d
  FROM orders
),
abc AS (  -- exact chi-square: HUGEINT numerator, cross-multiplied p<.05
  SELECT ab_a, ab_b, ab_c, ab_d,
         CASE WHEN den > 0 THEN
           FLOOR((CAST(num AS DOUBLE) / CAST(den AS DOUBLE)) * 10000.0 + 0.5)
             / 10000.0 END AS chi2_4,
         CAST(CASE WHEN den > 0 AND num * 1000000 > den * 3841459
                   THEN 1 ELSE 0 END AS BIGINT) AS chi2_sig
  FROM (
    SELECT ab_a, ab_b, ab_c, ab_d,
           (CAST(ab_a AS HUGEINT) + ab_b + ab_c + ab_d)
             * ((CAST(ab_a AS HUGEINT) * ab_d - CAST(ab_b AS HUGEINT) * ab_c)
                * (CAST(ab_a AS HUGEINT) * ab_d - CAST(ab_b AS HUGEINT) * ab_c))
             AS num,
           (CAST(ab_a AS HUGEINT) + ab_b) * (CAST(ab_c AS HUGEINT) + ab_d)
             * (CAST(ab_a AS HUGEINT) + ab_c) * (CAST(ab_b AS HUGEINT) + ab_d)
             AS den
    FROM abx)
),
didb AS (SELECT (MIN(epoch_us(o_orderdate) // 86400000000)
                 + MAX(epoch_us(o_orderdate) // 86400000000)) // 2 AS mid
         FROM orders),
didc AS (  -- DiD cells: (custkey parity) x (pre/post midpoint day)
  SELECT
    CAST(SUM(CASE WHEN t = 1 AND p = 1 THEN 1 ELSE 0 END) AS BIGINT) AS did_n_tp,
    CAST(SUM(CASE WHEN t = 1 AND p = 1 THEN cents ELSE 0 END) AS BIGINT) AS did_s_tp,
    CAST(SUM(CASE WHEN t = 1 AND p = 0 THEN 1 ELSE 0 END) AS BIGINT) AS did_n_ta,
    CAST(SUM(CASE WHEN t = 1 AND p = 0 THEN cents ELSE 0 END) AS BIGINT) AS did_s_ta,
    CAST(SUM(CASE WHEN t = 0 AND p = 1 THEN 1 ELSE 0 END) AS BIGINT) AS did_n_cp,
    CAST(SUM(CASE WHEN t = 0 AND p = 1 THEN cents ELSE 0 END) AS BIGINT) AS did_s_cp,
    CAST(SUM(CASE WHEN t = 0 AND p = 0 THEN 1 ELSE 0 END) AS BIGINT) AS did_n_ca,
    CAST(SUM(CASE WHEN t = 0 AND p = 0 THEN cents ELSE 0 END) AS BIGINT) AS did_s_ca
  FROM (
    SELECT CASE WHEN o_custkey % 2 = 0 THEN 1 ELSE 0 END AS t,
           CASE WHEN epoch_us(o_orderdate) // 86400000000 >= b.mid
                THEN 1 ELSE 0 END AS p,
           CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
    FROM orders, didb b)
),
didx AS (
  SELECT *,
         CASE WHEN did_n_tp > 0 AND did_n_ta > 0 AND did_n_cp > 0
                   AND did_n_ca > 0 THEN
           FLOOR(((CAST(did_s_tp AS DOUBLE) / CAST(did_n_tp AS DOUBLE)
                   - CAST(did_s_ta AS DOUBLE) / CAST(did_n_ta AS DOUBLE))
                  - (CAST(did_s_cp AS DOUBLE) / CAST(did_n_cp AS DOUBLE)
                     - CAST(did_s_ca AS DOUBLE) / CAST(did_n_ca AS DOUBLE)))
                 * 10000.0 + 0.5) / 10000.0
         ELSE 0.0 END AS did4
  FROM didc
)
SELECT COALESCE(c_mktsegment, '(all)') AS c_mktsegment,
       COALESCE(o_orderpriority, '(all)') AS o_orderpriority,
       CAST(GROUPING(c_mktsegment) AS BIGINT) AS g_seg,
       CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_prio,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_totalprice_cents,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
         AS ri_orphan_orders,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey))
         AS ri_idle_customers,
       x.ab_a, x.ab_b, x.ab_c, x.ab_d, x.chi2_4, x.chi2_sig,
       dx.did_n_tp, dx.did_s_tp, dx.did_n_ta, dx.did_s_ta,
       dx.did_n_cp, dx.did_s_cp, dx.did_n_ca, dx.did_s_ca, dx.did4
FROM orders JOIN customer ON o_custkey = c_custkey
CROSS JOIN abc x
CROSS JOIN didx dx
GROUP BY CUBE (c_mktsegment, o_orderpriority),
         x.ab_a, x.ab_b, x.ab_c, x.ab_d, x.chi2_4, x.chi2_sig,
         dx.did_n_tp, dx.did_s_tp, dx.did_n_ta, dx.did_s_ta,
         dx.did_n_cp, dx.did_s_cp, dx.did_n_ca, dx.did_s_ca, dx.did4
""",
        "asof_tokens": f"""
WITH {SQL_VERSIONS}, {SQL_PROBES}
SELECT p.doc_id, p.event_id,
       epoch_us(v.ts) AS matched_ts_us,
       COALESCE(list_aggregate(list_transform(v.tokens, x -> CAST(x AS VARCHAR)),
                               'string_agg', ','), '') AS tokens_csv
FROM probes p ASOF LEFT JOIN versions v
  ON p.doc_id = v.doc_id AND p.ts >= v.ts
""",
        "asof_tolerance": f"""
WITH {SQL_VERSIONS}, {SQL_PROBES}
SELECT p.doc_id, p.event_id,
       epoch_us(p.ts) AS ts_us,
       CASE WHEN epoch(p.ts) - epoch(v.ts) <= 3600.0 THEN epoch_us(v.ts) END AS matched_ts_us,
       CASE WHEN epoch(p.ts) - epoch(v.ts) <= 3600.0 THEN v.n_tok END AS n_tok
FROM probes p ASOF LEFT JOIN versions v
  ON p.doc_id = v.doc_id AND p.ts >= v.ts
""",
        "frame_sample": """
WITH vids AS (
  SELECT CAST(doc_id AS VARCHAR) AS sdoc, CAST(strlen(text) AS INTEGER) AS n
  FROM documents
  WHERE strlen(text) > 0 AND doc_id % 3 = 2
)
SELECT v.sdoc AS doc_id,
       CAST(u.p // 64 AS INTEGER) AS frame_idx,
       CAST(u.p AS INTEGER) AS byte_offset
FROM vids v, unnest(range(0, v.n, 64)) AS u(p)
""",
        "dedup_exact": oracles.SQL_EXACT_DEDUP_INC,
        # stream_seen: literal 1 — the streaming band-state replay must
        # re-discover EVERY batch pair, so a stream miss (0) hash-mismatches
        "minhash_pairs": "SELECT *, CAST(1 AS BIGINT) AS stream_seen FROM ("
        + oracles.sql_minhash_pairs(0.5, with_sig=True, with_audit=True,
                                    with_srcmat=True)
        + ")",
        "simhash_pairs": oracles.sql_simhash_pairs(3),
        # blocking+verification composition shares the minhash oracle: exact
        # Jaccard over the same candidate set must yield the same pair set
        "ngram_verify": oracles.sql_minhash_pairs(0.5, with_lev=True,
                                                  with_cont=True,
                                                  with_winnow=True,
                                                  with_jbins=True),
        "dedup_clusters": oracles.sql_dedup_clusters(0.5),
        "corpus_clean": oracles.sql_corpus_clean(0.5),
        # wave 130: + top-1/top-2 margin (retrieval-confidence audit)
        "topk_cosine": "SELECT q.*, m.margin4 FROM ("
        + oracles.SQL_TOPK_COSINE
        + ") q CROSS JOIN (SELECT FLOOR((MAX(CASE WHEN rank = 1 THEN cos"
          " END) - MAX(CASE WHEN rank = 2 THEN cos END)) * 10000.0 + 0.5)"
          " / 10000.0 AS margin4 FROM ("
        + oracles.SQL_TOPK_COSINE
        + ") WHERE rank <= 2) m",
        "topk_batch": oracles.sql_topk_batch_rerank(5, 20),
        "ivf_topk": oracles.SQL_IVF_TOPK,
        # the persisted index is semantically the same search (assignment is
        # materialized, not recomputed) — gated by the identical oracle
        "ivf_persisted": oracles.SQL_IVF_TOPK,
        "ivf_batch": oracles.sql_ivf_batch_adc(),
        # a format round-trip is content-preserving: one aggregate row per
        # staged format, all computed from the canonical parquet
        "multi_format_scan": """
SELECT fmt,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_ids
FROM documents, (VALUES ('csv'), ('json'), ('orc')) AS f(fmt)
GROUP BY fmt
""",
        "vocab_topk": f"""
WITH {SQL_TOKENS_STATIC},
flat AS (SELECT unnest(tokens) AS token FROM tokens_static),
counts AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM flat GROUP BY token
),
top AS (
  SELECT token, cnt FROM counts ORDER BY cnt DESC, token ASC LIMIT 10
),
remapped AS (  -- rare-token → UNK(-1) remap, recomputed from scratch
  SELECT CASE WHEN f.token IN (SELECT token FROM top)
              THEN f.token ELSE -1 END AS token
  FROM flat f
),
dflat AS (  -- src0↔src1 distribution drift, recomputed from scratch
  SELECT unnest(tokens) AS token, source = 'src0' AS is_a
  FROM tokens_static WHERE source IN ('src0', 'src1')
),
dcounts AS (
  SELECT token,
         CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS cnt_a,
         CAST(SUM(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS cnt_b
  FROM dflat GROUP BY token
),
dtot AS (
  SELECT CAST(SUM(cnt_a) AS BIGINT) AS na, CAST(SUM(cnt_b) AS BIGINT) AS nb
  FROM dcounts
),
drift AS (
  SELECT token, cnt_a, cnt_b,
         CAST(abs(cnt_a * nb - cnt_b * na) AS BIGINT) AS drift_num,
         FLOOR(CAST(abs(cnt_a * nb - cnt_b * na) AS DOUBLE)
               / CAST(na * nb AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS drift_rate
  FROM dcounts, dtot
),
bg AS (  -- adjacent-bigram counts, recomputed from scratch
  SELECT a, b, CAST(COUNT(*) AS BIGINT) AS big_cnt
  FROM (SELECT tokens[i] AS a, tokens[i+1] AS b
        FROM (SELECT tokens, unnest(range(1, n_tok)) AS i
              FROM tokens_static WHERE n_tok >= 2))
  GROUP BY a, b
),
best AS (  -- best right-collocate per kept anchor: count DESC, b ASC
  SELECT a AS token, b AS next_token, big_cnt FROM (
    SELECT a, b, big_cnt,
           ROW_NUMBER() OVER (PARTITION BY a
                              ORDER BY big_cnt DESC, b ASC) AS rn
    FROM bg WHERE a IN (SELECT token FROM top)
  ) WHERE rn = 1
),
ntot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM counts),
negt AS (  -- negative-sampling normalizer: token-ordered sequential fold,
           -- seeded 0.0 on the Spark side (first addition exact)
  SELECT list_reduce(list(w ORDER BY token), (a, b) -> a + b) AS neg_total
  FROM (SELECT token,
               sqrt(sqrt(CAST(CAST(cnt AS BIGINT) * cnt * cnt AS DOUBLE))) AS w
        FROM top)
),
neg AS (  -- p ∝ cnt^0.75 = sqrt(sqrt(cnt³)), exact chain + fround4
  SELECT token,
         FLOOR(sqrt(sqrt(CAST(CAST(cnt AS BIGINT) * cnt * cnt AS DOUBLE)))
               / (SELECT neg_total FROM negt) * 10000.0 + 0.5) / 10000.0
           AS neg_share4
  FROM top
),
pmi AS (  -- exact IEEE chain (c_ab/c_a)·N/c_b, left-to-right, fround4
  SELECT best.token,
         CAST(best.next_token AS BIGINT) AS next_token,
         best.big_cnt,
         FLOOR((CAST(best.big_cnt AS DOUBLE) / ca.cnt
                * (SELECT n_total FROM ntot) / cb.cnt)
               * 10000.0 + 0.5) / 10000.0 AS pmi4
  FROM best
  JOIN counts ca ON ca.token = best.token
  JOIN counts cb ON cb.token = best.next_token
),
final AS (
  SELECT r.token,
         CAST(COALESCE(t.cnt, 0) AS BIGINT) AS cnt,
         CAST(COUNT(*) AS BIGINT) AS cnt_remap,
         COALESCE(ANY_VALUE(d.cnt_a), 0) AS cnt_src0,
         COALESCE(ANY_VALUE(d.cnt_b), 0) AS cnt_src1,
         COALESCE(ANY_VALUE(d.drift_num), 0) AS drift_num,
         COALESCE(ANY_VALUE(d.drift_rate), 0.0) AS drift_rate,
         COALESCE(ANY_VALUE(p.next_token), -1) AS next_token,
         COALESCE(ANY_VALUE(p.big_cnt), 0) AS big_cnt,
         COALESCE(ANY_VALUE(p.pmi4), 0.0) AS pmi4,
         COALESCE(ANY_VALUE(g.neg_share4), 0.0) AS neg_share4
  FROM remapped r LEFT JOIN top t USING (token) LEFT JOIN drift d USING (token)
       LEFT JOIN pmi p USING (token) LEFT JOIN neg g USING (token)
  GROUP BY r.token, t.cnt
),
knp AS (  -- Kneser-Ney continuation stats: the DISTINCT bigram dim table
  SELECT DISTINCT tokens[i] AS v, tokens[i + 1] AS w
  FROM (SELECT tokens, unnest(range(1, n_tok)) AS i
        FROM tokens_static WHERE n_tok >= 2)
),
knl AS (SELECT w AS token, CAST(COUNT(*) AS BIGINT) AS kn_left
        FROM knp GROUP BY w),
knr AS (SELECT v AS token, CAST(COUNT(*) AS BIGINT) AS kn_right
        FROM knp GROUP BY v),
kncv AS (SELECT a AS token, CAST(SUM(big_cnt) AS BIGINT) AS kn_cv
         FROM bg GROUP BY a),
knpp AS (SELECT CAST(SUM(kn_left) AS BIGINT) AS kn_n1pp FROM knl),
ndg AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS nd FROM tokens_static),
ggr AS (  -- vocab Gini: sorted-rank sum over the FULL count table
  SELECT cnt AS c,
         row_number() OVER (ORDER BY cnt ASC, token ASC) AS rn,
         COUNT(*) OVER () AS nv,
         SUM(cnt) OVER () AS tv
  FROM counts
),
gini AS (
  SELECT CAST(SUM((2 * rn - nv - 1) * c) AS BIGINT) AS gini_num,
         CAST(MAX(nv) * MAX(tv) AS BIGINT) AS gini_den,
         FLOOR((CAST(SUM((2 * rn - nv - 1) * c) AS DOUBLE)
                / CAST(MAX(nv) * MAX(tv) AS DOUBLE)) * 10000.0 + 0.5)
           / 10000.0 AS gini4
  FROM ggr
),
amsz AS (  -- AMS F2 sketch: 8 sign-hash estimators, exact int64
  SELECT {", ".join(
    f"CAST(SUM((1 - 2 * (((CAST(token AS BIGINT) + 1) * 1103515245"
    f" + {(j + 1) * 506952114}) % 2)) * cnt) AS BIGINT) AS z{j}"
    for j in range(8))},
         CAST(SUM(cnt * cnt) AS BIGINT) AS ams_f2_true
  FROM counts
),
amsx AS (
  SELECT z0 AS ams_z0,
         CAST({" + ".join(f"z{j} * z{j}" for j in range(8))} AS BIGINT)
           AS ams_sq_sum,
         ams_f2_true
  FROM amsz
),
coc AS (  -- Good-Turing count-of-counts over the full vocab
  SELECT cnt AS r, CAST(COUNT(*) AS BIGINT) AS nr FROM counts GROUP BY cnt
),
gtc AS (  -- unseen-mass estimate P0 = N1 / N
  SELECT CAST(COALESCE(SUM(CASE WHEN cnt = 1 THEN 1 END), 0) AS BIGINT)
           AS gt_n1,
         FLOOR((CAST(COALESCE(SUM(CASE WHEN cnt = 1 THEN 1 END), 0)
                     AS DOUBLE)
                / CAST(SUM(cnt) AS DOUBLE)) * 10000.0 + 0.5) / 10000.0
           AS gt_p0_4
  FROM counts
),
divx AS (  -- Simpson's D + Berger-Parker over the same full-vocab counts
  SELECT CAST(SUM(cnt * (cnt - 1)) AS BIGINT) AS simpson_num,
         CAST(SUM(cnt) * (SUM(cnt) - 1) AS BIGINT) AS simpson_den,
         FLOOR((CAST(SUM(cnt * (cnt - 1)) AS DOUBLE)
                / CAST(SUM(cnt) * (SUM(cnt) - 1) AS DOUBLE))
               * 10000.0 + 0.5) / 10000.0 AS simpson4,
         CAST(MAX(cnt) AS BIGINT) AS bp_max,
         FLOOR((CAST(MAX(cnt) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE))
               * 10000.0 + 0.5) / 10000.0 AS bp4
  FROM counts
),
pgap AS (  -- inverted-index postings: distinct (token, doc), sorted gaps
  SELECT token, oid,
         oid - lag(oid) OVER (PARTITION BY token ORDER BY oid) AS gap
  FROM (SELECT DISTINCT unnest(tokens) AS token,
               CAST(substr(doc_id, 5) AS BIGINT) AS oid
        FROM tokens_static)
),
post AS (  -- exact varint-model bit cost: strlen(bin(gap)), g1 = first+1
  SELECT token,
         CAST(COUNT(*) AS BIGINT) AS post_df,
         CAST(MIN(oid) AS BIGINT) AS post_first,
         CAST(COALESCE(MAX(gap), 0) AS BIGINT) AS post_max_gap,
         CAST(SUM(CASE WHEN gap IS NULL THEN length(bin(oid + 1))
                       ELSE length(bin(gap)) END) AS BIGINT) AS post_bits
  FROM pgap GROUP BY token
),
growth AS (  -- Heaps-law vocabulary growth: prefix by numeric doc id
  SELECT CAST(COUNT(DISTINCT CASE WHEN oid < (SELECT nd FROM ndg) // 4
                                  THEN tok END) AS BIGINT) AS vocab_q1,
         CAST(COUNT(DISTINCT CASE WHEN oid < (SELECT nd FROM ndg) // 2
                                  THEN tok END) AS BIGINT) AS vocab_h1,
         CAST(COUNT(DISTINCT tok) AS BIGINT) AS vocab_full
  FROM (SELECT CAST(substr(doc_id, 5) AS BIGINT) AS oid,
               unnest(tokens) AS tok
        FROM tokens_static)
),
cmsb AS (  -- Count-Min sketch rebuilt from scratch: depth 4 x width 64
  SELECT u.j,
         CASE u.j WHEN 0 THEN {oracles.sql_cms_bucket('f.token', 0)}
                  WHEN 1 THEN {oracles.sql_cms_bucket('f.token', 1)}
                  WHEN 2 THEN {oracles.sql_cms_bucket('f.token', 2)}
                  ELSE {oracles.sql_cms_bucket('f.token', 3)} END AS bucket
  FROM flat f, (SELECT unnest(range(0, 4)) AS j) u
),
cms AS (SELECT j, bucket, CAST(COUNT(*) AS BIGINT) AS c
        FROM cmsb GROUP BY 1, 2),
jfa AS (SELECT unnest(tokens) AS token FROM tokens_static WHERE source = 'src0'),
jfb AS (SELECT unnest(tokens) AS token FROM tokens_static WHERE source = 'src1'),
jcat AS (  -- per-source sketches for the join-size estimator
  SELECT u.j,
         CASE u.j WHEN 0 THEN {oracles.sql_cms_bucket('f.token', 0)}
                  WHEN 1 THEN {oracles.sql_cms_bucket('f.token', 1)}
                  WHEN 2 THEN {oracles.sql_cms_bucket('f.token', 2)}
                  ELSE {oracles.sql_cms_bucket('f.token', 3)} END AS bucket,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM jfa f, (SELECT unnest(range(0, 4)) AS j) u GROUP BY 1, 2
),
jcbt AS (
  SELECT u.j,
         CASE u.j WHEN 0 THEN {oracles.sql_cms_bucket('f.token', 0)}
                  WHEN 1 THEN {oracles.sql_cms_bucket('f.token', 1)}
                  WHEN 2 THEN {oracles.sql_cms_bucket('f.token', 2)}
                  ELSE {oracles.sql_cms_bucket('f.token', 3)} END AS bucket,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM jfb f, (SELECT unnest(range(0, 4)) AS j) u GROUP BY 1, 2
),
jse AS (  -- min over depth rows of the bucket-wise dot product
  SELECT CAST(COALESCE(MIN(dot), 0) AS BIGINT) AS js_cms_est
  FROM (SELECT a.j, SUM(a.c * b.c) AS dot
        FROM jcat a JOIN jcbt b USING (j, bucket) GROUP BY a.j)
),
jst AS (  -- the exact join size: Σ_t c_a(t)·c_b(t)
  SELECT CAST(COALESCE(SUM(ja.ca * jb.cb), 0) AS BIGINT) AS js_true
  FROM (SELECT token, CAST(COUNT(*) AS BIGINT) AS ca FROM jfa GROUP BY 1) ja
  JOIN (SELECT token, CAST(COUNT(*) AS BIGINT) AS cb FROM jfb GROUP BY 1) jb
  USING (token)
),
cmsq AS (  -- point query: est = min over rows, empty cells -> 0
  SELECT token,
         CAST(LEAST(
           COALESCE((SELECT c FROM cms WHERE j = 0
                     AND bucket = {oracles.sql_cms_bucket('token', 0)}), 0),
           COALESCE((SELECT c FROM cms WHERE j = 1
                     AND bucket = {oracles.sql_cms_bucket('token', 1)}), 0),
           COALESCE((SELECT c FROM cms WHERE j = 2
                     AND bucket = {oracles.sql_cms_bucket('token', 2)}), 0),
           COALESCE((SELECT c FROM cms WHERE j = 3
                     AND bucket = {oracles.sql_cms_bucket('token', 3)}), 0)
         ) AS BIGINT) AS cms_est
  FROM (SELECT DISTINCT token FROM final)
),
w2t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS tt FROM counts),
bmt AS (  -- bitmap intersection: the two most frequent tokens
  SELECT (SELECT token FROM top ORDER BY cnt DESC, token ASC LIMIT 1) AS ta,
         (SELECT token FROM top ORDER BY cnt DESC, token ASC
          LIMIT 1 OFFSET 1) AS tb
),
bmdt AS (
  SELECT DISTINCT CAST(substr(doc_id, 5) AS BIGINT) AS oid, u.tok
  FROM (SELECT doc_id, unnest(tokens) AS tok FROM tokens_static) u, bmt
  WHERE u.tok IN (bmt.ta, bmt.tb)
),
bmbits AS (  -- 63-bit words (sign bit clear — DuckDB errors on 1<<63)
  SELECT tok, oid // 63 AS w,
         BIT_OR(CAST(1 AS BIGINT) << CAST(oid % 63 AS INTEGER)) AS m
  FROM bmdt GROUP BY 1, 2
),
bmx AS (
  SELECT CAST(COALESCE(SUM(bit_count(a.m & b.m)), 0) AS BIGINT) AS bm_inter
  FROM (SELECT w, m FROM bmbits, bmt WHERE tok = ta) a
  JOIN (SELECT w, m FROM bmbits, bmt WHERE tok = tb) b USING (w)
),
bmm AS (
  SELECT CAST(SUM(CASE WHEN d.tok = bmt.ta THEN 1 ELSE 0 END) AS BIGINT)
           AS bm_docs_a,
         CAST(SUM(CASE WHEN d.tok = bmt.tb THEN 1 ELSE 0 END) AS BIGINT)
           AS bm_docs_b
  FROM bmdt d, bmt
),
bme AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS bm_inter_exact FROM (
    SELECT oid FROM bmdt GROUP BY oid HAVING COUNT(DISTINCT tok) = 2)
),
nucw AS (  -- nucleus (top-p): cumulative mass in (cnt DESC, token) order
  SELECT token,
         CAST(SUM(cnt) OVER (ORDER BY cnt DESC, token ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS nuc_cum,
         cnt AS nuc_cnt,
         CAST(SUM(cnt) OVER () AS BIGINT) AS nuc_tot
  FROM counts
),
efu AS (SELECT CAST(COUNT(*) AS BIGINT) AS u FROM tokens_static),
burst AS (  -- wave 111: Church–Gale dispersion, zeros-included identity
  SELECT token,
         CAST((SELECT u FROM efu) * SUM(c * c) - SUM(c) * SUM(c)
              AS BIGINT) AS disp_num,
         CAST((SELECT u FROM efu) * SUM(c) AS BIGINT) AS disp_den
  FROM (SELECT token, doc_id, CAST(COUNT(*) AS BIGINT) AS c
        FROM (SELECT doc_id, unnest(tokens) AS token FROM tokens_static)
        GROUP BY token, doc_id)
  GROUP BY token
)
SELECT f.*, q.cms_est,
       -- wave 110: Elias-Fano bits = 2n + n·⌈log2(⌈u/n⌉)⌉
       CASE WHEN COALESCE(po.post_df, 0) > 0 THEN
         CAST(2 * po.post_df + po.post_df *
           (CASE WHEN ((SELECT u FROM efu) + po.post_df - 1)
                      // po.post_df > 1
                 THEN length(bin(((SELECT u FROM efu) + po.post_df - 1)
                                 // po.post_df - 1))
                 ELSE 0 END) AS BIGINT)
       ELSE CAST(0 AS BIGINT) END AS ef_bits,
       COALESCE(bu.disp_num, CAST(-1 AS BIGINT)) AS disp_num,
       COALESCE(bu.disp_den, CAST(-1 AS BIGINT)) AS disp_den,
       CASE WHEN bu.token IS NULL THEN -1.0
            ELSE FLOOR(CAST(bu.disp_num AS DOUBLE)
                       / CAST(bu.disp_den AS DOUBLE)
                       * 10000.0 + 0.5) / 10000.0 END AS disp4,
       CAST(q.cms_est - f.cnt AS BIGINT) AS cms_over,
       COALESCE(kl.kn_left, 0) AS kn_left,
       COALESCE(kr.kn_right, 0) AS kn_right,
       COALESCE(cv.kn_cv, 0) AS kn_cv,
       g.vocab_q1, g.vocab_h1, g.vocab_full,
       COALESCE(po.post_df, 0) AS post_df,
       COALESCE(po.post_first, -1) AS post_first,
       COALESCE(po.post_max_gap, 0) AS post_max_gap,
       COALESCE(po.post_bits, 0) AS post_bits,
       gi.gini_num, gi.gini_den, gi.gini4,
       CASE WHEN f.big_cnt > 0 AND COALESCE(cv.kn_cv, 0) > 0
                 AND klw.kn_left IS NOT NULL THEN
         FLOOR((GREATEST(CAST(f.big_cnt AS DOUBLE) - 0.75, 0.0)
                  / CAST(cv.kn_cv AS DOUBLE)
                + 0.75 * CAST(COALESCE(kr.kn_right, 0) AS DOUBLE)
                    / CAST(cv.kn_cv AS DOUBLE)
                  * (CAST(klw.kn_left AS DOUBLE)
                     / CAST((SELECT kn_n1pp FROM knpp) AS DOUBLE)))
               * 10000.0 + 0.5) / 10000.0
       ELSE 0.0 END AS kn_p4,
       CAST(row_number() OVER (ORDER BY cnt_remap DESC, token ASC)
            AS BIGINT) AS vrank,
       CAST(SUM(cnt_remap) OVER (ORDER BY cnt_remap DESC, token ASC
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS BIGINT) AS cum_mass,
       FLOOR(CAST(SUM(cnt_remap) OVER (ORDER BY cnt_remap DESC, token ASC
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS DOUBLE)
             / CAST(SUM(cnt_remap) OVER () AS DOUBLE)
             * 10000.0 + 0.5) / 10000.0 AS cov4,
       CAST(cnt_remap * row_number() OVER (ORDER BY cnt_remap DESC, token ASC)
            AS BIGINT) AS zipf_fr,
       FLOOR((CAST(cnt_remap * row_number() OVER (ORDER BY cnt_remap DESC,
                                                  token ASC) AS DOUBLE)
              / CAST(MAX(cnt_remap) OVER () AS DOUBLE))
             * 10000.0 + 0.5) / 10000.0 AS zipf_ratio4,
       COALESCE(nw.nuc_cum, -1) AS nuc_cum,
       CASE WHEN nw.token IS NULL THEN CAST(-1 AS BIGINT)
            ELSE CAST((nw.nuc_cum - nw.nuc_cnt) * 10 < 9 * nw.nuc_tot
                      AS BIGINT) END AS in_nucleus,
       CASE WHEN f.cnt > 0 THEN
         FLOOR((sqrt(CAST((SELECT tt FROM w2t) AS DOUBLE)
                     / CAST(1024 * f.cnt AS DOUBLE))
                + CAST((SELECT tt FROM w2t) AS DOUBLE)
                  / CAST(1024 * f.cnt AS DOUBLE)) * 10000.0 + 0.5) / 10000.0
       ELSE -1.0 END AS w2v_keep4,
       bx.bm_inter, bmm.bm_docs_a, bmm.bm_docs_b, be.bm_inter_exact,
       jt.js_true, je.js_cms_est,
       CAST(je.js_cms_est - jt.js_true AS BIGINT) AS js_cms_over,
       dx.simpson_num, dx.simpson_den, dx.simpson4, dx.bp_max, dx.bp4,
       ax.ams_z0, ax.ams_sq_sum, ax.ams_f2_true,
       FLOOR((ax.ams_sq_sum / 8) * 10000.0 + 0.5) / 10000.0 AS ams_f2_est4,
       COALESCE(cr.nr, 0) AS gt_nr,
       COALESCE(cr1.nr, 0) AS gt_nr1,
       CASE WHEN COALESCE(cr.nr, 0) > 0 THEN
         FLOOR((((f.cnt + 1) * COALESCE(cr1.nr, 0)) / cr.nr)
               * 10000.0 + 0.5) / 10000.0
       ELSE 0.0 END AS gt_rstar4,
       gt.gt_n1, gt.gt_p0_4
FROM final f JOIN cmsq q USING (token)
LEFT JOIN knl kl USING (token) LEFT JOIN knr kr USING (token)
LEFT JOIN kncv cv USING (token)
LEFT JOIN knl klw ON klw.token = f.next_token
LEFT JOIN post po USING (token)
LEFT JOIN nucw nw USING (token)
LEFT JOIN burst bu USING (token)
LEFT JOIN coc cr ON cr.r = f.cnt
LEFT JOIN coc cr1 ON cr1.r = f.cnt + 1
CROSS JOIN growth g
CROSS JOIN gini gi
CROSS JOIN divx dx
CROSS JOIN gtc gt
CROSS JOIN amsx ax
CROSS JOIN bmx bx
CROSS JOIN bmm
CROSS JOIN bme be
CROSS JOIN jst jt
CROSS JOIN jse je
""",
        # pmod((id % p31)·(mix % p31), p31) — the overflow/sign-safe hash
        # (2654435761 % 2147483647 = 506952114); DuckDB's % keeps the
        # dividend's sign like Spark's, so pmod is replayed as (x%p+p)%p
        # + stratified keep flag: the SAME hash against a per-source CASE
        # cut (src0→1.0, src1→0.5, src2→0.25, default 0.1)
        "sample_hash": f"""
SELECT *, CAST(SUM(mix_prev_same) OVER (PARTITION BY rp8) AS BIGINT) AS rp8_same_adj
FROM (
SELECT *, CAST(COUNT(*) OVER (PARTITION BY rp8) AS BIGINT) AS rp8_rows,
       -- shuffle-mixing audit: same-source adjacency in the within-range
       -- (shuf_e0, doc_id) read order (DuckDB forbids nested windows —
       -- the SUM per range lives one layer up)
       CAST(COALESCE(CAST(source = lag(source) OVER (
              PARTITION BY rp8 ORDER BY shuf_e0 ASC, doc_id ASC) AS BIGINT),
            0) AS BIGINT) AS mix_prev_same
FROM (
WITH scnt AS (  -- temperature rates α=0.5 re-derived from scratch:
  SELECT source, CAST(COUNT(*) AS BIGINT) AS cnt FROM documents GROUP BY source
),
scut AS (  -- cut = trunc(P31 · sqrt(n_s)/sqrt(n_max)), each op IEEE-exact
  SELECT source,
         CAST(2147483647.0 * (sqrt(CAST(cnt AS DOUBLE))
              / sqrt(CAST((SELECT MAX(cnt) FROM scnt) AS DOUBLE)))
              AS BIGINT) AS tcut
  FROM scnt
),
bkx AS (  -- wave 129: bottom-8 sketch per source (injective MINSTD-style
          -- hash — P31 prime, multiplier invertible → no rank ties)
  SELECT source, CAST(MAX(bh) AS BIGINT) AS bk_h8,
         CAST(COUNT(*) AS BIGINT) AS bk_k
  FROM (SELECT source, bh,
               row_number() OVER (PARTITION BY source ORDER BY bh) AS r
        FROM (SELECT source,
                     ((((doc_id % 2147483647) * 506952114) % 2147483647)
                      + 2147483647) % 2147483647 AS bh
              FROM documents))
  WHERE r <= 8 GROUP BY source
),
bkm AS (  -- shard-merge path: min-8 of the two parity shards' min-8s
  SELECT source, CAST(MAX(bh) AS BIGINT) AS bk_merge_h8
  FROM (SELECT source, bh,
               row_number() OVER (PARTITION BY source ORDER BY bh) AS r2
        FROM (SELECT source, bh,
                     row_number() OVER (PARTITION BY source, sh
                                        ORDER BY bh) AS r
              FROM (SELECT source, doc_id % 2 AS sh,
                           ((((doc_id % 2147483647) * 506952114)
                             % 2147483647) + 2147483647) % 2147483647 AS bh
                    FROM documents))
        WHERE r <= 8)
  WHERE r2 <= 8 GROUP BY source
),
scut2 AS (  -- wave 118: the α = 0.25 / 0.75 sweep cuts, same IEEE chains
  SELECT source,
         CAST(2147483647.0 * (sqrt(sqrt(CAST(cnt AS DOUBLE)))
              / sqrt(sqrt(CAST((SELECT MAX(cnt) FROM scnt) AS DOUBLE))))
              AS BIGINT) AS tcut25,
         CAST(2147483647.0
              * (sqrt(CAST(cnt AS DOUBLE) * sqrt(CAST(cnt AS DOUBLE)))
                 / sqrt(CAST((SELECT MAX(cnt) FROM scnt) AS DOUBLE)
                        * sqrt(CAST((SELECT MAX(cnt) FROM scnt) AS DOUBLE))))
              AS BIGINT) AS tcut75
  FROM scnt
),
base AS (
  SELECT doc_id, source, n_chars,
         CAST(((((doc_id % 2147483647) * 506952114) % 2147483647) + 2147483647)
              % 2147483647
              < CASE source WHEN 'src0' THEN {int(2147483647 * 1.0)}
                            WHEN 'src1' THEN {int(2147483647 * 0.5)}
                            WHEN 'src2' THEN {int(2147483647 * 0.25)}
                            ELSE {int(2147483647 * 0.1)} END
             AS BIGINT) AS strat_keep,
         CAST(((((doc_id % 2147483647) * 506952114) % 2147483647) + 2147483647)
              % 2147483647 < sc.tcut AS BIGINT) AS temp_keep,
         CAST(((((doc_id % 2147483647) * 506952114) % 2147483647) + 2147483647)
              % 2147483647 < sc2.tcut25 AS BIGINT) AS temp_keep25,
         CAST(((((doc_id % 2147483647) * 506952114) % 2147483647) + 2147483647)
              % 2147483647 < sc2.tcut75 AS BIGINT) AS temp_keep75,
         -- 3-way holdout: Knuth LCG mixer 1566083941 (large: wraps from id 2)
         CAST(CASE WHEN ((doc_id % 2147483647) * 1566083941) % 2147483647
                        < {int(2147483647 * 0.05)} THEN 2
                   WHEN ((doc_id % 2147483647) * 1566083941) % 2147483647
                        < {int(2147483647 * 0.1)} THEN 1
                   ELSE 0 END AS BIGINT) AS holdout,
         -- epoch-shuffle keys: pmod(pmod(id + epoch·OFFSET, P31)·MIX', P31)
         CAST(((((doc_id % 2147483647) * 506952114) % 2147483647) + 2147483647)
              % 2147483647 AS BIGINT) AS shuf_e0,
         CAST((((((((doc_id + 506952122) % 2147483647) + 2147483647) % 2147483647)
                 * 506952114) % 2147483647) + 2147483647) % 2147483647
              AS BIGINT) AS shuf_e1,
         -- k-fold CV assignment: ((id·1181783497 mod P31) mod 5), mixer
         -- independent of every other decision hash on the same ids
         CAST(((((doc_id % 2147483647) * 1181783497) % 2147483647)
               + 2147483647) % 2147483647 % 5 AS BIGINT) AS cv_fold
  FROM documents JOIN scut sc USING (source)
       JOIN scut2 sc2 USING (source)
  WHERE ((((doc_id % 2147483647) * 506952114) % 2147483647) + 2147483647)
        % 2147483647 < {int(2147483647 * 0.2)}
),
bplan AS (  -- budget planner: half-corpus char budget, equal shares,
            -- 4-epoch repeat cap, exact integer floor divisions
  SELECT source,
         CAST(n_s AS BIGINT) AS budget_mass,
         CAST(share AS BIGINT) AS budget_share,
         CAST(LEAST(4 * n_s, share) AS BIGINT) AS budget_alloc,
         FLOOR(CAST(LEAST(4 * n_s, share) AS DOUBLE)
               / CAST(n_s AS DOUBLE) * 10000.0 + 0.5) / 10000.0
           AS budget_epochs4
  FROM (
    SELECT source, n_s, (n_total // 2) // k AS share
    FROM (SELECT source, CAST(SUM(n_chars) AS BIGINT) AS n_s
          FROM documents GROUP BY source),
         (SELECT CAST(SUM(n_chars) AS BIGINT) AS n_total,
                 CAST(COUNT(DISTINCT source) AS BIGINT) AS k FROM documents)
  )
),
{oracles.sql_hll_cte('source', 'doc_id', 'documents').strip()},
htrue AS (
  SELECT source, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS hll_true
  FROM documents GROUP BY source
),
quota AS (  -- exactly-k-per-source rank over the FULL corpus, mixer
            -- 1103515245 (independent of the sampling hash's order)
  SELECT doc_id,
         CAST(row_number() OVER (PARTITION BY source ORDER BY
              ((((doc_id % 2147483647) * 1103515245) % 2147483647)
               + 2147483647) % 2147483647 ASC, doc_id ASC)
              AS BIGINT) AS quota_rank
  FROM documents
),
rcc AS (  -- exact range-bound planner: cumulative counts per key value
  SELECT v, c, SUM(c) OVER (ORDER BY v) AS ccum, SUM(c) OVER () AS nn
  FROM (SELECT shuf_e0 AS v, COUNT(*) AS c FROM base GROUP BY shuf_e0)
),
rbk AS (  -- bound_k = smallest value with ccum >= ceil(k*N/8)
  SELECT kk.k, MIN(v) AS bound_val
  FROM rcc, (SELECT unnest(range(1, 8)) AS k) kk
  WHERE ccum >= (kk.k * nn + 7) // 8
  GROUP BY kk.k
),
psamp AS (  -- priority sampling: pri = (w·P31)/(h+1), ONE IEEE division;
            -- τ = the (k+1)-th priority, ŵ = max(w, τ) on kept rows
{oracles.sql_priority_sample('n_chars', 10)}
),
fsize AS (  -- FULL-corpus fold balance: exact per-fold row counts
  SELECT CAST(((((doc_id % 2147483647) * 1181783497) % 2147483647)
              + 2147483647) % 2147483647 % 5 AS BIGINT) AS cv_fold,
         CAST(COUNT(*) AS BIGINT) AS cv_fold_rows
  FROM documents GROUP BY 1
),
stf AS (  -- stratified k-fold: per-source round-robin over shuffle order
  SELECT doc_id, source,
         CAST((row_number() OVER (PARTITION BY source ORDER BY
               ((((doc_id % 2147483647) * 506952114) % 2147483647)
                + 2147483647) % 2147483647 ASC, doc_id ASC) - 1) % 5
              AS BIGINT) AS st_fold
  FROM documents
),
stfs AS (  -- balance audit: every (source, fold) cell within ±1
  SELECT source, st_fold, CAST(COUNT(*) AS BIGINT) AS st_fold_rows
  FROM stf GROUP BY 1, 2
),
lrb AS (  -- largest-remainder apportionment of exactly 100 slots
  SELECT source, CAST(cnt AS BIGINT) AS lr_n,
         CAST((100 * cnt) // (SELECT SUM(cnt) FROM scnt) AS BIGINT) AS lr_floor,
         CAST((100 * cnt) % (SELECT SUM(cnt) FROM scnt) AS BIGINT) AS lr_rem
  FROM scnt
),
lra AS (
  SELECT source, lr_n, lr_floor, lr_rem,
         CAST(lr_rrank <= lr_left AS BIGINT) AS lr_bonus,
         CAST(lr_floor + CAST(lr_rrank <= lr_left AS BIGINT) AS BIGINT) AS lr_alloc
  FROM (
    SELECT *,
           CAST(row_number() OVER (ORDER BY lr_rem DESC, source ASC) AS BIGINT)
             AS lr_rrank,
           CAST(100 - SUM(lr_floor) OVER () AS BIGINT) AS lr_left
    FROM lrb)
),
zed AS (  -- z-order key: exact bit interleave of (source idx, n_chars)
  SELECT doc_id,
         CAST({oracles.sql_zorder("CAST(substr(source, 4) AS BIGINT)",
                                  "CAST(n_chars AS BIGINT)")} AS BIGINT) AS z32
  FROM base
),
zext AS (  -- per-z-bucket 2-D extents: a z range is a rectangle
  SELECT z.z32 // 4096 AS zb,
         CAST(COUNT(*) AS BIGINT) AS zb_rows,
         CAST(MIN(b.n_chars) AS BIGINT) AS zb_n_min,
         CAST(MAX(b.n_chars) AS BIGINT) AS zb_n_max,
         CAST(MIN(CAST(substr(b.source, 4) AS BIGINT)) AS BIGINT) AS zb_src_min,
         CAST(MAX(CAST(substr(b.source, 4) AS BIGINT)) AS BIGINT) AS zb_src_max
  FROM base b JOIN zed z USING (doc_id) GROUP BY 1
),
-- Hilbert key: the same xy2d rotate/flip transform unrolled one CTE per bit
{oracles.sql_hilbert_ctes("base", "doc_id", "CAST(substr(source, 4) AS BIGINT)",
                          "CAST(n_chars AS BIGINT)", 16, "hil")},
hext AS (  -- per-Hilbert-bucket extents: an aligned 4096-block is a SQUARE
  SELECT hl.h32 // 4096 AS hb,
         CAST(COUNT(*) AS BIGINT) AS hb_rows,
         CAST(MIN(b.n_chars) AS BIGINT) AS hb_n_min,
         CAST(MAX(b.n_chars) AS BIGINT) AS hb_n_max,
         CAST(MIN(CAST(substr(b.source, 4) AS BIGINT)) AS BIGINT) AS hb_src_min,
         CAST(MAX(CAST(substr(b.source, 4) AS BIGINT)) AS BIGINT) AS hb_src_max
  FROM base b JOIN hil hl ON hl.hk = b.doc_id GROUP BY 1
),
lpa AS (  -- mark-recapture capture A (sampling mixer, rate 0.3)
  SELECT doc_id FROM documents
  WHERE ((doc_id % 2147483647) * 506952114) % 2147483647 < 644245094
),
lpb AS (  -- capture B (independent mixer 1103515245, rate 0.3)
  SELECT doc_id FROM documents
  WHERE ((doc_id % 2147483647) * 1103515245) % 2147483647 < 644245094
),
lp AS (
  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM lpa) AS lp_na,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM lpb) AS lp_nb,
         (SELECT CAST(COUNT(*) AS BIGINT)
          FROM lpa JOIN lpb USING (doc_id)) AS lp_m,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS lp_true
),
kanon AS (  -- k-anonymity quasi-identifier classes
  SELECT doc_id, source, n_chars // 100 AS qi_bucket, lang FROM documents
),
kec AS (
  SELECT source, qi_bucket, CAST(COUNT(*) AS BIGINT) AS ec_size,
         CAST(COUNT(DISTINCT lang) AS BIGINT) AS ec_ldiv
  FROM kanon GROUP BY 1, 2
),
qng AS (  -- quantile normalization: source rank -> pooled rank selection
  SELECT doc_id, source, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars, doc_id) AS qn_rank,
         COUNT(*) OVER (PARTITION BY source) AS ns,
         COUNT(*) OVER () AS nn,
         row_number() OVER (ORDER BY n_chars, doc_id) AS g
  FROM documents
),
qnt AS (
  SELECT doc_id, CAST(qn_rank AS BIGINT) AS qn_rank,
         CAST(CASE WHEN ns > 1 THEN
                ((qn_rank - 1) * (nn - 1)) // (ns - 1) + 1
              ELSE (nn + 1) // 2 END AS BIGINT) AS qn_tgt
  FROM qng
),
qnv AS (SELECT g AS qn_tgt, CAST(n_chars AS BIGINT) AS qn_value FROM qng),
bsa AS (  -- multiplier bootstrap: 8 deterministic replicate weight sums
  SELECT {", ".join(
    f"CAST(SUM((((doc_id % 2147483647) * {m}) % 2147483647 % 3) * n_chars)"
    f" AS BIGINT) AS bss{b},"
    f" CAST(SUM(((doc_id % 2147483647) * {m}) % 2147483647 % 3)"
    f" AS BIGINT) AS bsw{b}" for b, m in enumerate(_BS_M))}
  FROM documents
),
bsb AS (
  SELECT bss0, bsw0,
         [{", ".join(
           f"CAST(bss{b} AS DOUBLE) / CAST(bsw{b} AS DOUBLE)"
           for b in range(8))}] AS marr
  FROM bsa
),
bsc AS (
  SELECT bss0, bsw0, marr,
         list_reduce(marr, (p, q) -> p + q) / 8 AS mbar
  FROM bsb
),
bsd AS (
  SELECT bss0, bsw0, mbar,
         list_reduce(list_transform(marr, x -> (x - mbar) * (x - mbar)),
                     (p, q) -> p + q) AS s2
  FROM bsc
),
shk2 AS (  -- epoch-shuffle decorrelation: the two permutation ranks
  SELECT doc_id,
         ((doc_id % 2147483647) * 506952114) % 2147483647 AS k0,
         ((((doc_id + 506952122) % 2147483647) * 506952114) % 2147483647)
           AS k1
  FROM documents
),
shr2 AS (
  SELECT CAST(row_number() OVER (ORDER BY k0, doc_id) AS BIGINT) AS u,
         CAST(row_number() OVER (ORDER BY k1, doc_id) AS BIGINT) AS v
  FROM shk2
),
shs2 AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(u) AS BIGINT) AS su,
         CAST(SUM(u * u) AS BIGINT) AS suu,
         CAST(SUM(u * v) AS BIGINT) AS suv
  FROM shr2
),
sdec AS (
  SELECT CAST(n * suv - su * su AS BIGINT) AS sd_num,
         CAST(n * suu - su * su AS BIGINT) AS sd_den,
         FLOOR((CAST(n * suv - su * su AS DOUBLE)
                / CAST(n * suu - su * su AS DOUBLE)) * 10000.0 + 0.5)
           / 10000.0 AS shuffle_decorr4
  FROM shs2
),
avh AS (SELECT doc_id,
               ((doc_id % 2147483647) * 506952114) % 2147483647 AS h
        FROM documents),
ava AS (  -- avalanche: popcount of successive-id hash xor
  SELECT CAST(COUNT(*) AS BIGINT) AS av_pairs,
         CAST(SUM(bit_count(xor(a.h, b.h))) AS BIGINT) AS av_bits,
         FLOOR((CAST(SUM(bit_count(xor(a.h, b.h))) AS DOUBLE)
                / CAST(COUNT(*) AS DOUBLE)) * 10000.0 + 0.5) / 10000.0
           AS av_mean4
  FROM avh a JOIN avh b ON b.doc_id = a.doc_id + 1
)
SELECT doc_id, source, n_chars, strat_keep, temp_keep,
       temp_keep25, temp_keep75, shuf_e0, shuf_e1,
       -- wave 122: nested-sample estimator stability audit
       CAST(shuf_e0 < {int(2147483647 * 0.1)} AS BIGINT) AS in_s10,
       CAST(shuf_e0 < {int(2147483647 * 0.05)} AS BIGINT) AS in_s05,
       nx.ns_s20, nx.ns_c20, nx.ns_s10, nx.ns_c10, nx.ns_s05, nx.ns_c05,
       CAST(ABS(nx.ns_s10 * nx.ns_c20 - nx.ns_s20 * nx.ns_c10) AS BIGINT)
         AS ns_drift10,
       CAST(ABS(nx.ns_s05 * nx.ns_c10 - nx.ns_s10 * nx.ns_c05) AS BIGINT)
         AS ns_drift05,
       FLOOR(CAST(nx.ns_s20 AS DOUBLE) / CAST(nx.ns_c20 AS DOUBLE)
             * 10000.0 + 0.5) / 10000.0 AS ns_mean20_4,
       CASE WHEN nx.ns_c10 > 0 THEN
         FLOOR(CAST(nx.ns_s10 AS DOUBLE) / CAST(nx.ns_c10 AS DOUBLE)
               * 10000.0 + 0.5) / 10000.0 ELSE 0.0 END AS ns_mean10_4,
       CASE WHEN nx.ns_c05 > 0 THEN
         FLOOR(CAST(nx.ns_s05 AS DOUBLE) / CAST(nx.ns_c05 AS DOUBLE)
               * 10000.0 + 0.5) / 10000.0 ELSE 0.0 END AS ns_mean05_4,
       holdout, base.cv_fold, fs.cv_fold_rows,
       -- wave 129: bottom-k sketch + structural mergeability gate
       bk.bk_h8, bk.bk_k, bm2.bk_merge_h8,
       CASE WHEN bk.bk_k >= 8 AND bk.bk_h8 > 0 THEN
         FLOOR((7.0 * 2147483647.0) / CAST(bk.bk_h8 AS DOUBLE)
               * 10000.0 + 0.5) / 10000.0
       ELSE -1.0 END AS bk_est4,
       CAST(row_number() OVER (PARTITION BY source ORDER BY shuf_e0 ASC, doc_id ASC)
            AS BIGINT) AS order_e0,
       -- stride-scheduling interleave: rank · (L / w_s), L = lcm(4,2,1)
       CAST(row_number() OVER (PARTITION BY source ORDER BY shuf_e0 ASC, doc_id ASC)
            * CASE source WHEN 'src0' THEN 1 WHEN 'src1' THEN 2 ELSE 4 END
            AS BIGINT) AS mix_key,
       CAST(row_number() OVER (PARTITION BY source ORDER BY shuf_e0 ASC, doc_id ASC)
            * CASE source WHEN 'src0' THEN 1 WHEN 'src1' THEN 2 ELSE 4 END
            <= 200 AS BIGINT) AS mix_admit,
       bp.budget_mass, bp.budget_share, bp.budget_alloc, bp.budget_epochs4,
       h.hll_present, h.hll_v, h.hll_rmax, h.hll_snum, h.hll_est4,
       ht.hll_true,
       -- mergeability gate: the Spark side built these from 4 per-shard
       -- partial register tables merged by MAX; the from-scratch values
       -- here must match exactly or the merge lost information
       h.hll_present AS hllm_present, h.hll_v AS hllm_v,
       h.hll_rmax AS hllm_rmax, h.hll_snum AS hllm_snum,
       h.hll_est4 AS hllm_est4,
       q.quota_rank, CAST(q.quota_rank <= 40 AS BIGINT) AS quota_keep,
       lr.lr_n, lr.lr_floor, lr.lr_rem, lr.lr_bonus, lr.lr_alloc,
       CAST(q.quota_rank <= lr.lr_alloc AS BIGINT) AS lr_keep,
       st.st_fold, sf2.st_fold_rows,
       z.z32, CAST(z.z32 // 4096 AS BIGINT) AS zb,
       ze.zb_rows, ze.zb_n_min, ze.zb_n_max, ze.zb_src_min, ze.zb_src_max,
       hl.h32, CAST(hl.h32 // 4096 AS BIGINT) AS hb,
       he.hb_rows, he.hb_n_min, he.hb_n_max, he.hb_src_min, he.hb_src_max,
       ps.pri4, ps.pri_rank, ps.pri_keep, ps.pri_ht4,
       CAST((SELECT COUNT(*) FROM rbk WHERE bound_val < base.shuf_e0)
            AS BIGINT) AS rp8,
       -- rendezvous (HRW) shard: argmax of per-shard hashes; 8- and
       -- 9-shard assignments together value-check minimal disruption
       CAST(list_max(list_transform(range(0, 8), s ->
         {{'h': (((doc_id % 2147483647) * 1103515245) % 2147483647
                + (s + 1) * 506952114) % 2147483647, 's': s}}))['s']
            AS BIGINT) AS hrw_shard,
       CAST(list_max(list_transform(range(0, 9), s ->
         {{'h': (((doc_id % 2147483647) * 1103515245) % 2147483647
                + (s + 1) * 506952114) % 2147483647, 's': s}}))['s']
            AS BIGINT) AS hrw_shard9,
       CAST(list_max(list_transform(range(0, 8), s ->
         {{'h': (((doc_id % 2147483647) * 1103515245) % 2147483647
                + (s + 1) * 506952114) % 2147483647, 's': s}}))['s']
            <> list_max(list_transform(range(0, 9), s ->
         {{'h': (((doc_id % 2147483647) * 1103515245) % 2147483647
                + (s + 1) * 506952114) % 2147483647, 's': s}}))['s']
            AS BIGINT) AS hrw_moved,
       lp.lp_na, lp.lp_nb, lp.lp_m, lp.lp_true,
       CASE WHEN lp.lp_m > 0 THEN
         FLOOR(((lp.lp_na * lp.lp_nb) / lp.lp_m) * 10000.0 + 0.5) / 10000.0
       ELSE 0.0 END AS lp_est4,
       FLOOR((((lp.lp_na + 1) * (lp.lp_nb + 1)) / (lp.lp_m + 1) - 1)
             * 10000.0 + 0.5) / 10000.0 AS lp_chap4,
       kx.qi_bucket, ke.ec_size, ke.ec_ldiv,
       CAST(ke.ec_size < 5 AS BIGINT) AS k_risk,
       CAST(ke.ec_ldiv < 2 AS BIGINT) AS l_risk,
       qt.qn_rank, qt.qn_tgt, qv.qn_value,
       bx.bss0 AS bs_s0, bx.bsw0 AS bs_w0,
       FLOOR(bx.mbar * 10000.0 + 0.5) / 10000.0 AS bs_mean4,
       FLOOR(sqrt(bx.s2 / 7) * 10000.0 + 0.5) / 10000.0 AS bs_se4,
       sd2.sd_num, sd2.sd_den, sd2.shuffle_decorr4,
       av.av_pairs, av.av_bits, av.av_mean4
FROM base JOIN bplan bp USING (source)
     JOIN bkx bk USING (source)
     JOIN bkm bm2 USING (source)
     JOIN hll h ON h.g = base.source
     JOIN htrue ht ON ht.source = base.source
     JOIN quota q USING (doc_id)
     JOIN psamp ps USING (doc_id)
     JOIN fsize fs ON fs.cv_fold = base.cv_fold
     JOIN lra lr ON lr.source = base.source
     JOIN stf st ON st.doc_id = base.doc_id
     JOIN stfs sf2 ON sf2.source = base.source AND sf2.st_fold = st.st_fold
     JOIN zed z ON z.doc_id = base.doc_id
     JOIN zext ze ON ze.zb = z.z32 // 4096
     JOIN hil hl ON hl.hk = base.doc_id
     JOIN hext he ON he.hb = hl.h32 // 4096
     JOIN kanon kx ON kx.doc_id = base.doc_id
     JOIN kec ke ON ke.source = kx.source AND ke.qi_bucket = kx.qi_bucket
     JOIN qnt qt ON qt.doc_id = base.doc_id
     JOIN qnv qv ON qv.qn_tgt = qt.qn_tgt
     CROSS JOIN lp
     CROSS JOIN bsd bx
     CROSS JOIN sdec sd2
     CROSS JOIN ava av
     CROSS JOIN (
       SELECT CAST(SUM(n_chars) AS BIGINT) AS ns_s20,
              CAST(COUNT(*) AS BIGINT) AS ns_c20,
              CAST(SUM(CASE WHEN shuf_e0 < {int(2147483647 * 0.1)}
                            THEN n_chars ELSE 0 END) AS BIGINT) AS ns_s10,
              CAST(SUM(CASE WHEN shuf_e0 < {int(2147483647 * 0.1)}
                            THEN 1 ELSE 0 END) AS BIGINT) AS ns_c10,
              CAST(SUM(CASE WHEN shuf_e0 < {int(2147483647 * 0.05)}
                            THEN n_chars ELSE 0 END) AS BIGINT) AS ns_s05,
              CAST(SUM(CASE WHEN shuf_e0 < {int(2147483647 * 0.05)}
                            THEN 1 ELSE 0 END) AS BIGINT) AS ns_c05
       FROM base) nx
)
)
""",
        # int8 quantization: same element-wise IEEE expression tree
        "embed_quantize": """
WITH q AS (
  SELECT vec_id,
         CASE WHEN list_max(list_transform(CAST(embedding AS DOUBLE[]), y -> abs(y))) = 0
              THEN list_transform(CAST(embedding AS DOUBLE[]), x -> 0)
              ELSE list_transform(CAST(embedding AS DOUBLE[]),
                     x -> CAST(FLOOR(127.0 * x
                          / list_max(list_transform(CAST(embedding AS DOUBLE[]), y -> abs(y)))
                          + 0.5) AS INTEGER))
         END AS qv
  FROM embeddings
),
cents AS (SELECT vec_id AS cent_id, qv AS cqv FROM q WHERE vec_id < 8),
dists AS (  -- exact int64 squared L2 to every seed centroid
  SELECT v.vec_id, c.cent_id,
         (SELECT CAST(SUM(CAST(v.qv[u.i] - c.cqv[u.i] AS BIGINT)
                          * (v.qv[u.i] - c.cqv[u.i])) AS BIGINT)
          FROM (SELECT unnest(range(1, len(v.qv) + 1)) AS i) u) AS d
  FROM q v, cents c
),
assign AS (  -- argmin distance, ties to the lowest centroid id
  SELECT vec_id, cent_id, d FROM (
    SELECT vec_id, cent_id, d,
           row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, cent_id ASC) AS rn
    FROM dists) WHERE rn = 1
),
ex AS (
  SELECT a.cent_id, u.ord - 1 AS dim, u.val
  FROM assign a JOIN (
    SELECT vec_id, unnest(qv) AS val, unnest(range(1, len(qv) + 1)) AS ord FROM q
  ) u USING (vec_id)
),
upd AS (  -- one Lloyd step: per-(cluster, dim) exact sums + counts
  SELECT cent_id, dim, COUNT(*) AS n, CAST(SUM(val) AS BIGINT) AS s
  FROM ex GROUP BY 1, 2
),
roll AS (
  SELECT cent_id,
         CAST(MAX(n) AS BIGINT) AS cl_n,
         CAST(SUM(s) AS BIGINT) AS cl_sum,
         CAST(SUM(dim * s) AS BIGINT) AS cl_moment
  FROM upd GROUP BY 1
),
inert AS (  -- within-cluster SSE: exact BIGINT sum of the exact distances
  SELECT cent_id, CAST(SUM(d) AS BIGINT) AS cl_inertia FROM assign GROUP BY 1
),
pjs AS (SELECT unnest(range(0, 4)) AS sub_id),
books AS (  -- PQ codebooks: the 8 seed vectors' 16-dim subvectors
  SELECT j.sub_id, vec_id AS pcent,
         qv[CAST(j.sub_id * 16 + 1 AS BIGINT) : CAST(j.sub_id * 16 + 16 AS BIGINT)] AS cs
  FROM q, pjs j WHERE vec_id < 8
),
psubs AS (
  SELECT vec_id, j.sub_id,
         qv[CAST(j.sub_id * 16 + 1 AS BIGINT) : CAST(j.sub_id * 16 + 16 AS BIGINT)] AS sv
  FROM q, pjs j
),
pqd AS (  -- exact int64 subspace distances to every codebook entry
  SELECT s.vec_id, s.sub_id, b.pcent,
         (SELECT CAST(SUM(CAST(s.sv[u.i] - b.cs[u.i] AS BIGINT)
                          * (s.sv[u.i] - b.cs[u.i])) AS BIGINT)
          FROM (SELECT unnest(range(1, 17)) AS i) u) AS d
  FROM psubs s JOIN books b USING (sub_id)
),
pqa AS (  -- per-(vector, subspace) argmin, ties to the lowest centroid id
  SELECT vec_id, sub_id, pcent, d FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, sub_id
                                 ORDER BY d ASC, pcent ASC) AS rn
    FROM pqd) WHERE rn = 1
),
pq AS (
  SELECT vec_id,
         CAST(MAX(CASE WHEN sub_id = 0 THEN pcent END) AS BIGINT) AS pq_code_0,
         CAST(MAX(CASE WHEN sub_id = 1 THEN pcent END) AS BIGINT) AS pq_code_1,
         CAST(MAX(CASE WHEN sub_id = 2 THEN pcent END) AS BIGINT) AS pq_code_2,
         CAST(MAX(CASE WHEN sub_id = 3 THEN pcent END) AS BIGINT) AS pq_code_3,
         CAST(SUM(d) AS BIGINT) AS pq_d2
  FROM pqa GROUP BY vec_id
),
kc1 AS (  -- greedy k-center replay: seed = lowest id
  SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT 1
),
kd1 AS (
  SELECT v.vec_id,
         (SELECT CAST(SUM(CAST(v.qv[u.i] - c.qv[u.i] AS BIGINT)
                          * (v.qv[u.i] - c.qv[u.i])) AS BIGINT)
          FROM (SELECT unnest(range(1, len(v.qv) + 1)) AS i) u) AS d
  FROM q v, kc1 c
),
kc2 AS (  -- farthest point, ties to the lowest id
  SELECT q.vec_id, q.qv FROM q JOIN kd1 USING (vec_id)
  ORDER BY kd1.d DESC, vec_id ASC LIMIT 1
),
kd2 AS (
  SELECT v.vec_id,
         LEAST(kd1.d,
           (SELECT CAST(SUM(CAST(v.qv[u.i] - c.qv[u.i] AS BIGINT)
                            * (v.qv[u.i] - c.qv[u.i])) AS BIGINT)
            FROM (SELECT unnest(range(1, len(v.qv) + 1)) AS i) u)) AS d
  FROM q v JOIN kd1 USING (vec_id), kc2 c
),
kc3 AS (
  SELECT q.vec_id, q.qv FROM q JOIN kd2 USING (vec_id)
  ORDER BY kd2.d DESC, vec_id ASC LIMIT 1
),
kd3 AS (
  SELECT v.vec_id,
         LEAST(kd2.d,
           (SELECT CAST(SUM(CAST(v.qv[u.i] - c.qv[u.i] AS BIGINT)
                            * (v.qv[u.i] - c.qv[u.i])) AS BIGINT)
            FROM (SELECT unnest(range(1, len(v.qv) + 1)) AS i) u)) AS d
  FROM q v JOIN kd2 USING (vec_id), kc3 c
),
kc4 AS (
  SELECT q.vec_id, q.qv FROM q JOIN kd3 USING (vec_id)
  ORDER BY kd3.d DESC, vec_id ASC LIMIT 1
),
kcents AS (
  SELECT vec_id AS cid, qv FROM kc1 UNION ALL SELECT vec_id, qv FROM kc2
  UNION ALL SELECT vec_id, qv FROM kc3 UNION ALL SELECT vec_id, qv FROM kc4
),
kalld AS (
  SELECT v.vec_id, c.cid,
         (SELECT CAST(SUM(CAST(v.qv[u.i] - c.qv[u.i] AS BIGINT)
                          * (v.qv[u.i] - c.qv[u.i])) AS BIGINT)
          FROM (SELECT unnest(range(1, len(v.qv) + 1)) AS i) u) AS d
  FROM q v, kcents c
),
kassign AS (  -- nearest chosen center, ties to the lowest center id
  SELECT vec_id, cid, d FROM (
    SELECT vec_id, cid, d,
           row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, cid ASC) AS rn
    FROM kalld) WHERE rn = 1
),
mq0 AS (SELECT qv AS q0 FROM q WHERE vec_id = 0),
mdots AS (  -- Matryoshka audit: exact int64 dots, full vs 16-dim prefix
  SELECT v.vec_id,
         (SELECT CAST(SUM(CAST(v.qv[u.i] AS BIGINT) * m.q0[u.i]) AS BIGINT)
          FROM (SELECT unnest(range(1, len(v.qv) + 1)) AS i) u) AS df,
         (SELECT CAST(SUM(CAST(v.qv[u.i] AS BIGINT) * m.q0[u.i]) AS BIGINT)
          FROM (SELECT unnest(range(1, 17)) AS i) u) AS d16
  FROM q v, mq0 m
),
mflags AS (
  SELECT vec_id,
         CAST(row_number() OVER (ORDER BY df DESC, vec_id ASC) <= 5
              AS BIGINT) AS mat_full5,
         CAST(row_number() OVER (ORDER BY d16 DESC, vec_id ASC) <= 5
              AS BIGINT) AS mat_trunc5
  FROM mdots
),
mov AS (
  SELECT CAST(SUM(mat_full5 * mat_trunc5) AS BIGINT) AS mat_overlap5
  FROM mflags
),
sftd AS (  -- wave 126: per-(cluster, dim) coordinate sums for the shift
  SELECT a.cent_id, u.i AS dim,
         CAST(SUM(v.qv[u.i]) AS BIGINT) AS cs,
         CAST(COUNT(*) AS BIGINT) AS nn
  FROM q v JOIN assign a USING (vec_id),
       unnest(range(1, len(v.qv) + 1)) AS u(i)
  GROUP BY a.cent_id, u.i
),
sftx AS (  -- ‖new_mean − seed‖² with the division cleared: exact BIGINT
  SELECT s.cent_id,
         CAST(SUM((s.cs - s.nn * c.cqv[s.dim])
                  * (s.cs - s.nn * c.cqv[s.dim])) AS BIGINT) AS shift_num,
         CAST(MAX(s.nn) AS BIGINT) AS n2
  FROM sftd s JOIN cents c ON c.cent_id = s.cent_id
  GROUP BY s.cent_id
),
labs AS (SELECT vec_id, CAST(label AS BIGINT) AS lab FROM embeddings),
cmx AS (  -- wave 117: assignment × label contingency table
  SELECT a.cent_id, l.lab, CAST(COUNT(*) AS BIGINT) AS nkl
  FROM assign a JOIN labs l USING (vec_id)
  GROUP BY a.cent_id, l.lab
),
purx AS (
  SELECT cent_id, CAST(MAX(nkl) AS BIGINT) AS cl_pure_cnt
  FROM cmx GROUP BY cent_id
),
rix AS (  -- pair-counting Rand index, ordered-pair identity; ARI and
          -- Fowlkes–Mallows on the same exact C(x,2) = P(x)/2 counts
  SELECT CAST(pn.n * (pn.n - 1) + 2 * pa.v - pc.v - pl.v AS BIGINT)
           AS rand_num,
         CAST(pn.n * (pn.n - 1) AS BIGINT) AS rand_den,
         CAST(2 * ((pn.n * (pn.n - 1) // 2) * (pa.v // 2)
                   - (pc.v // 2) * (pl.v // 2)) AS BIGINT) AS ari_num,
         CAST((pn.n * (pn.n - 1) // 2) * (pc.v // 2 + pl.v // 2)
              - 2 * (pc.v // 2) * (pl.v // 2) AS BIGINT) AS ari_den,
         CASE WHEN (pc.v // 2) * (pl.v // 2) > 0 THEN
           FLOOR(CAST(pa.v // 2 AS DOUBLE)
                 / sqrt(CAST((pc.v // 2) * (pl.v // 2) AS DOUBLE))
                 * 10000.0 + 0.5) / 10000.0
         ELSE -1.0 END AS fm4
  FROM (SELECT CAST(SUM(nkl * (nkl - 1)) AS BIGINT) AS v FROM cmx) pa,
       (SELECT CAST(SUM(nk * (nk - 1)) AS BIGINT) AS v FROM
          (SELECT SUM(nkl) AS nk FROM cmx GROUP BY cent_id)) pc,
       (SELECT CAST(SUM(ml * (ml - 1)) AS BIGINT) AS v FROM
          (SELECT CAST(COUNT(*) AS BIGINT) AS ml FROM labs GROUP BY lab)) pl,
       (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM labs) pn
)
SELECT vec_id,
       CAST(len(qv) AS BIGINT) AS n_dims,
       CAST(list_sum(qv) AS BIGINT) AS q_sum,
       CAST(list_min(qv) AS BIGINT) AS q_min,
       CAST(list_max(qv) AS BIGINT) AS q_max,
       CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS q_n2,
       CAST(list_sum(list_transform(qv[1:32], x -> x * x)) AS BIGINT) AS q_head_n2,
       CASE WHEN list_sum(list_transform(qv, x -> x * x)) > 0
            THEN FLOOR((CAST(list_sum(list_transform(qv[1:32], x -> x * x)) AS DOUBLE)
                        / CAST(list_sum(list_transform(qv, x -> x * x)) AS DOUBLE))
                       * 10000.0 + 0.5) / 10000.0
            ELSE -1.0 END AS q_head_frac4,
       CAST(a.cent_id AS BIGINT) AS assigned_cent,
       a.d AS d2,
       r.cl_n, r.cl_sum, r.cl_moment, i.cl_inertia,
       p.pq_code_0, p.pq_code_1, p.pq_code_2, p.pq_code_3, p.pq_d2,
       -- JL random projection: deterministic ±1 signs from
       -- (i+1)·1103515245 + (j+1)·506952114 mod 2 — exact integer sums
       CAST(list_sum(list_transform(range(0, CAST(len(qv) AS BIGINT)),
         i -> (1 - 2 * (((i + 1) * 1103515245 + 506952114) % 2))
         * qv[CAST(i + 1 AS INTEGER)])) AS BIGINT) AS rp_0,
       CAST(list_sum(list_transform(range(0, CAST(len(qv) AS BIGINT)),
         i -> (1 - 2 * (((i + 1) * 1103515245 + 1013904228) % 2))
         * qv[CAST(i + 1 AS INTEGER)])) AS BIGINT) AS rp_1,
       CAST(list_sum(list_transform(range(0, CAST(len(qv) AS BIGINT)),
         i -> (1 - 2 * (((i + 1) * 1103515245 + 1520856342) % 2))
         * qv[CAST(i + 1 AS INTEGER)])) AS BIGINT) AS rp_2,
       CAST(list_sum(list_transform(range(0, CAST(len(qv) AS BIGINT)),
         i -> (1 - 2 * (((i + 1) * 1103515245 + 2027808456) % 2))
         * qv[CAST(i + 1 AS INTEGER)])) AS BIGINT) AS rp_3,
       CAST(list_sum(list_transform(range(0, CAST(len(qv) AS BIGINT)),
         i -> (1 - 2 * (((i + 1) * 1103515245 + 2534760570) % 2))
         * qv[CAST(i + 1 AS INTEGER)])) AS BIGINT) AS rp_4,
       CAST(list_sum(list_transform(range(0, CAST(len(qv) AS BIGINT)),
         i -> (1 - 2 * (((i + 1) * 1103515245 + 3041712684) % 2))
         * qv[CAST(i + 1 AS INTEGER)])) AS BIGINT) AS rp_5,
       CAST(list_sum(list_transform(range(0, CAST(len(qv) AS BIGINT)),
         i -> (1 - 2 * (((i + 1) * 1103515245 + 3548664798) % 2))
         * qv[CAST(i + 1 AS INTEGER)])) AS BIGINT) AS rp_6,
       CAST(list_sum(list_transform(range(0, CAST(len(qv) AS BIGINT)),
         i -> (1 - 2 * (((i + 1) * 1103515245 + 4055616912) % 2))
         * qv[CAST(i + 1 AS INTEGER)])) AS BIGINT) AS rp_7,
       CAST(k.cid AS BIGINT) AS kc_cent,
       k.d AS kc_d,
       mf.mat_full5, mf.mat_trunc5, mo.mat_overlap5,
       px.cl_pure_cnt,
       FLOOR(CAST(px.cl_pure_cnt AS DOUBLE) / CAST(r.cl_n AS DOUBLE)
             * 10000.0 + 0.5) / 10000.0 AS cl_purity4,
       rr.rand_num, rr.rand_den,
       FLOOR(CAST(rr.rand_num AS DOUBLE) / CAST(rr.rand_den AS DOUBLE)
             * 10000.0 + 0.5) / 10000.0 AS rand4,
       rr.ari_num, rr.ari_den,
       CASE WHEN rr.ari_den <> 0 THEN
         FLOOR(CAST(rr.ari_num AS DOUBLE) / CAST(rr.ari_den AS DOUBLE)
               * 10000.0 + 0.5) / 10000.0
       ELSE 0.0 END AS ari4,
       rr.fm4,
       sf.shift_num,
       CASE WHEN sf.n2 > 0 THEN
         FLOOR(sqrt(CAST(sf.shift_num AS DOUBLE)) / CAST(sf.n2 AS DOUBLE)
               * 10000.0 + 0.5) / 10000.0
       ELSE 0.0 END AS shift4
FROM q JOIN assign a USING (vec_id) JOIN roll r ON r.cent_id = a.cent_id
JOIN inert i ON i.cent_id = a.cent_id
JOIN pq p USING (vec_id)
JOIN kassign k USING (vec_id)
JOIN mflags mf USING (vec_id) CROSS JOIN mov mo
JOIN purx px ON px.cent_id = a.cent_id CROSS JOIN rix rr
JOIN sftx sf ON sf.cent_id = a.cent_id
""",
        # 32-token chunks, stride 24 (overlap 8); DuckDB list slice bounds
        # are 1-based inclusive. Last start capped at n_tok - overlap - 1
        # (coverage-extending windows only — matches chunk_tokens): the
        # inclusive Spark sequence bound m = GREATEST(n_tok - 9, 0) becomes
        # the exclusive range bound m + 1, with FLOOR(m/24) + 1 chunk ids.
        "chunk_tokens": f"""
WITH RECURSIVE {SQL_TOKENS_STATIC},
ffdsd AS (  -- FFD inputs: per-shard doc list in (len DESC, id ASC) order
  SELECT sh AS pack_shard,
         list(struct_pack(n := CAST(n_tok AS BIGINT), oid := oid)
              ORDER BY n_tok DESC, oid ASC) AS ds
  FROM (SELECT n_tok, CAST(substr(doc_id, 5) AS BIGINT) AS oid,
               ((CAST(substr(doc_id, 5) AS BIGINT) % 2147483647)
                * (2654435761 % 2147483647)) % 2147483647 % 8 AS sh
        FROM tokens_static WHERE n_tok > 0)
  GROUP BY sh
),
ffdr AS (  -- first-fit-decreasing replayed one DOCUMENT per recursion step
  SELECT pack_shard, ds, 1 AS pos, CAST([] AS BIGINT[]) AS loads,
         CAST([] AS STRUCT(oid BIGINT, bin INTEGER)[]) AS asg
  FROM ffdsd
  UNION ALL
  SELECT pack_shard, ds, pos + 1,
         CASE WHEN fit > 0 THEN list_transform(range(1, len(loads) + 1),
                i -> CASE WHEN i = fit THEN loads[i] + n ELSE loads[i] END)
              ELSE list_append(loads, n) END,
         list_append(asg, struct_pack(oid := oid,
           bin := CAST(CASE WHEN fit > 0 THEN fit
                       ELSE len(loads) + 1 END AS INTEGER)))
  FROM (
    SELECT pack_shard, ds, pos, loads, asg,
           ds[pos].n AS n, ds[pos].oid AS oid,
           COALESCE(list_filter(range(1, len(loads) + 1),
             i -> loads[i] + ds[pos].n <= 128)[1], 0) AS fit
    FROM ffdr WHERE pos <= len(ds))
),
ffdd AS (
  SELECT 'doc_' || CAST(a.oid AS VARCHAR) AS doc_id,
         CAST(a.bin AS BIGINT) AS ffd_bin,
         CAST(loads[a.bin] AS BIGINT) AS ffd_load,
         CAST(len(loads) AS BIGINT) AS ffd_bins
  FROM (SELECT loads, unnest(asg) AS a
        FROM ffdr WHERE pos = len(ds) + 1)
),
lptd AS (  -- LPT inputs: one global item list in (len DESC, id ASC) order
  SELECT list(struct_pack(n := CAST(n_tok AS BIGINT),
                          oid := CAST(substr(doc_id, 5) AS BIGINT))
              ORDER BY n_tok DESC, CAST(substr(doc_id, 5) AS BIGINT) ASC) AS ds
  FROM tokens_static WHERE n_tok > 0
),
lptr AS (  -- least-loaded greedy, one item per recursion step
  SELECT ds, 1 AS pos,
         [CAST(0 AS BIGINT), 0, 0, 0, 0, 0, 0, 0] AS loads,
         CAST([] AS STRUCT(oid BIGINT, w INTEGER)[]) AS asg
  FROM lptd
  UNION ALL
  SELECT ds, pos + 1,
         list_transform(range(1, 9),
           i -> CASE WHEN i = w THEN loads[i] + n ELSE loads[i] END),
         list_append(asg, struct_pack(oid := oid, w := CAST(w AS INTEGER)))
  FROM (
    SELECT ds, pos, loads, asg, ds[pos].n AS n, ds[pos].oid AS oid,
           list_filter(range(1, 9), i -> loads[i] = list_min(loads))[1] AS w
    FROM lptr WHERE pos <= len(ds))
),
lptf AS (
  SELECT 'doc_' || CAST(a.oid AS VARCHAR) AS doc_id,
         CAST(a.w AS BIGINT) AS lpt_worker,
         CAST(loads[a.w] AS BIGINT) AS lpt_load,
         CAST(list_max(loads) AS BIGINT) AS lpt_makespan
  FROM (SELECT loads, unnest(asg) AS a FROM lptr WHERE pos = len(ds) + 1)
),
starts AS (
  SELECT doc_id, tokens, n_tok,
         unnest(range(0, GREATEST(n_tok - 9, 0) + 1, 24)) AS start,
         unnest(range(0, CAST(FLOOR(GREATEST(n_tok - 9, 0) / 24.0) AS BIGINT) + 1)) AS chunk_id
  FROM tokens_static WHERE n_tok > 0
),
chunks AS (
  SELECT doc_id, chunk_id,
         tokens[start + 1 : LEAST(start + 32, n_tok)] AS ck
  FROM starts
),
packcum AS (
  -- shard-local running offsets: shard = pmod(pmod((id mod P31)·(MIX mod
  -- P31), P31), 8), cum via a BIGINT window sum ordered by the numeric id
  SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok, sh,
         CAST(SUM(CAST(n_tok AS BIGINT)) OVER (
           PARTITION BY sh ORDER BY oid
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
  FROM (
    SELECT doc_id, n_tok,
           CAST(substr(doc_id, 5) AS BIGINT) AS oid,
           ((CAST(substr(doc_id, 5) AS BIGINT) % 2147483647) * (2654435761 % 2147483647))
             % 2147483647 % 8 AS sh
    FROM tokens_static WHERE n_tok > 0
  )
),
packs AS (
  SELECT doc_id,
         CAST(sh AS INTEGER) AS pack_shard,
         cum - n_tok AS pack_start,
         (cum - n_tok) // 128 AS pack_first,
         (cum - 1) // 128 AS pack_last,
         CASE WHEN (cum - 1) // 128 > (cum - n_tok) // 128 THEN 1 ELSE 0 END AS pack_spans,
         LEAST(CAST(n_tok AS BIGINT),
               128 * ((cum - n_tok) // 128 + 1) - (cum - n_tok)) AS pack_head_fill
  FROM packcum
),
shardstats AS (
  -- packing efficiency: total tokens = max running offset per shard
  SELECT CAST(sh AS INTEGER) AS pack_shard,
         CAST(MAX(cum) AS BIGINT) AS shard_tokens,
         CAST((MAX(cum) - 1) // 128 + 1 AS BIGINT) AS shard_packs,
         CAST(((MAX(cum) - 1) // 128 + 1) * 128 - MAX(cum) AS BIGINT) AS shard_waste,
         FLOOR((CAST(MAX(cum) AS DOUBLE)
                / CAST(((MAX(cum) - 1) // 128 + 1) * 128 AS BIGINT))
               * 10000.0 + 0.5) / 10000.0 AS shard_fill4
  FROM packcum GROUP BY sh
),
psegy AS (
  -- pack-segment inversion: a doc spans packs (cum-n)//128 .. (cum-1)//128;
  -- per pack p, segment = [max(start, p·128), min((p+1)·128, start+n))
  SELECT doc_id, pack_shard, p,
         GREATEST(pack_start, p * 128) - p * 128 AS seg_off,
         LEAST((p + 1) * 128, pack_start + n_tok)
           - GREATEST(pack_start, p * 128) AS seg_len,
         pack_start
  FROM (
    SELECT doc_id, CAST(sh AS INTEGER) AS pack_shard,
           unnest(range((cum - n_tok) // 128, (cum - 1) // 128 + 1)) AS p,
           cum - n_tok AS pack_start, n_tok
    FROM packcum
  )
),
psegdoc AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS pseg_n,
         CAST(SUM(seg_len) AS BIGINT) AS pseg_sum,
         CAST(SUM((p * 131 + seg_off) * seg_len) AS BIGINT) AS pseg_digest
  FROM psegy GROUP BY doc_id
),
psegidx AS (  -- the doc's segment ordinal within its FIRST pack
  SELECT doc_id, CAST(seg_idx AS BIGINT) AS pseg_idx0 FROM (
    SELECT doc_id,
           row_number() OVER (PARTITION BY pack_shard, p
                              ORDER BY pack_start) - 1 AS seg_idx,
           row_number() OVER (PARTITION BY doc_id ORDER BY p) AS rnd
    FROM psegy) WHERE rnd = 1
),
psegpack AS (
  SELECT pack_shard, p,
         CAST(COUNT(*) AS BIGINT) AS fp_segs,
         CAST(SUM(seg_len) AS BIGINT) AS fp_fill,
         -- block-diagonal attention cost: sum seg_len^2 vs the full
         -- 128^2 window (the payoff of per-doc attention masks)
         CAST(SUM(seg_len * seg_len) AS BIGINT) AS fl_block
  FROM psegy GROUP BY pack_shard, p
),
cdcb AS (
  -- content-defined boundaries, replayed term-for-term: 1-based j in
  -- [4, n-1] ⇔ the Spark kernel's 0-based i in [3, n-2]; same window
  -- multipliers, same mod chain
  SELECT doc_id, tokens, n_tok,
         list_filter(range(4, n_tok), j ->
           (CAST(tokens[j] AS BIGINT) * 1000003
            + CAST(tokens[j-1] AS BIGINT) * 40503
            + CAST(tokens[j-2] AS BIGINT) * 69061
            + CAST(tokens[j-3] AS BIGINT) * 9973)
           % 2147483647 % 16 = 0) AS bnd
  FROM tokens_static WHERE n_tok > 0
),
cdcc AS (
  SELECT doc_id,
         unnest(range(0, len(bnd) + 1)) AS cdc_id,
         unnest(list_transform(range(1, len(bnd) + 2), k ->
           tokens[list_prepend(1, list_transform(bnd, j -> j + 1))[k]
                  : list_append(bnd, n_tok)[k]])) AS ck
  FROM cdcb
),
cdcf AS (
  SELECT doc_id, cdc_id,
         CAST(COALESCE(list_sum(ck), 0) AS BIGINT) AS cdc_sum,
         CASE WHEN ROW_NUMBER() OVER (
                PARTITION BY array_to_string(ck, ',')
                ORDER BY doc_id ASC, cdc_id ASC) = 1
              THEN 1 ELSE 0 END AS kept
  FROM cdcc
),
cdcd AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS cdc_n,
         CAST(SUM(kept) AS BIGINT) AS cdc_kept_n,
         CAST(SUM(kept * cdc_sum) AS BIGINT) AS cdc_kept_sum
  FROM cdcf GROUP BY doc_id
),
lb AS (  -- pow-2 length bucket: bit arithmetic, engine-identical
  SELECT doc_id,
         CASE WHEN n_tok <= 1 THEN CAST(n_tok AS BIGINT)
              ELSE CAST(1 AS BIGINT) << length(bin(n_tok - 1)) END
           AS len_bucket,
         CAST(n_tok AS BIGINT) AS n_tok
  FROM tokens_static WHERE n_tok > 0
),
lbs AS (  -- per-bucket fill: exact int mass, ONE division
  SELECT len_bucket,
         CAST(COUNT(*) AS BIGINT) AS bucket_docs,
         FLOOR((CAST(CAST(SUM(n_tok) AS BIGINT) AS DOUBLE)
                / CAST(len_bucket * COUNT(*) AS BIGINT))
               * 10000.0 + 0.5) / 10000.0 AS bucket_fill4
  FROM lb GROUP BY len_bucket
),
fimp AS (  -- FIM: two deterministic split points (always a valid 3-split)
  SELECT doc_id, tokens, CAST(len(tokens) AS BIGINT) AS n,
         (((CAST(substr(doc_id, 5) AS BIGINT) % 2147483647) * 506952114)
          % 2147483647) % (CAST(len(tokens) AS BIGINT) + 1) AS fim_p1,
         (((CAST(substr(doc_id, 5) AS BIGINT) % 2147483647) * 1103515245)
          % 2147483647) AS h2
  FROM tokens_static WHERE len(tokens) > 0
),
fimx AS (
  SELECT doc_id, n, fim_p1,
         fim_p1 + (h2 % (n - fim_p1 + 1)) AS fim_p2,
         tokens
  FROM fimp
),
fimc AS (  -- PSM reorder prefix || suffix || middle + ordered checksum
  SELECT doc_id, fim_p1, fim_p2,
         CAST(n - fim_p2 AS BIGINT) AS fim_suf,
         CAST((SELECT SUM(CAST(u.tk AS BIGINT) * u.ord) FROM
               (SELECT unnest(psm) AS tk,
                       unnest(range(1, len(psm) + 1)) AS ord) u)
              % 1000003 AS BIGINT) AS fim_ck
  FROM (
    SELECT doc_id, n, fim_p1, fim_p2,
           tokens[1:fim_p1] || tokens[fim_p2 + 1:n]
             || tokens[fim_p1 + 1:fim_p2] AS psm
    FROM fimx)
)
SELECT c.doc_id, CAST(c.chunk_id AS BIGINT) AS chunk_id,
       CAST(len(c.ck) AS BIGINT) AS chunk_len,
       CAST(COALESCE(list_sum(c.ck), 0) AS BIGINT) AS chunk_sum,
       p.pack_shard, p.pack_start, p.pack_first, p.pack_last,
       p.pack_spans, p.pack_head_fill,
       d.cdc_n, d.cdc_kept_n, d.cdc_kept_sum,
       ss.shard_tokens, ss.shard_packs, ss.shard_waste, ss.shard_fill4,
       b.len_bucket, b.len_bucket - b.n_tok AS pad_waste,
       bs.bucket_docs, bs.bucket_fill4,
       pd.pseg_n, pd.pseg_sum, pd.pseg_digest, pi.pseg_idx0,
       pp.fp_segs, pp.fp_fill,
       fd.ffd_bin, fd.ffd_load, fd.ffd_bins,
       lp.lpt_worker, lp.lpt_load, lp.lpt_makespan,
       fm.fim_p1, fm.fim_p2, fm.fim_suf, fm.fim_ck,
       pp.fl_block,
       FLOOR((1.0 - pp.fl_block / 16384.0) * 10000.0 + 0.5) / 10000.0
         AS fl_save4
FROM chunks c JOIN packs p USING (doc_id) JOIN cdcd d USING (doc_id)
     JOIN shardstats ss USING (pack_shard)
     JOIN lb b USING (doc_id) JOIN lbs bs USING (len_bucket)
     JOIN psegdoc pd USING (doc_id) JOIN psegidx pi USING (doc_id)
     JOIN psegpack pp ON pp.pack_shard = p.pack_shard AND pp.p = p.pack_first
     JOIN ffdd fd USING (doc_id)
     JOIN lptf lp USING (doc_id)
     JOIN fimc fm USING (doc_id)
""",
        "cosine_dup": oracles.sql_cosine_dup(0.99),
        # text-analysis composition: langid ⋈ quality ⋈ fingerprint ⋈
        # 3-gram repetition stats ⋈ 8-gram benchmark decontamination.
        # Token-table sub-oracles are keyed 'doc_<id>' — stripped back to
        # the numeric documents key, same substring op as the Spark query.
        # Grams are LIST values here (DuckDB groups/joins lists natively);
        # Spark uses ','-joined string keys — the serialization is
        # injective, so the per-gram counts agree. rep ratio = two exact
        # BIGINTs, ONE division, fround4 on both engines.
        "text_stats": f"""
WITH ts_all AS MATERIALIZED (
SELECT *, CAST(ntile(4) OVER (PARTITION BY lang_pred
             ORDER BY quality_score ASC, doc_id ASC) AS BIGINT)
          AS curriculum_bucket,
       -- root-p curriculum pacing: unlock step t = ceil(r^2*16/N^2), the
       -- squared form of r/N <= sqrt(t/16) — exact integers throughout
       CAST((CAST(row_number() OVER (PARTITION BY lang_pred
                  ORDER BY quality_score ASC, doc_id ASC) AS BIGINT)
             * row_number() OVER (PARTITION BY lang_pred
                  ORDER BY quality_score ASC, doc_id ASC) * 16
             + CAST(COUNT(*) OVER (PARTITION BY lang_pred) AS BIGINT)
               * COUNT(*) OVER (PARTITION BY lang_pred) - 1)
            // (CAST(COUNT(*) OVER (PARTITION BY lang_pred) AS BIGINT)
                * COUNT(*) OVER (PARTITION BY lang_pred)) AS BIGINT)
          AS cur_unlock16
FROM (
WITH RECURSIVE {SQL_TOKENS_STATIC},
toks AS (
  SELECT CAST(substr(doc_id, 5) AS BIGINT) AS doc_id, tokens, n_tok
  FROM tokens_static
),
lz AS (  -- LZ78 incremental parse replayed one PHRASE per recursion step:
         -- the next phrase is the shortest prefix at pos not yet in the
         -- dictionary (or the whole remaining suffix — the trailing
         -- partial phrase, which counts once, same as the Spark fold)
  SELECT doc_id, tokens, 1 AS pos, CAST([] AS VARCHAR[]) AS dict,
         CAST(0 AS BIGINT) AS ph
  FROM toks WHERE len(tokens) > 0
  UNION ALL
  SELECT doc_id, tokens, pos + lnext,
         list_append(dict, array_to_string(
           list_slice(tokens, pos, pos + lnext - 1), ',')),
         ph + 1
  FROM (
    SELECT doc_id, tokens, pos, dict, ph,
           COALESCE(list_filter(range(1, len(tokens) - pos + 2),
             L -> NOT list_contains(dict, array_to_string(
                    list_slice(tokens, pos, pos + L - 1), ',')))[1],
             len(tokens) - pos + 1) AS lnext
    FROM lz WHERE pos <= len(tokens))
),
lzf AS (
  SELECT doc_id, CAST(ph AS BIGINT) AS lz_phrases,
         FLOOR((ph / len(tokens)) * 10000.0 + 0.5) / 10000.0 AS lz_ratio4
  FROM lz WHERE pos = len(tokens) + 1
),
dswin AS (  -- ExactSubstr windows: length-8, 0-based positions
  SELECT doc_id, i - 1 AS pos, array_to_string(tokens[i : i + 7], ',') AS gram
  FROM (SELECT doc_id, tokens, unnest(range(1, n_tok - 8 + 2)) AS i
        FROM toks WHERE n_tok >= 8)
),
dsdup AS (
  SELECT gram FROM dswin GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
),
dshit AS (SELECT doc_id, pos FROM dswin JOIN dsdup USING (gram)),
dsisl AS (  -- gaps-and-islands: [p, p+8) windows merge while p <= prev + 8
  SELECT doc_id, pos,
         SUM(CASE WHEN lagp IS NULL OR pos > lagp + 8 THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS isl
  FROM (SELECT doc_id, pos,
               lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS lagp
        FROM dshit)
),
dsspan AS (
  SELECT doc_id, isl,
         MAX(pos) - MIN(pos) + 8 AS span_len, MIN(pos) AS span_start
  FROM dsisl GROUP BY doc_id, isl
),
dsdoc AS (
  SELECT s.doc_id,
         CAST(h.hits AS BIGINT) AS ds_hits,
         CAST(COUNT(*) AS BIGINT) AS ds_spans,
         CAST(SUM(span_len) AS BIGINT) AS ds_cover,
         CAST(MIN(span_start) AS BIGINT) AS ds_first
  FROM dsspan s JOIN (
    SELECT doc_id, COUNT(*) AS hits FROM dshit GROUP BY doc_id
  ) h USING (doc_id)
  GROUP BY s.doc_id, h.hits
),
g3 AS (
  SELECT doc_id, tokens[i : i + 2] AS g
  FROM (SELECT doc_id, tokens, unnest(range(1, n_tok - 1)) AS i
        FROM toks WHERE n_tok >= 3)
),
rep AS (
  SELECT doc_id,
         CAST(SUM(c) AS BIGINT) AS rep_total_ngrams,
         CAST(COUNT(*) AS BIGINT) AS rep_distinct_ngrams,
         CAST(SUM(c) - COUNT(*) AS BIGINT) AS rep_dup_ngrams,
         CAST(MAX(c) AS BIGINT) AS rep_top_ngram_count,
         FLOOR((CAST(SUM(c) - COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE))
               * 10000.0 + 0.5) / 10000.0 AS rep_dup_ratio
  FROM (SELECT doc_id, g, COUNT(*) AS c FROM g3 GROUP BY doc_id, g)
  GROUP BY doc_id
),
g8 AS (
  SELECT doc_id, tokens[i : i + 7] AS g
  FROM (SELECT doc_id, tokens, unnest(range(1, n_tok - 6)) AS i
        FROM toks WHERE n_tok >= 8)
),
bench AS (SELECT DISTINCT g FROM g8 WHERE doc_id % 97 = 0),
contam AS (
  SELECT d.doc_id,
         CAST(COUNT(*) AS BIGINT) AS contam_hits,
         CAST(COUNT(DISTINCT d.g) AS BIGINT) AS contam_distinct
  FROM g8 d JOIN bench b ON d.g = b.g
  GROUP BY d.doc_id
),
scr AS (  -- PII scrubbing over the same deterministically-augmented text
  SELECT doc_id,
         CAST(len(regexp_extract_all(t2, 'https?://[^ ]+')) AS BIGINT) AS n_url,
         CAST(len(regexp_extract_all(t2, '[A-Za-z0-9_.]+@[A-Za-z0-9.]+')) AS BIGINT) AS n_email,
         CAST(len(regexp_extract_all(t2, '[0-9]{{6,}}')) AS BIGINT) AS n_longnum,
         CAST(length(regexp_replace(regexp_replace(regexp_replace(t2,
              'https?://[^ ]+', '<URL>', 'g'),
              '[A-Za-z0-9_.]+@[A-Za-z0-9.]+', '<EMAIL>', 'g'),
              '[0-9]{{6,}}', '<NUM>', 'g')) AS BIGINT) AS scrub_len
  FROM (SELECT doc_id,
               CASE WHEN doc_id % 7 = 0 THEN
                 text || ' contact user' || CAST(doc_id AS VARCHAR)
                      || '@example.com ref 123456789 see https://ex.org/'
                      || CAST(doc_id AS VARCHAR)
               ELSE text END AS t2
        FROM documents)
),
dsx AS (  -- DSIR: hashed-bigram bucket per position (i kept for the fold order)
  SELECT doc_id, i,
         ((CAST(tokens[i] AS BIGINT) * 506952114
           + CAST(tokens[i+1] AS BIGINT) * 40503) % 2147483647) % 1024 AS bkt
  FROM (SELECT doc_id, tokens, unnest(range(1, n_tok)) AS i
        FROM toks WHERE n_tok >= 2)
),
dsct AS (SELECT bkt, CAST(COUNT(*) AS BIGINT) AS cr,
                CAST(SUM(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END)
                     AS BIGINT) AS ct
         FROM dsx GROUP BY bkt),
dsn AS (SELECT CAST(SUM(cr) AS BIGINT) AS nr,
               CAST(SUM(ct) AS BIGINT) AS nt FROM dsct),
dsrt AS (  -- smoothed ratio: ONE IEEE division of two exact BIGINTs
  SELECT bkt, CAST((ct + 1) * (nr + 1024) AS DOUBLE)
            / CAST((cr + 1) * (nt + 1024) AS DOUBLE) AS rr
  FROM dsct CROSS JOIN dsn),
dsiw AS (  -- per-doc weight: position-order multiply fold, replayed exactly
  SELECT x.doc_id, CAST(COUNT(*) AS BIGINT) AS npairs,
         list_reduce(list(r.rr ORDER BY x.i), (a, v) -> a * v) AS w
  FROM dsx x JOIN dsrt r USING (bkt) GROUP BY x.doc_id
),
bmtf AS (  -- BM25: per-(doc, query-term) tf + doc length
  SELECT doc_id, CAST(n_tok AS BIGINT) AS dl, t, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, n_tok, unnest(tokens) AS t FROM toks)
  WHERE t IN (18, 55, 89, 138, 216)
  GROUP BY doc_id, n_tok, t
),
bmdf AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS df FROM bmtf GROUP BY t),
bmtot AS (SELECT CAST(COUNT(*) AS BIGINT) AS b_n, CAST(SUM(n_tok) AS BIGINT) AS b_s
          FROM toks),
bmterm AS (  -- idf_t·tfn_t: ONE IEEE division of two exact BIGINTs
  SELECT doc_id, t, tf,
         CAST((2*b_n - 2*df + 1) * 44 * tf * b_s AS DOUBLE)
         / CAST((2*df + 1) * (20*tf*b_s + 6*b_s + 18*dl*b_n) AS DOUBLE) AS v
  FROM bmtf JOIN bmdf USING (t) CROSS JOIN bmtot
),
bm AS (  -- token-id-ordered sequential fold, addition-for-addition
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS bm25_terms,
         CAST(SUM(tf) AS BIGINT) AS bm25_tf,
         FLOOR(list_reduce(list(v ORDER BY t), (a, b) -> a + b)
               * 10000.0 + 0.5) / 10000.0 AS bm25_score4
  FROM bmterm GROUP BY doc_id
),
cbte AS (  -- ColBERT token embeddings: token id t -> embedding vec_id t
  SELECT vec_id AS tok, CAST(embedding AS DOUBLE[]) AS ev
  FROM embeddings
  WHERE vec_id <= 250
    AND list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x*x)) > 0
),
cbq AS (SELECT tok AS qt, ev AS qv FROM cbte
        WHERE tok IN (18, 55, 89, 138, 216)),
cblut AS (  -- |q| x |V| 4-dec cosine LUT
  SELECT qt, tok,
         FLOOR((list_inner_product(qv, ev)
               / (sqrt(list_inner_product(qv, qv))
                * sqrt(list_inner_product(ev, ev)))) * 10000.0 + 0.5)
         / 10000.0 AS c4
  FROM cbq, cbte
),
cbdt AS (SELECT DISTINCT doc_id, unnest(tokens) AS tok FROM toks),
cbpm AS (
  SELECT doc_id, qt, MAX(c4) AS mx FROM cbdt JOIN cblut USING (tok)
  GROUP BY 1, 2
),
cb AS (  -- MaxSim: fixed 5-term addition chain in term order
  SELECT doc_id,
         COALESCE(MAX(CASE WHEN qt = 18 THEN mx END), -2.0) AS cb_18,
         COALESCE(MAX(CASE WHEN qt = 55 THEN mx END), -2.0) AS cb_55,
         COALESCE(MAX(CASE WHEN qt = 89 THEN mx END), -2.0) AS cb_89,
         COALESCE(MAX(CASE WHEN qt = 138 THEN mx END), -2.0) AS cb_138,
         COALESCE(MAX(CASE WHEN qt = 216 THEN mx END), -2.0) AS cb_216,
         FLOOR((COALESCE(MAX(CASE WHEN qt = 18 THEN mx END), 0)
              + COALESCE(MAX(CASE WHEN qt = 55 THEN mx END), 0)
              + COALESCE(MAX(CASE WHEN qt = 89 THEN mx END), 0)
              + COALESCE(MAX(CASE WHEN qt = 138 THEN mx END), 0)
              + COALESCE(MAX(CASE WHEN qt = 216 THEN mx END), 0))
               * 10000.0 + 0.5) / 10000.0 AS colbert4
  FROM cbpm GROUP BY doc_id
)
SELECT l.doc_id, l.lang_pred,
       q.n_words, q.n_chars_derived, q.re_tokens, q.mean_word_len,
       q.punct_ratio, q.stopword_ratio, q.quality_score,
       f.fingerprint,
       COALESCE(lzq.lz_phrases, 0) AS lz_phrases,
       COALESCE(lzq.lz_ratio4, 0.0) AS lz_ratio4,
       COALESCE(r.rep_total_ngrams, 0) AS rep_total_ngrams,
       COALESCE(r.rep_distinct_ngrams, 0) AS rep_distinct_ngrams,
       COALESCE(r.rep_dup_ngrams, 0) AS rep_dup_ngrams,
       COALESCE(r.rep_top_ngram_count, 0) AS rep_top_ngram_count,
       COALESCE(r.rep_dup_ratio, 0.0) AS rep_dup_ratio,
       COALESCE(c.contam_hits, 0) AS contam_hits,
       COALESCE(c.contam_distinct, 0) AS contam_distinct,
       CAST(COALESCE(c.contam_hits, 0) > 0 AS BIGINT) AS is_contaminated,
       sc.n_url, sc.n_email, sc.n_longnum, sc.scrub_len,
       COALESCE(dsd.ds_hits, 0) AS ds_hits,
       COALESCE(dsd.ds_spans, 0) AS ds_spans,
       COALESCE(dsd.ds_cover, 0) AS ds_cover,
       COALESCE(dsd.ds_first, -1) AS ds_first,
       COALESCE(dw.npairs, 0) AS dsir_pairs,
       FLOOR(COALESCE(dw.w, 1.0) * 10000.0 + 0.5) / 10000.0 AS dsir_w4,
       CAST(COALESCE(dw.w, 1.0) > 1.0 AS BIGINT) AS dsir_keep,
       COALESCE(bm.bm25_terms, 0) AS bm25_terms,
       COALESCE(bm.bm25_tf, 0) AS bm25_tf,
       COALESCE(bm.bm25_score4, 0.0) AS bm25_score4,
       COALESCE(cbx.cb_18, -2.0) AS cb_18,
       COALESCE(cbx.cb_55, -2.0) AS cb_55,
       COALESCE(cbx.cb_89, -2.0) AS cb_89,
       COALESCE(cbx.cb_138, -2.0) AS cb_138,
       COALESCE(cbx.cb_216, -2.0) AS cb_216,
       COALESCE(cbx.colbert4, 0.0) AS colbert4,
       CAST(q.n_words >= 5 AND q.mean_word_len >= 2.0
            AND q.mean_word_len <= 12.0
            AND COALESCE(r.rep_dup_ratio, 0.0) <= 0.3
            AND q.stopword_ratio > 0.0 AS BIGINT) AS gopher_pass
FROM ({oracles.sql_langid(STOPWORDS)}) l
JOIN ({oracles.sql_text_quality(STOPWORDS["en"])}) q USING (doc_id)
JOIN (
  SELECT doc_id,
         CAST((SELECT SUM(CAST(u.t AS BIGINT) * u.ord) FROM
               (SELECT unnest(tokens) AS t, unnest(range(1, len(tokens)+1)) AS ord) u)
              % 1000003 AS BIGINT) AS fingerprint
  FROM toks
) f USING (doc_id)
LEFT JOIN rep r USING (doc_id)
LEFT JOIN contam c USING (doc_id)
JOIN scr sc USING (doc_id)
LEFT JOIN dsdoc dsd USING (doc_id)
LEFT JOIN dsiw dw USING (doc_id)
LEFT JOIN bm USING (doc_id)
LEFT JOIN cb cbx ON cbx.doc_id = l.doc_id
LEFT JOIN lzf lzq ON lzq.doc_id = l.doc_id
)
),
lidt AS (  -- langid confusion vs the ground-truth lang column
  SELECT t.doc_id, d.lang AS lang_true,
         CAST(CASE WHEN d.lang = t.lang_pred THEN 1 ELSE 0 END AS BIGINT)
           AS lid_correct
  FROM ts_all t JOIN documents d USING (doc_id)
),
lida AS (
  SELECT FLOOR((CAST(SUM(lid_correct) AS BIGINT)
                / CAST(COUNT(*) AS BIGINT)) * 10000.0 + 0.5) / 10000.0
           AS lid_acc4
  FROM lidt
),
lidr AS (
  SELECT lang_true, CAST(COUNT(*) AS BIGINT) AS lang_n,
         FLOOR((CAST(SUM(lid_correct) AS BIGINT)
                / CAST(COUNT(*) AS BIGINT)) * 10000.0 + 0.5) / 10000.0
           AS lang_recall4
  FROM lidt GROUP BY 1
),
{SQL_TOKENS_STATIC},
caug AS (  -- wave 118: canary injection (repeated C_j for oid%31 in 0..3,
           -- one UNIQUE canary on oid = 13), re-derived from scratch
  SELECT doc_id,
         CASE WHEN CAST(substr(doc_id, 5) AS BIGINT) % 31 < 4 THEN
                list_concat(tokens, list_transform(range(0, 12),
                  i -> CAST(((CAST(substr(doc_id, 5) AS BIGINT) % 31) * 37
                             + i * 11) % 251 AS INTEGER)))
              WHEN CAST(substr(doc_id, 5) AS BIGINT) = 13 THEN
                list_concat(tokens, list_transform(range(0, 12),
                  i -> CAST((199 + i * 7) % 251 AS INTEGER)))
              ELSE tokens END AS toks2,
         CASE WHEN CAST(substr(doc_id, 5) AS BIGINT) % 31 < 4
              THEN CAST(substr(doc_id, 5) AS BIGINT) % 31
              WHEN CAST(substr(doc_id, 5) AS BIGINT) = 13
              THEN CAST(-2 AS BIGINT)
              ELSE CAST(-1 AS BIGINT) END AS can_id
  FROM tokens_static
),
cw12 AS (  -- ExactSubstr extraction machinery: 12-token window keys
  SELECT doc_id, CAST(len(toks2) AS BIGINT) AS n2, i AS pos,
         array_to_string(toks2[i + 1:i + 12], ',') AS gram
  FROM (SELECT doc_id, toks2, unnest(range(0, len(toks2) - 11)) AS i
        FROM caug WHERE len(toks2) >= 12)
),
cd12 AS (
  SELECT gram FROM cw12 GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
),
canl AS (
  SELECT doc_id, CAST(1 AS BIGINT) AS can_caught
  FROM cw12 WHERE pos = n2 - 12 AND gram IN (SELECT gram FROM cd12)
),
canx AS (
  SELECT CAST(substr(c.doc_id, 5) AS BIGINT) AS did, c.can_id,
         COALESCE(l.can_caught, CAST(0 AS BIGINT)) AS can_caught
  FROM caug c LEFT JOIN canl l USING (doc_id)
)
SELECT ts_all.*,
       lt.lang_true, lt.lid_correct, lr.lang_n, lr.lang_recall4,
       la.lid_acc4,
       cx.can_id, cx.can_caught
FROM ts_all
JOIN lidt lt ON lt.doc_id = ts_all.doc_id
JOIN lidr lr ON lr.lang_true = lt.lang_true
CROSS JOIN lida la
JOIN canx cx ON cx.did = ts_all.doc_id
""",
        "glrlm": oracles.sql_glrlm(64),
        "glcm": oracles.sql_glcm(64),
        # three GLCM binning modes + multi-offset _AVE in one gated row set
        "glcm_modes": f"""
SELECT s.doc_id,
       s.glcm_contrast AS sym_glcm_contrast, s.glcm_asm AS sym_glcm_asm,
       s.glcm_dis AS sym_glcm_dis, s.glcm_sumaverage AS sym_glcm_sumaverage,
       s.glcm_acor AS sym_glcm_acor, s.glcm_jave AS sym_glcm_jave,
       i.glcm_contrast AS ibsi_glcm_contrast, i.glcm_asm AS ibsi_glcm_asm,
       i.glcm_dis AS ibsi_glcm_dis, i.glcm_sumaverage AS ibsi_glcm_sumaverage,
       i.glcm_acor AS ibsi_glcm_acor, i.glcm_jave AS ibsi_glcm_jave,
       a.glcm_contrast_d1, a.glcm_contrast_d2, a.glcm_contrast_d4,
       a.glcm_contrast_ave, a.glcm_dis_ave, a.glcm_acor_ave,
       a.glcm_jave_ave, a.glcm_asm_ave
FROM ({oracles.sql_glcm_sym(64)}) s
JOIN ({oracles.sql_glcm_ibsi(32)}) i USING (doc_id)
JOIN ({oracles.sql_glcm_ave(64)}) a USING (doc_id)
""",
        # multi-offset GLRLM + the background-break path (bg_*) side by side
        "glrlm_modes": f"""
SELECT a.*,
       b.glrlm_lre AS bg_glrlm_lre, b.glrlm_rp AS bg_glrlm_rp,
       b.glrlm_hglre AS bg_glrlm_hglre, b.glrlm_gln AS bg_glrlm_gln,
       b.glrlm_rln AS bg_glrlm_rln
FROM ({oracles.sql_glrlm_ave(64)}) a
JOIN ({oracles.sql_glrlm_bg(64)}) b USING (doc_id)
""",
        "glszm": oracles.sql_glszm(64),
        "ngtdm": oracles.sql_ngtdm(64),
        "gldzm": oracles.sql_gldzm(64),
        # signal-family composition: quantized-integer Gabor ⋈ radial bands
        "gabor_radial": f"""
SELECT * FROM ({oracles.sql_gabor()}) g
JOIN ({oracles.sql_radial()}) r USING (doc_id)
JOIN ({oracles.sql_haar()}) h USING (doc_id)
""",
    }
    return extra | {
        "tokens_basic": f"""
WITH RECURSIVE {SQL_TOKENS_STATIC},
scdt AS (  -- wave 113: doc → distinct bigram-shingle sets
  SELECT CAST(substr(doc_id, 5) AS BIGINT) AS oid,
         list_sort(list_distinct(list_transform(range(1, n_tok),
           i -> tokens[i] * 256 + tokens[i + 1]))) AS ts
  FROM tokens_static WHERE n_tok > 1
),
scr AS (  -- greedy max-coverage walk, one pick per recursion step;
          -- carries the picked-id list so a doc is never picked twice
          -- (mirrors operators.greedy_set_cover's exclusion contract)
  SELECT 0 AS step, CAST([] AS INTEGER[]) AS covered,
         CAST([] AS BIGINT[]) AS picked,
         CAST(-1 AS BIGINT) AS pick, CAST(0 AS BIGINT) AS gain
  UNION ALL
  SELECT s.step + 1,
         list_sort(list_distinct(list_concat(s.covered, d2.ts))),
         list_append(s.picked, s.bo),
         s.bo,
         CAST(len(list_filter(d2.ts,
              t -> NOT list_contains(s.covered, t))) AS BIGINT)
  FROM (
    SELECT step, covered, picked,
           arg_max(d.oid,
             CAST(len(list_filter(d.ts,
                  t -> NOT list_contains(covered, t))) AS BIGINT)
             * 1048576 - d.oid) AS bo
    FROM scr, scdt d
    WHERE step < 8 AND NOT list_contains(picked, d.oid)
    GROUP BY step, covered, picked
  ) s JOIN scdt d2 ON d2.oid = s.bo
),
adjp AS (
  SELECT doc_id, tokens[i] AS a, tokens[i + 1] AS b
  FROM (SELECT doc_id, tokens, unnest(range(1, n_tok)) AS i FROM tokens_static)
),
tp AS (  -- corpus top pair, same (count DESC, a ASC, b ASC) tie-break
  SELECT a, b FROM adjp GROUP BY a, b
  ORDER BY COUNT(*) DESC, a ASC, b ASC LIMIT 1
),
runsum AS (  -- a == b branch: greedy merges = Σ floor(run_len / 2)
  SELECT doc_id, CAST(SUM(cnt // 2) AS BIGINT) AS m FROM (
    SELECT doc_id, grp, COUNT(*) AS cnt FROM (
      SELECT p.doc_id, p.i,
             p.i - row_number() OVER (PARTITION BY p.doc_id ORDER BY p.i) AS grp
      FROM (SELECT doc_id, tokens, unnest(range(1, n_tok + 1)) AS i
            FROM tokens_static) p, tp
      WHERE p.tokens[p.i] = tp.a)
    GROUP BY doc_id, grp)
  GROUP BY doc_id
),
adjcnt AS (  -- a <> b branch: overlaps impossible, plain adjacent count
  SELECT adjp.doc_id, CAST(COUNT(*) AS BIGINT) AS m
  FROM adjp, tp WHERE adjp.a = tp.a AND adjp.b = tp.b
  GROUP BY adjp.doc_id
),
bpem AS (
  SELECT s.doc_id,
         CASE WHEN (SELECT a FROM tp) = (SELECT b FROM tp)
              THEN COALESCE(r.m, 0) ELSE COALESCE(c.m, 0) END AS m
  FROM tokens_static s
  LEFT JOIN runsum r ON r.doc_id = s.doc_id
  LEFT JOIN adjcnt c ON c.doc_id = s.doc_id
),
segflat AS (  -- delimiter segmentation replay: segr = #delims at-or-before
  SELECT doc_id, tok, i,
         SUM(CASE WHEN tok = 104 THEN 1 ELSE 0 END) OVER (
           PARTITION BY doc_id ORDER BY i
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS segr
  FROM (SELECT doc_id, unnest(tokens) AS tok,
               generate_subscripts(tokens, 1) AS i
        FROM tokens_static)
),
segrows AS (  -- non-empty segments with dense 0-based ids in stream order
  SELECT doc_id, segr,
         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY segr) - 1
              AS BIGINT) AS seg_id,
         CAST(SUM(tok) AS BIGINT) AS seg_sum,
         CAST(COUNT(*) AS BIGINT) AS seg_len
  FROM segflat WHERE tok <> 104
  GROUP BY doc_id, segr
),
segagg AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_segs,
         CAST(MAX(seg_len) AS BIGINT) AS max_seg_len,
         CAST(SUM((seg_id + 1) * (seg_sum + seg_len)) AS BIGINT) AS seg_checksum,
         FLOOR(MAX(CAST(seg_sum AS DOUBLE) / seg_len) * 10000.0 + 0.5) / 10000.0
           AS max_seg_mean4,
         FLOOR(MIN(CAST(seg_sum AS DOUBLE) / seg_len) * 10000.0 + 0.5) / 10000.0
           AS min_seg_mean4
  FROM segrows GROUP BY doc_id
),
lex AS (  -- lexical diversity: two-phase (doc, token) aggregation
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS distinct_tokens,
         CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax_tokens,
         CAST(SUM(c * (c - 1)) AS BIGINT) AS simpson_num
  FROM (SELECT doc_id, tok, COUNT(*) AS c
        FROM (SELECT doc_id, unnest(tokens) AS tok FROM tokens_static)
        GROUP BY doc_id, tok)
  GROUP BY doc_id
)
SELECT doc_id, n_tok,
       list_min(tokens) AS tok_min,
       list_max(tokens) AS tok_max,
       CAST(list_sum(tokens) AS BIGINT) AS tok_sum,
       CAST((SELECT SUM(CAST(u.t AS BIGINT) * u.ord) FROM
             (SELECT unnest(tokens) AS t, unnest(range(1, len(tokens)+1)) AS ord) u)
            % 1000003 AS BIGINT) AS tok_digest,
       source,
       CAST((SELECT SUM(CAST(u.t AS BIGINT) * u.t) FROM
             (SELECT unnest(tokens) AS t) u) AS BIGINT) AS tok_energy,
       CAST(COALESCE((SELECT SUM(CAST(tokens[u.i] AS BIGINT) * tokens[u.i + 1]) FROM
             (SELECT unnest(range(1, GREATEST(len(tokens) - 1, 0) + 1)) AS i) u), 0)
            AS BIGINT) AS acf1_num,
       CAST(COALESCE((SELECT SUM(CAST(tokens[u.i] AS BIGINT) * tokens[u.i + 2]) FROM
             (SELECT unnest(range(1, GREATEST(len(tokens) - 2, 0) + 1)) AS i) u), 0)
            AS BIGINT) AS acf2_num,
       CAST(COALESCE((SELECT SUM(CAST(tokens[u.i] AS BIGINT) * tokens[u.i + 4]) FROM
             (SELECT unnest(range(1, GREATEST(len(tokens) - 4, 0) + 1)) AS i) u), 0)
            AS BIGINT) AS acf4_num,
       CASE WHEN (SELECT SUM(CAST(u.t AS BIGINT) * u.t) FROM
                  (SELECT unnest(tokens) AS t) u) > 0
            THEN FLOOR((CAST(COALESCE((SELECT SUM(CAST(tokens[u.i] AS BIGINT) * tokens[u.i + 1]) FROM
                   (SELECT unnest(range(1, GREATEST(len(tokens) - 1, 0) + 1)) AS i) u), 0) AS DOUBLE)
                 / (SELECT SUM(CAST(u.t AS BIGINT) * u.t) FROM
                    (SELECT unnest(tokens) AS t) u)) * 10000.0 + 0.5) / 10000.0
            ELSE 0.0 END AS acf1_r,
       CASE WHEN
         CAST(n_tok AS BIGINT) * n_tok * (SELECT SUM(CAST(u.t AS BIGINT) * u.t)
             FROM (SELECT unnest(tokens) AS t) u)
         - (CAST(n_tok AS BIGINT) * CAST(list_sum(tokens) AS BIGINT))
           * CAST(list_sum(tokens) AS BIGINT) > 0
       THEN
         FLOOR((CAST(
             CAST(n_tok AS BIGINT) * n_tok
               * CAST(COALESCE((SELECT SUM(CAST(tokens[u.i] AS BIGINT) * tokens[u.i + 1]) FROM
                   (SELECT unnest(range(1, GREATEST(len(tokens) - 1, 0) + 1)) AS i) u), 0) AS BIGINT)
             - (CAST(n_tok AS BIGINT) * CAST(list_sum(tokens) AS BIGINT))
               * (CASE WHEN n_tok > 1 THEN CAST(COALESCE(list_sum(tokens[1:n_tok-1]), 0) AS BIGINT) ELSE 0 END
                  + CASE WHEN n_tok > 1 THEN CAST(COALESCE(list_sum(tokens[2:n_tok]), 0) AS BIGINT) ELSE 0 END)
             + ((CAST(n_tok AS BIGINT) - 1) * CAST(list_sum(tokens) AS BIGINT))
               * CAST(list_sum(tokens) AS BIGINT)
           AS DOUBLE)
           / CAST(
             CAST(n_tok AS BIGINT) * n_tok * (SELECT SUM(CAST(u.t AS BIGINT) * u.t)
                 FROM (SELECT unnest(tokens) AS t) u)
             - (CAST(n_tok AS BIGINT) * CAST(list_sum(tokens) AS BIGINT))
               * CAST(list_sum(tokens) AS BIGINT)
           AS DOUBLE)) * 10000.0 + 0.5) / 10000.0
       ELSE 0.0 END AS acf1_centered,
       (SELECT a FROM tp) AS bpe_a,
       (SELECT b FROM tp) AS bpe_b,
       bm.m AS bpe_merges,
       CAST(n_tok - bm.m AS BIGINT) AS bpe_new_len,
       COALESCE(sa.n_segs, 0) AS n_segs,
       COALESCE(sa.max_seg_len, 0) AS max_seg_len,
       COALESCE(sa.seg_checksum, 0) AS seg_checksum,
       sa.max_seg_mean4,
       sa.min_seg_mean4,
       COALESCE(lx.distinct_tokens, 0) AS distinct_tokens,
       COALESCE(lx.hapax_tokens, 0) AS hapax_tokens,
       CASE WHEN n_tok > 0 THEN
         FLOOR((COALESCE(lx.distinct_tokens, 0) / n_tok) * 10000.0 + 0.5) / 10000.0
       ELSE 0.0 END AS ttr4,
       COALESCE(lx.simpson_num, 0) AS simpson_num,
       CASE WHEN n_tok > 1 THEN
         FLOOR((COALESCE(lx.simpson_num, 0)
                / (CAST(n_tok AS BIGINT) * (n_tok - 1))) * 10000.0 + 0.5)
         / 10000.0
       ELSE 0.0 END AS simpson4,
       CASE WHEN n_tok > 0 THEN
         FLOOR(((CAST(n_tok AS BIGINT) * n_tok)
                / (COALESCE(lx.simpson_num, 0) + n_tok)) * 10000.0 + 0.5)
         / 10000.0
       ELSE 0.0 END AS eff_vocab4,
       CASE WHEN n_tok > 0
            THEN CAST(list_position(tokens, list_max(tokens)) AS BIGINT)
            ELSE 0 END AS argmax_pos,
       CASE WHEN n_tok > 0
            THEN CAST(list_position(tokens, list_min(tokens)) AS BIGINT)
            ELSE 0 END AS argmin_pos,
       CASE WHEN n_tok = 0 THEN 0
            WHEN n_tok = 1 THEN 1
            ELSE 1 + CAST(len(list_filter(range(1, n_tok),
                   i -> tokens[i] <> tokens[i + 1])) AS BIGINT) END AS rle_runs,
       CASE WHEN n_tok > 0 THEN
         FLOOR((CAST(CASE WHEN n_tok = 1 THEN 1
                 ELSE 1 + CAST(len(list_filter(range(1, n_tok),
                        i -> tokens[i] <> tokens[i + 1])) AS BIGINT) END AS DOUBLE)
                / n_tok) * 10000.0 + 0.5) / 10000.0
       ELSE 0.0 END AS rle_ratio4,
       -- wave 113: greedy set-cover pick order + marginal shingle gain
       COALESCE(scp.step, 0) AS sc_step,
       COALESCE(scp.gain, 0) AS sc_gain
FROM tokens_static JOIN bpem bm USING (doc_id)
LEFT JOIN segagg sa USING (doc_id)
LEFT JOIN lex lx USING (doc_id)
LEFT JOIN (SELECT step, pick, gain FROM scr WHERE step > 0) scp
       ON scp.pick = CAST(substr(tokens_static.doc_id, 5) AS BIGINT)
""",
        "prescan_sources": f"""
WITH {SQL_TOKENS_STATIC},
docs AS (
  SELECT source, doc_id, n_tok, tokens,
         CAST(list_sum(tokens) AS BIGINT) AS y
  FROM tokens_static
),
base AS (
  SELECT source,
         COUNT(*) AS n_docs,
         CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
         MIN(list_min(tokens)) AS src_min,
         MAX(list_max(tokens)) AS src_max,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(CAST(n_tok AS BIGINT) * n_tok) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy,
         CAST(SUM(CAST(n_tok AS BIGINT) * y) AS BIGINT) AS sxy
  FROM docs GROUP BY source
),
med AS (  -- exact lower median by RANK under the same total order
  SELECT source, CAST(n_tok AS BIGINT) AS median_n_tok FROM (
    SELECT source, n_tok,
           row_number() OVER (PARTITION BY source ORDER BY n_tok ASC, doc_id ASC) AS rn,
           COUNT(*) OVER (PARTITION BY source) AS cnt
    FROM docs) WHERE rn = (cnt + 1) // 2
),
decs AS (  -- exact decile vector: lower-rank selection, same total order
  SELECT source,
         {", ".join(
             f"CAST(MAX(CASE WHEN rn = ((cnt - 1) * {k}) // 10 + 1 THEN n_tok END) AS BIGINT) AS dec{k}_n_tok"
             for k in range(1, 10))}
  FROM (
    SELECT source, n_tok,
           row_number() OVER (PARTITION BY source ORDER BY n_tok ASC, doc_id ASC) AS rn,
           COUNT(*) OVER (PARTITION BY source) AS cnt
    FROM docs)
  GROUP BY source
),
ws AS (  -- merged-label (wholeslide) kernel stats: order-independent ints
  SELECT source,
         CAST(SUM(n_tok) AS BIGINT) AS ws_count,
         CAST(SUM(y) AS BIGINT) AS ws_sum,
         CAST(SUM(e) AS BIGINT) AS ws_energy
  FROM (SELECT source, n_tok, y,
               CAST((SELECT SUM(CAST(u.t AS BIGINT) * u.t)
                     FROM (SELECT unnest(tokens) AS t) u) AS BIGINT) AS e
        FROM docs)
  GROUP BY source
),
md AS (  -- per-source mode token: argmax count, ties -> lowest token id
  SELECT source, CAST(tok AS BIGINT) AS src_mode_token, c AS src_mode_cnt
  FROM (
    SELECT source, tok, c,
           row_number() OVER (PARTITION BY source
                              ORDER BY c DESC, tok ASC) AS rn
    FROM (SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
          FROM (SELECT source, unnest(tokens) AS tok FROM tokens_static)
          GROUP BY source, tok)
  ) WHERE rn = 1
),
tvc AS (  -- total-variation distance vs src0: exact BIGINT numerator
  SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT source, unnest(tokens) AS tok FROM tokens_static)
  GROUP BY source, tok
),
tvt AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_s FROM tvc GROUP BY source),
tvr AS (SELECT tok, c AS c_ref FROM tvc WHERE source = 'src0'),
tvrn AS (SELECT n_s AS n_ref FROM tvt WHERE source = 'src0'),
tva AS (
  SELECT c.source,
         CAST(SUM(abs(c.c * rn.n_ref - COALESCE(r.c_ref, 0) * t.n_s))
              AS BIGINT) AS s1,
         CAST(SUM(COALESCE(r.c_ref, 0)) AS BIGINT) AS cm,
         ANY_VALUE(t.n_s) AS n_s, ANY_VALUE(rn.n_ref) AS n_ref
  FROM tvc c LEFT JOIN tvr r USING (tok) JOIN tvt t USING (source), tvrn rn
  GROUP BY c.source
),
tv AS (
  SELECT source,
         CAST(s1 + (n_ref - cm) * n_s AS BIGINT) AS tv_num,
         FLOOR(CAST(s1 + (n_ref - cm) * n_s AS DOUBLE)
               / CAST(2 * n_s * n_ref AS BIGINT) * 10000.0 + 0.5) / 10000.0
           AS tv4
  FROM tva
),
fert AS (  -- tokenizer fertility: exact char/token masses, ONE division
  SELECT source,
         CAST(c.src_chars AS BIGINT) AS src_chars,
         FLOOR(CAST(c.src_chars AS DOUBLE) / CAST(k.tk AS DOUBLE)
               * 10000.0 + 0.5) / 10000.0 AS chars_per_tok4
  FROM (SELECT source, CAST(SUM(n_chars) AS BIGINT) AS src_chars
        FROM documents GROUP BY source) c
  JOIN (SELECT source, CAST(SUM(n_tok) AS BIGINT) AS tk
        FROM tokens_static GROUP BY source) k USING (source)
),
acnt AS (  -- contingency counts for the association monitor
  SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS assoc_cts
  FROM (SELECT source, unnest(tokens) AS tok FROM tokens_static)
  GROUP BY source, tok
),
atok AS (SELECT tok, CAST(SUM(assoc_cts) AS BIGINT) AS assoc_ct
         FROM acnt GROUP BY tok),
asrc AS (SELECT source, CAST(SUM(assoc_cts) AS BIGINT) AS assoc_cs
         FROM acnt GROUP BY source),
aall AS (SELECT CAST(SUM(assoc_cts) AS BIGINT) AS n_all FROM acnt),
assoc AS (  -- top lift token per source: one IEEE division as ranking key
  SELECT source, CAST(tok AS BIGINT) AS top_assoc_token,
         assoc_cts, assoc_ct, assoc_cs,
         FLOOR(CAST(assoc_cts * n_all AS DOUBLE)
               / CAST(assoc_ct * assoc_cs AS DOUBLE) * 10000.0 + 0.5)
           / 10000.0 AS lift4
  FROM (
    SELECT c.source, c.tok, c.assoc_cts, t.assoc_ct, s.assoc_cs, a.n_all,
           row_number() OVER (PARTITION BY c.source
             ORDER BY CAST(c.assoc_cts * a.n_all AS DOUBLE)
                      / CAST(t.assoc_ct * s.assoc_cs AS DOUBLE) DESC,
                      c.tok ASC) AS rn
    FROM acnt c JOIN atok t USING (tok) JOIN asrc s USING (source), aall a
    WHERE c.assoc_cts >= 2
  ) WHERE rn = 1
),
lkg AS (  -- distinct (source, 8-gram) pairs
  SELECT DISTINCT source, tokens[i : i + 7] AS g
  FROM (SELECT source, tokens, unnest(range(1, n_tok - 6)) AS i
        FROM tokens_static WHERE n_tok >= 8)
),
lks AS (SELECT g, CAST(COUNT(DISTINCT source) AS BIGINT) AS nsrc
        FROM lkg GROUP BY g),
leak AS (  -- cross-source n-gram leakage per source
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS grams_total,
         CAST(SUM(CASE WHEN n.nsrc >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS grams_leaked,
         CASE WHEN COUNT(*) > 0 THEN
           FLOOR(CAST(SUM(CASE WHEN n.nsrc >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*) * 10000.0 + 0.5) / 10000.0
         ELSE 0.0 END AS leak_frac4
  FROM lkg l JOIN lks n USING (g) GROUP BY source
),
dig AS (  -- order-independent corpus digest: XOR + SUM of content hashes
  SELECT source,
         CAST(bit_xor(h) AS BIGINT) AS digest_xor,
         CAST(SUM(h) AS BIGINT) AS digest_sum,
         CAST(COUNT(*) AS BIGINT) AS digest_docs
  FROM (
    SELECT source,
           (COALESCE((SELECT SUM(CAST(u.t AS BIGINT) * u.ord) FROM
             (SELECT unnest(tokens) AS t,
                     unnest(range(1, len(tokens)+1)) AS ord) u), 0)
            % 1000003) * 131 + CAST(n_tok AS BIGINT) AS h
    FROM tokens_static)
  GROUP BY source
),
sdkey AS (  -- snapshot churn: deterministic "next refresh" construction
  SELECT doc_id, source, CAST(substr(doc_id, 5) AS BIGINT) AS oid,
         list_aggregate(list_transform(tokens, x -> CAST(x AS VARCHAR)),
                        'string_agg', ',') AS key
  FROM tokens_static
),
sdnew AS (
  SELECT doc_id, source,
         key || CASE WHEN oid % 7 = 0 THEN ',7' ELSE '' END AS key
  FROM sdkey WHERE oid % 5 <> 0
  UNION ALL
  SELECT 'add_' || doc_id, source, key FROM sdkey WHERE oid % 11 = 0
),
sdiff AS (
  SELECT COALESCE(o.source, n.source) AS source,
         CASE WHEN o.key IS NULL THEN 'added'
              WHEN n.key IS NULL THEN 'removed'
              WHEN o.key = n.key THEN 'unchanged'
              ELSE 'modified' END AS st
  FROM (SELECT doc_id, key, source FROM sdkey) o
  FULL OUTER JOIN sdnew n USING (doc_id)
),
sdagg AS (
  SELECT source,
         CAST(SUM(CASE WHEN st = 'added' THEN 1 ELSE 0 END) AS BIGINT)
           AS diff_added,
         CAST(SUM(CASE WHEN st = 'removed' THEN 1 ELSE 0 END) AS BIGINT)
           AS diff_removed,
         CAST(SUM(CASE WHEN st = 'modified' THEN 1 ELSE 0 END) AS BIGINT)
           AS diff_modified,
         CAST(SUM(CASE WHEN st = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT)
           AS diff_unchanged
  FROM sdiff GROUP BY source
),
rfr AS (  -- the refreshed corpus at TOKEN level (same refresh as sdnew)
  SELECT source,
         CASE WHEN oid % 7 = 0 THEN list_append(tokens, 7) ELSE tokens END
           AS tokens,
         CAST(CASE WHEN oid % 7 = 0 THEN n_tok + 1 ELSE n_tok END AS BIGINT)
           AS n_tok
  FROM (SELECT source, tokens, n_tok,
               CAST(substr(doc_id, 5) AS BIGINT) AS oid FROM tokens_static)
  WHERE oid % 5 <> 0
  UNION ALL
  SELECT source, tokens, CAST(n_tok AS BIGINT) AS n_tok
  FROM (SELECT source, tokens, n_tok,
               CAST(substr(doc_id, 5) AS BIGINT) AS oid FROM tokens_static)
  WHERE oid % 11 = 0
),
dig2 AS (  -- refreshed digest FROM SCRATCH — must equal the Spark side's
           -- incremental diff-only update (digest_update)
  SELECT source,
         CAST(bit_xor(h) AS BIGINT) AS dig2_xor,
         CAST(SUM(h) AS BIGINT) AS dig2_sum,
         CAST(COUNT(*) AS BIGINT) AS dig2_docs
  FROM (
    SELECT source,
           (COALESCE((SELECT SUM(CAST(u.t AS BIGINT) * u.ord) FROM
             (SELECT unnest(tokens) AS t,
                     unnest(range(1, len(tokens)+1)) AS ord) u), 0)
            % 1000003) * 131 + n_tok AS h
    FROM rfr)
  GROUP BY source
),
{oracles.sql_shingles('tokens_static').strip()},
{oracles.sql_minhash_corpus_cte('source', doc_table='tokens_static').strip()},
mad AS (  -- lower median of |n_tok - median|, same rank rule as med
  SELECT source, CAST(dev AS BIGINT) AS mad_n_tok FROM (
    SELECT d.source, ABS(CAST(d.n_tok AS BIGINT) - m.median_n_tok) AS dev,
           row_number() OVER (PARTITION BY d.source
             ORDER BY ABS(CAST(d.n_tok AS BIGINT) - m.median_n_tok) ASC,
                      d.doc_id ASC) AS rn,
           COUNT(*) OVER (PARTITION BY d.source) AS cnt
    FROM docs d JOIN med m USING (source))
  WHERE rn = (cnt + 1) // 2
),
trimq AS (  -- quartile-trimmed mass: drop lowest/highest floor(n/4) ranks
  SELECT source, CAST(SUM(n_tok) AS BIGINT) AS trim_sum,
         CAST(COUNT(*) AS BIGINT) AS trim_cnt
  FROM (SELECT source, n_tok,
               row_number() OVER (PARTITION BY source
                                  ORDER BY n_tok ASC, doc_id ASC) AS rn,
               COUNT(*) OVER (PARTITION BY source) AS cnt
        FROM docs)
  WHERE rn > cnt // 4 AND rn <= cnt - cnt // 4
  GROUP BY source
),
stc AS (  -- domain similarity: per-(source, token) counts
  SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT source, unnest(tokens) AS tok FROM tokens_static)
  GROUP BY 1, 2
),
snrm AS (SELECT source, CAST(SUM(c * c) AS BIGINT) AS n2 FROM stc GROUP BY 1),
sdot AS (  -- exact BIGINT cross-source dot products over the shared vocab
  SELECT a.source, b.source AS nbr, CAST(SUM(a.c * b.c) AS BIGINT) AS dt
  FROM stc a JOIN stc b ON a.tok = b.tok AND a.source <> b.source
  GROUP BY 1, 2
),
sraw AS (
  SELECT d.source, d.nbr,
         CAST(d.dt AS DOUBLE)
           / (sqrt(CAST(x.n2 AS DOUBLE)) * sqrt(CAST(y.n2 AS DOUBLE))) AS s
  FROM sdot d JOIN snrm x ON x.source = d.source
       JOIN snrm y ON y.source = d.nbr
),
ssim AS (  -- nearest other source: raw-cosine argmax, ties -> lowest name
  SELECT source, nbr AS sim_nbr,
         FLOOR(s * 10000.0 + 0.5) / 10000.0 AS sim_cos4
  FROM (SELECT *, row_number() OVER (PARTITION BY source
                                     ORDER BY s DESC, nbr ASC) AS rn
        FROM sraw)
  WHERE rn = 1
),
ksx AS (SELECT source, n_chars AS x, CAST(COUNT(*) AS BIGINT) AS c
        FROM documents GROUP BY 1, 2),
ksv AS (SELECT n_chars AS x, CAST(COUNT(*) AS BIGINT) AS ct
        FROM documents GROUP BY 1),
kscum AS (  -- per-source cumulative counts over the FULL value grid
  SELECT j.source, j.x,
         SUM(j.c) OVER (PARTITION BY j.source ORDER BY j.x) AS cum_s,
         SUM(j.ct) OVER (PARTITION BY j.source ORDER BY j.x) AS cum_all
  FROM (
    SELECT g.source, v.x, COALESCE(k.c, 0) AS c, v.ct
    FROM (SELECT DISTINCT source FROM documents) g
    CROSS JOIN ksv v
    LEFT JOIN ksx k ON k.source = g.source AND k.x = v.x) j
),
ksn AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_s
        FROM documents GROUP BY 1),
wgrid AS (  -- W1/EMD: dense token grid per source (bounded 251-value dim)
  SELECT s.source, g.range AS tok
  FROM (SELECT DISTINCT source FROM stc) s, range(0, 251) g
),
wcum AS (
  SELECT w.source, w.tok,
         CAST(SUM(COALESCE(c.c, 0)) OVER (PARTITION BY w.source
              ORDER BY w.tok ROWS BETWEEN UNBOUNDED PRECEDING
              AND CURRENT ROW) AS BIGINT) AS cum
  FROM wgrid w LEFT JOIN stc c ON c.source = w.source AND c.tok = w.tok
),
wtot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS nt FROM stc GROUP BY 1),
wemd AS (  -- cross-multiplied exact W1 numerator vs src0
  SELECT a.source,
         CAST(SUM(ABS(a.cum * n0.nt - b.cum * na.nt)) AS BIGINT) AS emd_num,
         CAST(MAX(na.nt) * MAX(n0.nt) AS BIGINT) AS emd_den
  FROM wcum a
  JOIN wcum b ON b.source = 'src0' AND b.tok = a.tok
  JOIN wtot na ON na.source = a.source
  JOIN wtot n0 ON n0.source = 'src0'
  GROUP BY a.source
),
slo AS (SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS o
        FROM documents GROUP BY 1, 2),
slr AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS r
        FROM documents GROUP BY 1),
slc AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS c
        FROM documents GROUP BY 1),
sln AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
sld AS (  -- dense (source x lang) grid incl. zero cells
  SELECT r.source, c.lang, r.r, c.c, COALESCE(o.o, 0) AS o, n.n,
         CAST((n.n * COALESCE(o.o, 0) - r.r * c.c)
              * (n.n * COALESCE(o.o, 0) - r.r * c.c) AS DOUBLE)
         / CAST(n.n * r.r * c.c AS DOUBLE) AS t
  FROM slr r CROSS JOIN slc c
  LEFT JOIN slo o ON o.source = r.source AND o.lang = c.lang
  CROSS JOIN sln n
),
slx AS (  -- ordered per-cell fold + Cramér's V chain
  SELECT CAST(COUNT(*) AS BIGINT) AS sl_cells,
         FLOOR(list_reduce(list(t ORDER BY source, lang),
                           (p, q) -> p + q) * 10000.0 + 0.5) / 10000.0
           AS chi2_sl4,
         FLOOR(sqrt(list_reduce(list(t ORDER BY source, lang),
                                (p, q) -> p + q)
                    / CAST(MAX(n)
                           * LEAST((SELECT COUNT(*) FROM slr) - 1,
                                   (SELECT COUNT(*) FROM slc) - 1)
                           AS DOUBLE))
               * 10000.0 + 0.5) / 10000.0 AS cramers_v4
  FROM sld
),
jkth AS (  -- jackknife replicates: leave-one-source-out means
  SELECT b.source,
         CAST(ct2.t_all - b.total_tokens AS DOUBLE)
         / CAST(ct2.n_all - b.n_docs AS DOUBLE) AS th
  FROM base b,
       (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_all,
               CAST(SUM(total_tokens) AS BIGINT) AS t_all FROM base) ct2
),
jka AS (
  SELECT list_reduce(list(th ORDER BY source), (p, q) -> p + q) AS sth,
         CAST(COUNT(*) AS BIGINT) AS jk_k
  FROM jkth
),
jkb AS (SELECT jk_k, sth / jk_k AS thbar FROM jka),
jkc AS (
  SELECT b.jk_k, b.thbar,
         list_reduce(list((t.th - b.thbar) * (t.th - b.thbar)
                          ORDER BY t.source), (p, q) -> p + q) AS s2
  FROM jkth t, jkb b GROUP BY b.jk_k, b.thbar
),
ks AS (  -- exact KS numerator max + ONE division
  SELECT c.source,
         CAST(MAX(ABS(c.cum_s * (a.n_all - n.n_s)
                      - (c.cum_all - c.cum_s) * n.n_s)) AS BIGINT) AS ks_num,
         CAST(n.n_s * (a.n_all - n.n_s) AS BIGINT) AS ks_den,
         CASE WHEN n.n_s * (a.n_all - n.n_s) > 0 THEN
           FLOOR(CAST(MAX(ABS(c.cum_s * (a.n_all - n.n_s)
                              - (c.cum_all - c.cum_s) * n.n_s)) AS DOUBLE)
                 / CAST(n.n_s * (a.n_all - n.n_s) AS DOUBLE)
                 * 10000.0 + 0.5) / 10000.0
         ELSE 0.0 END AS ks_d4
  FROM kscum c JOIN ksn n USING (source),
       (SELECT CAST(COUNT(*) AS BIGINT) AS n_all FROM documents) a
  GROUP BY c.source, n.n_s, a.n_all
),
momb AS (  -- wave 108: median-of-means — 8 deterministic hash buckets
  SELECT source,
         ((oid % 2147483647) * 1103515245) % 2147483647 % 8 AS mom_bucket,
         CAST(SUM(n_tok) AS BIGINT) AS mom_sum,
         CAST(COUNT(*) AS BIGINT) AS mom_cnt
  FROM (SELECT source, CAST(substr(doc_id, 5) AS BIGINT) AS oid, n_tok
        FROM docs)
  GROUP BY source, mom_bucket
),
momx AS (
  SELECT source, mom_bucket, mom_sum, mom_cnt,
         FLOOR(CAST(mom_sum AS DOUBLE) / CAST(mom_cnt AS DOUBLE)
               * 10000.0 + 0.5) / 10000.0 AS mom4
  FROM (SELECT *,
               row_number() OVER (PARTITION BY source
                 ORDER BY CAST(mom_sum AS DOUBLE) / CAST(mom_cnt AS DOUBLE),
                          mom_bucket) AS rn,
               COUNT(*) OVER (PARTITION BY source) AS nb
        FROM momb)
  WHERE rn = (nb + 1) // 2
),
v16 AS (  -- wave 116: src0's frozen top-16 vocabulary
  SELECT tok FROM (
    SELECT tok, row_number() OVER (ORDER BY c DESC, tok ASC) AS r
    FROM (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
          FROM (SELECT unnest(tokens) AS tok FROM docs WHERE source = 'src0')
          GROUP BY tok)
  ) WHERE r <= 16
),
oovx AS (
  SELECT source, CAST(SUM(c) AS BIGINT) AS oov_mass
  FROM (SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
        FROM (SELECT source, unnest(tokens) AS tok FROM docs)
        GROUP BY source, tok)
  WHERE tok NOT IN (SELECT tok FROM v16)
  GROUP BY source
)
SELECT b.source, b.n_docs, b.total_tokens, b.src_min, b.src_max,
       FLOOR((CAST(CAST(b.n_docs AS HUGEINT) * b.sxy
                   - CAST(b.total_tokens AS HUGEINT) * b.sy AS DOUBLE)
              / (sqrt(CAST(CAST(b.n_docs AS HUGEINT) * b.sxx
                           - CAST(b.total_tokens AS HUGEINT) * b.total_tokens AS DOUBLE))
                 * sqrt(CAST(CAST(b.n_docs AS HUGEINT) * b.syy
                             - CAST(b.sy AS HUGEINT) * b.sy AS DOUBLE))))
             * 10000.0 + 0.5) / 10000.0 AS corr_len_mass,
       m.median_n_tok,
       w.ws_count, w.ws_sum, w.ws_energy,
       d.src_mode_token, d.src_mode_cnt,
       v.tv_num, v.tv4,
       fe.src_chars, fe.chars_per_tok4,
       aa.top_assoc_token, aa.assoc_cts, aa.assoc_ct, aa.assoc_cs, aa.lift4,
       lk.grams_total, lk.grams_leaked, lk.leak_frac4,
       dg.digest_xor, dg.digest_sum, dg.digest_docs,
       sd.diff_added, sd.diff_removed, sd.diff_modified, sd.diff_unchanged,
       d2.dig2_xor, d2.dig2_sum, d2.dig2_docs,
       -- MERGE/upsert gate: the write-side merge must land on the SAME
       -- from-scratch digest of the refreshed corpus
       d2.dig2_xor AS mrg_xor, d2.dig2_sum AS mrg_sum,
       d2.dig2_docs AS mrg_docs,
       mk.mh_s0, mk.mh_s1, mk.mh_s2, mk.mh_s3, mk.mh_sig_sum,
       ma.mad_n_tok, tq.trim_sum, tq.trim_cnt,
       kd.ks_num, kd.ks_den, kd.ks_d4,
       sm.sim_nbr, sm.sim_cos4,
       dc.dec1_n_tok, dc.dec2_n_tok, dc.dec3_n_tok, dc.dec4_n_tok,
       dc.dec5_n_tok, dc.dec6_n_tok, dc.dec7_n_tok, dc.dec8_n_tok,
       dc.dec9_n_tok,
       -- leave-one-out influence on corpus mean length: ONE exact rational
       CAST(ct.t_all * b.n_docs - ct.n_all * b.total_tokens AS BIGINT)
         AS infl_num,
       CAST(ct.n_all * (ct.n_all - b.n_docs) AS BIGINT) AS infl_den,
       CASE WHEN ct.n_all * (ct.n_all - b.n_docs) > 0 THEN
         FLOOR((CAST(ct.t_all * b.n_docs - ct.n_all * b.total_tokens
                     AS DOUBLE)
                / CAST(ct.n_all * (ct.n_all - b.n_docs) AS DOUBLE))
               * 10000.0 + 0.5) / 10000.0
       ELSE 0.0 END AS infl4,
       jx.jk_k,
       FLOOR(jx.thbar * 10000.0 + 0.5) / 10000.0 AS jk_mean4,
       FLOOR(sqrt((jx.s2 * (jx.jk_k - 1)) / jx.jk_k) * 10000.0 + 0.5)
         / 10000.0 AS jk_se4,
       we.emd_num, we.emd_den,
       FLOOR((CAST(we.emd_num AS DOUBLE) / CAST(we.emd_den AS DOUBLE))
             * 10000.0 + 0.5) / 10000.0 AS emd4,
       sx.sl_cells, sx.chi2_sl4, sx.cramers_v4,
       mx.mom_bucket, mx.mom_sum, mx.mom_cnt, mx.mom4,
       COALESCE(ov.oov_mass, CAST(0 AS BIGINT)) AS oov_mass,
       CASE WHEN b.total_tokens > 0 THEN
         FLOOR(CAST(COALESCE(ov.oov_mass, 0) AS DOUBLE)
               / CAST(b.total_tokens AS DOUBLE) * 10000.0 + 0.5) / 10000.0
       ELSE 0.0 END AS oov_rate4
FROM base b JOIN med m USING (source) JOIN ws w USING (source)
     JOIN md d USING (source) JOIN tv v USING (source)
     JOIN fert fe USING (source)
     JOIN assoc aa USING (source) JOIN leak lk USING (source)
     JOIN dig dg USING (source)
     JOIN sdagg sd USING (source)
     JOIN dig2 d2 USING (source)
     JOIN mhsk mk ON mk.g = b.source
     JOIN mad ma USING (source)
     JOIN trimq tq USING (source)
     JOIN ks kd USING (source)
     JOIN ssim sm USING (source)
     JOIN decs dc USING (source)
     JOIN wemd we USING (source)
     JOIN momx mx ON mx.source = b.source
     LEFT JOIN oovx ov ON ov.source = b.source,
     (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_all,
             CAST(SUM(total_tokens) AS BIGINT) AS t_all FROM base) ct,
     jkc jx, slx sx
""",
        "asof_join": f"""
WITH {SQL_VERSIONS}, {SQL_PROBES},
qq AS (
SELECT p.doc_id, p.event_id,
       epoch_us(p.ts) AS ts_us,
       epoch_us(v.ts) AS matched_ts_us,
       CAST(epoch_us(p.ts) - epoch_us(v.ts) AS BIGINT) AS staleness_us,
       v.n_tok,
       v.source AS matched_source
FROM probes p ASOF LEFT JOIN versions v
  ON p.doc_id = v.doc_id AND p.ts >= v.ts
),
srk AS (  -- wave 127: staleness SLO ranks over MATCHED serves only
  SELECT staleness_us,
         row_number() OVER (ORDER BY staleness_us ASC, event_id ASC) AS rn,
         COUNT(*) OVER () AS cnt
  FROM qq WHERE matched_ts_us IS NOT NULL
),
sst AS (
  SELECT CAST(MAX(CASE WHEN rn = (cnt + 1) // 2 THEN staleness_us END)
              AS BIGINT) AS stale_p50,
         CAST(MAX(CASE WHEN rn = ((cnt - 1) * 9) // 10 + 1
                       THEN staleness_us END) AS BIGINT) AS stale_p90,
         CAST(MAX(staleness_us) AS BIGINT) AS stale_max,
         CAST(SUM(CASE WHEN staleness_us > 3600000000 THEN 1 ELSE 0 END)
              AS BIGINT) AS stale_viol
  FROM srk
)
SELECT qq.*, s.stale_p50, s.stale_p90, s.stale_max, s.stale_viol
FROM qq CROSS JOIN sst s
""",
        # streaming stateful as-of: same oracle as the batch join (the
        # cross-batch GroupState carry must reproduce it exactly)
        "asof_stream": f"""
WITH {SQL_VERSIONS}, {SQL_PROBES}
SELECT p.doc_id, p.event_id,
       epoch_us(p.ts) AS ts_us,
       epoch_us(v.ts) AS matched_ts_us,
       v.n_tok
FROM probes p ASOF LEFT JOIN versions v
  ON p.doc_id = v.doc_id AND p.ts >= v.ts
""",
        # streaming windowed aggregation: tumbling windows align to the epoch
        # in both engines; cents-floored integer sums are jitter-free
        "stream_agg": """
WITH win AS (
  SELECT CAST(FLOOR(epoch_us(ts) / 3600000000.0) AS BIGINT) * 3600000000 AS window_start_us,
         event_type,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
  FROM events GROUP BY 1, 2
),
wr AS (
  SELECT *, row_number() OVER (PARTITION BY event_type
              ORDER BY n_events ASC, window_start_us ASC) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS cnt
  FROM win
),
wmed AS (  -- lower-median window count per type (rank rule)
  SELECT event_type, CAST(n_events AS BIGINT) AS win_med
  FROM wr WHERE rn = (cnt + 1) // 2
),
wdev AS (
  SELECT w.*, m.win_med,
         CAST(ABS(w.n_events - m.win_med) AS BIGINT) AS win_dev
  FROM win w JOIN wmed m USING (event_type)
),
wdr AS (
  SELECT *, row_number() OVER (PARTITION BY event_type
              ORDER BY win_dev ASC, window_start_us ASC) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS cnt
  FROM wdev
),
wmad AS (  -- lower-median absolute deviation per type
  SELECT event_type, CAST(win_dev AS BIGINT) AS win_mad
  FROM wdr WHERE rn = (cnt + 1) // 2
),
sj AS (  -- stream-stream interval join expectation: the plain batch join
         -- (probes % 3 = 0 pick up candidates % 3 <> 0 of the preceding
         -- 30 min, bounds inclusive) — pair count + exact id checksum
  SELECT l.event_type,
         CAST(COUNT(*) AS BIGINT) AS sj_pairs,
         CAST(SUM(l.event_id * 3 + r.event_id) AS BIGINT) AS sj_checksum
  FROM (SELECT event_id, event_type, epoch_us(ts) AS t FROM events
        WHERE event_id % 3 = 0) l
  JOIN (SELECT event_id, event_type, epoch_us(ts) AS t FROM events
        WHERE event_id % 3 <> 0) r
    ON r.event_type = l.event_type
   AND r.t BETWEEN l.t - 1800000000 AND l.t
  GROUP BY 1
)
SELECT window_start_us, event_type, n_events, sum_cents,
       win_med, win_dev, win_mad, burst, sj_pairs, sj_checksum,
       -- CUSUM closed form: c_t = S_t − min(0, min prefix S), exact ints
       CAST(sp - LEAST(0, MIN(sp) OVER cw) AS BIGINT) AS cusum_pos,
       CAST(sn - LEAST(0, MIN(sn) OVER cw) AS BIGINT) AS cusum_neg,
       CAST((sp - LEAST(0, MIN(sp) OVER cw)) > 5 * win_mad
            OR (sn - LEAST(0, MIN(sn) OVER cw)) > 5 * win_mad
            AS BIGINT) AS cusum_alarm
FROM (
  SELECT d.window_start_us, d.event_type, d.n_events, d.sum_cents,
         d.win_med, d.win_dev, a.win_mad,
         CAST(d.win_dev > 3 * a.win_mad AS BIGINT) AS burst,
         COALESCE(s.sj_pairs, 0) AS sj_pairs,
         COALESCE(s.sj_checksum, 0) AS sj_checksum,
         SUM(d.n_events - d.win_med) OVER (
           PARTITION BY d.event_type ORDER BY d.window_start_us
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sp,
         SUM(d.win_med - d.n_events) OVER (
           PARTITION BY d.event_type ORDER BY d.window_start_us
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sn
  FROM wdev d JOIN wmad a USING (event_type)
  LEFT JOIN sj s USING (event_type)
)
WINDOW cw AS (PARTITION BY event_type ORDER BY window_start_us
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
""",
        # sessionization + semi-structured parsing: json_extract replays
        # from_json's typed field pull; the per-session rollups are exact
        # BIGINTs over the derived session key
        "sessionize": """
WITH drifted AS (  -- the same deterministic schema-drift injection:
                   -- %7 drops k (producer regression), %5 adds x
  SELECT user_id, event_id, ts, value, event_type,
         CASE WHEN event_id % 7 = 0 THEN '{"z": 1}'
              WHEN event_id % 5 = 0 THEN substr(props, 1, strlen(props) - 1)
                   || ', "x": ' || CAST(event_id % 9 AS VARCHAR) || '}'
              ELSE props END AS props
  FROM events
),
flags AS (
  SELECT CAST(user_id AS VARCHAR) AS doc_id, event_id, ts, value, props,
         event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER w) > 3600.0
              THEN 1 ELSE 0 END AS f
  FROM drifted
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sess AS (
  SELECT doc_id, event_id, props,
         CAST(SUM(f) OVER (PARTITION BY doc_id ORDER BY ts
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS BIGINT) AS session_id
  FROM flags
),
sev AS (  -- session TWAP inputs: exact cents + epoch-µs per event
  SELECT s.doc_id, s.session_id, s.event_id, f.ts,
         CAST(FLOOR(f.value * 100 + 0.5) AS BIGINT) AS cents,
         epoch_us(f.ts) AS us
  FROM sess s JOIN flags f USING (doc_id, event_id)
),
twp AS (  -- weight = µs gap to the NEXT session event (last weighs 0)
  SELECT doc_id, session_id, cents, us,
         COALESCE(lead(us) OVER (PARTITION BY doc_id, session_id
                                 ORDER BY ts, event_id), us) - us AS dt
  FROM sev
),
twa AS (
  SELECT doc_id, session_id,
         CAST(SUM(cents * dt) AS BIGINT) AS twap_num,
         CAST(MAX(us) - MIN(us) AS BIGINT) AS twap_den
  FROM twp GROUP BY 1, 2
),
ivs AS (  -- session validity windows
  SELECT s.doc_id, s.session_id, MIN(f.ts) AS lo, MAX(f.ts) AS hi
  FROM sess s JOIN flags f USING (doc_id, event_id)
  GROUP BY s.doc_id, s.session_id
),
ivn AS (  -- independent range join: every event into containing windows
  SELECT i.doc_id, i.session_id, CAST(COUNT(*) AS BIGINT) AS iv_n
  FROM ivs i JOIN flags e
    ON e.doc_id = i.doc_id AND e.ts BETWEEN i.lo AND i.hi
  GROUP BY i.doc_id, i.session_id
),
con AS (  -- co-activity: other-key sessions overlapping this window
          -- (inclusive boundaries, l.lo <= r.hi AND r.lo <= l.hi)
  SELECT i.doc_id, i.session_id, CAST(COUNT(*) AS BIGINT) AS co_n
  FROM ivs i JOIN ivs j
    ON j.doc_id <> i.doc_id AND i.lo <= j.hi AND j.lo <= i.hi
  GROUP BY i.doc_id, i.session_id
),
chd AS (  -- cohort retention: distinct (user, activity day)
  SELECT DISTINCT doc_id AS u,
         CAST(FLOOR(CAST(epoch_us(ts) AS DOUBLE) / 86400000000.0) AS BIGINT)
           AS d
  FROM flags
),
chf AS (SELECT u, MIN(d) AS cohort_d FROM chd GROUP BY u),
chsz AS (SELECT cohort_d, CAST(COUNT(*) AS BIGINT) AS cohort_users
         FROM chf GROUP BY cohort_d),
chcell AS (
  SELECT f.cohort_d, a.d - f.cohort_d AS offset_d,
         CAST(COUNT(DISTINCT a.u) AS BIGINT) AS cell_users
  FROM chd a JOIN chf f USING (u)
  GROUP BY 1, 2
),
cak AS (  -- Cochran–Armitage retention trend per cohort (dense closed form)
  SELECT c.cohort_d,
         CAST(MAX(c.offset_d) AS BIGINT) AS mo,
         CAST(MAX(z.cohort_users) AS BIGINT) AS cu,
         CAST(SUM(c.cell_users) AS BIGINT) AS r,
         CAST(SUM(c.offset_d * c.cell_users) AS BIGINT) AS sd
  FROM chcell c JOIN chsz z USING (cohort_d)
  GROUP BY c.cohort_d
),
cax AS (
  SELECT cohort_d,
         CAST((cu * (mo + 1)) * sd - r * (cu * ((mo * (mo + 1)) // 2))
              AS BIGINT) AS ca_num
  FROM cak
),
tdaily AS (  -- Mann–Kendall + Theil–Sen over per-user daily counts
  SELECT CAST(user_id AS VARCHAR) AS doc_id,
         epoch_us(ts) // 86400000000 AS d,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
tpairs AS (
  SELECT a.doc_id, a.d AS di, b.d AS dj, a.c AS ci, b.c AS cj,
         CAST(b.c - a.c AS DOUBLE) / CAST(b.d - a.d AS DOUBLE) AS slope
  FROM tdaily a JOIN tdaily b ON a.doc_id = b.doc_id AND b.d > a.d
),
tmk AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN cj > ci THEN 1 WHEN cj < ci THEN -1
                       ELSE 0 END) AS BIGINT) AS mk_s,
         CAST(count(*) AS BIGINT) AS mk_pairs
  FROM tpairs GROUP BY doc_id
),
tmed AS (  -- lower-median element pick of the pairwise slopes
  SELECT doc_id, slope AS ts_slope FROM (
    SELECT doc_id, slope,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY slope, di, dj) AS rn,
           count(*) OVER (PARTITION BY doc_id) AS m
    FROM tpairs) WHERE rn = (m + 1) // 2
)
SELECT s.doc_id, s.event_id, s.session_id,
       CAST(json_extract(s.props, '$.k') AS BIGINT) AS props_k,
       CAST(len(json_keys(s.props)) AS BIGINT) AS pj_keys,
       CAST(len(list_filter(json_keys(s.props), kk -> kk != 'k'))
            AS BIGINT) AS pj_extra,
       CAST(CASE WHEN list_contains(json_keys(s.props), 'k')
                 THEN 0 ELSE 1 END AS BIGINT) AS pj_missing,
       CAST(SUM(CAST(json_extract(s.props, '$.k') AS BIGINT))
            OVER (PARTITION BY s.doc_id, s.session_id) AS BIGINT) AS session_k_sum,
       CAST(COUNT(*) OVER (PARTITION BY s.doc_id, s.session_id) AS BIGINT) AS session_n_events,
       CASE WHEN t.twap_den > 0 THEN
         FLOOR((CAST(t.twap_num AS DOUBLE) / t.twap_den) * 10000.0 + 0.5) / 10000.0
       END AS session_twap4,
       -- attribution: first-touch session opener + last non-purchase type
       first_value(f2.event_type) OVER
         (PARTITION BY s.doc_id, s.session_id ORDER BY f2.ts, s.event_id)
         AS ft_type,
       last_value(CASE WHEN f2.event_type <> 'purchase' THEN f2.event_type END
                  IGNORE NULLS) OVER
         (PARTITION BY s.doc_id, s.session_id ORDER BY f2.ts, s.event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lt_type,
       n.iv_n,
       -- the streamed session count must agree with the from-scratch
       -- batch count (the Spark side computes it via session_window
       -- cross-batch state; any divergence breaks the value hash here)
       CAST(COUNT(*) OVER (PARTITION BY s.doc_id, s.session_id) AS BIGINT) AS stream_n_events,
       CAST(COALESCE(c.co_n, 0) AS BIGINT) AS co_n,
       CAST(1 AS BIGINT) AS stream_match,
       cf.cohort_d,
       CAST(FLOOR(CAST(epoch_us(f2.ts) AS DOUBLE) / 86400000000.0) AS BIGINT)
         - cf.cohort_d AS offset_d,
       cz.cohort_users, cc.cell_users,
       cx.ca_num,
       CAST(CASE WHEN cx.ca_num > 0 THEN 1 WHEN cx.ca_num < 0 THEN -1
                 ELSE 0 END AS INTEGER) AS ca_sign,
       CAST(COALESCE(mk.mk_s, 0) AS BIGINT) AS mk_s,
       CAST(COALESCE(mk.mk_pairs, 0) AS BIGINT) AS mk_pairs,
       CAST(CASE WHEN COALESCE(mk.mk_s, 0) > 0 THEN 1
                 WHEN COALESCE(mk.mk_s, 0) < 0 THEN -1
                 ELSE 0 END AS INTEGER) AS mk_sign,
       md.ts_slope,
       ub.user_sessions, ub.user_bounces,
       FLOOR(CAST(ub.user_bounces AS DOUBLE)
             / CAST(ub.user_sessions AS DOUBLE) * 10000.0 + 0.5) / 10000.0
         AS bounce_rate4
FROM sess s JOIN ivn n USING (doc_id, session_id)
JOIN twa t USING (doc_id, session_id)
LEFT JOIN con c USING (doc_id, session_id)
JOIN flags f2 USING (doc_id, event_id)
JOIN chf cf ON cf.u = s.doc_id
JOIN chsz cz ON cz.cohort_d = cf.cohort_d
JOIN chcell cc ON cc.cohort_d = cf.cohort_d
  AND cc.offset_d = CAST(FLOOR(CAST(epoch_us(f2.ts) AS DOUBLE)
                               / 86400000000.0) AS BIGINT) - cf.cohort_d
JOIN cax cx ON cx.cohort_d = cf.cohort_d
LEFT JOIN tmk mk ON mk.doc_id = s.doc_id
LEFT JOIN tmed md ON md.doc_id = s.doc_id
JOIN (  -- wave 128: per-user bounce stats over the per-session dim
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS user_sessions,
         CAST(SUM(CASE WHEN n1 = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS user_bounces
  FROM (SELECT doc_id, session_id, COUNT(*) AS n1
        FROM sess GROUP BY doc_id, session_id)
  GROUP BY doc_id
) ub ON ub.doc_id = s.doc_id
""",
        "lag_lead_locf": """
WITH ev AS (
  SELECT CAST(user_id AS VARCHAR) AS doc_id, event_id, ts,
         CASE WHEN event_type = 'purchase' THEN value END AS pv,
         CASE WHEN event_type = 'purchase'
              THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT) END AS cents,
         epoch_us(ts) AS ts_us
  FROM events
),
fe AS (SELECT CAST(user_id AS VARCHAR) AS doc_id, epoch_us(ts) AS us,
              event_type
       FROM events),
f0 AS (SELECT doc_id AS fu0, CAST(MIN(us) AS BIGINT) AS t0
       FROM fe WHERE event_type = 'view' GROUP BY 1),
f1 AS (SELECT e.doc_id AS fu1, CAST(MIN(e.us) AS BIGINT) AS t1
       FROM fe e JOIN f0 ON f0.fu0 = e.doc_id
       WHERE e.event_type = 'click' AND e.us > f0.t0 GROUP BY 1),
f2 AS (SELECT e.doc_id AS fu2, CAST(MIN(e.us) AS BIGINT) AS t2
       FROM fe e JOIN f1 ON f1.fu1 = e.doc_id
       WHERE e.event_type = 'purchase' AND e.us > f1.t1 GROUP BY 1),
tgv AS (SELECT ts_us AS v, CAST(COUNT(*) AS BIGINT) AS c FROM ev GROUP BY 1),
tgc AS (SELECT v,
               SUM(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cum,
               SUM(c) OVER () AS n
        FROM tgv),
tgt AS (  -- lower-median event time: smallest ts with cum >= (N+1) div 2
  SELECT CAST(MIN(CASE WHEN cum >= (n + 1) // 2 THEN v END) AS BIGINT)
           AS split_T_us
  FROM tgc),
tgf AS (SELECT doc_id AS fu, CAST(MIN(ts_us) AS BIGINT) AS key_first_us
        FROM ev GROUP BY 1)
SELECT doc_id, event_id,
       FLOOR((CAST(lag(pv) OVER w AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS lag_v1,
       FLOOR((CAST(lead(pv) OVER w AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS lead_v1,
       FLOOR((CAST(last_value(pv IGNORE NULLS) OVER
             (PARTITION BY doc_id ORDER BY ts
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS locf_v,
       FLOOR((CAST(first_value(pv IGNORE NULLS) OVER
             (PARTITION BY doc_id ORDER BY ts
              ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS nocb_v,
       FLOOR((CASE WHEN pv IS NOT NULL THEN CAST(pv AS DOUBLE)
            WHEN CAST(last_value(pv IGNORE NULLS) OVER (PARTITION BY doc_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) IS NULL THEN CAST(first_value(pv IGNORE NULLS) OVER (PARTITION BY doc_id ORDER BY ts, event_id ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS DOUBLE)
            WHEN CAST(first_value(pv IGNORE NULLS) OVER (PARTITION BY doc_id ORDER BY ts, event_id ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS DOUBLE) IS NULL THEN CAST(last_value(pv IGNORE NULLS) OVER (PARTITION BY doc_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
            WHEN first_value(CASE WHEN pv IS NOT NULL THEN ts_us END IGNORE NULLS) OVER (PARTITION BY doc_id ORDER BY ts, event_id ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) = last_value(CASE WHEN pv IS NOT NULL THEN ts_us END IGNORE NULLS) OVER (PARTITION BY doc_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) THEN CAST(last_value(pv IGNORE NULLS) OVER (PARTITION BY doc_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
            ELSE CAST(last_value(pv IGNORE NULLS) OVER (PARTITION BY doc_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) + (CAST(first_value(pv IGNORE NULLS) OVER (PARTITION BY doc_id ORDER BY ts, event_id ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS DOUBLE) - CAST(last_value(pv IGNORE NULLS) OVER (PARTITION BY doc_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE))
                 * (CAST(ts_us - last_value(CASE WHEN pv IS NOT NULL THEN ts_us END IGNORE NULLS) OVER (PARTITION BY doc_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                    / CAST(first_value(CASE WHEN pv IS NOT NULL THEN ts_us END IGNORE NULLS) OVER (PARTITION BY doc_id ORDER BY ts, event_id ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) - last_value(CASE WHEN pv IS NOT NULL THEN ts_us END IGNORE NULLS) OVER (PARTITION BY doc_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)) END) * 10000.0 + 0.5) / 10000.0 AS interp_v,
       CAST(SUM(cents) OVER w3 AS BIGINT) AS r3_sum,
       CAST(COUNT(cents) OVER w3 AS BIGINT) AS r3_n,
       CAST(MIN(cents) OVER w3 AS BIGINT) AS r3_min,
       CAST(MAX(cents) OVER w3 AS BIGINT) AS r3_max,
       CAST(SUM(cents) OVER wr AS BIGINT) AS r2h_sum,
       CAST(COUNT(cents) OVER wr AS BIGINT) AS r2h_n,
       CASE WHEN len(list_filter(list(cents) OVER w5, x -> x IS NOT NULL)) > 0 THEN
         CAST(list_sort(list_filter(list(cents) OVER w5, x -> x IS NOT NULL))
              [(len(list_filter(list(cents) OVER w5, x -> x IS NOT NULL)) + 1) // 2]
              AS BIGINT)
       END AS r5_med,
       CASE WHEN len(list_filter(list(cents) OVER w5, x -> x IS NOT NULL)) > 0 THEN
         CAST(list_sort(list_transform(
                list_filter(list(cents) OVER w5, x -> x IS NOT NULL),
                x -> abs(x - list_sort(list_filter(list(cents) OVER w5, y -> y IS NOT NULL))
                         [(len(list_filter(list(cents) OVER w5, y -> y IS NOT NULL)) + 1) // 2])))
              [(len(list_filter(list(cents) OVER w5, x -> x IS NOT NULL)) + 1) // 2]
              AS BIGINT)
       END AS r5_mad,
       -- time-decayed counters: exact BIGINT numerator Σ v·2^(20−age) with
       -- age = min((t_now − t_i) div half_life, 20) over the trailing-32
       -- frame; the feature is ONE division by 2^20
       CAST(list_reduce(list_transform(list(struct_pack(u := ts_us, v := cents)) OVER w32,
         x -> CASE WHEN x.v IS NULL THEN CAST(0 AS BIGINT)
              ELSE CAST(x.v AS BIGINT) * (CAST(1 AS BIGINT)
                   << CAST(20 - LEAST((ts_us - x.u) // 1800000000, 20) AS INTEGER)) END),
         (a, b) -> a + b) AS BIGINT) AS dk30_num,
       CAST(len(list_filter(list(cents) OVER w32, x -> x IS NOT NULL)) AS BIGINT) AS dk30_n,
       FLOOR((CAST(list_reduce(list_transform(list(struct_pack(u := ts_us, v := cents)) OVER w32,
         x -> CASE WHEN x.v IS NULL THEN CAST(0 AS BIGINT)
              ELSE CAST(x.v AS BIGINT) * (CAST(1 AS BIGINT)
                   << CAST(20 - LEAST((ts_us - x.u) // 1800000000, 20) AS INTEGER)) END),
         (a, b) -> a + b) AS DOUBLE) / 1048576.0) * 10000.0 + 0.5) / 10000.0 AS dk30,
       CAST(list_reduce(list_transform(list(struct_pack(u := ts_us, v := cents)) OVER w32,
         x -> CASE WHEN x.v IS NULL THEN CAST(0 AS BIGINT)
              ELSE CAST(x.v AS BIGINT) * (CAST(1 AS BIGINT)
                   << CAST(20 - LEAST((ts_us - x.u) // 14400000000, 20) AS INTEGER)) END),
         (a, b) -> a + b) AS BIGINT) AS dk240_num,
       FLOOR((CAST(list_reduce(list_transform(list(struct_pack(u := ts_us, v := cents)) OVER w32,
         x -> CASE WHEN x.v IS NULL THEN CAST(0 AS BIGINT)
              ELSE CAST(x.v AS BIGINT) * (CAST(1 AS BIGINT)
                   << CAST(20 - LEAST((ts_us - x.u) // 14400000000, 20) AS INTEGER)) END),
         (a, b) -> a + b) AS DOUBLE) / 1048576.0) * 10000.0 + 0.5) / 10000.0 AS dk240,
       tt.split_T_us, tf.key_first_us,
       CAST(CASE WHEN tf.key_first_us > tt.split_T_us THEN 2
                 WHEN ts_us <= tt.split_T_us THEN 0 ELSE 1 END AS BIGINT)
         AS tsplit,
       CAST(ts_us AS BIGINT) AS scd_from_us,
       CAST(COALESCE(lead(ts_us) OVER wt, 9223372036854775807) AS BIGINT)
         AS scd_to_us,
       CAST(lead(ts_us) OVER wt IS NULL AS BIGINT) AS scd_current,
       COALESCE(f0.t0, -1) AS f_ts_0,
       COALESCE(f1.t1, -1) AS f_ts_1,
       COALESCE(f2.t2, -1) AS f_ts_2,
       CAST(CAST(f0.t0 IS NOT NULL AS BIGINT)
            + CAST(f1.t1 IS NOT NULL AS BIGINT)
            + CAST(f2.t2 IS NOT NULL AS BIGINT) AS BIGINT) AS funnel_stage
FROM ev
LEFT JOIN f0 ON f0.fu0 = ev.doc_id
LEFT JOIN f1 ON f1.fu1 = ev.doc_id
LEFT JOIN f2 ON f2.fu2 = ev.doc_id
JOIN tgf tf ON tf.fu = ev.doc_id
CROSS JOIN tgt tt
WINDOW w AS (PARTITION BY doc_id ORDER BY ts),
       w3 AS (PARTITION BY doc_id ORDER BY ts, event_id
              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
       w5 AS (PARTITION BY doc_id ORDER BY ts, event_id
              ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
       w32 AS (PARTITION BY doc_id ORDER BY ts, event_id
               ROWS BETWEEN 31 PRECEDING AND CURRENT ROW),
       wr AS (PARTITION BY doc_id ORDER BY ts_us
              RANGE BETWEEN 7200000000 PRECEDING AND CURRENT ROW),
       wt AS (PARTITION BY doc_id ORDER BY ts, event_id)
""",
        "firstorder": f"""
WITH {SQL_TOKENS_STATIC},
flat AS (
  SELECT doc_id, unnest(tokens) AS t FROM tokens_static
),
stats AS (
  SELECT doc_id,
         COUNT(*) AS n,
         MIN(t) AS mn, MAX(t) AS mx,
         CAST(SUM(CAST(t AS BIGINT)) AS BIGINT) AS s,
         CAST(SUM(CAST(t AS BIGINT)*CAST(t AS BIGINT)) AS BIGINT) AS e,
         median(t) AS med
  FROM flat GROUP BY doc_id
),
modes AS (
  SELECT doc_id, t AS mode_t FROM (
    SELECT doc_id, t, COUNT(*) AS c,
           row_number() OVER (PARTITION BY doc_id ORDER BY COUNT(*) DESC, t ASC) AS rn
    FROM flat GROUP BY doc_id, t) WHERE rn = 1
),
binned AS (
  SELECT f.doc_id,
         LEAST(CAST(FLOOR(CAST(f.t - s.mn AS DOUBLE) / (s.mx - s.mn) * 64.0) AS INTEGER), 63) AS b,
         COUNT(*) AS c
  FROM flat f JOIN stats s USING (doc_id)
  WHERE s.mx > s.mn
  GROUP BY 1, 2
),
hist AS (
  SELECT b.doc_id,
         -SUM((CAST(c AS DOUBLE)/s.n) * log2(CAST(c AS DOUBLE)/s.n + 2.2e-16)) AS ent,
         CAST(SUM(c * c) AS BIGINT) AS c2
  FROM binned b JOIN stats s USING (doc_id)
  GROUP BY b.doc_id, s.n
),
folds AS (
  -- the kernel's seg_sum is np.bincount: a sequential per-doc fold in token
  -- order — replayed here over the position-ordered token array (d = x − S/n
  -- once per token, d², |d|, d⁴ = (d·d)·(d·d) with the kernel's multiply
  -- chain)
  SELECT t.doc_id,
         list_reduce(list_transform(t.tokens,
           x -> ABS(CAST(x AS DOUBLE) - CAST(s.s AS DOUBLE) / s.n)),
           (a, b) -> a + b) AS madn,
         list_reduce(list_transform(t.tokens,
           x -> ABS(CAST(x AS DOUBLE) - CAST(s.med AS DOUBLE))),
           (a, b) -> a + b) AS medadn,
         list_reduce(list_transform(t.tokens,
           x -> (CAST(x AS DOUBLE) - CAST(s.s AS DOUBLE) / s.n)
                * (CAST(x AS DOUBLE) - CAST(s.s AS DOUBLE) / s.n)),
           (a, b) -> a + b) AS ssq,
         list_reduce(list_transform(t.tokens,
           x -> ((CAST(x AS DOUBLE) - CAST(s.s AS DOUBLE) / s.n)
                 * (CAST(x AS DOUBLE) - CAST(s.s AS DOUBLE) / s.n))
                * ((CAST(x AS DOUBLE) - CAST(s.s AS DOUBLE) / s.n)
                   * (CAST(x AS DOUBLE) - CAST(s.s AS DOUBLE) / s.n))),
           (a, b) -> a + b) AS m4,
         -- kernel: d3 = (d·d)·d, d5 = ((d·d)·(d·d))·d, d6 = ((d·d)·d)·((d·d)·d)
         list_reduce(list_transform(t.tokens,
           x -> ((CAST(x AS DOUBLE) - CAST(s.s AS DOUBLE) / s.n)
                 * (CAST(x AS DOUBLE) - CAST(s.s AS DOUBLE) / s.n))
                * (CAST(x AS DOUBLE) - CAST(s.s AS DOUBLE) / s.n)),
           (a, b) -> a + b) AS m3,
         list_reduce(list_transform(t.tokens,
           x -> (((CAST(x AS DOUBLE) - CAST(s.s AS DOUBLE) / s.n)
                  * (CAST(x AS DOUBLE) - CAST(s.s AS DOUBLE) / s.n))
                 * ((CAST(x AS DOUBLE) - CAST(s.s AS DOUBLE) / s.n)
                    * (CAST(x AS DOUBLE) - CAST(s.s AS DOUBLE) / s.n)))
                * (CAST(x AS DOUBLE) - CAST(s.s AS DOUBLE) / s.n)),
           (a, b) -> a + b) AS m5,
         list_reduce(list_transform(t.tokens,
           x -> (((CAST(x AS DOUBLE) - CAST(s.s AS DOUBLE) / s.n)
                  * (CAST(x AS DOUBLE) - CAST(s.s AS DOUBLE) / s.n))
                 * (CAST(x AS DOUBLE) - CAST(s.s AS DOUBLE) / s.n))
                * (((CAST(x AS DOUBLE) - CAST(s.s AS DOUBLE) / s.n)
                    * (CAST(x AS DOUBLE) - CAST(s.s AS DOUBLE) / s.n))
                   * (CAST(x AS DOUBLE) - CAST(s.s AS DOUBLE) / s.n))),
           (a, b) -> a + b) AS m6
  FROM tokens_static t JOIN stats s USING (doc_id)
  WHERE s.mx > s.mn
),
hyper AS (
  -- the kernel's x^1.5 / std^5 / std^6 are explicit IEEE chains:
  -- ss·sqrt(ss) and pop·((s2·s2)·std) with s2 = std·std — replayed verbatim
  SELECT f.doc_id,
         CASE WHEN s.n > 3 AND f.ssq > 0
              THEN (sqrt(CAST(s.n AS DOUBLE)) * f.m3) / (f.ssq * sqrt(f.ssq))
              ELSE 0.0 END AS skew_v,
         f.m5 / (CAST(s.n AS DOUBLE)
                 * (((sqrt(f.ssq / (s.n - 1)) * sqrt(f.ssq / (s.n - 1)))
                     * (sqrt(f.ssq / (s.n - 1)) * sqrt(f.ssq / (s.n - 1))))
                    * sqrt(f.ssq / (s.n - 1)))) AS hskew_v,
         f.m6 / (CAST(s.n AS DOUBLE)
                 * (((sqrt(f.ssq / (s.n - 1)) * sqrt(f.ssq / (s.n - 1)))
                     * (sqrt(f.ssq / (s.n - 1)) * sqrt(f.ssq / (s.n - 1))))
                    * (sqrt(f.ssq / (s.n - 1)) * sqrt(f.ssq / (s.n - 1)))))
           AS hflat_v
  FROM folds f JOIN stats s USING (doc_id)
)
SELECT s.doc_id,
       a.source AS anno0,
       s.mn AS tok_min, s.mx AS tok_max,
       FLOOR((CAST(s.s AS DOUBLE) / s.n) * 10000.0 + 0.5) / 10000.0 AS mean_tok,
       FLOOR((CAST(s.med AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS median_tok,
       m.mode_t AS mode_tok,
       FLOOR((CAST(s.n * s.e - s.s * s.s AS DOUBLE) / (s.n * (s.n - 1))) * 10000.0 + 0.5) / 10000.0 AS var_tok,
       s.e AS energy_tok,
       FLOOR((h.ent) * 10000.0 + 0.5) / 10000.0 AS entropy_tok,
       FLOOR((CAST(h.c2 AS DOUBLE) / (CAST(s.n AS DOUBLE) * s.n)) * 10000.0 + 0.5) / 10000.0 AS uniformity_tok,
       s.s AS sum_tok,
       FLOOR((sqrt(CAST(s.e AS DOUBLE) / s.n)) * 10000.0 + 0.5) / 10000.0 AS rms_tok,
       FLOOR((fo.madn / s.n) * 10000.0 + 0.5) / 10000.0 AS mad_tok,
       FLOOR((fo.medadn / s.n) * 10000.0 + 0.5) / 10000.0 AS medad_tok,
       FLOOR((CASE WHEN s.n > 1 THEN sqrt(fo.ssq / (s.n - 1)) ELSE 0.0 END)
             * 10000.0 + 0.5) / 10000.0 AS std_tok,
       FLOOR((CASE WHEN s.n > 1 THEN sqrt(fo.ssq / s.n) ELSE 0.0 END)
             * 10000.0 + 0.5) / 10000.0 AS stdb_tok,
       FLOOR((CASE WHEN s.n > 1 THEN fo.ssq / s.n ELSE 0.0 END)
             * 10000.0 + 0.5) / 10000.0 AS varb_tok,
       FLOOR((CASE WHEN s.n > 1 THEN sqrt(fo.ssq / (s.n - 1)) ELSE 0.0 END
              / sqrt(CAST(s.n AS DOUBLE))) * 10000.0 + 0.5) / 10000.0 AS se_tok,
       FLOOR((CASE WHEN s.n > 1 THEN sqrt(fo.ssq / (s.n - 1)) ELSE 0.0 END
              / (CAST(s.s AS DOUBLE) / s.n)) * 10000.0 + 0.5) / 10000.0 AS cov_tok,
       FLOOR(hy.skew_v * 10000.0 + 0.5) / 10000.0 AS skew_tok,
       FLOOR((CASE WHEN s.n > 4 AND fo.ssq > 0
                   THEN (CAST(s.n AS DOUBLE) * fo.m4) / (fo.ssq * fo.ssq)
                   ELSE 0.0 END) * 10000.0 + 0.5) / 10000.0 AS kurt_tok,
       FLOOR((CASE WHEN s.n > 4 AND fo.ssq > 0
                   THEN (CAST(s.n AS DOUBLE) * fo.m4) / (fo.ssq * fo.ssq) - 3.0
                   ELSE 0.0 END) * 10000.0 + 0.5) / 10000.0 AS exkurt_tok,
       FLOOR(hy.hskew_v * 10000.0 + 0.5) / 10000.0 AS hskew_tok,
       FLOOR(hy.hflat_v * 10000.0 + 0.5) / 10000.0 AS hflat_tok,
       FLOOR(((1.0 - CAST(s.mx - s.mn AS DOUBLE) / (s.mx + s.mn)) * 100.0)
             * 10000.0 + 0.5) / 10000.0 AS piu_tok
FROM stats s JOIN modes m USING (doc_id) JOIN hist h USING (doc_id)
     JOIN tokens_static a USING (doc_id)
     JOIN folds fo ON fo.doc_id = s.doc_id
     JOIN hyper hy ON hy.doc_id = s.doc_id
WHERE s.mx > s.mn
""",
    }
