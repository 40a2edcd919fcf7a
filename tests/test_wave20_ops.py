"""Wave-20 operators: stride-scheduling interleave, pack-segment inversion,
prefix-containment dedup."""
import pytest
from pyspark.sql import functions as F

from nyxus_spark.functions import stride_interleave_key
from nyxus_spark.operators.dedup import (
    prefix_containment,
    prefix_containment_agg,
)
from nyxus_spark.operators.packing import pack_segments, pack_sequences


# ---------------------------------------------------------------------------
# stride interleave
# ---------------------------------------------------------------------------

def test_stride_interleave_exact_proportion(spark):
    # weights 3:2:1 (L = 6): within every full round of 6 virtual-time
    # units, sources contribute exactly 3/2/1 docs until one runs dry
    rows = [(s, i) for s in ("a", "b", "c") for i in range(1, 61)]
    df = spark.createDataFrame(rows, ["source", "rank"])
    out = df.select(
        "source", "rank",
        stride_interleave_key(
            F.col("rank"), {"a": 3, "b": 2}, default_weight=1
        ).alias("key"),
    ).collect()
    keys = {(r.source, r.rank): r.key for r in out}
    # key = rank * (L / w): a -> 2, b -> 3, c (default) -> 6
    assert keys[("a", 1)] == 2 and keys[("a", 10)] == 20
    assert keys[("b", 1)] == 3 and keys[("b", 10)] == 30
    assert keys[("c", 1)] == 6 and keys[("c", 10)] == 60
    # admitted below any multiple of L: exactly proportional
    for t in (1, 5, 10):
        admitted = [(s, i) for (s, i), k in keys.items() if k <= 6 * t]
        per = {s: sum(1 for x in admitted if x[0] == s) for s in "abc"}
        assert per == {"a": 3 * t, "b": 2 * t, "c": t}


def test_stride_interleave_validates_weights(spark):
    with pytest.raises(ValueError):
        stride_interleave_key(F.lit(1), {"a": 0})
    with pytest.raises(ValueError):
        stride_interleave_key(F.lit(1), {"a": 2.5})  # type: ignore[dict-item]


# ---------------------------------------------------------------------------
# pack segments
# ---------------------------------------------------------------------------

def _brute_segments(docs, capacity, n_shards=4):
    """Python reference: concat-then-chunk per shard, then slice per pack."""
    MIX, P31 = 2654435761, 2147483647
    shards = {}
    for oid, n in sorted(docs):
        sh = ((oid % P31) * (MIX % P31)) % P31 % n_shards
        shards.setdefault(sh, []).append((oid, n))
    segs = {}
    for sh, items in shards.items():
        off = 0
        for oid, n in items:
            start, end = off, off + n
            p = start // capacity
            while p * capacity < end:
                lo = max(start, p * capacity)
                hi = min(end, (p + 1) * capacity)
                segs[(oid, p)] = (sh, lo - p * capacity, hi - lo, lo - start)
                p += 1
            off = end
    return segs


def test_pack_segments_matches_brute(spark):
    docs = [(i, 1 + (i * 37) % 50) for i in range(1, 120)]
    df = spark.createDataFrame(docs, ["oid", "n_tok"])
    packed = pack_sequences(df, capacity=32, id_expr=F.col("oid"), n_shards=4)
    segs = pack_segments(packed, 32).collect()
    ref = _brute_segments(docs, 32, 4)
    got = {(r.oid, r.seg_pack): (r.pack_shard, r.seg_off, r.seg_len, r.doc_off)
           for r in segs}
    assert got == ref
    # conservation: per-doc seg_len sums to n_tok
    per_doc = {}
    for r in segs:
        per_doc[r.oid] = per_doc.get(r.oid, 0) + r.seg_len
    assert per_doc == dict(docs)


def test_pack_segments_idx_is_in_pack_order(spark):
    docs = [(i, 7) for i in range(1, 40)]
    df = spark.createDataFrame(docs, ["oid", "n_tok"])
    packed = pack_sequences(df, capacity=32, id_expr=F.col("oid"), n_shards=2)
    segs = pack_segments(packed, 32).collect()
    by_pack = {}
    for r in segs:
        by_pack.setdefault((r.pack_shard, r.seg_pack), []).append(
            (r.seg_idx, r.seg_off))
    for items in by_pack.values():
        items.sort()
        # ordinals are 0..n-1 and strictly follow in-pack offset order
        assert [i for i, _ in items] == list(range(len(items)))
        offs = [o for _, o in items]
        assert offs == sorted(offs)


def test_pack_segments_skips_zero_length(spark):
    df = spark.createDataFrame([(1, 10), (2, 0), (3, 5)], ["oid", "n_tok"])
    packed = pack_sequences(df, capacity=8, id_expr=F.col("oid"), n_shards=1)
    segs = pack_segments(packed, 8)
    assert segs.filter(F.col("oid") == 2).count() == 0
    assert segs.groupBy().sum("seg_len").collect()[0][0] == 15


def test_pack_segments_validates_capacity(spark):
    df = spark.createDataFrame([(1, 10)], ["oid", "n_tok"])
    packed = pack_sequences(df, capacity=8, id_expr=F.col("oid"))
    with pytest.raises(ValueError):
        pack_segments(packed, 0)


# ---------------------------------------------------------------------------
# prefix containment
# ---------------------------------------------------------------------------

def _docs_df(spark, rows):
    data = [(d, toks, len(toks)) for d, toks in rows]
    return spark.createDataFrame(data, ["doc_id", "tokens", "n_tok"])


def test_prefix_containment_finds_truncations(spark):
    full = list(range(100, 140))
    rows = [
        ("doc_a", full),                # container
        ("doc_b", full[:20]),           # truncated prefix of a
        ("doc_c", full[:12]),           # shorter prefix of a (and of b)
        ("doc_d", full[5:25]),          # mid-slice, NOT a prefix
        ("doc_e", list(range(500, 520))),  # unrelated
    ]
    pairs = prefix_containment(_docs_df(spark, rows), k=8)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert got == {("doc_b", "doc_a"), ("doc_c", "doc_a"), ("doc_c", "doc_b")}
    agg = {r.doc_id: (r.pfx_container, r.pfx_n_containers)
           for r in prefix_containment_agg(pairs).collect()}
    assert agg == {"doc_b": ("doc_a", 1), "doc_c": ("doc_a", 2)}


def test_prefix_containment_exact_dups_orient_to_lowest(spark):
    toks = list(range(50, 70))
    rows = [("doc_1", toks), ("doc_2", toks), ("doc_3", toks)]
    pairs = prefix_containment(_docs_df(spark, rows), k=8)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    # higher ids contained by every lower id; doc_1 never contained
    assert got == {("doc_2", "doc_1"), ("doc_3", "doc_1"), ("doc_3", "doc_2")}


def test_prefix_containment_requires_k_tokens(spark):
    rows = [("doc_a", list(range(20))), ("doc_b", list(range(5)))]
    pairs = prefix_containment(_docs_df(spark, rows), k=8)
    # doc_b (5 tokens < k) cannot participate even though it IS a prefix
    assert pairs.count() == 0
    with pytest.raises(ValueError):
        prefix_containment(_docs_df(spark, rows), k=0)


def test_prefix_containment_rejects_near_miss(spark):
    base = list(range(100, 130))
    mutated = base[:15]
    mutated[14] = 999  # same 8-prefix block key, fails verification
    rows = [("doc_a", base), ("doc_b", mutated)]
    pairs = prefix_containment(_docs_df(spark, rows), k=8)
    assert pairs.count() == 0


# ---------------------------------------------------------------------------
# duplicate spans (ExactSubstr analog)
# ---------------------------------------------------------------------------

def _tok_df(spark, rows):
    return spark.createDataFrame(
        [(d, t, len(t)) for d, t in rows], ["doc_id", "tokens", "n_tok"])


def test_duplicate_spans_merges_overlaps(spark):
    from nyxus_spark.operators.dedup import duplicate_spans
    shared = list(range(100, 112))  # 12 tokens -> 5 windows of L=8
    rows = [
        ("a", shared + [1, 2, 3]),
        ("b", [7, 8, 9] + shared),
        ("c", list(range(300, 320))),  # no cross-doc windows
    ]
    out = {r.doc_id: (r.ds_hits, r.ds_spans, r.ds_cover, r.ds_first)
           for r in duplicate_spans(_tok_df(spark, rows), L=8).collect()}
    # 5 overlapping windows merge into ONE span covering the 12 shared tokens
    assert out["a"] == (5, 1, 12, 0)
    assert out["b"] == (5, 1, 12, 3)
    assert "c" not in out


def test_duplicate_spans_two_separate_spans(spark):
    from nyxus_spark.operators.dedup import duplicate_spans
    s1, s2 = list(range(100, 108)), list(range(200, 208))
    gap = [1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12]
    rows = [("a", s1 + gap + s2), ("b", s1 + [99] * 12 + s2)]
    out = {r.doc_id: (r.ds_hits, r.ds_spans, r.ds_cover)
           for r in duplicate_spans(_tok_df(spark, rows), L=8).collect()}
    assert out["a"] == (2, 2, 16)
    assert out["b"] == (2, 2, 16)


def test_duplicate_spans_ignores_intra_doc_repeats(spark):
    from nyxus_spark.operators.dedup import duplicate_spans
    block = list(range(100, 108))
    rows = [("a", block + [0] * 10 + block)]  # repeated WITHIN one doc only
    assert duplicate_spans(_tok_df(spark, rows), L=8).count() == 0


def test_duplicate_spans_validates_min_docs(spark):
    from nyxus_spark.operators.dedup import duplicate_spans
    with pytest.raises(ValueError):
        duplicate_spans(_tok_df(spark, [("a", [1])]), min_docs=1)


# ---------------------------------------------------------------------------
# skew report
# ---------------------------------------------------------------------------

def test_skew_report_counts_and_flags(spark):
    from nyxus_spark.operators.prescan import skew_report
    # key 7 is hot: 30 of 39 rows; keys 1..9 carry one row each
    rows = [(7,)] * 30 + [(k,) for k in range(1, 10) if k != 7] + [(7,)] * 0
    df = spark.createDataFrame(rows, ["user_id"])
    out = {r.sk_key: r for r in
           skew_report(df, F.col("user_id"), n_buckets=4).collect()}
    assert len(out) == 9
    assert out[7].sk_rows == 30
    # key_hot: 30 * 9 keys > 2 * 38 total
    assert out[7].sk_key_hot == 1 and out[1].sk_key_hot == 0
    # bucket mass: every key's bucket_rows equals the sum of its bucket peers
    P31, MIXR = 2147483647, 2654435761 % 2147483647
    per_bucket = {}
    for k, r in out.items():
        b = (k % P31) * MIXR % P31 % 4
        assert r.sk_bucket == b
        per_bucket[b] = per_bucket.get(b, 0) + r.sk_rows
    for r in out.values():
        assert r.sk_bucket_rows == per_bucket[r.sk_bucket]
    # hot key's bucket is hot too: bucket_rows*4 > 2*38
    hot_bucket = out[7].sk_bucket
    for r in out.values():
        assert r.sk_bucket_hot == (1 if r.sk_bucket == hot_bucket else 0)


def test_skew_report_uniform_has_no_hot(spark):
    from nyxus_spark.operators.prescan import skew_report
    df = spark.createDataFrame([(k,) for k in range(100) for _ in range(3)],
                               ["user_id"])
    out = skew_report(df, F.col("user_id"), n_buckets=8).collect()
    assert all(r.sk_key_hot == 0 for r in out)
    assert sum(r.sk_rows for r in out) == 300


def test_skew_report_validates(spark):
    from nyxus_spark.operators.prescan import skew_report
    df = spark.createDataFrame([(1,)], ["user_id"])
    with pytest.raises(ValueError):
        skew_report(df, F.col("user_id"), n_buckets=0)
    with pytest.raises(ValueError):
        skew_report(df, F.col("user_id"), hot_factor=0)


# ---------------------------------------------------------------------------
# exact range bounds
# ---------------------------------------------------------------------------

def _brute_bounds(vals, n_parts):
    import math
    s = sorted(vals)
    n = len(s)
    out = {}
    for k in range(1, n_parts):
        tgt = math.ceil(k * n / n_parts)
        # smallest value whose cumulative count reaches tgt
        out[k] = s[tgt - 1]
    return out


def test_exact_range_bounds_matches_brute(spark):
    from nyxus_spark.operators.prescan import exact_range_bounds
    vals = [(v * 7919) % 1000 for v in range(257)]  # collisions included
    df = spark.createDataFrame([(v,) for v in vals], ["v"])
    got = {r.bound_idx: r.bound_val
           for r in exact_range_bounds(df, "v", 8).collect()}
    assert got == _brute_bounds(vals, 8)


def test_exact_range_bounds_heavy_duplicates(spark):
    from nyxus_spark.operators.prescan import exact_range_bounds
    vals = [5] * 50 + [9] * 30 + [1] * 20
    df = spark.createDataFrame([(v,) for v in vals], ["v"])
    got = {r.bound_idx: r.bound_val
           for r in exact_range_bounds(df, "v", 4).collect()}
    assert got == _brute_bounds(vals, 4)
    # assignment |{k : bound_k < v}| is deterministic and monotone
    bounds = sorted(got.values())
    part = {v: sum(1 for b in bounds if b < v) for v in (1, 5, 9)}
    assert part[1] <= part[5] <= part[9]


def test_exact_range_bounds_validates(spark):
    from nyxus_spark.operators.prescan import exact_range_bounds
    df = spark.createDataFrame([(1,)], ["v"])
    with pytest.raises(ValueError):
        exact_range_bounds(df, "v", 1)


# ---------------------------------------------------------------------------
# Kneser-Ney continuation counts
# ---------------------------------------------------------------------------

def test_kn_continuation_exact(spark):
    from nyxus_spark.functions import kn_continuation
    rows = [
        ("a", [1, 2, 3]),        # bigrams (1,2) (2,3)
        ("b", [4, 2, 3]),        # (4,2) (2,3) -> (2,3) repeated: distinct
        ("c", [2, 2]),           # (2,2)
        ("d", [9]),              # too short, no bigram
    ]
    out = {r.token: (r.kn_left, r.kn_right)
           for r in kn_continuation(_tok_df(spark, rows)).collect()}
    # distinct pairs: (1,2) (2,3) (4,2) (2,2)
    # token 2: left contexts {1,4,2} -> 3; right continuations {3,2} -> 2
    assert out[2] == (3, 2)
    assert out[3] == (1, 0)   # left {2}; never a left context
    assert out[1] == (0, 1)
    assert out[4] == (0, 1)
    assert 9 not in out
    # N1+(..) identity: sum of kn_left == distinct bigrams == 4
    assert sum(left for left, _ in out.values()) == 4
    assert sum(right for _, right in out.values()) == 4


# ---------------------------------------------------------------------------
# snapshot diff
# ---------------------------------------------------------------------------

def test_snapshot_diff_statuses(spark):
    from nyxus_spark.operators.prescan import snapshot_diff
    old = spark.createDataFrame(
        [("d1", "k1", "s0"), ("d2", "k2", "s0"), ("d3", "k3", "s1")],
        ["doc_id", "key", "source"])
    new = spark.createDataFrame(
        [("d1", "k1", "s0"),       # unchanged
         ("d2", "k2x", "s0"),      # modified
         ("d4", "k4", "s1")],      # added; d3 removed
        ["doc_id", "key", "source"])
    out = {r.doc_id: (r.diff_status, r.source)
           for r in snapshot_diff(old, new, carry_cols=("source",)).collect()}
    assert out == {
        "d1": ("unchanged", "s0"),
        "d2": ("modified", "s0"),
        "d3": ("removed", "s1"),
        "d4": ("added", "s1"),
    }


# ---------------------------------------------------------------------------
# mean-pool doc embeddings
# ---------------------------------------------------------------------------

def test_mean_pool_docs_exact_sums(spark):
    from nyxus_spark.operators.similarity import mean_pool_docs
    docs = _tok_df(spark, [("a", [0, 1, 0]), ("b", [2]), ("c", [])])
    emb = spark.createDataFrame(
        [(0, [1, -2]), (1, [10, 20]), (2, [-5, 7])], ["token", "qvec"])
    out = {(r.doc_id, r.dim): (r.pool_n, r.coord_sum)
           for r in mean_pool_docs(docs, emb).collect()}
    # doc a: tokens 0,1,0 -> dim0: 1+10+1=12, dim1: -2+20-2=16, n=3
    assert out[("a", 0)] == (3, 12) and out[("a", 1)] == (3, 16)
    assert out[("b", 0)] == (1, -5) and out[("b", 1)] == (1, 7)
    assert ("c", 0) not in out  # empty doc pools nothing


def test_mean_pool_docs_skips_unmatched_tokens(spark):
    from nyxus_spark.operators.similarity import mean_pool_docs
    docs = _tok_df(spark, [("a", [0, 99])])  # 99 has no embedding row
    emb = spark.createDataFrame([(0, [4, 4])], ["token", "qvec"])
    out = {(r.doc_id, r.dim): (r.pool_n, r.coord_sum)
           for r in mean_pool_docs(docs, emb).collect()}
    assert out == {("a", 0): (1, 4), ("a", 1): (1, 4)}


# ---------------------------------------------------------------------------
# holdout split
# ---------------------------------------------------------------------------

def test_holdout_split_deterministic_and_disjoint(spark):
    from nyxus_spark.functions import holdout_split
    df = spark.createDataFrame([(i,) for i in range(2000)], ["doc_id"])
    out = df.select(
        "doc_id", holdout_split(F.col("doc_id"), 0.1, 0.1).alias("s")
    ).collect()
    got = {r.doc_id: r.s for r in out}
    # re-derivable in plain python: same hash, same cuts
    P31 = 2147483647
    for i, s in got.items():
        h = ((i % P31) * 1566083941) % P31
        exp = 2 if h < int(P31 * 0.1) else (1 if h < int(P31 * 0.2) else 0)
        assert s == exp
    # rough proportions (hash-uniform: each cut ~10%)
    n = len(got)
    for cls, frac in ((2, 0.1), (1, 0.1), (0, 0.8)):
        share = sum(1 for s in got.values() if s == cls) / n
        assert abs(share - frac) < 0.05
    with pytest.raises(ValueError):
        holdout_split(F.col("doc_id"), 0.6, 0.5)


def test_cv_fold_covers_and_balances(spark):
    from nyxus_spark.functions import cv_fold
    df = spark.createDataFrame([(i,) for i in range(2000)], ["doc_id"])
    got = {r.doc_id: r.f for r in df.select(
        "doc_id", cv_fold(F.col("doc_id"), 5).alias("f")).collect()}
    # re-derivable in plain python: same mixer, same mod-k assignment
    P31 = 2147483647
    for i, f in got.items():
        assert f == (((i % P31) * 1181783497) % P31) % 5
    # every doc lands in exactly one fold; folds are hash-balanced
    assert set(got.values()) <= set(range(5))
    n = len(got)
    for k in range(5):
        share = sum(1 for f in got.values() if f == k) / n
        assert abs(share - 0.2) < 0.05
    # mod-k has no range cut: small ids spread across folds (the
    # small-multiplier starvation mode of rate-cut hashes cannot occur)
    assert len({got[i] for i in range(10)}) >= 3
    with pytest.raises(ValueError):
        cv_fold(F.col("doc_id"), 1)


def test_suffix_containment_finds_header_prepends(spark):
    from nyxus_spark.operators.dedup import suffix_containment
    body = list(range(100, 130))
    rows = [
        ("doc_a", [9, 9, 9] + body),   # container (banner + body)
        ("doc_b", body),               # the re-crawled bare body
        ("doc_c", body[:20]),          # prefix of body, NOT a suffix of a
        ("doc_d", body[10:]),          # tail of body -> suffix of a AND b
    ]
    pairs = suffix_containment(_docs_df(spark, rows), k=8)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert got == {("doc_b", "doc_a"), ("doc_d", "doc_a"), ("doc_d", "doc_b")}


def test_priority_sample_matches_python_reference(spark):
    from nyxus_spark.functions import priority_sample

    P31 = 2147483647
    MIX = 1566083941
    rows = [(i, "s%d" % (i % 2), 10 + (i * 37) % 500) for i in range(1, 41)]
    df = spark.createDataFrame(rows, ["doc_id", "source", "w"])
    k = 5
    got = {
        r.doc_id: (r.pri4, r.pri_rank, r.pri_keep, r.pri_ht4)
        for r in priority_sample(
            df, k=k, weight_col="w", id_expr=F.col("doc_id")
        ).collect()
    }

    def fr4(x):
        import math
        return math.floor(x * 10000.0 + 0.5) / 10000.0

    by_src = {}
    for i, s, w in rows:
        h = (i % P31) * MIX % P31
        by_src.setdefault(s, []).append((i, w, (w * P31) / (h + 1)))
    for s, items in by_src.items():
        items.sort(key=lambda t: (-t[2], t[0]))
        tau = items[k][2] if len(items) > k else 0.0
        for rank, (i, w, pri) in enumerate(items, 1):
            ht = max(float(w), tau) if rank <= k else 0.0
            assert got[i] == (fr4(pri), rank, int(rank <= k), fr4(ht)), i

    # subset-sum sanity: every kept row's HT weight >= its raw weight,
    # and the heaviest row per source is (near-)certain to be kept
    kept = [i for i, v in got.items() if v[2] == 1]
    assert len(kept) == 2 * k


def test_priority_sample_heavy_row_always_kept(spark):
    from nyxus_spark.functions import priority_sample

    # one row with overwhelming weight: its priority floor w/1 exceeds any
    # light row's ceiling w'*P31, so it MUST be in every sample
    rows = [(i, "s", 1) for i in range(1, 30)] + [(99, "s", 1 << 32)]
    df = spark.createDataFrame(rows, ["doc_id", "source", "w"])
    out = {r.doc_id: r.pri_keep for r in priority_sample(
        df, k=3, weight_col="w", id_expr=F.col("doc_id")).collect()}
    assert out[99] == 1


def test_hll_merged_equals_from_scratch(spark):
    from nyxus_spark.functions import hll_merged_summary, hll_summary

    rows = [(i * 131 + 7, "s%d" % (i % 3)) for i in range(400)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    a = {tuple(r) for r in hll_summary(df, "source", "doc_id").collect()}
    for shards in (2, 4):
        b = {tuple(r) for r in hll_merged_summary(
            df, "source", "doc_id", shards=shards).collect()}
        assert a == b


def test_prefix_filter_pairs_complete_vs_bruteforce(spark):
    """Zero-false-negative guarantee: every shingle-set pair with
    Jaccard >= t must be produced (prefix-filtering completeness)."""
    from nyxus_spark.operators.dedup import prefix_filter_pairs

    import random
    rng = random.Random(7)
    docs = []
    base = [rng.randrange(50) for _ in range(40)]
    for i in range(30):
        if i % 3 == 0:   # near-dup of base: flip a couple of tokens
            t = list(base)
            for _ in range(rng.randrange(3)):
                t[rng.randrange(len(t))] = rng.randrange(50)
        else:            # unrelated
            t = [rng.randrange(50) for _ in range(rng.randrange(20, 60))]
        docs.append((f"d{i:02d}", t))
    df = spark.createDataFrame(docs, ["doc_id", "tokens"])
    got = {(r.id_a, r.id_b) for r in
           prefix_filter_pairs(df, 3, 5).collect()}

    # brute-force truth over shingle sets
    P31 = 2147483647
    def sh(toks):
        return {(toks[i] * 961 + toks[i + 1] * 31 + toks[i + 2]) % P31
                for i in range(len(toks) - 2)}
    sets = {d: sh(t) for d, t in docs}
    truth = set()
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            inter = len(sets[a] & sets[b])
            uni = len(sets[a] | sets[b])
            if uni and inter * 5 >= 3 * uni:
                x, y = (a, b) if (len(sets[a]), a) < (len(sets[b]), b) else (b, a)
                truth.add((x, y))
    assert got == truth and len(truth) > 3


def test_minhash_corpus_sketch_shard_invariant_and_exact(spark):
    from nyxus_spark.operators.dedup import minhash_corpus_sketch

    P31 = 2147483647
    MIX = 2654435761
    rows = [("d%02d" % i, "s%d" % (i % 2),
             [(i * 13 + j) % 40 for j in range(30)]) for i in range(20)]
    df = spark.createDataFrame(rows, ["doc_id", "source", "tokens"])
    outs = []
    for shards in (2, 4):
        got = {r.source: (r.mh_s0, r.mh_s1, r.mh_s2, r.mh_s3, r.mh_sig_sum)
               for r in minhash_corpus_sketch(
                   df, "source", "doc_id", "tokens", shards=shards).collect()}
        outs.append(got)
    assert outs[0] == outs[1]  # shard-invariance = merge is lossless

    # python from-scratch reference
    def shingles(t):
        return {(t[i] * 961 + t[i + 1] * 31 + t[i + 2]) % P31
                for i in range(len(t) - 2)}
    ref = {}
    for s in ("s0", "s1"):
        xs = set()
        for d, src, t in rows:
            if src == s:
                xs |= shingles(t)
        slots = []
        for i in range(16):
            a = (1103515245 * (i + 1) + 12345) % P31 | 1
            b = (MIX * (i + 7)) % P31
            slots.append(min((x * a + b) % P31 for x in xs))
        ref[s] = (slots[0], slots[1], slots[2], slots[3], sum(slots))
    assert outs[0] == ref


def test_scd2_intervals_tile_and_flag_current(spark):
    from datetime import datetime

    from nyxus_spark.operators import scd2_intervals

    rows = [
        ("k1", datetime(2024, 1, 1, 0, 0, 0), 1),
        ("k1", datetime(2024, 1, 1, 0, 0, 5), 2),
        ("k1", datetime(2024, 1, 1, 0, 0, 5), 3),  # tie -> event_id order
        ("k2", datetime(2024, 1, 2, 0, 0, 0), 4),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "ts", "event_id"])
    out = {r.event_id: (r.scd_from_us, r.scd_to_us, r.scd_current)
           for r in scd2_intervals(df).collect()}
    OPEN = 9223372036854775807
    # per key: intervals tile (to == next from), exactly one current
    assert out[1][1] == out[2][0] and out[2][1] == out[3][0]
    assert (out[1][2], out[2][2], out[3][2]) == (0, 0, 1)
    assert out[3][1] == OPEN
    assert out[4] == (out[4][0], OPEN, 1)
    # tie rows ordered by event_id: 2 before 3
    assert out[2][0] == out[2][0] and out[2][1] == out[3][0]


def _bpe_python(docs, n_merges, new_id_start):
    """Pure-Python BPE reference: naive adjacent counts rank the winner
    (ties: count desc, lowest a, lowest b), greedy left-to-right merge."""
    docs = [list(map(int, t)) for t in docs]
    merges = []
    for r in range(n_merges):
        cnt = {}
        for t in docs:
            for x, y in zip(t, t[1:]):
                cnt[(x, y)] = cnt.get((x, y), 0) + 1
        if not cnt:
            break
        (a, b), c = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
        new = new_id_start + r
        merges.append({"rank": r, "a": a, "b": b, "new_id": new, "count": c})
        nxt = []
        for t in docs:
            out, i = [], 0
            while i < len(t):
                if i + 1 < len(t) and t[i] == a and t[i + 1] == b:
                    out.append(new)
                    i += 2
                else:
                    out.append(t[i])
                    i += 1
            nxt.append(out)
        docs = nxt
    return merges, docs


def test_bpe_train_matches_python_reference(spark):
    from nyxus_spark.functions import bpe_train

    corpus = [
        ("d0", [1, 2, 1, 2, 1, 2, 3]),
        ("d1", [1, 2, 3, 1, 2, 3]),
        ("d2", [2, 2, 2, 2]),        # overlapping-run case
        ("d3", [5]),
        ("d4", []),
    ]
    df = spark.createDataFrame(corpus, ["doc_id", "tokens"])
    merges, out = bpe_train(df, n_merges=4, new_id_start=100)
    ref_merges, ref_docs = _bpe_python([t for _, t in corpus], 4, 100)
    assert merges == ref_merges
    got = {r.doc_id: list(r.tokens) for r in out.collect()}
    for (d, _), ref in zip(corpus, ref_docs):
        assert got[d] == ref, d


def test_bpe_apply_merge_greedy_nonoverlap(spark):
    from nyxus_spark.functions import bpe_apply_merge, bpe_merge_count

    df = spark.createDataFrame(
        [("a", [7, 7, 7, 7, 7], 5), ("b", [1, 7, 7, 2], 4)],
        ["doc_id", "tokens", "n_tok"],
    ).withColumn("n_tok", F.col("n_tok").cast("int"))  # bigint sequence
    # bounds make the fold's lambda var bigint -> element_at analysis error
    out = {r.doc_id: (list(r.m), r.c) for r in df.select(
        "doc_id",
        bpe_apply_merge("tokens", 7, 7, 99).alias("m"),
        bpe_merge_count(7, 7).alias("c"),
    ).collect()}
    # greedy on a run of 5: two merges + trailing single; count agrees
    assert out["a"] == ([99, 99, 7], 2)
    assert out["b"] == ([1, 99, 2], 1)


def test_graph_node_stats_triangle_plus_chain(spark):
    from nyxus_spark.operators.dedup import graph_node_stats

    # K3 on {a,b,c} plus a pendant chain c-d-e
    edges = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "d"), ("d", "e")]
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = {r.doc_id: (r.deg_cnt, r.tri_cnt, r.clust4)
           for r in graph_node_stats(df).collect()}
    assert got == {
        "a": (2, 1, 1.0),
        "b": (2, 1, 1.0),
        "c": (3, 1, round(2 * 1 / 6, 4)),
        "d": (2, 0, 0.0),
        "e": (1, 0, 0.0),
    }


def test_backfill_family_nocb_and_interp(spark):
    from datetime import datetime

    from nyxus_spark.operators import with_nocb, with_time_interp

    def ts(s):
        return datetime(2024, 1, 1, 0, 0, s)

    rows = [
        ("k", ts(0), 1, 10.0),
        ("k", ts(10), 2, None),   # 1/4 of the way 10 -> 30: interp 15.0
        ("k", ts(30), 3, None),   # 3/4 of the way:            interp 25.0
        ("k", ts(40), 4, 30.0),
        ("k", ts(50), 5, None),   # after last obs -> LOCF 30.0
        ("k2", ts(0), 6, None),   # before first obs -> NOCB 7.0
        ("k2", ts(10), 7, 7.0),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "ts", "event_id", "v"])
    out = with_time_interp(with_nocb(df, ["v"]), "v")
    got = {r.event_id: (r.v_nocb, r.v_interp) for r in out.collect()}
    assert got[1] == (10.0, 10.0)
    assert got[2] == (30.0, 15.0)
    assert got[3] == (30.0, 25.0)
    assert got[4] == (30.0, 30.0)
    assert got[5] == (None, 30.0)
    assert got[6] == (7.0, 7.0)
    assert got[7] == (7.0, 7.0)
