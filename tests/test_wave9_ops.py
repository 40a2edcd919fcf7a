"""Wave-9 operators: content-defined chunking dedup, PMI collocations and
the Bloom-prefiltered contamination scan — each checked against a
pure-Python reference or the exact path."""

import random

import pytest
from pyspark.sql import functions as F

from nyxus_spark.operators.dedup import CDC_K, cdc_chunks
from nyxus_spark.functions import bigram_counts, pmi_best_next

P31 = 2147483647


# ---------------------------------------------------------------- CDC


def _cdc_ref(tokens, div=16):
    n = len(tokens)
    if n == 0:
        return []
    k0, k1, k2, k3 = CDC_K
    bnd = [
        i
        for i in range(3, n - 1)
        if (tokens[i] * k0 + tokens[i - 1] * k1 + tokens[i - 2] * k2
            + tokens[i - 3] * k3) % P31 % div == 0
    ]
    starts = [0] + [i + 1 for i in bnd]
    ends = bnd + [n - 1]
    return [tokens[s:e + 1] for s, e in zip(starts, ends)]


def _toy_corpus():
    rng = random.Random(20260818)
    docs = []
    for d in range(8):
        docs.append((f"doc_{d:03d}", [rng.randrange(0, 251) for _ in range(rng.randrange(0, 90))]))
    # a shifted near-duplicate of doc_000: one token prepended
    docs.append(("doc_900", [7] + docs[0][1]))
    # an exact duplicate of doc_001
    docs.append(("doc_901", list(docs[1][1])))
    return docs


def _corpus_df(spark, docs):
    return spark.createDataFrame(
        [(i, t, len(t)) for i, t in docs], "doc_id string, tokens array<int>, n_tok int"
    )


def test_cdc_chunks_match_python_reference(spark):
    docs = _toy_corpus()
    df = _corpus_df(spark, docs)
    got = {
        (r.doc_id, r.cdc_id): (list(r.cdc_tokens), r.cdc_len, r.cdc_sum, r.cdc_kept)
        for r in cdc_chunks(df, keep_tokens=True).collect()
    }
    # python reference: chunks per doc, first-occurrence-wins across docs
    seen = {}
    want = {}
    for doc_id, toks in sorted(docs):
        for ci, ck in enumerate(_cdc_ref(toks)):
            key = tuple(ck)
            kept = 0 if key in seen else 1
            seen.setdefault(key, (doc_id, ci))
            want[(doc_id, ci)] = (ck, len(ck), sum(ck), kept)
    assert got == want


def test_cdc_chunks_cover_document_exactly(spark):
    docs = _toy_corpus()
    df = _corpus_df(spark, docs)
    rows = cdc_chunks(df, keep_tokens=True).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append((r.cdc_id, list(r.cdc_tokens)))
    for doc_id, toks in docs:
        if not toks:
            assert doc_id not in by_doc
            continue
        parts = [t for _, t in sorted(by_doc[doc_id])]
        assert sum(parts, []) == toks


def test_cdc_shift_robustness(spark):
    """Prepending ONE token re-aligns at the next content boundary: the
    shifted near-duplicate shares (and thus dedups) every chunk after the
    first boundary, which fixed-offset chunking would miss entirely."""
    docs = _toy_corpus()
    df = _corpus_df(spark, docs)
    rows = cdc_chunks(df, keep_tokens=True).collect()
    orig = [tuple(r.cdc_tokens) for r in rows if r.doc_id == "doc_000"]
    shifted = [tuple(r.cdc_tokens) for r in rows if r.doc_id == "doc_900"]
    shared = set(orig) & set(shifted)
    assert len(orig) >= 3, "fixture too small: raise doc length"
    assert shared, "no chunk re-alignment — CDC boundary rule broken"
    # the shifted doc's shared chunks must all be marked duplicates
    for r in rows:
        if r.doc_id == "doc_900" and tuple(r.cdc_tokens) in shared:
            assert r.cdc_kept == 0


def test_cdc_validation():
    with pytest.raises(ValueError):
        cdc_chunks(None, div=1)


# ---------------------------------------------------------------- PMI


def test_bigram_counts_match_python(spark):
    docs = _toy_corpus()
    df = _corpus_df(spark, docs)
    got = {(r.token, r.next_token): r.big_cnt for r in bigram_counts(df).collect()}
    want = {}
    for _, toks in docs:
        for a, b in zip(toks, toks[1:]):
            want[(a, b)] = want.get((a, b), 0) + 1
    assert got == want


def test_pmi_best_next_matches_python(spark):
    docs = _toy_corpus()
    df = _corpus_df(spark, docs)
    uni, big, n_total = {}, {}, 0
    for _, toks in docs:
        n_total += len(toks)
        for a in toks:
            uni[a] = uni.get(a, 0) + 1
        for a, b in zip(toks, toks[1:]):
            big[(a, b)] = big.get((a, b), 0) + 1
    keep = sorted(uni, key=lambda t: (-uni[t], t))[:5]
    got = {r.token: (r.next_token, r.big_cnt, r.pmi4)
           for r in pmi_best_next(df, keep).collect()}
    assert set(got) == set(keep)
    import math
    for a in keep:
        succ = [(b, c) for (x, b), c in big.items() if x == a]
        b, c = min(succ, key=lambda bc: (-bc[1], bc[0]))
        x = c / uni[a] * n_total / uni[b]
        want_pmi = math.floor(x * 10000.0 + 0.5) / 10000.0
        assert got[a] == (b, c, want_pmi)


def test_pmi_best_next_validation():
    with pytest.raises(ValueError):
        pmi_best_next(None, [])


# ------------------------------------------------- hashed-bigram scorer


# ------------------------------------------------- bloom decontamination


def test_contamination_bloom_equals_exact(spark, sf_dir):
    from nyxus_spark.functions import contamination, contamination_bloom
    from nyxus_spark.sources import tokens_static

    toks = tokens_static(spark, sf_dir)
    nid = F.expr("CAST(substring(doc_id, 5) AS BIGINT)")
    bench = toks.filter(nid % 97 == 0)
    exact = {r.doc_id: (r.contam_hits, r.contam_distinct, r.is_contaminated)
             for r in contamination(toks, bench, n=8).collect()}
    bloom = {r.doc_id: (r.contam_hits, r.contam_distinct, r.is_contaminated)
             for r in contamination_bloom(toks, bench, n=8).collect()}
    assert bloom == exact
    assert any(v[2] == 1 for v in exact.values()), "fixture has no hits"


def test_contamination_bloom_tiny_bitset_still_exact(spark):
    """bits=64 (one word, everything collides): the prefilter passes nearly
    all grams through, and the exact verify join must still produce the
    true result — false positives can never leak into the output."""
    from nyxus_spark.functions import contamination, contamination_bloom

    df = _corpus_df(spark, _toy_corpus())
    bench = df.limit(2)
    exact = {r.doc_id: (r.contam_hits, r.contam_distinct)
             for r in contamination(df, bench, n=4).collect()}
    bloom = {r.doc_id: (r.contam_hits, r.contam_distinct)
             for r in contamination_bloom(df, bench, n=4, bits=64).collect()}
    assert bloom == exact


def test_bloom_bitset_bounded_and_hits(spark):
    from nyxus_spark.functions import bloom_bitset

    keys = spark.createDataFrame([(f"k{i}",) for i in range(500)], "gram string")
    bs = bloom_bitset(keys, bits=1 << 10).collect()
    assert len(bs) <= (1 << 10) // 64
    assert all(r.bloom_mask != 0 for r in bs)


def test_bloom_bitset_validation():
    from nyxus_spark.functions import bloom_bitset

    import pytest as _pt
    with _pt.raises(ValueError):
        bloom_bitset(None, bits=100)
