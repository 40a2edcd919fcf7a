"""Wave-7 operators: delimiter segmentation, temperature mixture rates,
per-token source drift, product-quantization encoding."""

import math

import pytest
from pyspark.sql import functions as F

from nyxus_spark.functions import (
    source_drift,
    split_on_token,
    stratified_keep,
    temperature_rates,
)
from nyxus_spark.operators.similarity import pq_encode


# ---------------------------------------------------------------------------
# split_on_token
# ---------------------------------------------------------------------------

def _py_split(tokens, delim, keep_empty):
    segs, cur = [], []
    for t in tokens:
        if t == delim:
            segs.append(cur)
            cur = []
        else:
            cur.append(t)
    segs.append(cur)
    if not tokens:
        segs = []  # zero-token rows short-circuit to no segments
    if not keep_empty:
        segs = [s for s in segs if s]
    return segs


@pytest.mark.parametrize("keep_empty", [False, True])
def test_split_matches_python_reference(spark, keep_empty):
    fixtures = [
        [1, 2, 9, 3, 9, 9, 4],   # interior + consecutive delims
        [9, 1, 2, 9],            # leading + trailing
        [9, 9, 9],               # delimiter-only
        [5, 6, 7],               # no delimiter
        [],                      # empty
        [9],                     # single delimiter
        [1],                     # single non-delimiter
    ]
    df = spark.createDataFrame(
        [(f"d{i}", t, len(t)) for i, t in enumerate(fixtures)],
        "doc_id string, tokens array<int>, n_tok int",
    )
    rows = split_on_token(df, 9, keep_empty=keep_empty).collect()
    got = {}
    for r in rows:
        got.setdefault(r["doc_id"], []).append(r)
    for i, toks in enumerate(fixtures):
        want = _py_split(toks, 9, keep_empty)
        have = sorted(got.get(f"d{i}", []), key=lambda r: r["seg_id"])
        assert [r["seg_tokens"] for r in have] == want, (i, toks)
        # dense 0-based seg ids, lengths consistent
        assert [r["seg_id"] for r in have] == list(range(len(want)))
        assert all(r["seg_len"] == len(r["seg_tokens"]) for r in have)


def test_split_drops_delimiter_and_preserves_columns(spark):
    df = spark.createDataFrame(
        [("a", [1, 9, 2], 3, "srcX")],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    rows = split_on_token(df, 9).collect()
    assert {r["source"] for r in rows} == {"srcX"}
    assert all(9 not in r["seg_tokens"] for r in rows)
    assert "tokens" not in rows[0].asDict()


def test_split_validation():
    with pytest.raises(ValueError, match="int token id"):
        split_on_token(None, "9")


# ---------------------------------------------------------------------------
# temperature_rates
# ---------------------------------------------------------------------------

def test_temperature_rates_values(spark):
    df = spark.createDataFrame(
        [("a",)] * 16 + [("b",)] * 4 + [("c",)] * 1, "source string"
    )
    rates = temperature_rates(df, alpha=0.5)
    # n = 16/4/1 → sqrt = 4/2/1 → rates 1, 0.5, 0.25 (exact IEEE)
    assert rates == {"a": 1.0, "b": 0.5, "c": 0.25}
    flat = temperature_rates(df, alpha=0.25)
    assert flat["b"] == math.sqrt(math.sqrt(4.0)) / math.sqrt(math.sqrt(16.0))
    # α < 1 flattens: small strata keep MORE than their proportional share
    assert flat["c"] > rates["c"] > 1 / 16
    prop = temperature_rates(df, alpha=1.0, scale=0.5)
    assert prop == {"a": 0.5, "b": 0.5 * (4.0 / 16.0), "c": 0.5 * (1.0 / 16.0)}


def test_temperature_rates_feed_stratified_keep(spark):
    df = spark.createDataFrame(
        [(i, "big" if i % 5 else "small") for i in range(500)],
        "doc_id long, source string",
    )
    rates = temperature_rates(df, alpha=0.5)
    kept = df.filter(
        stratified_keep(rates, "source", F.col("doc_id"))
    ).groupBy("source").count().collect()
    by = {r["source"]: r["count"] for r in kept}
    # the largest stratum keeps rate 1.0 → everything
    assert by["big"] == 400
    # the smaller stratum is downsampled but by LESS than its 1/4 share
    assert 0 < by.get("small", 0) <= 100


def test_temperature_rates_validation():
    with pytest.raises(ValueError, match="alpha"):
        temperature_rates(None, alpha=0.3)
    with pytest.raises(ValueError, match="scale"):
        temperature_rates(None, alpha=0.5, scale=0.0)


def test_temperature_alpha_sweep_ordering(spark):
    """rate_α is monotone in α for sub-maximal strata: α=0.25 flattest."""
    from nyxus_spark.functions import temperature_rates

    df = spark.createDataFrame(
        [(f"s{i}", i) for i in range(1, 5) for _ in range(10 * i)],
        "source string, m int",
    )
    r25 = temperature_rates(df, "source", alpha=0.25)
    r50 = temperature_rates(df, "source", alpha=0.5)
    r75 = temperature_rates(df, "source", alpha=0.75)
    r100 = temperature_rates(df, "source", alpha=1.0)
    for s in ("s1", "s2", "s3"):
        assert r100[s] <= r75[s] <= r50[s] <= r25[s] <= 1.0
    assert r25["s4"] == r50["s4"] == r75["s4"] == r100["s4"] == 1.0
    # α = 0.75 is the exact chain sqrt(n·sqrt(n))
    import math

    n, mx = 10.0, 40.0
    assert r75["s1"] == math.sqrt(n * math.sqrt(n)) / math.sqrt(
        mx * math.sqrt(mx))


# ---------------------------------------------------------------------------
# source_drift
# ---------------------------------------------------------------------------

def test_source_drift_exact(spark):
    df = spark.createDataFrame(
        [
            ("d1", [1, 1, 2], "A"),
            ("d2", [2, 3], "A"),
            ("d3", [1, 2, 2, 2], "B"),
            ("d4", [4], "B"),
            ("d5", [1, 1, 1], "C"),  # other strata ignored
        ],
        "doc_id string, tokens array<int>, source string",
    )
    rows = {r["token"]: r for r in source_drift(df, "A", "B").collect()}
    # N_a = 5, N_b = 5
    # token 1: c_a=2, c_b=1 → |2·5 − 1·5| = 5 ;  token 4: only in B → 5
    assert rows[1]["drift_num"] == 5 and rows[4]["drift_num"] == 5
    # token 2: c_a=2, c_b=3 → |10 − 15| = 5
    assert rows[2]["drift_num"] == 5
    assert rows[2]["cnt_a"] == 2 and rows[2]["cnt_b"] == 3
    assert rows[1]["drift_rate"] == pytest.approx(5 / 25.0)
    assert 5 not in rows  # token from stratum C never appears


def test_source_drift_zero_for_identical_rates(spark):
    # token 7 has the same relative frequency in both strata → drift 0
    df = spark.createDataFrame(
        [("a", [7, 8], "A"), ("b", [7, 7, 8, 8], "B")],
        "doc_id string, tokens array<int>, source string",
    )
    rows = {r["token"]: r for r in source_drift(df, "A", "B").collect()}
    assert rows[7]["drift_num"] == 0 and rows[8]["drift_num"] == 0


# ---------------------------------------------------------------------------
# segment_dedup
# ---------------------------------------------------------------------------

def test_segment_dedup_first_occurrence_wins(spark):
    from nyxus_spark.operators.dedup import segment_dedup

    # segment [1,2] appears in a (seg 0), b (seg 1) and twice in c;
    # delimiter = 9
    data = [
        ("a", [1, 2, 9, 3], 4),
        ("b", [4, 9, 1, 2], 4),
        ("c", [1, 2, 9, 1, 2], 5),
        ("d", [5], 1),
    ]
    df = spark.createDataFrame(data, "doc_id string, tokens array<int>, n_tok int")
    rows = {(r["doc_id"], r["seg_id"]): r for r in segment_dedup(df, 9).collect()}
    assert rows[("a", 0)]["seg_kept"] == 1   # first occurrence of [1,2]
    assert rows[("a", 1)]["seg_kept"] == 1   # [3] unique
    assert rows[("b", 0)]["seg_kept"] == 1   # [4] unique
    assert rows[("b", 1)]["seg_kept"] == 0   # duplicate of a/seg0
    assert rows[("c", 0)]["seg_kept"] == 0
    assert rows[("c", 1)]["seg_kept"] == 0   # in-document duplicate also dropped
    assert rows[("d", 0)]["seg_kept"] == 1
    assert rows[("a", 0)]["seg_sum"] == 3 and rows[("a", 0)]["seg_len"] == 2


def test_segment_dedup_python_reference(spark):
    from nyxus_spark.operators.dedup import segment_dedup

    docs = [(f"d{i:02d}",
             [((i * 13 + j * 7) % 5) for j in range((i % 6) + 1)])
            for i in range(20)]
    df = spark.createDataFrame(
        [(d, t, len(t)) for d, t in docs],
        "doc_id string, tokens array<int>, n_tok int",
    )
    got = {(r["doc_id"], r["seg_id"]): r["seg_kept"]
           for r in segment_dedup(df, 2).collect()}
    seen, want = set(), {}
    for d, t in sorted(docs):  # doc order = string sort = first occurrence
        for sid, seg in enumerate(_py_split(t, 2, False)):
            k = tuple(seg)
            want[(d, sid)] = 0 if k in seen else 1
            seen.add(k)
    assert got == want


# ---------------------------------------------------------------------------
# pq_encode
# ---------------------------------------------------------------------------

def _np_pq(vecs, books, m):
    import numpy as np

    out = {}
    for vid, v in vecs:
        d = len(v) // m
        codes, tot = [], 0
        for j in range(m):
            sub = np.asarray(v[j * d:(j + 1) * d], dtype=np.int64)
            best = None
            for cid, cs in sorted(books[j]):
                dist = int(((sub - np.asarray(cs, dtype=np.int64)) ** 2).sum())
                if best is None or dist < best[0]:
                    best = (dist, cid)
            codes.append(best[1])
            tot += best[0]
        out[vid] = (codes, tot)
    return out


def test_pq_encode_matches_numpy(spark):
    vecs = [(i, [((i * 7 + j * 13) % 19) - 9 for j in range(8)]) for i in range(12)]
    books = {
        j: [(c, [((c * 5 + j * 3 + k) % 17) - 8 for k in range(4)]) for c in range(4)]
        for j in range(2)
    }
    df = spark.createDataFrame(vecs, "vec_id long, qvec array<int>")
    cb = spark.createDataFrame(
        [(j, c, cs) for j, lst in books.items() for c, cs in lst],
        "sub_id int, cent_id int, cent_sub array<int>",
    )
    got = {r["vec_id"]: (r["pq_codes"], r["pq_d2"])
           for r in pq_encode(df, cb, m=2).collect()}
    assert got == _np_pq(vecs, books, 2)


def test_pq_encode_tie_breaks_to_lowest_centroid(spark):
    df = spark.createDataFrame([(0, [0, 0])], "vec_id long, qvec array<int>")
    cb = spark.createDataFrame(
        [(0, 2, [1, 0]), (0, 1, [0, 1]), (0, 3, [5, 5])],
        "sub_id int, cent_id int, cent_sub array<int>",
    )
    r = pq_encode(df, cb, m=1).collect()[0]
    assert r["pq_codes"] == [1] and r["pq_d2"] == 1  # tie (d2=1) → cent 1


def test_pq_encode_validation():
    with pytest.raises(ValueError, match="m must be positive"):
        pq_encode(None, None, 0)


def test_pq_search_adc_matches_numpy(spark):
    import numpy as np

    from nyxus_spark.operators.similarity import pq_search_adc

    m, d, C = 2, 8, 4
    vecs = [(i, [((i * 11 + j * 5) % 21) - 10 for j in range(d)]) for i in range(15)]
    books = {
        j: [(c, [((c * 7 + j * 2 + k * 3) % 15) - 7 for k in range(d // m)])
            for c in range(C)]
        for j in range(m)
    }
    qs = [(100, [((j * 9) % 13) - 6 for j in range(d)]),
          (101, [((j * 4 + 1) % 13) - 6 for j in range(d)])]
    df = spark.createDataFrame(vecs, "vec_id long, qvec array<int>")
    cb = spark.createDataFrame(
        [(j, c, cs) for j, lst in books.items() for c, cs in lst],
        "sub_id int, cent_id int, cent_sub array<int>",
    )
    qdf = spark.createDataFrame(qs, "query_id long, query_qvec array<int>")
    codes = pq_encode(df, cb, m=m)
    got = [(r["query_id"], r["rank"], r["vec_id"], r["adc_d"])
           for r in pq_search_adc(codes, cb, qdf, m=m, k=4).collect()]

    # numpy reference: encode, then ADC = sum of LUT entries, top-k (d, id)
    np_codes = _np_pq(vecs, books, m)
    want = []
    for qid, qv in qs:
        scored = []
        for vid, _ in vecs:
            cs = np_codes[vid][0]
            dist = 0
            for j in range(m):
                sub = np.asarray(qv[j * (d // m):(j + 1) * (d // m)], dtype=np.int64)
                cent = np.asarray(dict(books[j])[cs[j]], dtype=np.int64)
                dist += int(((sub - cent) ** 2).sum())
            scored.append((dist, vid))
        for rank, (dist, vid) in enumerate(sorted(scored)[:4], start=1):
            want.append((qid, rank, vid, dist))
    assert sorted(got) == sorted(want)


# ---------------------------------------------------------------------------
# boilerplate_segments
# ---------------------------------------------------------------------------

def test_boilerplate_flags_all_occurrences(spark):
    from nyxus_spark.operators.dedup import boilerplate_segments, segment_dedup

    # [1,2] appears in docs a, b and twice in c -> boilerplate everywhere
    # (including the first occurrence that seg_kept retains); [7,7] repeats
    # WITHIN d only -> doc-frequency 1, NOT boilerplate
    data = [
        ("a", [1, 2, 9, 3], 4),
        ("b", [4, 9, 1, 2], 4),
        ("c", [1, 2, 9, 1, 2], 5),
        ("d", [7, 7, 9, 7, 7], 5),
    ]
    df = spark.createDataFrame(data, "doc_id string, tokens array<int>, n_tok int")
    segd = boilerplate_segments(
        segment_dedup(df, 9, keep_tokens=True), min_docs=2
    )
    rows = {(r["doc_id"], r["seg_id"]): r for r in segd.collect()}
    assert rows[("a", 0)]["bp_flag"] == 1 and rows[("a", 0)]["seg_kept"] == 1
    assert rows[("b", 1)]["bp_flag"] == 1
    assert rows[("c", 0)]["bp_flag"] == 1 and rows[("c", 1)]["bp_flag"] == 1
    assert rows[("a", 1)]["bp_flag"] == 0  # [3] unique
    assert rows[("d", 0)]["bp_flag"] == 0  # within-doc repetition only
    assert rows[("d", 1)]["bp_flag"] == 0


def test_boilerplate_python_reference(spark):
    from collections import defaultdict

    from nyxus_spark.operators.dedup import boilerplate_segments, segment_dedup

    docs = [(f"d{i:02d}",
             [((i * 11 + j * 5) % 4) for j in range((i % 7) + 1)])
            for i in range(24)]
    df = spark.createDataFrame(
        [(d, t, len(t)) for d, t in docs],
        "doc_id string, tokens array<int>, n_tok int",
    )
    got = {(r["doc_id"], r["seg_id"]): r["bp_flag"]
           for r in boilerplate_segments(
               segment_dedup(df, 2, keep_tokens=True), min_docs=2).collect()}
    docfreq = defaultdict(set)
    for d, t in docs:
        for seg in _py_split(t, 2, False):
            docfreq[tuple(seg)].add(d)
    want = {}
    for d, t in docs:
        for sid, seg in enumerate(_py_split(t, 2, False)):
            want[(d, sid)] = 1 if len(docfreq[tuple(seg)]) >= 2 else 0
    assert got == want


# ---------------------------------------------------------------------------
# minhash_estimate
# ---------------------------------------------------------------------------

def test_minhash_estimate_bounds_and_identity(spark):
    from nyxus_spark.operators.dedup import minhash_estimate

    base = [((j * 13 + 7) % 50) for j in range(30)]
    df = spark.createDataFrame(
        [("a", base, 30), ("b", base, 30),          # identical -> est 1.0
         ("c", base[:15] + [99] * 15, 30)],
        "doc_id string, tokens array<int>, n_tok int",
    )
    pairs = spark.createDataFrame(
        [("a", "b"), ("a", "c")], "id_a string, id_b string")
    rows = {(r["id_a"], r["id_b"]): r for r in minhash_estimate(df, pairs).collect()}
    assert rows[("a", "b")]["sig_match"] == 16
    assert rows[("a", "b")]["est4"] == 1.0
    assert 0 <= rows[("a", "c")]["sig_match"] < 16
    # b-bit (b=2) variant: identical docs agree on every low-bit slot and
    # the collision-floor-corrected estimator hits exactly 1; b-bit
    # agreement can never fall below full-slot agreement
    assert rows[("a", "b")]["bbit_match"] == 16
    assert rows[("a", "b")]["bbit_est4"] == 1.0
    assert rows[("a", "c")]["bbit_match"] >= rows[("a", "c")]["sig_match"]
    import math
    m = rows[("a", "c")]["bbit_match"]
    assert rows[("a", "c")]["bbit_est4"] == math.floor(
        (m - 4.0) / 12.0 * 10000.0 + 0.5) / 10000.0
    assert rows[("a", "c")]["bbit_est4"] <= 1.0


# ---------------------------------------------------------------------------
# source_tv / budget_allocation / lsh_recall_audit
# ---------------------------------------------------------------------------

def test_source_tv_python_reference(spark):
    from collections import Counter
    from fractions import Fraction

    from nyxus_spark.functions import source_tv

    data = [
        ("src0", [1, 1, 2, 3]), ("src0", [2, 4]),
        ("src1", [1, 2, 2, 5]), ("src1", [5, 5]),
        ("src2", [1, 1, 1, 1]),
    ]
    df = spark.createDataFrame(
        [(s, t, len(t)) for s, t in data],
        "source string, tokens array<int>, n_tok int",
    )
    got = {r["source"]: r["tv_num"] for r in source_tv(df, "src0").collect()}
    counts = {}
    for s, t in data:
        counts.setdefault(s, Counter()).update(t)
    n = {s: sum(c.values()) for s, c in counts.items()}
    for s in counts:
        toks = set(counts[s]) | set(counts["src0"])
        want = sum(abs(counts[s][tk] * n["src0"] - counts["src0"][tk] * n[s])
                   for tk in toks)
        assert got[s] == want, s
        # and the exact rational TV is num / (2 n_s n_ref)
        tv = Fraction(want, 2 * n[s] * n["src0"])
        assert 0 <= tv <= 1
    assert got["src0"] == 0


def test_budget_allocation_arithmetic(spark):
    from nyxus_spark.functions import budget_allocation

    df = spark.createDataFrame(
        [("a", 100), ("a", 100), ("b", 700), ("c", 10)],
        "source string, n_chars int",
    )
    rows = {r["source"]: r for r in
            budget_allocation(df, "n_chars", cap_epochs=4).collect()}
    # total 910, budget 455, k 3, share 151
    for s, mass in (("a", 200), ("b", 700), ("c", 10)):
        r = rows[s]
        assert r["budget_mass"] == mass
        assert r["budget_share"] == 151
        assert r["budget_alloc"] == min(4 * mass, 151)
    assert rows["c"]["budget_epochs4"] == 4.0   # capped
    assert rows["b"]["budget_alloc"] == 151     # share-limited


def test_lsh_recall_audit_counts(spark):
    from pyspark.sql import functions as F

    from nyxus_spark.operators.dedup import lsh_recall_audit

    base = [((j * 7 + 1) % 40) for j in range(24)]
    df = spark.createDataFrame(
        [("d1", base, 24), ("d2", base, 24), ("d3", list(range(24)), 24)],
        "doc_id string, tokens array<int>, n_tok int",
    )
    # blocking "found" only the (d1, d2) pair; sample = everything
    pairs = spark.createDataFrame([("d1", "d2")], "id_a string, id_b string")
    row = lsh_recall_audit(df, pairs, F.lit(True)).collect()[0]
    assert row["sample_true_pairs"] == 1      # only d1~d2 >= 0.5 jaccard
    assert row["lsh_found_pairs"] == 1
    assert row["lsh_recall4"] == 1.0
