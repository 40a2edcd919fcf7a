"""Wave-17 operators: winnowing fingerprints (MOSS) and their pair
verification — pinned against a pure-Python reference on randomized token
streams."""

import random

import pyspark.sql.functions as F
import pytest

from nyxus_spark.functions.text import winnow_exprs
from nyxus_spark.operators.dedup import winnow_verify

P31, BASE = 2147483647, 1000003


def _ref_winnow(toks, k=4, w=4):
    n = len(toks)
    if n < k + w - 1:
        return [], []
    hs = []
    for i in range(n - k + 1):
        a = 0
        for t in toks[i:i + k]:
            a = (a * BASE + t) % P31
        hs.append(a)
    fps = []
    for s in range(len(hs) - w + 1):
        win = hs[s:s + w]
        m = min(win)
        j = max(j for j in range(w) if win[j] == m)  # rightmost minimum
        fps.append((s + j) * 2147483648 + m)
    out = list(dict.fromkeys(fps))
    return out, list(dict.fromkeys(e % 2147483648 for e in out))


def _rand_docs(seed=11, n_docs=50, vocab=8, max_len=40):
    rng = random.Random(seed)
    rows = []
    for i in range(n_docs):
        n = rng.randint(0, max_len)
        toks = [rng.randrange(vocab) for _ in range(n)]
        if i % 5 == 0 and n >= 8:  # inject genuine periodicity
            p = rng.choice([1, 2, 3])
            toks = [toks[j % p] for j in range(n)]
        rows.append((i, toks, len(toks)))
    return rows


@pytest.fixture(scope="module")
def tokdf(spark):
    return spark.createDataFrame(
        _rand_docs(), "doc_id long, tokens array<int>, n_tok long"
    ).cache()


def test_winnow_matches_reference(tokdf):
    wn = winnow_exprs("tokens", "n_tok", k=4, w=4)
    got = tokdf.select("doc_id", "tokens", wn["wn_fps"].alias("fps"),
                       wn["wn_set"].alias("hset")).collect()
    assert got, "empty fixture"
    nonempty = 0
    for r in got:
        fps, hset = _ref_winnow(list(r.tokens))
        assert sorted(r.fps) == sorted(fps), r.doc_id
        assert sorted(r.hset) == sorted(hset), r.doc_id
        nonempty += bool(fps)
    assert nonempty >= 10, "fixture too short to exercise winnowing"


def test_winnow_guarantee_shared_run(spark):
    """The winnowing contract: any shared run of >= k + w - 1 tokens yields
    at least one shared fingerprint hash (MOSS theorem 1)."""
    rng = random.Random(5)
    shared = [rng.randrange(100) for _ in range(9)]  # run of k+w-1=7 plus pad
    a = [rng.randrange(100) for _ in range(10)] + shared
    b = shared + [rng.randrange(100) for _ in range(12)]
    df = spark.createDataFrame([(0, a), (1, b)],
                               "doc_id long, tokens array<int>")
    wn = winnow_exprs("tokens", "size(tokens)")
    rows = {r.doc_id: set(r.hset)
            for r in df.select("doc_id", wn["wn_set"].alias("hset")).collect()}
    assert rows[0] & rows[1], "shared 9-token run produced no common fingerprint"


def test_winnow_short_doc_empty(spark):
    df = spark.createDataFrame([(0, [1, 2, 3, 4, 5, 6])],
                               "doc_id long, tokens array<int>")
    wn = winnow_exprs("tokens", "size(tokens)", k=4, w=4)
    r = df.select(wn["wn_fps"].alias("f"), wn["wn_set"].alias("s")).first()
    assert r.f == [] and r.s == []  # n < k+w-1 = 7


def test_winnow_param_validation():
    with pytest.raises(ValueError):
        winnow_exprs(k=1)
    with pytest.raises(ValueError):
        winnow_exprs(w=0)


def test_winnow_verify_pairs(spark):
    rng = random.Random(9)
    base = [rng.randrange(50) for _ in range(30)]
    near = base[:25] + [rng.randrange(50) for _ in range(5)]
    far = [rng.randrange(50) for _ in range(30)]
    df = spark.createDataFrame(
        [("a", base), ("b", near), ("c", far)],
        "doc_id string, tokens array<int>")
    pairs = spark.createDataFrame([("a", "b"), ("a", "c")],
                                  "id_a string, id_b string")
    got = {(r.id_a, r.id_b): r
           for r in winnow_verify(df, pairs).collect()}
    ab, ac = got[("a", "b")], got[("a", "c")]
    # reference values
    fa, ha = _ref_winnow(base)
    fb, hb = _ref_winnow(near)
    assert ab.wn_fp_a == len(fa) and ab.wn_fp_b == len(fb)
    assert ab.wn_a == len(set(ha)) and ab.wn_b == len(set(hb))
    assert ab.wn_common == len(set(ha) & set(hb))
    assert ab.wn_common > 0, "25-token shared prefix must share fingerprints"
    assert ab.wn_sim4 > ac.wn_sim4
