"""Wave-51 operators: ColBERT-style MaxSim late interaction, rendezvous
(HRW) sharding with the minimal-disruption law, nucleus (top-p)
vocabulary truncation."""
import math

import pytest
from pyspark.sql import functions as F

from nyxus_spark.functions import nucleus_flags, rendezvous_shard
from nyxus_spark.operators.similarity import maxsim_scores


def _r4(x):
    return math.floor(x * 10000.0 + 0.5) / 10000.0


def _cos4(a, b):
    d = sum(x * y for x, y in zip(a, b))
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(x * x for x in b))
    return _r4(d / (na * nb))


# ---------------------------------------------------------------------------
# MaxSim (ColBERT late interaction)
# ---------------------------------------------------------------------------

def test_maxsim_matches_python_and_sees_semantic_match(spark):
    # token 0 and token 1 are near-parallel; 2 is orthogonal; 3 zero-norm
    emb = {0: [1.0, 0.0], 1: [0.99, 0.1], 2: [0.0, 1.0], 3: [0.0, 0.0]}
    te = spark.createDataFrame([(k, v) for k, v in emb.items()],
                               "tok long, embedding array<double>")
    docs = spark.createDataFrame(
        [("doc_0", [0]),        # exact query token
         ("doc_1", [1]),        # semantic match only (BM25 would score 0)
         ("doc_2", [2]),        # orthogonal
         ("doc_3", [3]),        # only a zero-norm token: sentinel
         ("doc_4", [1, 2])],
        "doc_id string, tokens array<int>",
    )
    got = {r["doc_id"]: (r["cb_0"], r["colbert4"])
           for r in maxsim_scores(docs, te, [0]).collect()}
    assert got["doc_0"] == (1.0, 1.0)
    assert got["doc_1"] == (_cos4(emb[0], emb[1]), _cos4(emb[0], emb[1]))
    assert got["doc_1"][1] > 0.99          # the semantic match BM25 misses
    assert got["doc_2"] == (0.0, 0.0)
    assert got["doc_3"] == (-2.0, 0.0)     # zero-norm tokens excluded
    assert got["doc_4"][0] == _cos4(emb[0], emb[1])  # max over doc tokens


def test_maxsim_sums_terms_in_fixed_order(spark):
    emb = {0: [1.0, 0.0], 1: [0.0, 1.0], 5: [1.0, 1.0]}
    te = spark.createDataFrame([(k, v) for k, v in emb.items()],
                               "tok long, embedding array<double>")
    docs = spark.createDataFrame([("doc_0", [5])],
                                 "doc_id string, tokens array<int>")
    r = maxsim_scores(docs, te, [1, 0]).collect()[0]  # unsorted input terms
    m0, m1 = _cos4(emb[0], emb[5]), _cos4(emb[1], emb[5])
    assert r["colbert4"] == _r4(m0 + m1)   # term-id order: 0 then 1


def test_maxsim_empty_terms_raises(spark):
    te = spark.createDataFrame([(0, [1.0])], "tok long, embedding array<double>")
    docs = spark.createDataFrame([("doc_0", [0])], "doc_id string, tokens array<int>")
    with pytest.raises(ValueError):
        maxsim_scores(docs, te, [])


# ---------------------------------------------------------------------------
# rendezvous (HRW) sharding
# ---------------------------------------------------------------------------

P31 = 2147483647


def _py_hrw(key, n, mix=1103515245, salt=506952114):
    best = None
    for s in range(n):
        h = ((key % P31) * mix % P31 + (s + 1) * salt) % P31
        if best is None or (h, s) > best:
            best = (h, s)
    return best[1]


def test_rendezvous_matches_python_and_minimal_disruption(spark):
    keys = list(range(1000))
    df = spark.createDataFrame([(k,) for k in keys], "id bigint")
    out = df.select(
        "id",
        rendezvous_shard("id", 8).alias("s8"),
        rendezvous_shard("id", 9).alias("s9"),
    ).collect()
    for r in out:
        assert r["s8"] == _py_hrw(r["id"], 8)
        assert r["s9"] == _py_hrw(r["id"], 9)
    moved = [r for r in out if r["s8"] != r["s9"]]
    # THE law rendezvous hashing exists for: growing 8 → 9 shards moves
    # only keys that now win on the NEW shard — nothing shuffles laterally
    assert moved and all(r["s9"] == 8 for r in moved)
    # and the moved fraction is near 1/9, not 8/9 like mod-n
    assert len(moved) < len(keys) * 0.25


def test_rendezvous_rejects_bad_n(spark):
    with pytest.raises(ValueError):
        rendezvous_shard("id", 0)


# ---------------------------------------------------------------------------
# nucleus (top-p) truncation
# ---------------------------------------------------------------------------

def test_nucleus_flags_smallest_covering_prefix(spark):
    # counts: a=50, b=30, c=15, d=5 (total 100); p=0.9 → {a, b, c} exactly
    rows = [("d0", [0] * 50 + [1] * 30 + [2] * 15 + [3] * 5)]
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>")
    got = {r["tok"]: (r["nuc_cum"], r["in_nucleus"])
           for r in nucleus_flags(df, 9, 10).collect()}
    assert got == {0: (50, 1), 1: (80, 1), 2: (95, 1), 3: (100, 0)}
    # boundary: the token whose PREVIOUS cum already reaches p is out
    got80 = {r["tok"]: r["in_nucleus"] for r in nucleus_flags(df, 8, 10).collect()}
    assert got80 == {0: 1, 1: 1, 2: 0, 3: 0}  # cum-before(c) = 80 = 0.8·100


def test_nucleus_rejects_bad_p(spark):
    df = spark.createDataFrame([("d0", [1])], "doc_id string, tokens array<int>")
    with pytest.raises(ValueError):
        nucleus_flags(df, 11, 10)


# ---------------------------------------------------------------------------
# MERGE / upsert (wave 52)
# ---------------------------------------------------------------------------

def test_merge_upsert_all_four_actions(spark):
    from nyxus_spark.sinks import merge_upsert

    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, "d", 40)],
        "id long, name string, v long",
    )
    upd = spark.createDataFrame(
        [
            (2, "B", 21, False),   # matched           → UPDATE
            (3, "c", 30, True),    # matched + delete  → DELETE
            (5, "e", 50, False),   # not matched       → INSERT
            (9, "x", 99, True),    # delete for absent key → no-op
        ],
        "id long, name string, v long, del boolean",
    )
    got = {r["id"]: (r["name"], r["v"])
           for r in merge_upsert(old, upd, ["id"], delete_col="del").collect()}
    assert got == {1: ("a", 10),    # untouched passthrough
                   2: ("B", 21),    # updated
                   4: ("d", 40),    # untouched passthrough
                   5: ("e", 50)}    # inserted; 3 deleted, 9 no-op


def test_merge_upsert_without_delete_col(spark):
    from nyxus_spark.sinks import merge_upsert

    old = spark.createDataFrame([(1, 10)], "id long, v long")
    upd = spark.createDataFrame([(1, 11), (2, 22)], "id long, v long")
    got = {r["id"]: r["v"] for r in merge_upsert(old, upd, ["id"]).collect()}
    assert got == {1: 11, 2: 22}


def test_merge_upsert_missing_column_raises(spark):
    from nyxus_spark.sinks import merge_upsert

    old = spark.createDataFrame([(1, 10)], "id long, v long")
    upd = spark.createDataFrame([(1,)], "id long")
    with pytest.raises(ValueError):
        merge_upsert(old, upd, ["id"])
