"""Wave-10 operators: token-level edit-distance verification, tombstone
as-of join (feature-store deletions), negative-sampling distribution."""

import datetime
import math
import random

import pytest
from pyspark.sql import functions as F

from nyxus_spark.operators.asof_join import asof_join_tombstones
from nyxus_spark.operators.dedup import edit_distance_verify
from nyxus_spark.functions import neg_sampling_shares


# ------------------------------------------------ edit-distance verify


def _lev(a, b):
    m, n = len(a), len(b)
    prev = list(range(n + 1))
    for i in range(1, m + 1):
        cur = [i] + [0] * n
        for j in range(1, n + 1):
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1,
                         prev[j - 1] + (a[i - 1] != b[j - 1]))
        prev = cur
    return prev[n]


def _lev_corpus():
    rng = random.Random(7)
    docs = {}
    base = [rng.randrange(0, 251) for _ in range(40)]
    docs["d0"] = base
    docs["d1"] = base[:10] + [250] + base[10:]          # one insert
    docs["d2"] = [x if i != 5 else 249 for i, x in enumerate(base)]  # one sub
    docs["d3"] = [rng.randrange(0, 251) for _ in range(35)]
    docs["d4"] = []
    return docs


def test_edit_distance_matches_python(spark):
    docs = _lev_corpus()
    df = spark.createDataFrame(
        [(k, v, len(v)) for k, v in docs.items()],
        "doc_id string, tokens array<int>, n_tok int",
    )
    ids = sorted(docs)
    pairs = spark.createDataFrame(
        [(a, b) for i, a in enumerate(ids) for b in ids[i + 1:]],
        "id_a string, id_b string",
    )
    got = {(r.id_a, r.id_b): (r.len_a, r.len_b, r.lev_dist, r.lev_sim4)
           for r in edit_distance_verify(df, pairs).collect()}
    for (a, b), (la, lb, d, s4) in got.items():
        ta, tb = docs[a], docs[b]
        assert (la, lb) == (len(ta), len(tb))
        want = _lev(ta, tb)
        assert d == want, (a, b)
        mx = max(la, lb)
        want_s = (math.floor((1.0 - want / mx) * 10000.0 + 0.5) / 10000.0
                  if mx > 0 else 1.0)
        assert s4 == want_s
    assert got[("d0", "d1")][2] == 1
    assert got[("d0", "d2")][2] == 1


def test_edit_distance_out_of_vocab_nulls(spark):
    df = spark.createDataFrame(
        [("a", [1, 2, 3], 3), ("b", [1, 2, 999], 3)],
        "doc_id string, tokens array<int>, n_tok int",
    )
    pairs = spark.createDataFrame([("a", "b")], "id_a string, id_b string")
    r = edit_distance_verify(df, pairs).collect()[0]
    assert r.lev_dist is None


def test_edit_distance_vocab_limit_validation(spark):
    with pytest.raises(ValueError):
        edit_distance_verify(None, None, vocab_limit=300)


# ------------------------------------------------- tombstone as-of


def _ts(s):
    return datetime.datetime(2026, 1, 1, 0, 0, s)


def test_tombstone_erases_and_reinsert_restores(spark):
    versions = spark.createDataFrame(
        [("k", _ts(10), 100, 0),
         ("k", _ts(20), 999, 1),   # tombstone
         ("k", _ts(30), 300, 0)],
        "doc_id string, ts timestamp, val int, deleted int",
    )
    probes = spark.createDataFrame(
        [("k", _ts(5), 0), ("k", _ts(15), 1), ("k", _ts(25), 2), ("k", _ts(35), 3)],
        "doc_id string, ts timestamp, event_id int",
    )
    got = {r.event_id: (r.matched_ts, r.val)
           for r in asof_join_tombstones(probes, versions).collect()}
    assert got[0] == (None, None)            # before any version
    assert got[1] == (_ts(10), 100)          # live version visible
    assert got[2] == (None, None)            # tombstone ERASES, no resurrect
    assert got[3] == (_ts(30), 300)          # re-insert restores
    # the tombstone flag column itself must not leak into the output
    out_cols = asof_join_tombstones(probes, versions).columns
    assert "deleted" not in out_cols


def test_tombstone_missing_column_raises(spark):
    versions = spark.createDataFrame(
        [("k", _ts(10), 100)], "doc_id string, ts timestamp, val int")
    with pytest.raises(ValueError):
        asof_join_tombstones(None, versions)


def test_tombstone_passthrough_strategies_agree(spark):
    rng = random.Random(11)
    versions = spark.createDataFrame(
        [(f"k{i % 3}", _ts(rng.randrange(0, 50)), i, int(i % 4 == 0))
         for i in range(40)],
        "doc_id string, ts timestamp, val int, deleted int",
    ).dropDuplicates(["doc_id", "ts"])
    probes = spark.createDataFrame(
        [(f"k{i % 3}", _ts(rng.randrange(0, 55)), i) for i in range(30)],
        "doc_id string, ts timestamp, event_id int",
    )
    a = {r.event_id: (r.matched_ts, r.val) for r in
         asof_join_tombstones(probes, versions).collect()}
    b = {r.event_id: (r.matched_ts, r.val) for r in
         asof_join_tombstones(probes, versions, salt_slices=4).collect()}
    assert a == b


# ------------------------------------------- negative-sampling shares


def test_neg_sampling_shares_match_python(spark):
    rows = [(5, 1000), (9, 800), (2, 800), (17, 3)]
    top = spark.createDataFrame(rows, "token int, cnt long")
    got = {r.token: r.neg_share4 for r in neg_sampling_shares(top).collect()}
    ws = {t: math.sqrt(math.sqrt(float(c * c * c))) for t, c in rows}
    total = 0.0
    for t in sorted(ws):
        total += ws[t]
    for t, c in rows:
        want = math.floor(ws[t] / total * 10000.0 + 0.5) / 10000.0
        assert got[t] == want
    # 3/4-power flattening: count ratio 1000/3 shrinks to (1000/3)^0.75
    assert got[5] / got[17] == pytest.approx((1000 / 3) ** 0.75, rel=1e-2)


def test_edit_distance_wide_mode_matches_python(spark):
    """Wide mode = Levenshtein over the 2-ASCII-chars-per-token expansion
    (the cross-engine-gateable metric): check against the Python DP on the
    expanded symbol lists, and the d_tok <= d <= 2*d_tok sandwich."""
    docs = _lev_corpus()
    df = spark.createDataFrame(
        [(k, v, len(v)) for k, v in docs.items()],
        "doc_id string, tokens array<int>, n_tok int",
    )
    ids = sorted(docs)
    pairs = spark.createDataFrame(
        [(a, b) for i, a in enumerate(ids) for b in ids[i + 1:]],
        "id_a string, id_b string",
    )
    got = {(r.id_a, r.id_b): (r.lev_dist, r.lev_sim4)
           for r in edit_distance_verify(df, pairs, encoding="wide").collect()}

    def widen(toks):
        out = []
        for t in toks:
            out += [65 + t // 16, 97 + t % 16]
        return out

    for (a, b), (d, s4) in got.items():
        ta, tb = docs[a], docs[b]
        want = _lev(widen(ta), widen(tb))
        assert d == want, (a, b)
        dt = _lev(ta, tb)
        assert dt <= want <= 2 * dt
        mx = 2 * max(len(ta), len(tb))
        want_s = (math.floor((1.0 - want / mx) * 10000.0 + 0.5) / 10000.0
                  if mx > 0 else 1.0)
        assert s4 == want_s


def test_edit_distance_encoding_validation(spark):
    with pytest.raises(ValueError):
        edit_distance_verify(None, None, encoding="bytes")


def test_tombstone_random_vs_python(spark):
    """Random versions/probes vs a pure-Python reference of the deletion
    semantics: latest version at-or-before the probe wins; if it is a
    tombstone the probe sees NOTHING (no resurrection of older values)."""
    rng = random.Random(99)
    vers = {}
    for i in range(120):
        k = f"k{rng.randrange(6)}"
        t = rng.randrange(0, 59)
        vers[(k, t)] = (i, int(rng.random() < 0.3))  # val, deleted
    probes = [(f"k{rng.randrange(6)}", rng.randrange(0, 59), i)
              for i in range(80)]
    vdf = spark.createDataFrame(
        [(k, _ts(t), v, d) for (k, t), (v, d) in vers.items()],
        "doc_id string, ts timestamp, val int, deleted int",
    )
    pdf = spark.createDataFrame(
        [(k, _ts(t), i) for k, t, i in probes],
        "doc_id string, ts timestamp, event_id int",
    )
    got = {r.event_id: (r.matched_ts, r.val)
           for r in asof_join_tombstones(pdf, vdf).collect()}
    for k, t, i in probes:
        cand = [(vt, vv, vd) for (vk, vt), (vv, vd) in vers.items()
                if vk == k and vt <= t]
        if not cand:
            want = (None, None)
        else:
            vt, vv, vd = max(cand)
            want = (None, None) if vd else (_ts(vt), vv)
        assert got[i] == want, (k, t, i)
