"""Wave-32 operators: DSIR importance weights (hashed-bigram n-gram
importance resampling, Xie et al. NeurIPS 2023), k-fold assignment."""
import math

import pytest
from pyspark.sql import functions as F

from nyxus_spark.functions import dsir_weights
from nyxus_spark.functions.text import HB_K1, HB_K2, HB_P31


# ---------------------------------------------------------------------------
# DSIR importance weights
# ---------------------------------------------------------------------------

def _bucket(a: int, c: int, b: int = 1024) -> int:
    return ((a * HB_K1 + c * HB_K2) % HB_P31) % b


def _py_dsir(rows, target_ids, b: int = 1024):
    """Pure-Python reference: smoothed bucket ratios, sequential product."""
    cr: dict[int, int] = {}
    ct: dict[int, int] = {}
    nr = nt = 0
    for doc_id, toks in rows:
        for x, y in zip(toks, toks[1:]):
            k = _bucket(x, y, b)
            cr[k] = cr.get(k, 0) + 1
            nr += 1
            if doc_id in target_ids:
                ct[k] = ct.get(k, 0) + 1
                nt += 1
    out = {}
    for doc_id, toks in rows:
        w = 1.0
        for x, y in zip(toks, toks[1:]):
            k = _bucket(x, y, b)
            num = float((ct.get(k, 0) + 1) * (nr + b))
            den = float((cr.get(k, 0) + 1) * (nt + b))
            w = w * (num / den)
        out[doc_id] = w
    return out


@pytest.fixture(scope="module")
def dsir_fixture(spark):
    # target docs (even ids) share a bigram dialect; odd ids another —
    # so target-side ratios genuinely exceed 1 on the target dialect
    rows = []
    for i in range(40):
        if i % 2 == 0:
            toks = [(7 * i + j) % 50 for j in range(30)]
        else:
            toks = [(11 * i + 3 * j) % 200 + 50 for j in range(30)]
        rows.append((i, toks))
    rows.append((99, [5]))   # single-token doc: zero pairs, weight 1.0
    rows.append((98, []))    # empty doc
    df = spark.createDataFrame(
        [(i, t, len(t)) for i, t in rows], ["doc_id", "tokens", "n_tok"]
    ).withColumn("tokens", F.col("tokens").cast("array<int>"))
    return rows, df


def test_dsir_matches_python_reference(spark, dsir_fixture):
    rows, df = dsir_fixture
    target = {i for i, _ in rows if i % 2 == 0}
    _, scored = dsir_weights(df, (F.col("doc_id") % 2 == 0))
    got = {r.doc_id: (r.dsir_w, r.dsir_pairs, r.dsir_keep)
           for r in scored.collect()}
    exp = _py_dsir(rows, target)
    assert set(got) == set(exp)
    for doc_id, (w, pairs, keep) in got.items():
        assert w == exp[doc_id], f"doc {doc_id}: {w} != {exp[doc_id]}"
        assert pairs == max(len(dict(rows)[doc_id]) - 1, 0)
        assert keep == (1 if w > 1.0 else 0)


def test_dsir_separates_target_dialect(spark, dsir_fixture):
    rows, df = dsir_fixture
    _, scored = dsir_weights(df, (F.col("doc_id") % 2 == 0))
    got = {r.doc_id: r.dsir_w for r in scored.collect()}
    # every target-dialect doc must outweigh every non-target doc
    tgt = [w for i, w in got.items() if i < 90 and i % 2 == 0]
    oth = [w for i, w in got.items() if i < 90 and i % 2 == 1]
    assert min(tgt) > max(oth)
    # zero-pair docs carry the neutral weight exactly
    assert got[99] == 1.0 and got[98] == 1.0


def test_dsir_ratio_array_shape(spark, dsir_fixture):
    _, df = dsir_fixture
    ratios_row, _ = dsir_weights(df, (F.col("doc_id") % 2 == 0))
    arr = ratios_row.collect()[0].dsir_arr
    assert len(arr) == 1024
    assert all(math.isfinite(v) and v > 0 for v in arr)


# ---------------------------------------------------------------------------
# SemDeDup (cluster-then-dedup-within-cluster)
# ---------------------------------------------------------------------------

def _sd_df(spark):
    # two well-separated clusters on axes e0 and e1; one exact dup (id 10)
    # and one near dup (id 11) of id 0; id 20 is an exact dup of id 1 —
    # but ids 0/10/11 and 1/20 live in DIFFERENT clusters
    rows = [
        (0, [100, 1, 0, 0]),
        (10, [100, 1, 0, 0]),          # exact dup of 0
        (11, [100, 2, 0, 0]),          # near dup of 0
        (1, [1, 100, 0, 0]),
        (20, [1, 100, 0, 0]),          # exact dup of 1
        (2, [0, 90, 40, 0]),           # cluster-1 member, not a dup
        (30, [0, 0, 0, 0]),            # zero vector: never pairs
    ]
    return spark.createDataFrame(rows, ["vec_id", "qv"])


def test_semdedup_keeps_lowest_id_within_cluster(spark):
    from nyxus_spark.operators.dedup import semdedup

    df = _sd_df(spark)
    seeds = df.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("cent_id"), F.col("qv").alias("cent_qvec"))
    out = {r.vec_id: r for r in
           semdedup(df, seeds, threshold=0.98, vec_col="qv").collect()}
    assert len(out) == 7
    # exact dups drop against their lower-id original; originals survive
    assert out[0].sd_drop == 0 and out[10].sd_drop == 1 and out[20].sd_drop == 1
    assert out[10].sd_max_cos4 == 1.0 and out[20].sd_max_cos4 == 1.0
    # near dup (cos ~0.99995) drops too
    assert out[11].sd_drop == 1 and out[11].sd_max_cos4 >= 0.9999
    # non-dup cluster member survives with the sentinel max-cos
    assert out[2].sd_drop == 0 and out[2].sd_max_cos4 == -2.0
    # zero vector never pairs (n2 > 0 guard), never drops
    assert out[30].sd_drop == 0
    # cluster blocking: members of cluster 0 vs cluster 1 never compared
    assert out[0].sd_cluster == 0 and out[1].sd_cluster == 1
    assert out[10].sd_cluster == 0 and out[20].sd_cluster == 1


def test_semdedup_cluster_boundary_bounds_recall(spark):
    """The published algorithm's documented recall limit: a near-identical
    pair SPLIT across clusters is not found — pin it so the blocking
    contract stays explicit."""
    from nyxus_spark.operators.dedup import semdedup

    # v and w are near-identical but each sits nearer a different seed
    rows = [
        (0, [100, 0, 50, 0]),
        (1, [0, 100, 0, 50]),
        (5, [60, 55, 30, 27]),   # nearer seed 0
        (6, [55, 60, 27, 30]),   # nearer seed 1; cos(5,6) ~ 0.99
    ]
    df = spark.createDataFrame(rows, ["vec_id", "qv"])
    seeds = df.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("cent_id"), F.col("qv").alias("cent_qvec"))
    out = {r.vec_id: r for r in
           semdedup(df, seeds, threshold=0.95, vec_col="qv").collect()}
    assert out[5].sd_cluster != out[6].sd_cluster
    assert out[6].sd_drop == 0  # missed by design: different cells


def test_assign_nearest_ties_to_lowest_centroid(spark):
    from nyxus_spark.operators.similarity import assign_nearest

    df = spark.createDataFrame([(7, [5, 5])], ["vec_id", "qv"])
    cents = spark.createDataFrame(
        [(3, [5, 6]), (1, [6, 5]), (2, [4, 4])],
        ["cent_id", "cent_qvec"])
    # distances: to 3 → 1, to 1 → 1, to 2 → 2 ⇒ tie between 3 and 1 → 1
    got = assign_nearest(df, cents, vec_col="qv").collect()
    assert got[0].assigned_cent == 1


# ---------------------------------------------------------------------------
# largest-remainder apportionment
# ---------------------------------------------------------------------------

def test_largest_remainder_allocates_exactly_k(spark):
    from nyxus_spark.functions import largest_remainder_alloc

    # skewed counts that do NOT divide k evenly: 7/5/3/2 of 17 rows, k=10
    rows = [("a",)] * 7 + [("b",)] * 5 + [("c",)] * 3 + [("d",)] * 2
    df = spark.createDataFrame(rows, ["source"])
    out = {r.source: r for r in largest_remainder_alloc(df, 10).collect()}
    # floors: 70//17=4, 50//17=2, 30//17=1, 20//17=1 → 8; leftovers = 2
    assert {s: r.lr_floor for s, r in out.items()} == {"a": 4, "b": 2, "c": 1, "d": 1}
    # remainders: a=2, b=16, c=13, d=3 → bonuses to b and c
    assert {s: r.lr_bonus for s, r in out.items()} == {"a": 0, "b": 1, "c": 1, "d": 0}
    assert sum(r.lr_alloc for r in out.values()) == 10
    # python cross-check of the whole rule
    n = {"a": 7, "b": 5, "c": 3, "d": 2}
    tot = sum(n.values())
    fl = {s: 10 * v // tot for s, v in n.items()}
    rem = {s: 10 * v % tot for s, v in n.items()}
    left = 10 - sum(fl.values())
    ranked = sorted(n, key=lambda s: (-rem[s], s))[:left]
    for s in n:
        assert out[s].lr_alloc == fl[s] + (1 if s in ranked else 0)
    with pytest.raises(ValueError):
        largest_remainder_alloc(df, 0)


def test_largest_remainder_tie_breaks_on_source(spark):
    from nyxus_spark.functions import largest_remainder_alloc

    # two sources with IDENTICAL remainders competing for one slot → the
    # lexicographically lower source wins
    rows = [("x",)] * 3 + [("y",)] * 3 + [("z",)] * 2
    df = spark.createDataFrame(rows, ["source"])
    out = {r.source: r for r in largest_remainder_alloc(df, 5).collect()}
    # floors: 15//8=1, 15//8=1, 10//8=1 → 3; rems: 7, 7, 2; left=2 → x,y
    assert (out["x"].lr_bonus, out["y"].lr_bonus, out["z"].lr_bonus) == (1, 1, 0)
    assert sum(r.lr_alloc for r in out.values()) == 5


# ---------------------------------------------------------------------------
# exact two-sample KS drift
# ---------------------------------------------------------------------------

def test_ks_drift_matches_python_reference(spark):
    from nyxus_spark.operators.prescan import ks_drift

    rows = (
        [("a", v) for v in (1, 1, 2, 3, 5, 8, 8, 9)]
        + [("b", v) for v in (4, 5, 6, 6, 7)]
        + [("c", v) for v in (1, 9)]
    )
    df = spark.createDataFrame(rows, ["source", "n_chars"])
    got = {r.source: r for r in ks_drift(df).collect()}
    xs = sorted({v for _, v in rows})
    n_all = len(rows)
    for s in ("a", "b", "c"):
        mine = [v for g, v in rows if g == s]
        rest = [v for g, v in rows if g != s]
        num = max(
            abs(sum(v <= x for v in mine) * len(rest)
                - sum(v <= x for v in rest) * len(mine))
            for x in xs)
        assert got[s].ks_num == num
        assert got[s].ks_den == len(mine) * (n_all - len(mine))
        import math
        assert got[s].ks_d4 == math.floor(num / got[s].ks_den * 10000 + 0.5) / 10000


def test_ks_drift_whole_corpus_group_is_zero(spark):
    from nyxus_spark.operators.prescan import ks_drift

    df = spark.createDataFrame([("only", v) for v in (1, 2, 3)],
                               ["source", "n_chars"])
    r = ks_drift(df).collect()[0]
    assert (r.ks_num, r.ks_den, r.ks_d4) == (0, 0, 0.0)


# ---------------------------------------------------------------------------
# z-order clustering key
# ---------------------------------------------------------------------------

def _py_z(a: int, b: int, bits: int = 16) -> int:
    z = 0
    for i in range(bits):
        z |= ((a >> i) & 1) << (2 * i)
        z |= ((b >> i) & 1) << (2 * i + 1)
    return z


def test_zorder_key_matches_python_interleave(spark):
    from nyxus_spark.functions import zorder_key

    rows = [(0, 0), (1, 0), (0, 1), (3, 5), (65535, 65535),
            (70000, 2), (12345, 54321)]
    df = spark.createDataFrame(rows, ["a", "b"])
    got = df.select(
        "a", "b",
        zorder_key("cast(a as bigint)", "cast(b as bigint)").alias("z"),
    ).collect()
    for r in got:
        # bits above 16 are dropped (fixed-precision z-map)
        assert r.z == _py_z(r.a & 0xFFFF, r.b & 0xFFFF)
    with pytest.raises(ValueError):
        zorder_key("a", "b", bits=32)


def test_zorder_buckets_are_rectangles(spark):
    """The locality property the layout relies on: every aligned z-range
    (bucket of 2^2k consecutive keys) covers ONE k-bit-aligned rectangle
    in (a, b) space."""
    from nyxus_spark.functions import zorder_key

    rows = [(a, b) for a in range(32) for b in range(32)]
    df = spark.createDataFrame(rows, ["a", "b"])
    out = df.select(
        "a", "b",
        (zorder_key("cast(a as bigint)", "cast(b as bigint)") / 16)
        .cast("long").alias("zb"),  # buckets of 16 keys = 4x4 squares
    ).collect()
    ext = {}
    for r in out:
        lo = ext.setdefault(r.zb, [r.a, r.a, r.b, r.b])
        lo[0] = min(lo[0], r.a); lo[1] = max(lo[1], r.a)
        lo[2] = min(lo[2], r.b); lo[3] = max(lo[3], r.b)
    for zb, (a0, a1, b0, b1) in ext.items():
        assert a1 - a0 == 3 and b1 - b0 == 3      # exact 4x4 squares
        assert a0 % 4 == 0 and b0 % 4 == 0        # aligned


# ---------------------------------------------------------------------------
# inverted-index posting stats
# ---------------------------------------------------------------------------

def test_posting_stats_matches_python_reference(spark):
    from nyxus_spark.functions import posting_stats

    rows = [
        ("doc_0", [5, 7, 5]),        # dup within doc: postings are distinct
        ("doc_3", [5]),
        ("doc_10", [5, 9]),
        ("doc_11", [9]),
    ]
    df = spark.createDataFrame(
        [(d, t, len(t)) for d, t in rows], ["doc_id", "tokens", "n_tok"])
    got = {r.token: r for r in posting_stats(df).collect()}
    # token 5 -> docs [0, 3, 10]: gaps g1=0+1, 3, 7
    assert got[5].post_df == 3 and got[5].post_first == 0
    assert got[5].post_max_gap == 7
    assert got[5].post_bits == len(bin(1)[2:]) + len(bin(3)[2:]) + len(bin(7)[2:])
    # token 9 -> docs [10, 11]: g1=11, g2=1
    assert got[9].post_df == 2 and got[9].post_first == 10
    assert got[9].post_max_gap == 1
    assert got[9].post_bits == len(bin(11)[2:]) + len(bin(1)[2:])
    # token 7 -> single posting: max_gap 0 by convention
    assert got[7].post_df == 1 and got[7].post_max_gap == 0
    assert got[7].post_bits == len(bin(1)[2:])


def test_stratified_fold_balance_within_one(spark):
    """The sample_hash stratified k-fold construction: per (source, fold)
    cell sizes differ by at most 1 within every source."""
    from nyxus_spark.functions import epoch_shuffle_key

    rows = [(i, f"s{i % 3}") for i in range(100)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    from pyspark.sql import Window
    w = Window.partitionBy("source").orderBy(
        epoch_shuffle_key(F.col("doc_id"), 0).asc(), F.col("doc_id").asc())
    stf = df.select(
        "source", ((F.row_number().over(w) - 1) % 5).alias("st_fold"))
    sizes = {}
    for r in stf.groupBy("source", "st_fold").count().collect():
        sizes.setdefault(r.source, []).append(r["count"])
    for src, cs in sizes.items():
        assert len(cs) == 5 and max(cs) - min(cs) <= 1, (src, cs)
