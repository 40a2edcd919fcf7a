"""greedy_set_cover: greedy maximum-coverage picks vs a pure-Python replay,
distinct picks once coverage is exhausted, and the k bounds."""


def test_greedy_set_cover_matches_python(spark):
    import random

    from nyxus_spark.operators import greedy_set_cover

    rng = random.Random(3)
    rows = []
    sets = {}
    for oid in range(40):
        s = sorted(rng.sample(range(200), rng.randint(3, 25)))
        rows.append((oid, s))
        sets[oid] = set(s)
    df = spark.createDataFrame(rows, "oid long, ts array<int>")
    got = {
        r["oid"]: (r["sc_step"], r["sc_gain"])
        for r in greedy_set_cover(df, k=6).collect()
    }
    cov, exp = set(), {}
    for step in range(1, 7):
        best = max(sets.items(), key=lambda kv: (len(kv[1] - cov), -kv[0]))
        exp[best[0]] = (step, len(best[1] - cov))
        cov |= best[1]
        del sets[best[0]]  # picked docs are excluded from later rounds
    assert got == exp


def test_greedy_set_cover_distinct_picks_after_exhaustion(spark):
    # once coverage is exhausted every remaining gain is 0 — the walk must
    # keep emitting DISTINCT ids (the ADVICE r4 duplicate-pick defect), and
    # stop early when the corpus runs out of rows.
    from nyxus_spark.operators import greedy_set_cover

    df = spark.createDataFrame(
        [(1, [7, 8]), (2, [7]), (3, [8])], "oid long, ts array<int>"
    )
    got = greedy_set_cover(df, k=5).collect()
    ids = [r["oid"] for r in got]
    assert ids == [1, 2, 3]  # distinct, lowest-id tie-break, stops at 3 rows
    assert [r["sc_gain"] for r in got] == [2, 0, 0]
    assert [r["sc_step"] for r in got] == [1, 2, 3]


def test_greedy_set_cover_k_bounds(spark):
    import pytest

    from nyxus_spark.operators import greedy_set_cover

    df = spark.createDataFrame([(1, [1])], "oid long, ts array<int>")
    with pytest.raises(ValueError):
        greedy_set_cover(df, k=0)
    with pytest.raises(ValueError):
        greedy_set_cover(df, k=17)
