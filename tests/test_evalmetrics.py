"""Evaluation helpers outside the feature kernels: the temporal group
split (operators/windows.py) and the cross-multiplied chi-square flag of
the A/B audit (__spark_entry__._ab_chi2)."""


def test_temporal_group_split_laws(spark):
    import datetime as dt

    from nyxus_spark.operators.windows import temporal_group_split

    base = dt.datetime(2024, 1, 1)
    rows = []
    # users 0-3 start early and span the median; users 8-9 start late
    for u in range(4):
        for k in range(10):
            rows.append((f"u{u}", base + dt.timedelta(hours=u + 3 * k)))
    for u in (8, 9):
        for k in range(3):
            rows.append((f"u{u}", base + dt.timedelta(hours=40 + u + k)))
    df = spark.createDataFrame(rows, "doc_id string, ts timestamp")
    got = temporal_group_split(df).toPandas()
    t = got["split_T_us"].iloc[0]
    us = got["key_first_us"]
    # exact lower median of all event times
    import numpy as np
    allus = sorted(int(x.timestamp() * 1e6) for _, x in rows)
    assert t == allus[(len(allus) + 1) // 2 - 1]
    # group disjointness: a key is either fully test or never test
    for u, g in got.groupby("doc_id"):
        kinds = set(g["tsplit"])
        assert (kinds == {2}) == (g["key_first_us"].iloc[0] > t)
        if 2 not in kinds:
            assert kinds <= {0, 1}
    # zero temporal leakage: every TRAIN row is at or before T
    import pandas as pd
    ev_us = got.apply(lambda r: int(pd.Timestamp(r["ts"]).timestamp() * 1e6), axis=1)
    assert ((ev_us[got["tsplit"] == 0] <= t)).all()
    assert ((ev_us[got["tsplit"] == 1] > t)).all()


def test_chi2_flag_matches_scipy_free_reference(spark):
    """The cross-multiplied significance decision equals the float chi2
    comparison on hand-built 2x2 tables spanning both sides of 3.841."""
    import __spark_entry__ as m

    tables = [
        (50, 50, 50, 50),      # chi2 = 0 -> not significant
        (70, 30, 30, 70),      # strongly significant
        (60, 40, 47, 53),      # near the boundary
        (0, 100, 0, 100),      # degenerate margin -> den has a zero factor
    ]
    for a, b, c, d in tables:
        rows = (
            [(2, "1-URGENT")] * a + [(2, "3-MEDIUM")] * b
            + [(3, "1-URGENT")] * c + [(3, "3-MEDIUM")] * d
        )
        df = spark.createDataFrame(
            [(i, k, p) for i, (k, p) in enumerate(rows)],
            "rid long, o_custkey long, o_orderpriority string")
        r = m._ab_chi2(df).first()
        assert (r["ab_a"], r["ab_b"], r["ab_c"], r["ab_d"]) == (a, b, c, d)
        n = a + b + c + d
        den = (a + b) * (c + d) * (a + c) * (b + d)
        if den == 0:
            assert r["chi2_4"] is None and r["chi2_sig"] == 0
        else:
            chi2 = n * (a * d - b * c) ** 2 / den
            assert abs(r["chi2_4"] - chi2) < 1e-3
            assert r["chi2_sig"] == (1 if chi2 > 3.841459 else 0)
