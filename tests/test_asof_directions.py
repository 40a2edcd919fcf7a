"""Forward/nearest as-of join directions (pandas merge_asof parity).

The reference aligns each intensity slice to its segmentation mask by
nearest-z when stacks are misaligned (the backward-only case is the common
one); in the token recast forward/nearest are the standard event-study
variants: forward = first version AFTER the probe (post-event state),
nearest = closest in time either way, ties backward. The union_window plan
must agree with pandas merge_asof on every direction, and the salted
(time-sliced) plan on the backward direction it supports.
"""

import datetime

import pandas as pd
import pytest

# the two as-of plans; the salted one is backward-only
PLANS = {"union_window": {}, "salted": {"salt_slices": 3}}


def _ts(s):
    return datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=s)


@pytest.fixture(scope="module")
def fixture(spark):
    versions = spark.createDataFrame(
        [(1, _ts(10), 100), (1, _ts(20), 200), (1, _ts(30), 300),
         (2, _ts(5), 50), (3, _ts(100), 999)],
        "doc_id bigint, ts timestamp, n_tok bigint",
    )
    probes = spark.createDataFrame(
        [(1, _ts(4), 1), (1, _ts(15), 2), (1, _ts(20), 3), (1, _ts(25), 4),
         (1, _ts(99), 5), (2, _ts(1), 6), (3, _ts(100), 7), (4, _ts(7), 8)],
        "doc_id bigint, ts timestamp, event_id bigint",
    )
    return probes, versions


def _run(probes, versions, **kw):
    from nyxus_spark.operators import asof_join

    rows = asof_join(probes, versions, **kw).collect()
    return {r["event_id"]: (r["matched_ts"], r["n_tok"]) for r in rows}


def test_forward_hand_computed(fixture):
    probes, versions = fixture
    got = _run(probes, versions, direction="forward")
    # probe before all versions → first version; at a version ts → inclusive;
    # after all versions → null
    assert got[1] == (_ts(10), 100)
    assert got[2] == (_ts(20), 200)
    assert got[3] == (_ts(20), 200)  # inclusive at equality
    assert got[4] == (_ts(30), 300)
    assert got[5] == (None, None)    # no future version
    assert got[6] == (_ts(5), 50)
    assert got[7] == (_ts(100), 999)
    assert got[8] == (None, None)    # key with no versions


def test_nearest_hand_computed(fixture):
    probes, versions = fixture
    got = _run(probes, versions, direction="nearest")
    assert got[1] == (_ts(10), 100)   # only future side exists
    # probe 15: backward Δ5 vs forward Δ5 — TIE goes backward (pandas)
    assert got[2] == (_ts(10), 100)
    assert got[3] == (_ts(20), 200)   # exact hit
    assert got[4] == (_ts(20), 200)   # 25: Δ5 both ways — tie → backward
    assert got[5] == (_ts(30), 300)   # only past side
    assert got[6] == (_ts(5), 50)
    assert got[8] == (None, None)


@pytest.mark.parametrize("exact,direction,plan", [
    (exact, direction, plan)
    for plan in PLANS
    for direction in ("backward", "forward", "nearest")
    for exact in (True, False)
    if plan == "union_window" or direction == "backward"
])
def test_matches_pandas_random(spark, exact, direction, plan):
    """Every plan × supported direction × allow_exact_matches equals pandas
    merge_asof on a deterministic pseudo-random workload, with and without
    tolerance. Probe timestamps are drawn from a small range so many land
    EXACTLY on version timestamps — the strict-bound flip is exercised, not
    incidental."""
    import numpy as np

    rng = np.random.RandomState(11)
    v_rows = [
        (int(k), _ts(int(t)), int(rng.randint(0, 1000)))
        for k in range(6)
        for t in np.sort(rng.choice(2000, size=rng.randint(1, 40), replace=False))
    ]
    p_rows = [
        (int(rng.randint(0, 8)), _ts(int(rng.randint(0, 2000))), i)
        for i in range(300)
    ]
    versions = spark.createDataFrame(v_rows, "doc_id bigint, ts timestamp, n_tok bigint")
    probes = spark.createDataFrame(p_rows, "doc_id bigint, ts timestamp, event_id bigint")

    for tol in (None, 500.0):
        got = _run(probes, versions, direction=direction, tolerance_sec=tol,
                   allow_exact_matches=exact, **PLANS[plan])
        vp = pd.DataFrame(v_rows, columns=["doc_id", "ts", "n_tok"]).sort_values("ts")
        pp = pd.DataFrame(p_rows, columns=["doc_id", "ts", "event_id"]).sort_values("ts")
        kwargs = dict(on="ts", by="doc_id", direction=direction,
                      allow_exact_matches=exact)
        if tol is not None:
            kwargs["tolerance"] = pd.Timedelta(seconds=tol)
        exp_df = pd.merge_asof(pp, vp.rename(columns={"ts": "vts"})
                               .assign(ts=lambda d: d["vts"]).sort_values("ts"),
                               **kwargs)
        exp = {
            int(r.event_id): (
                None if pd.isna(r.vts) else r.vts.to_pydatetime(),
                None if pd.isna(r.n_tok) else int(r.n_tok),
            )
            for r in exp_df.itertuples()
        }
        assert got == exp, (f"plan={plan} direction={direction} "
                            f"tol={tol} exact={exact}")


@pytest.mark.parametrize("exact", [True, False])
def test_salted_matches_unsalted_exactness(spark, exact):
    """The time-sliced salted path honors allow_exact_matches identically to
    the plain union_window (equal timestamps land in the same slice, so the
    tie-flip is the whole story)."""
    import numpy as np

    from nyxus_spark.operators import asof_join

    rng = np.random.RandomState(3)
    v_rows = [(int(k), _ts(int(t)), int(rng.randint(0, 100)))
              for k in range(4)
              for t in np.sort(rng.choice(500, size=30, replace=False))]
    p_rows = [(int(rng.randint(0, 4)), _ts(int(rng.randint(0, 500))), i)
              for i in range(200)]
    versions = spark.createDataFrame(v_rows, "doc_id bigint, ts timestamp, n_tok bigint")
    probes = spark.createDataFrame(p_rows, "doc_id bigint, ts timestamp, event_id bigint")
    plain = {(r["event_id"]): (r["matched_ts"], r["n_tok"])
             for r in asof_join(probes, versions,
                                allow_exact_matches=exact).collect()}
    salted = {(r["event_id"]): (r["matched_ts"], r["n_tok"])
              for r in asof_join(probes, versions, salt_slices=4,
                                 allow_exact_matches=exact).collect()}
    assert plain == salted
    if not exact:
        # at least one probe must sit exactly on a version ts for the strict
        # flip to be exercised
        vts = {(k, t) for k, t, _ in v_rows}
        assert any((k, t) in vts for k, t, _ in p_rows)


def test_salted_rejects_non_backward(fixture):
    from nyxus_spark.operators import asof_join

    probes, versions = fixture
    with pytest.raises(ValueError, match="backward"):
        asof_join(probes, versions, salt_slices=4, direction="forward")


def test_bad_direction(fixture):
    from nyxus_spark.operators import asof_join

    probes, versions = fixture
    with pytest.raises(ValueError, match="direction"):
        asof_join(probes, versions, direction="sideways")


@pytest.mark.parametrize("rename,kwargs,match", [
    ("matched_ts", {}, "matched_ts"),                   # duplicate matched_ts
    ("v_n_tok", {"version_prefix": "v_"}, "v_n_tok"),  # prefixed payload clash
    (None, {"tolerance_sec": -1.0}, "tolerance"),       # pandas: MergeError
])
def test_bad_input_raises(fixture, rename, kwargs, match):
    from nyxus_spark.operators import asof_join

    probes, versions = fixture
    if rename:
        probes = probes.withColumnRenamed("event_id", rename)
    with pytest.raises(ValueError, match=match):
        asof_join(probes, versions, **kwargs)
