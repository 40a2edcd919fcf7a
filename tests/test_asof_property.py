"""Property-based as-of join equivalence on adversarial random inputs.

Hypothesis generates tiny version/probe sets dense in ties (timestamps drawn
from a 0..12-second grid over 3 keys, so equal-ts probe/version collisions and
multi-version-same-instant cases are common), and both as-of plans —
union_window and the time-sliced salted plan — must agree with an
independent pure-pandas per-key merge_asof reference.
"""

import datetime

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from nyxus_spark.operators import asof_join

DOCS = ["a", "b", "c"]
TS = st.integers(min_value=0, max_value=12)

versions_st = st.lists(
    st.tuples(st.sampled_from(DOCS), TS, st.integers(0, 99)), min_size=0, max_size=12
)
probes_st = st.lists(st.tuples(st.sampled_from(DOCS), TS), min_size=1, max_size=12)


def _t(sec: int) -> datetime.datetime:
    return datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=sec)


def _reference(vers, probes):
    """Per-key pandas merge_asof; ties broken like the engine: the LATEST
    version with v.ts <= p.ts (merge_asof backward keeps the last such row)."""
    out = []
    vdf = pd.DataFrame(vers, columns=["doc_id", "ts", "payload"])
    for i, (d, ts) in enumerate(probes):
        sub = vdf[(vdf.doc_id == d) & (vdf.ts <= ts)]
        if len(sub):
            best = sub[sub.ts == sub.ts.max()].iloc[-1]  # declaration order tiebreak
            out.append((d, ts, int(best.ts), int(best.payload)))
        else:
            out.append((d, ts, None, None))
    return out


@pytest.mark.usefixtures("spark")
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(vers=versions_st, probes=probes_st)
def test_all_strategies_match_pandas_reference(spark, vers, probes):
    # de-dup (doc, ts) versions: multiple versions at one instant make the
    # "latest" ambiguous — engine and reference would tie-break differently.
    seen = {}
    for d, ts, pay in vers:
        seen[(d, ts)] = pay
    vers = [(d, ts, pay) for (d, ts), pay in seen.items()]
    probes = sorted(set(probes))

    vdf = spark.createDataFrame(
        [(d, _t(ts), pay) for d, ts, pay in vers] or [("zz", _t(0), 0)],
        "doc_id string, ts timestamp, payload int",
    )
    if not vers:
        vdf = vdf.filter("doc_id <> 'zz'")
    pdf = spark.createDataFrame(
        [(d, _t(ts), i) for i, (d, ts) in enumerate(probes)],
        "doc_id string, ts timestamp, probe_id int",
    )

    expected = {
        (d, ts): (mts, pay) for d, ts, mts, pay in
        ((a, b, c, e) for a, b, c, e in _reference(vers, probes))
    }

    for kwargs in ({}, {"salt_slices": 3}):
        rows = asof_join(pdf, vdf, **kwargs).collect()
        assert len(rows) == len(probes), kwargs
        for r in rows:
            ts_sec = int((r["ts"] - _t(0)).total_seconds())
            want_mts, want_pay = expected[(r["doc_id"], ts_sec)]
            got_mts = (
                None if r["matched_ts"] is None
                else int((r["matched_ts"] - _t(0)).total_seconds())
            )
            assert got_mts == want_mts, (kwargs, r)
            assert r["payload"] == want_pay, (kwargs, r)
