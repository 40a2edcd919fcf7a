"""Wave-56 operator: per-key inter-arrival point-process diagnostics
(Goh–Barabási burstiness, lag-1 memory coefficient, hourly Fano factor)
vs an independent pure-Python reference, including degenerate keys."""
import datetime
import math

from nyxus_spark.operators.windows import interarrival_stats


def _r4(x):
    return math.floor(x * 10000.0 + 0.5) / 10000.0


def _ref(ts_us):
    """Pure-Python reference on a key's epoch-µs list."""
    ts = sorted(ts_us)
    g = [(b - a) // 1_000_000 for a, b in zip(ts, ts[1:])]
    out = {
        "ia_n_gaps": len(g),
        "ia_sum_s": sum(g) if g else None,
        "ia_max_s": max(g) if g else None,
        "ia_burstiness": None,
        "ia_memory": None,
    }
    n = len(g)
    if n >= 2:
        s, q = sum(g), sum(x * x for x in g)
        k = n * q - s * s
        if s > 0 or k > 0:
            out["ia_burstiness"] = _r4(
                (math.sqrt(k) - float(s)) / (math.sqrt(k) + float(s))
            )
    pairs = list(zip(g, g[1:]))
    m = len(pairs)
    if m >= 2:
        sa = sum(a for a, _ in pairs)
        sb = sum(b for _, b in pairs)
        qa = sum(a * a for a, _ in pairs)
        qb = sum(b * b for _, b in pairs)
        p = sum(a * b for a, b in pairs)
        k1, k2 = m * qa - sa * sa, m * qb - sb * sb
        if k1 > 0 and k2 > 0:
            out["ia_memory"] = _r4(
                float(m * p - sa * sb) / (math.sqrt(k1) * math.sqrt(k2))
            )
    hrs = [t // 3_600_000_000 for t in ts]
    nh = max(hrs) - min(hrs) + 1
    cnt = {}
    for h in hrs:
        cnt[h] = cnt.get(h, 0) + 1
    ntot = len(ts)
    q2 = sum(c * c for c in cnt.values())
    out["ia_fano_hourly"] = _r4(float(nh * q2 - ntot * ntot) / float(nh * ntot))
    return out


def test_interarrival_matches_python_reference(spark):
    base = 1_700_000_000_000_000  # epoch µs
    keys = {
        # regular train: gaps all 60 s → burstiness -1, fano ~ sub-Poisson
        "regular": [base + i * 60_000_000 for i in range(10)],
        # bursty: tight cluster then a huge silence then a cluster
        "bursty": [base, base + 1_000_000, base + 2_000_000,
                   base + 86_400_000_000, base + 86_401_000_000],
        # alternating short/long gaps → negative memory
        "alternating": [base, base + 5_000_000, base + 305_000_000,
                        base + 310_000_000, base + 610_000_000,
                        base + 615_000_000],
        # degenerate: one event (no gaps), two events (one gap)
        "single": [base],
        "pair": [base, base + 42_000_000],
        # all events at the SAME µs: gaps all 0 → burstiness undefined (0/0)
        "ties": [base, base, base],
    }
    rows = [
        (k, datetime.datetime.utcfromtimestamp(t / 1e6), i)
        for k, ts in keys.items()
        for i, t in enumerate(ts)
    ]
    df = spark.createDataFrame(rows, "doc_id string, ts timestamp, event_id int")
    got = {
        r["doc_id"]: r.asDict()
        for r in interarrival_stats(df, "doc_id", "ts").collect()
    }
    assert set(got) == set(keys)
    for k, ts in keys.items():
        ref = _ref(ts)
        for col, want in ref.items():
            have = got[k][col]
            assert have == want, f"{k}.{col}: got {have}, want {want}"

    # spot-check the semantics: the regular train is maximally regular,
    # the bursty one strongly bursty, alternation gives negative memory
    assert got["regular"]["ia_burstiness"] == -1.0
    # finite-size bound: max B over 4 gaps is (√3−1)/(√3+1) ≈ 0.268 — the
    # bursty train sits essentially AT the bound
    assert got["bursty"]["ia_burstiness"] > 0.26
    assert got["alternating"]["ia_memory"] < -0.9
    assert got["ties"]["ia_burstiness"] is None
    assert got["single"]["ia_n_gaps"] == 0 and got["single"]["ia_sum_s"] is None
    # Fano: 10 events inside 10 distinct-minute hours... regular spans 1 hour
    # with all 10 events in it → nh=1, F=(1*100-100)/(1*10)=0 (deterministic)
    assert got["regular"]["ia_fano_hourly"] == 0.0


# ---------------------------------------------------------------------------
# Wave 58: version-delta audit (LCP / capped LCS / edit region) — edge cases
# through the same expressions the rollup_wide gate uses
# ---------------------------------------------------------------------------

def test_version_delta_edge_cases(spark):
    import datetime

    from pyspark.sql import functions as F

    from __spark_entry__ import _q_rollup_wide  # noqa: F401  (gate covers sf data)

    # drive the expression pipeline directly on hand-built version chains
    base = datetime.datetime(2024, 1, 1)
    chains = {
        # identical → ident=1, lcp=3, lcs capped to 0, edits 0
        "ident": [[1, 2, 3], [1, 2, 3]],
        # pure append → lcp=3, lcs=0 (capped), a_edit=0, b_edit=2
        "append": [[1, 2, 3], [1, 2, 3, 9, 9]],
        # pure prepend → lcp=0, lcs=3, a_edit=0, b_edit=1
        "prepend": [[1, 2, 3], [7, 1, 2, 3]],
        # middle edit → lcp=1, lcs=1, a=1, b=1
        "mid": [[1, 5, 3], [1, 6, 3]],
        # disjoint → lcp=0, lcs=0, a=3, b=3
        "disjoint": [[1, 2, 3], [4, 5, 6]],
        # overlap trap: [2,2] vs [2,2,2] — raw lcs=2 must cap to mn-lcp=0
        "overlap": [[2, 2], [2, 2, 2]],
    }
    rows = []
    for k, (a, b) in chains.items():
        rows.append((k, base, a, len(a)))
        rows.append((k, base + datetime.timedelta(hours=1), b, len(b)))
    v = spark.createDataFrame(
        rows, "doc_id string, ts timestamp, tokens array<int>, n_tok int")
    from pyspark.sql import Window
    w = Window.partitionBy("doc_id").orderBy("ts")
    p = (
        v.withColumn("ptok", F.lag("tokens").over(w))
        .filter(F.col("ptok").isNotNull())
        .withColumn("na", F.size("ptok").cast("long"))
        .withColumn("nb", F.col("n_tok").cast("long"))
        .withColumn("mn", F.least("na", "nb"))
        .withColumn("eqp", F.expr(
            "zip_with(slice(ptok, 1, cast(mn as int)), slice(tokens, 1, cast(mn as int)),"
            " (x, y) -> CASE WHEN x = y THEN 1 ELSE 0 END)"))
        .withColumn("eqs", F.expr(
            "zip_with(slice(reverse(ptok), 1, cast(mn as int)),"
            " slice(reverse(tokens), 1, cast(mn as int)),"
            " (x, y) -> CASE WHEN x = y THEN 1 ELSE 0 END)"))
        .withColumn("lcp", F.expr(
            "CASE WHEN mn = 0 THEN 0L WHEN array_position(eqp, 0) = 0 THEN mn"
            " ELSE array_position(eqp, 0) - 1 END"))
        .withColumn("lcs", F.least(
            F.expr("CASE WHEN mn = 0 THEN 0L WHEN array_position(eqs, 0) = 0 THEN mn"
                   " ELSE array_position(eqs, 0) - 1 END"),
            F.col("mn") - F.col("lcp")))
        .withColumn("a_edit", F.col("na") - F.col("lcp") - F.col("lcs"))
        .withColumn("b_edit", F.col("nb") - F.col("lcp") - F.col("lcs"))
        .withColumn("ident", ((F.col("na") == F.col("nb"))
                              & (F.col("lcp") == F.col("na"))).cast("long"))
    )
    got = {r["doc_id"]: r for r in p.collect()}
    want = {
        "ident":    dict(lcp=3, lcs=0, a_edit=0, b_edit=0, ident=1),
        "append":   dict(lcp=3, lcs=0, a_edit=0, b_edit=2, ident=0),
        "prepend":  dict(lcp=0, lcs=3, a_edit=0, b_edit=1, ident=0),
        "mid":      dict(lcp=1, lcs=1, a_edit=1, b_edit=1, ident=0),
        "disjoint": dict(lcp=0, lcs=0, a_edit=3, b_edit=3, ident=0),
        "overlap":  dict(lcp=2, lcs=0, a_edit=0, b_edit=1, ident=0),
    }
    for k, exp in want.items():
        for col, val in exp.items():
            assert got[k][col] == val, (k, col, got[k][col], val)
    # invariant: edit regions are never negative and lcp+lcs never exceeds
    # either side
    for k, r in got.items():
        assert r["a_edit"] >= 0 and r["b_edit"] >= 0, k
        assert r["lcp"] + r["lcs"] <= min(r["na"], r["nb"]), k


# ---------------------------------------------------------------------------
# Wave 59: Markov source transitions + peak trailing-1h sliding-window rate
# (same expressions the neighbors gate uses), on hand-built event streams
# ---------------------------------------------------------------------------

def test_markov_transitions_and_peak_rate(spark):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    base = 1_700_000_000_000_000
    H = 3_600_000_000
    rows = [
        # u1: view > view > purchase > view (self-loop 1, to_purchase 1)
        ("u1", base + 0 * H, 1, "view"),
        ("u1", base + 1 * H, 2, "view"),
        ("u1", base + 2 * H, 3, "purchase"),
        ("u1", base + 3 * H, 4, "view"),
        # u2: ts TIE broken by event_id: (5 click) then (6 error)
        ("u2", base, 5, "click"),
        ("u2", base, 6, "error"),
        # u3: burst of 4 inside one hour, then 1 far away → peak 4
        ("u3", base, 7, "view"),
        ("u3", base + 10, 8, "view"),
        ("u3", base + 20, 9, "view"),
        ("u3", base + H, 10, "view"),        # exactly 1h later: INSIDE [t-1h, t]
        ("u3", base + 10 * H, 11, "view"),
        # u4: single event → no transitions
        ("u4", base, 12, "signup"),
    ]
    ev2 = spark.createDataFrame(
        rows, "doc_id string, us long, event_id int, src string")
    wseq = Window.partitionBy("doc_id").orderBy(
        F.col("us").asc(), F.col("event_id").asc())
    tr = ev2.withColumn("nxt", F.lead("src").over(wseq)).filter(
        F.col("nxt").isNotNull())
    mka = {r["doc_id"]: r for r in tr.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("mk_trans"),
        F.sum((F.col("src") == F.col("nxt")).cast("long")).alias("mk_self"),
        F.sum((F.col("nxt") == "purchase").cast("long")).alias("mk_to_purchase"),
    ).collect()}
    assert mka["u1"].asDict() == {"doc_id": "u1", "mk_trans": 3, "mk_self": 1,
                                  "mk_to_purchase": 1}
    assert mka["u2"]["mk_trans"] == 1 and mka["u2"]["mk_self"] == 0
    assert "u4" not in mka  # single event: left-join side coalesces to 0
    # tie order: u2's transition must be click>error (event_id tiebreak)
    top = {r["doc_id"]: r["p"] for r in tr.select(
        "doc_id", F.concat_ws(">", "src", "nxt").alias("p")).collect()
        if r["doc_id"] == "u2"}
    assert top["u2"] == "click>error"
    wrate = (Window.partitionBy("doc_id").orderBy("us")
             .rangeBetween(-3_600_000_000, 0))
    peak = {r["doc_id"]: r["peak"] for r in
            ev2.withColumn("c", F.count(F.lit(1)).over(wrate))
               .groupBy("doc_id").agg(F.max("c").alias("peak")).collect()}
    # closed frame [t-1h, t]: u3's event at exactly +1h still sees all 4;
    # u1's events exactly 1h apart each see their predecessor → peak 2
    assert peak == {"u1": 2, "u2": 2, "u3": 4, "u4": 1}
