"""As-of join + window ops: DuckDB oracle parity,
zero-temporal-leakage proofs (BASELINE.md 'temporal leakage: zero')."""

import duckdb
import pytest
from pyspark.sql import functions as F

from nyxus_spark.operators import asof_join, sessionize, with_lags, with_locf
from nyxus_spark.sources import probes, tokens_versions
from nyxus_spark.sources.tables import SQL_PROBES, SQL_VERSIONS


def _duck(sf_dir):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf_dir}/events.parquet')")
    return con


def test_asof_matches_duckdb(spark, sf_dir):
    v = tokens_versions(spark, sf_dir).select("doc_id", "ts", "n_tok")
    p = probes(spark, sf_dir)

    cols = ["doc_id", "event_id", "ts", "matched_ts", "n_tok"]
    pa = asof_join(p, v).select(cols).toPandas()

    con = _duck(sf_dir)
    oracle = con.execute(
        f"""
        WITH {SQL_VERSIONS}, {SQL_PROBES}
        SELECT p.doc_id, p.event_id, p.ts, v.ts AS matched_ts, v.n_tok
        FROM probes p ASOF LEFT JOIN versions v
          ON p.doc_id = v.doc_id AND p.ts >= v.ts
        ORDER BY p.doc_id, p.event_id
        """
    ).df()
    pa2 = pa.sort_values(["doc_id", "event_id"]).reset_index(drop=True)
    oracle = oracle.sort_values(["doc_id", "event_id"]).reset_index(drop=True)
    assert len(pa2) == len(oracle)
    assert (pa2["matched_ts"].fillna(0) == oracle["matched_ts"].fillna(0)).all()
    assert (pa2["n_tok"].fillna(-1) == oracle["n_tok"].fillna(-1)).all()


def test_asof_zero_leakage(spark, sf_dir):
    v = tokens_versions(spark, sf_dir).select("doc_id", "ts", "n_tok")
    p = probes(spark, sf_dir)
    out = asof_join(p, v)
    # 1) no matched version is later than the probe ts
    leaks = out.filter(F.col("matched_ts") > F.col("ts")).count()
    assert leaks == 0
    # 2) truncation invariance: dropping all versions after T never changes
    # matches for probes at/before T (features at (doc,ts) depend only on <= ts)
    t_cut = v.agg(F.expr("percentile(cast(ts as double), 0.5)")).first()[0]
    v_trunc = v.filter(F.col("ts").cast("double") <= t_cut)
    p_early = p.filter(F.col("ts").cast("double") <= t_cut)
    full = asof_join(p_early, v).toPandas().set_index("event_id").sort_index()
    trunc = asof_join(p_early, v_trunc).toPandas().set_index("event_id").sort_index()
    assert (full["matched_ts"].fillna(0) == trunc["matched_ts"].fillna(0)).all()


def test_asof_tolerance(spark):
    pdf_v = [("a", 0.0, 10), ("a", 100.0, 20)]
    pdf_p = [("a", 5.0), ("a", 500.0)]
    v = spark.createDataFrame(pdf_v, "doc_id string, tsd double, val int").select(
        "doc_id", F.timestamp_seconds("tsd").alias("ts"), "val"
    )
    p = spark.createDataFrame(pdf_p, "doc_id string, tsd double").select(
        "doc_id", F.timestamp_seconds("tsd").alias("ts")
    )
    out = asof_join(p, v, tolerance_sec=60.0).orderBy("ts").collect()
    assert out[0]["val"] == 10          # 5s after version → within tolerance
    assert out[1]["val"] is None        # 400s after latest version → masked


def test_lag_lead_locf_match_duckdb(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.col("user_id").cast("string").alias("doc_id"), "ts", "value", "event_id"
    )
    got = (
        with_locf(with_lags(ev, ["value"], [1]), ["value"])
        .select("event_id", "lag_value_1", "lead_value_1", "value_locf")
        .toPandas()
        .sort_values("event_id")
        .reset_index(drop=True)
    )
    con = _duck(sf_dir)
    exp = con.execute(
        """
        SELECT event_id,
               lag(value) OVER w AS lag_value_1,
               lead(value) OVER w AS lead_value_1,
               last_value(value IGNORE NULLS) OVER
                 (PARTITION BY user_id ORDER BY ts
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_locf
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ORDER BY event_id
        """
    ).df()
    for c in ("lag_value_1", "lead_value_1", "value_locf"):
        assert (got[c].fillna(-9e9) == exp[c].fillna(-9e9)).all(), c


def test_sessionize_matches_duckdb(spark, sf_dir):
    gap = 3600.0
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.col("user_id").cast("string").alias("doc_id"), "ts", "event_id"
    )
    got = (
        sessionize(ev, gap)
        .select("event_id", "session_id")
        .toPandas()
        .sort_values("event_id")
        .reset_index(drop=True)
    )
    con = _duck(sf_dir)
    exp = con.execute(
        f"""
        WITH flags AS (
          SELECT event_id, user_id, ts,
                 CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                        OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > {gap}
                      THEN 1 ELSE 0 END AS f
          FROM events)
        SELECT event_id,
               SUM(f) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS session_id
        FROM flags ORDER BY event_id
        """
    ).df()
    assert (got["session_id"] == exp["session_id"]).all()


def test_rolling_median_lower_rank_nulls_and_short_frames(spark):
    import datetime

    from pyspark.sql import functions as F

    from nyxus_spark.operators import with_rolling_median

    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        # (doc, second, value) — doc a: nulls interleaved; doc b: all null
        ("a", 0, 10), ("a", 1, None), ("a", 2, 30), ("a", 3, 2),
        ("a", 4, None), ("a", 5, 100),
        ("b", 0, None), ("b", 1, None),
    ]
    df = spark.createDataFrame(
        [(d, t0 + datetime.timedelta(seconds=s), s, v) for d, s, v in rows],
        "doc_id string, ts timestamp, event_id long, v long",
    )
    out = {
        (r["doc_id"], r["event_id"]): r["roll3_med_v"]
        for r in with_rolling_median(df, "v", n_rows=3,
                                     tiebreak="event_id").collect()
    }
    # frames (last 3 rows, nulls dropped, LOWER median = rank (c+1)//2):
    assert out[("a", 0)] == 10          # [10]
    assert out[("a", 1)] == 10          # [10]       (null dropped)
    assert out[("a", 2)] == 10          # [10, 30]   -> lower of the pair
    assert out[("a", 3)] == 2           # [2, 30]    -> lower
    assert out[("a", 4)] == 2           # [2, 30]
    assert out[("a", 5)] == 2           # [2, 100]
    assert out[("b", 0)] is None and out[("b", 1)] is None

    import pytest

    with pytest.raises(ValueError):
        with_rolling_median(df, "v", n_rows=0)


def test_rolling_mad_matches_brute(spark):
    import datetime

    from nyxus_spark.operators import with_rolling_median

    t0 = datetime.datetime(2024, 1, 1)
    vals = [10, 3, None, 7, 7, 100, 1, None, 4]
    df = spark.createDataFrame(
        [("a", t0 + datetime.timedelta(seconds=s), s, v)
         for s, v in enumerate(vals)],
        "doc_id string, ts timestamp, event_id long, v long",
    )
    out = {r["event_id"]: (r["roll4_med_v"], r["roll4_mad_v"])
           for r in with_rolling_median(df, "v", n_rows=4,
                                        tiebreak="event_id").collect()}

    def lower_med(xs):
        xs = sorted(xs)
        return xs[(len(xs) + 1) // 2 - 1] if xs else None

    for i in range(len(vals)):
        frame = [v for v in vals[max(0, i - 3):i + 1] if v is not None]
        med = lower_med(frame)
        mad = lower_med([abs(v - med) for v in frame]) if frame else None
        assert out[i] == (med, mad), f"row {i}"
